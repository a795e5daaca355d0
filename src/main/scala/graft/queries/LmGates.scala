package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.operators.TextAnalysis
import DuckSql.withWs

/** Language-model and text-classifier gates: n-gram LM scoring (bigram
  * add-k, order-3 backoff, pruned, saved, per-language), perplexity
  * bucketing, linear classifiers, DSIR and distribution shift, each with
  * its DuckDB oracle. Float scores never hash; the gates pin the integer
  * sufficient statistics. */
object LmGates {

  /** Per-JVM cache of the p32 bigram-LM scoring (train = %10!=0,
    * score = %10==0, addK 0.1, portable hash): p32 gates the integer
    * statistics and p62 ranks on a surrogate derived from the SAME
    * scored table — the bench should time the bucketing operator, not
    * a second LM count over the train corpus. Session-keyed like
    * [[pairCache]] (the r12 restarted-session lesson). */
  private val lmCache =
    scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame]()
  private def lmScored(s: SparkSession, d: String): DataFrame = {
    lmCache.filterInPlace { case ((sess, _), _) =>
      !sess.sparkContext.isStopped }
    lmCache.getOrElseUpdate((s, d), {
      val docs = t(s, d, "documents")
      TextAnalysis.ngramLmScore(docs.filter(col("doc_id") % 10 =!= 0),
        docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
        addK = 0.1).cache()
    })
  }

  /** Generated classifier-training oracle: unrolls
    * TextAnalysis.trainLinearClassifier's fixed GD iterations in SQL —
    * per iteration one margin aggregate, one hard-sigmoid residual, one
    * gradient aggregate, one exact-floor-division weight update. The
    * bucket is the UNMASKED md5-prefix UBIGINT mod the power-of-two B
    * (== Spark's pmod of the signed read, 2^64 ≡ 0 mod B — the p48
    * idiom); sums cast back to BIGINT from DuckDB's HUGEINT. */
  private def p67Oracle(buckets: Int, iters: Int, fracBits: Int,
                        lrShift: Int): String = {
    val s2 = 2L << fracBits       // 2S
    val s4 = 4L << fracBits       // 4S
    val p = 1L << lrShift
    val steps = (1 to iters).map { i =>
      s"""z$i AS (SELECT f.doc_id, any_value(f.y) AS y,
         |    sum(w${i - 1}.w * f.x)::BIGINT AS z
         |  FROM f JOIN w${i - 1} USING (b) GROUP BY f.doc_id),
         |r$i AS (SELECT doc_id,
         |    GREATEST(0, LEAST($s4, $s2 + z)) - $s4 * y AS r FROM z$i),
         |g$i AS (SELECT f.b, sum(r$i.r * f.x)::BIGINT AS g
         |  FROM f JOIN r$i USING (doc_id) GROUP BY f.b),
         |w$i AS (SELECT w${i - 1}.b, w${i - 1}.w -
         |    (coalesce(g, 0) - ((coalesce(g, 0) % $p) + $p) % $p) // $p
         |    AS w
         |  FROM w${i - 1} LEFT JOIN g$i USING (b))""".stripMargin
    }.mkString(",\n")
    s"""WITH tok AS (SELECT doc_id, (lang = 'en')::BIGINT AS y,
       |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0)) AS w
       |  FROM documents),
       |f AS (SELECT doc_id, y,
       |    (('0x'||substr(md5(w),1,16))::UBIGINT % $buckets)::BIGINT AS b,
       |    count(*)::BIGINT AS x
       |  FROM tok GROUP BY doc_id, y, b),
       |w0 AS (SELECT unnest(range($buckets))::BIGINT AS b,
       |    0::BIGINT AS w),
       |$steps
       |SELECT CAST(b AS BIGINT) AS b, CAST(w AS BIGINT) AS w
       |FROM w$iters ORDER BY b""".stripMargin
  }

  /** The p66/p71 stupid-backoff replay, parametric in the order-3
    * count table's pruning threshold (minCount3=1 = unpruned p66;
    * minCount3=2 = KenLM singleton pruning, p71). Orders 1–2 are
    * never pruned, matching the operator. */
  private def lmBackoffOracle(minCount3: Int): String = withWs +
    s"""tr AS (SELECT ws FROM ws WHERE doc_id % 10 <> 0),
       |c1 AS (SELECT g, count(*) AS c FROM (
       |    SELECT unnest(ws) AS g FROM tr) GROUP BY 1),
       |c2 AS (SELECT g, count(*) AS c FROM (
       |    SELECT unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i]||' '||ws[i+1])) AS g FROM tr) GROUP BY 1),
       |c3 AS (SELECT g, count(*) AS c FROM (
       |    SELECT unnest(list_transform(range(1, len(ws)-1),
       |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS g FROM tr)
       |  GROUP BY 1 HAVING count(*) >= $minCount3),
       |nt AS (SELECT coalesce(sum(c), 0)::BIGINT AS n FROM c1),
       |pos AS (SELECT doc_id, i, ws[i] AS g1,
       |    CASE WHEN i >= 2 THEN ws[i-1]||' '||ws[i] END AS g2,
       |    CASE WHEN i >= 3
       |      THEN ws[i-2]||' '||ws[i-1]||' '||ws[i] END AS g3,
       |    CASE WHEN i >= 2 THEN ws[i-1] END AS d2,
       |    CASE WHEN i >= 3 THEN ws[i-2]||' '||ws[i-1] END AS d3,
       |    LEAST(3, i) AS topk
       |  FROM (SELECT doc_id, unnest(range(1, len(ws)+1)) AS i, ws
       |    FROM ws WHERE doc_id % 10 = 0)),
       |j AS (SELECT p.doc_id, p.topk,
       |    n3.c AS cn3, n2.c AS cn2, n1.c AS cn1,
       |    p3.c AS cd3, p2.c AS cd2
       |  FROM pos p
       |  LEFT JOIN c3 n3 ON n3.g = p.g3
       |  LEFT JOIN c2 n2 ON n2.g = p.g2
       |  LEFT JOIN c1 n1 ON n1.g = p.g1
       |  LEFT JOIN c2 p3 ON p3.g = p.d3
       |  LEFT JOIN c1 p2 ON p2.g = p.d2),
       |tok AS (SELECT doc_id,
       |    CASE WHEN cn3 IS NOT NULL THEN 3 WHEN cn2 IS NOT NULL THEN 2
       |         WHEN cn1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
       |    coalesce(cn3, cn2, cn1, 0) AS num,
       |    CASE WHEN cn3 IS NOT NULL THEN cd3
       |         WHEN cn2 IS NOT NULL THEN cd2
       |         WHEN cn1 IS NOT NULL THEN (SELECT n FROM nt)
       |         ELSE 0 END AS den,
       |    CASE WHEN cn3 IS NOT NULL THEN topk - 3
       |         WHEN cn2 IS NOT NULL THEN topk - 2
       |         ELSE topk - 1 END AS steps
       |  FROM j),
       |agg AS (SELECT doc_id, count(*) AS n_tokens,
       |    sum((lvl = 3)::INT) AS n_hit3, sum((lvl = 2)::INT) AS n_hit2,
       |    sum((lvl = 1)::INT) AS n_hit1, sum((lvl = 0)::INT) AS n_oov,
       |    sum(num) AS sum_num, sum(den) AS sum_den,
       |    sum(steps) AS sum_steps
       |  FROM tok GROUP BY 1)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       |  CAST(coalesce(n_hit3, 0) AS BIGINT) AS n_hit3,
       |  CAST(coalesce(n_hit2, 0) AS BIGINT) AS n_hit2,
       |  CAST(coalesce(n_hit1, 0) AS BIGINT) AS n_hit1,
       |  CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
       |  CAST(coalesce(sum_num, 0) AS BIGINT) AS sum_num,
       |  CAST(coalesce(sum_den, 0) AS BIGINT) AS sum_den,
       |  CAST(coalesce(sum_steps, 0) AS BIGINT) AS sum_steps
       |FROM documents d LEFT JOIN agg USING (doc_id)
       |WHERE d.doc_id % 10 = 0 ORDER BY d.doc_id""".stripMargin

  /** The per-language generalization of [[lmBackoffOracle]]: count
    * tables, (N, V) totals, joins, and the OOV floor are all keyed by
    * `lang`, replaying the one-pass multilingual train + per-language
    * scoring of `ngramLmScoreBackoff(langCol=...)`. `evSql` supplies
    * the score-side (sid, lang, ws) rows — p73 doubles each eval doc
    * under its own lang AND 'en'; p74 keeps own-lang only — and
    * `tailSql` the final projection (plain stats for p73, the
    * rank/bucket/quota chain for p74). minCount3 prunes the order-3
    * table exactly like the operator (orders 1–2 never prune). */
  private def lmPerLangOracle(minCount3: Int, evSql: String,
                              tailSql: String): String =
    s"""WITH ws0 AS (SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
       |      x -> len(x) > 0) AS ws
       |  FROM documents),
       |tr AS (SELECT lang, ws FROM ws0 WHERE doc_id % 10 <> 0),
       |c1 AS (SELECT lang, g, count(*) AS c FROM (
       |    SELECT lang, unnest(ws) AS g FROM tr) GROUP BY 1, 2),
       |c2 AS (SELECT lang, g, count(*) AS c FROM (
       |    SELECT lang, unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i]||' '||ws[i+1])) AS g FROM tr) GROUP BY 1, 2),
       |c3 AS (SELECT lang, g, count(*) AS c FROM (
       |    SELECT lang, unnest(list_transform(range(1, len(ws)-1),
       |      i -> ws[i]||' '||ws[i+1]||' '||ws[i+2])) AS g FROM tr)
       |  GROUP BY 1, 2 HAVING count(*) >= $minCount3),
       |nt AS (SELECT lang, sum(c)::BIGINT AS n FROM c1 GROUP BY 1),
       |ev AS ($evSql),
       |pos AS (SELECT sid, lang, i, ws[i] AS g1,
       |    CASE WHEN i >= 2 THEN ws[i-1]||' '||ws[i] END AS g2,
       |    CASE WHEN i >= 3
       |      THEN ws[i-2]||' '||ws[i-1]||' '||ws[i] END AS g3,
       |    CASE WHEN i >= 2 THEN ws[i-1] END AS d2,
       |    CASE WHEN i >= 3 THEN ws[i-2]||' '||ws[i-1] END AS d3,
       |    LEAST(3, i) AS topk
       |  FROM (SELECT sid, lang, unnest(range(1, len(ws)+1)) AS i, ws
       |    FROM ev)),
       |j AS (SELECT p.sid, p.lang, p.topk,
       |    n3.c AS cn3, n2.c AS cn2, n1.c AS cn1,
       |    p3.c AS cd3, p2.c AS cd2, nt.n AS ntok
       |  FROM pos p
       |  LEFT JOIN c3 n3 ON n3.lang = p.lang AND n3.g = p.g3
       |  LEFT JOIN c2 n2 ON n2.lang = p.lang AND n2.g = p.g2
       |  LEFT JOIN c1 n1 ON n1.lang = p.lang AND n1.g = p.g1
       |  LEFT JOIN c2 p3 ON p3.lang = p.lang AND p3.g = p.d3
       |  LEFT JOIN c1 p2 ON p2.lang = p.lang AND p2.g = p.d2
       |  LEFT JOIN nt ON nt.lang = p.lang),
       |tok AS (SELECT sid,
       |    CASE WHEN cn3 IS NOT NULL THEN 3 WHEN cn2 IS NOT NULL THEN 2
       |         WHEN cn1 IS NOT NULL THEN 1 ELSE 0 END AS lvl,
       |    coalesce(cn3, cn2, cn1, 0) AS num,
       |    CASE WHEN cn3 IS NOT NULL THEN cd3
       |         WHEN cn2 IS NOT NULL THEN cd2
       |         WHEN cn1 IS NOT NULL THEN coalesce(ntok, 0)
       |         ELSE 0 END AS den,
       |    CASE WHEN cn3 IS NOT NULL THEN topk - 3
       |         WHEN cn2 IS NOT NULL THEN topk - 2
       |         ELSE topk - 1 END AS steps
       |  FROM j),
       |agg AS (SELECT sid, count(*) AS n_tokens,
       |    sum((lvl = 3)::INT) AS n_hit3, sum((lvl = 2)::INT) AS n_hit2,
       |    sum((lvl = 1)::INT) AS n_hit1, sum((lvl = 0)::INT) AS n_oov,
       |    sum(num) AS sum_num, sum(den) AS sum_den,
       |    sum(steps) AS sum_steps
       |  FROM tok GROUP BY 1),
       |stats AS (SELECT e.sid, e.lang,
       |    CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
       |    CAST(coalesce(n_hit3, 0) AS BIGINT) AS n_hit3,
       |    CAST(coalesce(n_hit2, 0) AS BIGINT) AS n_hit2,
       |    CAST(coalesce(n_hit1, 0) AS BIGINT) AS n_hit1,
       |    CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
       |    CAST(coalesce(sum_num, 0) AS BIGINT) AS sum_num,
       |    CAST(coalesce(sum_den, 0) AS BIGINT) AS sum_den,
       |    CAST(coalesce(sum_steps, 0) AS BIGINT) AS sum_steps
       |  FROM ev e LEFT JOIN agg USING (sid))
       |$tailSql""".stripMargin

  /** The p35/p82 linear scorer's features: per-doc counts `tf0..tf4`
    * of its five weighted words. */
  private val termFreqCtes: String = withWs +
    """f AS (SELECT doc_id,
      |    len(list_filter(ws, x -> x = 'spark')) AS tf0,
      |    len(list_filter(ws, x -> x = 'data')) AS tf1,
      |    len(list_filter(ws, x -> x = 'join')) AS tf2,
      |    len(list_filter(ws, x -> x = 'slow')) AS tf3,
      |    len(list_filter(ws, x -> x = 'dup')) AS tf4
      |  FROM ws)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // language ID heuristic (stopword-ratio fold + CJK share; the DuckDB
    // oracle replicates the fold in sorted-language order)
    Gate("p07_langid",
      """WITH w AS (
        |  SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text,
        |    len(list_filter(ws, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein','eine','zu','den','von','im','auf','für'], x)))::DOUBLE / greatest(len(ws),1) AS r_de,
        |    len(list_filter(ws, x -> list_contains(['the','and','of','to','a','in','is','that','it','for','was','on','are','with','as'], x)))::DOUBLE / greatest(len(ws),1) AS r_en,
        |    len(list_filter(ws, x -> list_contains(['el','la','los','las','y','es','un','una','de','que','no','en','por','para','con'], x)))::DOUBLE / greatest(len(ws),1) AS r_es,
        |    len(list_filter(ws, x -> list_contains(['le','la','les','et','est','un','une','des','du','que','pas','pour','dans','qui','sur'], x)))::DOUBLE / greatest(len(ws),1) AS r_fr,
        |    (len(text) - len(regexp_replace(text, '[\x{4e00}-\x{9fff}]', '', 'g')))::DOUBLE / greatest(len(text),1) AS cjk
        |  FROM w),
        |f AS (
        |  SELECT doc_id, cjk,
        |    CASE WHEN r_de > 0.04 THEN r_de ELSE 0.04 END AS s1,
        |    CASE WHEN r_de > 0.04 THEN 'de' ELSE 'en' END AS l1,
        |    r_en, r_es, r_fr FROM r),
        |f2 AS (SELECT doc_id, cjk, r_es, r_fr,
        |    CASE WHEN r_en > s1 THEN r_en ELSE s1 END AS s2,
        |    CASE WHEN r_en > s1 THEN 'en' ELSE l1 END AS l2 FROM f),
        |f3 AS (SELECT doc_id, cjk, r_fr,
        |    CASE WHEN r_es > s2 THEN r_es ELSE s2 END AS s3,
        |    CASE WHEN r_es > s2 THEN 'es' ELSE l2 END AS l3 FROM f2),
        |f4 AS (SELECT doc_id, cjk,
        |    CASE WHEN r_fr > s3 THEN 'fr' ELSE l3 END AS l4 FROM f3)
        |SELECT doc_id, CASE WHEN cjk > 0.05 THEN 'zh' ELSE l4 END
        |  AS lang_pred
        |FROM f4 ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")
    },

    // bigram LM scoring (CCNet/KenLM-style quality filter): eval slice
    // scored against a model counted on the train slice; the gate pins
    // the engine-exact integer stats, the log-space score is spec-tested
    Gate("p32_ngram_lm", withWs +
      """bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> {'w1': ws[i], 'pair': ws[i] || ' ' || ws[i+1]})) AS u
        |  FROM ws),
        |pairs AS (SELECT doc_id, u.w1 AS w1, u.pair AS pair FROM bg),
        |tb AS (SELECT pair, count(*) AS c12 FROM pairs
        |  WHERE doc_id % 10 <> 0 GROUP BY 1),
        |tu AS (SELECT w1, count(*) AS c1 FROM (
        |    SELECT doc_id, unnest(ws) AS w1 FROM ws)
        |  WHERE doc_id % 10 <> 0 GROUP BY 1),
        |agg AS (SELECT p.doc_id, count(*) AS n_bigrams,
        |    sum(CASE WHEN tb.c12 IS NULL THEN 1 ELSE 0 END) AS n_oov,
        |    sum(coalesce(tb.c12, 0)) AS sum_c12,
        |    sum(coalesce(tu.c1, 0)) AS sum_c1
        |  FROM pairs p LEFT JOIN tb USING (pair) LEFT JOIN tu USING (w1)
        |  WHERE p.doc_id % 10 = 0 GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
        |  CAST(coalesce(sum_c12, 0) AS BIGINT) AS sum_c12,
        |  CAST(coalesce(sum_c1, 0) AS BIGINT) AS sum_c1
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |WHERE d.doc_id % 10 = 0 ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      lmScored(s, d)
        .select(col("id").as("doc_id"), col("n_bigrams"), col("n_oov"),
          col("sum_c12"), col("sum_c1"))
        .orderBy("doc_id")
    },

    // fastText-style linear quality classifier: binary-fraction weights
    // make the score exact in double, so the oracle hash-matches the
    // score itself, not just the integer features
    Gate("p35_linear_classifier", termFreqCtes +
      """
        |SELECT doc_id,
        |  CAST(tf0 + tf1 + tf2 + tf3 + tf4 AS BIGINT) AS n_hits,
        |  -0.5 + tf0 * 0.5 + tf1 * 0.25 + tf2 * 0.25
        |    + tf3 * -0.5 + tf4 * -1.5 AS score,
        |  (-0.5 + tf0 * 0.5 + tf1 * 0.25 + tf2 * 0.25
        |    + tf3 * -0.5 + tf4 * -1.5) >= 0 AS label
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.linearScore(t(s, d, "documents"), "doc_id", "text",
          Seq("spark" -> 0.5, "data" -> 0.25, "join" -> 0.25,
            "slow" -> -0.5, "dup" -> -1.5), bias = -0.5)
        .orderBy("doc_id")
    },

    // corpus distribution-shift monitor: per-source unigram
    // total-variation distance against the src0 slice — exact integer
    // numerator (see TextAnalysis.distributionShift), so the statistic
    // itself is oracle-gated, not just its count features
    // oracle: total-variation replayed: same tokenization, HUGEINT products so
    // the integer numerator never wraps, one double division at the end
    Gate("p45_distribution_shift",
      """WITH tok AS (SELECT source AS grp,
        |    unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0)) AS w
        |  FROM documents),
        |c AS (SELECT grp, w, count(*)::BIGINT AS c FROM tok
        |  GROUP BY grp, w),
        |t AS (SELECT grp, sum(c)::BIGINT AS n, count(*)::BIGINT AS n_words
        |  FROM c GROUP BY grp),
        |r AS (SELECT w, c AS cr FROM c WHERE grp = 'src0'),
        |rn AS (SELECT n AS nr FROM t WHERE grp = 'src0'),
        |p AS (SELECT c.grp,
        |    sum(abs(c.c::HUGEINT * (SELECT nr FROM rn)
        |      - coalesce(r.cr, 0)::HUGEINT * t.n)) AS tvp,
        |    sum(coalesce(r.cr, 0))::BIGINT AS overlap_ref
        |  FROM c JOIN t USING (grp) LEFT JOIN r USING (w)
        |  GROUP BY c.grp)
        |SELECT t.grp AS source, t.n AS n_tokens, t.n_words,
        |  p.overlap_ref,
        |  (p.tvp + t.n::HUGEINT *
        |    ((SELECT nr FROM rn) - p.overlap_ref))::BIGINT AS tv_num,
        |  round((p.tvp + t.n::HUGEINT *
        |      ((SELECT nr FROM rn) - p.overlap_ref))::DOUBLE
        |    / (2.0 * t.n * (SELECT nr FROM rn)), 6) AS tv6
        |FROM t JOIN p USING (grp) ORDER BY source""".stripMargin) { (s, d) =>
      TextAnalysis.distributionShift(t(s, d, "documents"),
          "source", "text", "src0")
        .select(col("grp").as("source"), col("n_tokens"), col("n_words"),
          col("overlap_ref"), col("tv_num").cast("long").as("tv_num"),
          round(col("tv"), 6).as("tv6"))
        .orderBy("source")
    },

    // DSIR importance resampling: hashed-bigram bucket distributions
    // (target = the src0 slice, raw = everything else), integer
    // sufficient statistics oracle-gated (they pin tokenization,
    // portable md5 hashing, power-of-two bucketing, and both count
    // tables); the derived log-weight is spec-tested in OperatorsSpec
    // oracle: same bigram text, same md5 prefix read as UBIGINT, same
    // power-of-two modulus -> same buckets as the engine's pmod on the signed
    // value (2^64 = 0 mod 4096)
    Gate("p48_dsir_importance",
      """WITH ws AS (SELECT doc_id, source,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, source,
        |    unnest(list_transform(range(1, len(ws)),
        |      i -> ('0x'||substr(md5(ws[i]||' '||ws[i+1]),1,16))::UBIGINT
        |           % 4096)) AS b
        |  FROM ws),
        |tb AS (SELECT b, count(*) AS tb FROM g WHERE source = 'src0'
        |  GROUP BY 1),
        |rb AS (SELECT b, count(*) AS rb FROM g WHERE source <> 'src0'
        |  GROUP BY 1),
        |agg AS (SELECT doc_id, count(*) AS n_grams,
        |    sum(coalesce(tb.tb, 0)) AS sum_tb,
        |    sum(rb.rb) AS sum_rb,
        |    sum(CASE WHEN tb.tb IS NULL THEN 1 ELSE 0 END) AS n_zero_t
        |  FROM g LEFT JOIN tb USING (b) LEFT JOIN rb USING (b)
        |  WHERE g.source <> 'src0' GROUP BY 1)
        |SELECT d.doc_id,
        |  CAST(coalesce(n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(coalesce(sum_tb, 0) AS BIGINT) AS sum_tb,
        |  CAST(coalesce(sum_rb, 0) AS BIGINT) AS sum_rb,
        |  CAST(coalesce(n_zero_t, 0) AS BIGINT) AS n_zero_t
        |FROM documents d LEFT JOIN agg USING (doc_id)
        |WHERE d.source <> 'src0' ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      TextAnalysis.dsirImportance(
          docs.filter(col("source") =!= "src0"),
          docs.filter(col("source") === "src0"),
          "doc_id", "text", buckets = 4096)
        .select(col("id").as("doc_id"), col("n_grams"), col("sum_tb"),
          col("sum_rb"), col("n_zero_t"))
        .orderBy("doc_id")
    },

    // CCNet perplexity bucketing: per-LANGUAGE head/middle/tail rank
    // buckets over LM-scored eval docs (p32's model), quota-sampled at
    // 5 per bucket (binds only on the biggest language group, so both
    // quota'd and complete groups are in the gate). The ranking key is
    // the EXACT negated fluency ratio −(sum_c12·10⁶ div n_bigrams)
    // from the LM's integer sufficient statistics — float ppl (a sum
    // of transcendental logs) never hashes in a gate (p45 playbook);
    // the gate exercises BOTH bucket boundaries in every group (group
    // sizes 7..20 → bucket splits 3/2/2, 3/3/2, 7/7/6)
    // oracle: p32's LM counting replayed, then exact integer rank bucketing:
    // key = -(sum_c12*10^6 // n_bigrams), row_number per lang, bucket by
    // (rank-1)*3 // n, within-bucket rank via ceil(b*n/3), quota 5
    Gate("p62_perplexity_buckets", withWs +
      """bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
        |    i -> {'pair': ws[i] || ' ' || ws[i+1]})) AS u
        |  FROM ws),
        |pairs AS (SELECT doc_id, u.pair AS pair FROM bg),
        |tb AS (SELECT pair, count(*) AS c12 FROM pairs
        |  WHERE doc_id % 10 <> 0 GROUP BY 1),
        |agg AS (SELECT p.doc_id, count(*) AS n_bigrams,
        |    sum(coalesce(tb.c12, 0)) AS sum_c12
        |  FROM pairs p LEFT JOIN tb USING (pair)
        |  WHERE p.doc_id % 10 = 0 GROUP BY 1),
        |scored AS (SELECT d.doc_id, d.lang,
        |    CAST(coalesce(n_bigrams, 0) AS BIGINT) AS n_bigrams,
        |    CAST(coalesce(sum_c12, 0) AS BIGINT) AS sum_c12
        |  FROM documents d LEFT JOIN agg USING (doc_id)
        |  WHERE d.doc_id % 10 = 0),
        |keyed AS (SELECT *,
        |    0 - ((sum_c12 * 1000000) // greatest(n_bigrams, 1))
        |      AS ppl_proxy
        |  FROM scored),
        |ranked AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ppl_proxy, doc_id) AS rank_in_group,
        |    COUNT(*) OVER (PARTITION BY lang) AS n_in_group
        |  FROM keyed),
        |bk AS (SELECT *,
        |    ((rank_in_group - 1) * 3) // n_in_group AS bucket
        |  FROM ranked),
        |qr AS (SELECT *, rank_in_group -
        |    ((bucket * n_in_group + 2) // 3) AS bucket_rank FROM bk)
        |SELECT doc_id, lang, CAST(ppl_proxy AS BIGINT) AS ppl_proxy,
        |  CAST(rank_in_group AS BIGINT) AS rank_in_group,
        |  CAST(n_in_group AS BIGINT) AS n_in_group,
        |  CAST(bucket AS BIGINT) AS bucket,
        |  CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |    ELSE 'tail' END AS bucket_name,
        |  CAST(bucket_rank AS BIGINT) AS bucket_rank
        |FROM qr WHERE bucket_rank <= 5 ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val scored = lmScored(s, d)
        .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
        .withColumn("ppl_proxy",
          expr("0L - ((sum_c12 * 1000000L) DIV greatest(n_bigrams, 1L))"))
        .select("id", "lang", "n_bigrams", "sum_c12", "ppl_proxy")
      TextAnalysis.perplexityBuckets(scored, "id", "ppl_proxy",
          groupCols = Seq("lang"), k = 3, quota = Some(5L))
        .select(col("id").as("doc_id"), col("lang"), col("ppl_proxy"),
          col("rank_in_group"), col("n_in_group"), col("bucket"),
          col("bucket_name"), col("bucket_rank"))
        .orderBy("doc_id")
    },

    // order-3 stupid-backoff LM scoring (the CCNet/KenLM order-n shape;
    // p32 is the order-2 add-k variant): eval slice scored against
    // per-order count tables from the train slice. The gate hashes the
    // integer sufficient statistics — per-level hit counts, Σnum, Σden,
    // Σ backoff steps — which pin tokenization, portable hashing, all
    // three count tables, and the backoff cascade; both backoff levels
    // and the OOV floor are exercised (eval trigram misses back off to
    // bigram/unigram at gate scale). Float logscore never hashes.
    // oracle: order-3 stupid backoff replayed on gram STRINGS (Spark joins on
    // 64-bit portable hashes — collision-approximate like p03/p32): numerator =
    // count of the k-gram ending at position i, denominator = count of its
    // (k-1)-prefix (same start), level = highest hit, steps = min(3, i) - level
    // (OOV: min(3, i) - 1)
    Gate("p66_lm_backoff", lmBackoffOracle(minCount3 = 1)) { (s, d) =>
      val docs = t(s, d, "documents")
      TextAnalysis.ngramLmScoreBackoff(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          order = 3)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_hit3"),
          col("n_hit2"), col("n_hit1"), col("n_oov"), col("sum_num"),
          col("sum_den"), col("sum_steps"))
        .orderBy("doc_id")
    },

    // classifier TRAINING as a gate: 3 unrolled fixed-point GD
    // iterations over 64 hashed-BoW buckets, label = (lang = 'en').
    // The learned weights themselves hash against the oracle's unrolled
    // replay — every margin, hard-sigmoid clamp, residual, gradient and
    // floor-division update is an exact integer on both engines
    Gate("p67_train_classifier",
      p67Oracle(buckets = 64, iters = 3, fracBits = 20, lrShift = 26)) { (s, d) =>
      val docs = t(s, d, "documents")
      TextAnalysis.trainLinearClassifier(
          docs.withColumn("y", col("lang") === "en"),
          "doc_id", "text", "y", buckets = 64, iters = 3,
          fracBits = 20, lrShift = 26)
        .select(col("b"), col("w"))
        .orderBy("b")
    },

    // the PRUNED variant of p66 — KenLM-style singleton pruning
    // (minCount=2 drops count-1 trigrams from the order-3 table; CCNet
    // §3.3 ships pruned 5-gram models): eval trigrams whose train
    // count was 1 now BACK OFF to the bigram level instead of hitting,
    // so the hashed statistics differ from p66 wherever pruning bites
    // (a no-op pruning implementation fails this gate against p66's
    // own oracle with a HAVING clause). Orders 1–2 stay unpruned.
    // oracle: the pruned variant: identical replay, but the order-3 count table
    // drops rows below minCount (KenLM singleton pruning) — an eval trigram
    // over a pruned train trigram backs off instead of hitting. Orders 1–2 stay
    // unpruned, exactly as the operator.
    Gate("p71_lm_backoff_pruned", lmBackoffOracle(minCount3 = 2)) { (s, d) =>
      val docs = t(s, d, "documents")
      TextAnalysis.ngramLmScoreBackoff(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          order = 3, minCount = 2)
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_hit3"),
          col("n_hit2"), col("n_hit1"), col("n_oov"), col("sum_num"),
          col("sum_den"), col("sum_steps"))
        .orderBy("doc_id")
    },

    // TRAIN-ONCE/SCORE-MANY round trip as a gate: the pruned model is
    // SAVED to disk (partitioned count tables + the meta sidecar) and
    // the eval slice scored through ngramLmScoreWithModel — hashed
    // against the SAME oracle as p71, so green proves the disk round
    // trip (fused counts → parquet → sidecar-pinned rescore) is
    // bit-identical to the in-line path. This is CCNet's operating
    // shape: one KenLM per language trained once, every crawl drop
    // scored against it.
    // oracle: identical replay to p71: the gate saves the pruned model to disk
    // and rescores through it, so a hash match IS the proof that the
    // persisted-model path reproduces the in-line path bit-for-bit
    Gate("p72_lm_saved_model", lmBackoffOracle(minCount3 = 2)) { (s, d) =>
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p72-").toString
      TextAnalysis.saveLmModel(docs.filter(col("doc_id") % 10 =!= 0),
        "text", dir, order = 3, minCount = 2)
      TextAnalysis.ngramLmScoreWithModel(dir,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_tokens"), col("n_hit3"),
          col("n_hit2"), col("n_hit1"), col("n_oov"), col("sum_num"),
          col("sum_den"), col("sum_steps"))
        .orderBy("doc_id")
    },

    // PER-LANGUAGE LM (CCNet §3.3's actual operating shape: one KenLM
    // per language, each doc scored against ITS OWN language's model)
    // through the SAVED-model path: one-pass multilingual save
    // (counts keyed (lang, k, h), partitioned (lang, k); per-lang
    // (N, V) sidecar lines), then the eval slice scored THREE ways —
    // under its own lang, pinned to 'en', and pinned to 'zz' (a
    // language ABSENT from the saved model) — so the gate hashes the
    // same text scoring DIFFERENTLY under two languages' models (a
    // lang-blind implementation collapses the pairs and fails) AND
    // the documented no-model degenerate path (every token OOV
    // against an empty event space: num=den=0, steps = Σ(topk−1),
    // row preserved) lands in the hashed output instead of resting
    // on spec assertions alone. Hashed columns are the per-(doc,
    // lang) integer sufficient statistics; float logscore never
    // hashes.
    // oracle: the 'zz' branch scores against NO model: every count join misses
    // (the oracle's LEFT JOINs go all-NULL), so lvl=0, num=0, den=0,
    // steps=topk−1 per token — the engine's documented degenerate path,
    // hash-checked rather than spec-asserted
    Gate("p73_lm_perlang", lmPerLangOracle(minCount3 = 2,
      evSql = """SELECT doc_id * 3 AS sid, lang, ws FROM ws0
        |    WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id * 3 + 1 AS sid, 'en' AS lang, ws FROM ws0
        |    WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT doc_id * 3 + 2 AS sid, 'zz' AS lang, ws FROM ws0
        |    WHERE doc_id % 10 = 0""".stripMargin,
      tailSql = """SELECT sid, lang, n_tokens, n_hit3, n_hit2, n_hit1,
        |  n_oov, sum_num, sum_den, sum_steps
        |FROM stats ORDER BY sid""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p73-").toString
      TextAnalysis.saveLmModel(docs.filter(col("doc_id") % 10 =!= 0),
        "text", dir, order = 3, minCount = 2, langCol = Some("lang"))
      val ev = docs.filter(col("doc_id") % 10 === 0)
      val tripled = ev.select((col("doc_id") * 3).as("sid"),
          col("lang"), col("text"))
        .unionAll(ev.select((col("doc_id") * 3 + 1).as("sid"),
          lit("en").as("lang"), col("text")))
        .unionAll(ev.select((col("doc_id") * 3 + 2).as("sid"),
          lit("zz").as("lang"), col("text")))
      TextAnalysis.ngramLmScoreWithModel(dir, tripled, "sid", "text",
          langCol = Some("lang"))
        .select(col("id").as("sid"), col("lang"), col("n_tokens"),
          col("n_hit3"), col("n_hit2"), col("n_hit1"), col("n_oov"),
          col("sum_num"), col("sum_den"), col("sum_steps"))
        .orderBy("sid")
    },

    // ...and the per-language CCNet chain COMPOSED: in-line per-lang
    // pruned scoring -> integer ppl surrogate (backoff distance per
    // token; the p62 playbook — floats never rank a gate) ->
    // perplexityBuckets per language with a head/middle/tail quota.
    // This is the monthly-drop selection motion end-to-end: each
    // language ranks against its own model's scores only.
    Gate("p74_lm_perlang_buckets", lmPerLangOracle(minCount3 = 2,
      evSql =
        "SELECT doc_id AS sid, lang, ws FROM ws0 WHERE doc_id % 10 = 0",
      tailSql = """, keyed AS (SELECT sid, lang,
        |    (sum_steps * 1000000) // greatest(n_tokens, 1)
        |      AS ppl_proxy
        |  FROM stats),
        |ranked AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ppl_proxy, sid) AS rank_in_group,
        |    COUNT(*) OVER (PARTITION BY lang) AS n_in_group
        |  FROM keyed),
        |bk AS (SELECT *,
        |    ((rank_in_group - 1) * 3) // n_in_group AS bucket
        |  FROM ranked),
        |qr AS (SELECT *, rank_in_group -
        |    ((bucket * n_in_group + 2) // 3) AS bucket_rank FROM bk)
        |SELECT sid AS doc_id, lang,
        |  CAST(ppl_proxy AS BIGINT) AS ppl_proxy,
        |  CAST(rank_in_group AS BIGINT) AS rank_in_group,
        |  CAST(n_in_group AS BIGINT) AS n_in_group,
        |  CAST(bucket AS BIGINT) AS bucket,
        |  CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle'
        |    ELSE 'tail' END AS bucket_name,
        |  CAST(bucket_rank AS BIGINT) AS bucket_rank
        |FROM qr WHERE bucket_rank <= 5
        |ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents")
      val scored = TextAnalysis.ngramLmScoreBackoff(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          order = 3, minCount = 2, langCol = Some("lang"))
        .withColumn("ppl_proxy", expr(
          "(sum_steps * 1000000L) DIV greatest(n_tokens, 1L)"))
        .select("id", "lang", "n_tokens", "sum_steps", "ppl_proxy")
      TextAnalysis.perplexityBuckets(scored, "id", "ppl_proxy",
          groupCols = Seq("lang"), k = 3, quota = Some(5L))
        .select(col("id").as("doc_id"), col("lang"), col("ppl_proxy"),
          col("rank_in_group"), col("n_in_group"), col("bucket"),
          col("bucket_name"), col("bucket_rank"))
        .orderBy("doc_id")
    },

    // the ADD-LANGUAGE model lifecycle as a gate (r17): the model is
    // saved WITHOUT 'en', then 'en' is appended via
    // addLmModelLanguages — and the eval slice scored under its own
    // lang hashes against the SAME oracle a full retrain would (the
    // oracle recomputes all languages' tables at once), so green IS
    // the append == retrain-all equivalence through the driver's
    // oracle, not just the spec's file-md5 argument. Languages
    // trained under drifted params would shift the integer hit
    // statistics and fail the hash.
    // oracle: append == retrain-all: the oracle recomputes every language's
    // tables from the full train slice AT ONCE — the engine side built the
    // model incrementally (save without 'en', then append 'en'), so a hash
    // match is the lifecycle equivalence proof
    Gate("p76_lm_addlang", lmPerLangOracle(minCount3 = 2,
      evSql =
        "SELECT doc_id AS sid, lang, ws FROM ws0 WHERE doc_id % 10 = 0",
      tailSql = """SELECT sid AS doc_id, lang, n_tokens, n_hit3,
        |  n_hit2, n_hit1, n_oov, sum_num, sum_den, sum_steps
        |FROM stats ORDER BY doc_id""".stripMargin)) { (s, d) =>
      val docs = t(s, d, "documents")
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p76-").toString
      TextAnalysis.saveLmModel(train.filter(col("lang") =!= "en"),
        "text", dir, order = 3, minCount = 2, langCol = Some("lang"))
      TextAnalysis.addLmModelLanguages(
        train.filter(col("lang") === "en"), "text", dir, "lang")
      TextAnalysis.ngramLmScoreWithModel(dir,
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          langCol = Some("lang"))
        .select(col("id").as("doc_id"), col("lang"), col("n_tokens"),
          col("n_hit3"), col("n_hit2"), col("n_hit1"), col("n_oov"),
          col("sum_num"), col("sum_den"), col("sum_steps"))
        .orderBy("doc_id")
    },

    // corpus-level top-k n-grams (heavy hitters): the dataset-report
    // table — most frequent trigrams with document reach
    Gate("p80_top_ngrams", withWs +
      """g AS (SELECT doc_id, unnest(list_transform(
        |    range(1, len(ws) - 1),
        |    i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS ngram
        |  FROM ws),
        |agg AS (SELECT ngram, count(*) AS total_count,
        |    count(DISTINCT doc_id) AS n_docs
        |  FROM g GROUP BY ngram)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY total_count DESC,
        |    ngram ASC) AS INT) AS rank,
        |  ngram, CAST(n_docs AS BIGINT) AS n_docs,
        |  CAST(total_count AS BIGINT) AS total_count
        |FROM agg ORDER BY total_count DESC, ngram ASC
        |LIMIT 20""".stripMargin) { (s, d) =>
      TextAnalysis.topNgrams(t(s, d, "documents"), "doc_id", "text",
          n = 3, k = 20)
        .orderBy("rank")
    },

    // stochastic quality filter: keep with probability = clamped
    // linear score; the uniform draw is a portable md5 residue so
    // every compared quantity is an exact integer in both engines
    Gate("p82_soft_filter", termFreqCtes +
      """,
        |s AS (SELECT doc_id,
        |    -0.5 + tf0 * 0.5 + tf1 * 0.25 + tf2 * 0.25
        |      + tf3 * -0.5 + tf4 * -1.5 AS score
        |  FROM f),
        |c AS (SELECT doc_id, score,
        |    CAST(floor(least(greatest(score, 0), 1) * 1048576)
        |      AS BIGINT) AS keep_thr,
        |    ('0x' || substr(md5(doc_id::VARCHAR || ':42'), 1, 15))
        |      ::BIGINT % 1048576 AS u
        |  FROM s)
        |SELECT doc_id, score, keep_thr, u, u < keep_thr AS kept
        |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.softQualityFilter(t(s, d, "documents"), "doc_id",
          "text", Seq("spark" -> 0.5, "data" -> 0.25, "join" -> 0.25,
            "slow" -> -0.5, "dup" -> -1.5), bias = -0.5)
        .orderBy("doc_id")
    }
  )
}
