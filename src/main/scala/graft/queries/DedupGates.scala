package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.operators.{Chunking, Dedup, TextAnalysis}
import DuckSql.{sh0Cte, withWs}

/** Dedup-family gates: exact, MinHash/SimHash, winnowing, span and line
  * dedup (one-shot and incremental), and benchmark decontamination, each
  * declared with its DuckDB oracle. */
object DedupGates {

  /** DuckDB analog of the portable 64-bit hash (TextHash.md5be64):
    * big-endian first 8 MD5 digest bytes, masked to 63 bits so signed
    * (Spark Long) and unsigned (UBIGINT) reads agree, mod the MinHash
    * modulus. */
  private def duckShingleHash(p: Long): String =
    s"((('0x'||substr(md5(s),1,16))::UBIGINT & " +
      s"9223372036854775807::UBIGINT)::BIGINT) % $p"

  /** p03's MinHash input: `ws`, `sh0`, and each doc's portable trigram
    * hashes mod the MinHash prime in `hs0`. */
  private val shingleHashCtes: String = withWs + sh0Cte +
    s"""hs0 AS (SELECT doc_id, list_transform(shingles,
       |    s -> ${duckShingleHash(Dedup.minhashP)}) AS hs
       |  FROM sh0 WHERE len(shingles) > 0),
       |""".stripMargin

  /** p19's portable 5-gram hash sets: `g0` per doc, the eval slice's
    * union `ev` (doc_id % 10 = 0) and the train rows `tr`. */
  private val gramCtes: String = withWs +
    """g0 AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(ws)-3),
      |    i -> ('0x'||substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '
      |      ||ws[i+3]||' '||ws[i+4]),1,16))::UBIGINT)) AS gs
      |  FROM ws),
      |ev AS (SELECT DISTINCT unnest(gs) AS h FROM g0
      |  WHERE doc_id % 10 = 0),
      |tr AS (SELECT doc_id, unnest(gs) AS h FROM g0
      |  WHERE doc_id % 10 <> 0),
      |""".stripMargin

  /** Exact decontamination: the train docs sharing a 5-gram hash with
    * the eval slice (p19, and p28's bloom path, which is exact too). */
  private val decontamSql: String = gramCtes +
    """hits AS (SELECT tr.doc_id, count(*) AS n_hits
      |  FROM tr JOIN ev USING (h) GROUP BY tr.doc_id)
      |SELECT d.doc_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
      |  COALESCE(h.n_hits, 0) > 0 AS contaminated
      |FROM documents d LEFT JOIN hits h USING (doc_id)
      |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin

  /** Winnowing's positional 5-gram hashes `h.hs`, masked to 63 bits so
    * UBIGINT and signed-long window minima agree. */
  private val gramHashCtes: String = withWs +
    """h AS (SELECT doc_id, list_transform(range(1, len(ws) - 3),
      |    i -> CAST(('0x' || substr(md5(ws[i]||' '||ws[i+1]||' '||
      |        ws[i+2]||' '||ws[i+3]||' '||ws[i+4]), 1, 16))::UBIGINT
      |      & CAST(9223372036854775807 AS UBIGINT) AS BIGINT)) AS hs
      |  FROM ws),
      |""".stripMargin

  /** ...and `f.fps`, each doc's sorted distinct w=8 window minima. */
  private val winnowCtes: String = gramHashCtes +
    """f AS (SELECT doc_id, CASE
      |    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
      |    WHEN len(hs) < 8 THEN [list_min(hs)]
      |    ELSE list_sort(list_distinct(list_transform(
      |      range(1, len(hs) - 6), i -> list_min(hs[i:i+7])))) END
      |    AS fps FROM h)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // exact dedup: one representative per identical text
    Gate("p01_dedup_exact",
      """SELECT doc_id, n_chars FROM (
        |  SELECT doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |  FROM documents) WHERE rn = 1 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.exact(t(s, d, "documents"), col("text"), col("doc_id"))
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    },

    // MinHash-LSH near-dup candidates. The MD5-derived shingle hash lets
    // a generated DuckDB oracle replicate the exact permutations + banding.
    // Generated MinHash oracle: identical permutations + band structure as
    // Dedup.minhashPairs(k=3, h=32, bands=16, threshold=0.35, minBands=2).
    Gate("p03_minhash_pairs", {
      val p = Dedup.minhashP
      val seeds = Dedup.minhashSeeds(32)
      val mins = seeds.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(hs, x -> ($a * x + $b) % $p)) AS m$i"
      }.mkString(",\n    ")
      val eqSum = (0 until 32).map(i => s"(a.m$i = b.m$i)::INT")
        .mkString(" + ")
      val bandJoins = (0 until 16).map { bi =>
        s"""SELECT a.doc_id AS id1, b.doc_id AS id2, $eqSum AS eqc
           |  FROM sig a JOIN sig b ON a.doc_id < b.doc_id
           |    AND a.m${2 * bi} = b.m${2 * bi}
           |    AND a.m${2 * bi + 1} = b.m${2 * bi + 1}""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      shingleHashCtes +
      s"""sig AS (SELECT doc_id,
         |    $mins
         |  FROM hs0),
         |cand AS (
         |  $bandJoins),
         |agg AS (SELECT id1, id2, count(*) AS nb, max(eqc) AS eqc
         |  FROM cand GROUP BY id1, id2)
         |SELECT id1, id2 FROM agg
         |WHERE nb >= 2 AND eqc / 32.0 >= 0.35
         |ORDER BY id1, id2""".stripMargin
    }) { (s, d) =>
      Dedup.minhashPairs(t(s, d, "documents"), "doc_id", "text",
          k = 3, h = 32, bands = 16, threshold = 0.35, minBands = 2)
        .select("id1", "id2")
        .orderBy("id1", "id2")
    },

    // SimHash near-dup candidates (portable hash -> oracle-checked)
    // Generated SimHash oracle: identical bit votes, 16-bit chunk LSH and
    // hamming verify as Dedup.simhashPairs(maxHamming=8).
    Gate("p04_simhash_pairs", {
      val sums = (0 until 64).map(i =>
        s"sum(((h >> $i) & 1::UBIGINT)::BIGINT) AS b$i").mkString(",\n    ")
      // literal powers of two: DuckDB's << evaluates in signed space and
      // overflows at bit 63
      val asm = (0 until 64).map(i =>
        s"(CASE WHEN b$i * 2 > n THEN ${BigInt(1) << i}::UBIGINT " +
          "ELSE 0::UBIGINT END)").mkString(" +\n    ")
      s"""WITH w AS (SELECT doc_id,
         |    unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |      x -> len(x) > 0)) AS w
         |  FROM documents),
         |h AS (SELECT doc_id, ('0x'||substr(md5(w),1,16))::UBIGINT AS h
         |  FROM w),
         |bits AS (SELECT doc_id, count(*) AS n,
         |    $sums
         |  FROM h GROUP BY doc_id),
         |sim AS (SELECT doc_id,
         |    $asm AS sh
         |  FROM bits),
         |chunks AS (SELECT doc_id, sh, b AS chunk,
         |    (sh >> (b * 16)) & 65535::UBIGINT AS key
         |  FROM sim, unnest([0,1,2,3]) AS t(b)),
         |pairs AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2,
         |    bit_count(xor(a.sh, b.sh)) AS hamming
         |  FROM chunks a JOIN chunks b ON a.chunk = b.chunk
         |    AND a.key = b.key AND a.doc_id < b.doc_id)
         |SELECT id1, id2, hamming FROM pairs WHERE hamming <= 8
         |ORDER BY id1, id2""".stripMargin
    }) { (s, d) =>
      Dedup.simhashPairs(t(s, d, "documents"), "doc_id", "text",
          maxHamming = 8)
        .orderBy("id1", "id2")
    },

    // benchmark decontamination: training docs sharing any 5-gram with
    // the held-out eval slice (doc_id % 10 == 0); eval grams broadcast
    Gate("p19_decontaminate", decontamSql) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Decontaminate.flag(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text", k = 5)
        .select(col("id").as("doc_id"), col("n_hits"), col("contaminated"))
        .orderBy("doc_id")
    },

    // verbatim duplicated 14-token spans between documents
    Gate("p26_duplicated_spans", withWs +
      """g AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, greatest(len(ws)-12, 1)),
        |    i -> ('0x'||substr(md5(array_to_string(ws[i:i+13], chr(32))),
        |      1,16))::UBIGINT))) AS h
        |  FROM ws),
        |b AS (SELECT h FROM g GROUP BY h
        |  HAVING count(*) BETWEEN 2 AND 50)
        |SELECT a.doc_id AS id1, c.doc_id AS id2, count(*) AS n_shared
        |FROM g a JOIN b USING (h) JOIN g c USING (h)
        |WHERE a.doc_id < c.doc_id
        |GROUP BY 1, 2 ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Chunking.duplicatedSpans(t(s, d, "documents"), "doc_id", "text",
          k = 14, maxDocs = 50)
        .orderBy("id1", "id2")
    },

    // bloom-filter decontamination, two-phase EXACT (constant executor
    // memory: bloom scan prunes the gram stream, a semi-join against
    // the true gram set removes the bloom's false positives) — the
    // result equals p19's exact op, so it carries the same SQL oracle
    Gate("p28_decontaminate_bloom", decontamSql) { (s, d) =>
      val docs = t(s, d, "documents")
      val eval = docs.filter(col("doc_id") % 10 === 0)
      val train = docs.filter(col("doc_id") % 10 =!= 0)
      graft.operators.Decontaminate.flagBloom(train, eval, "doc_id",
          "text", k = 5, fpp = 0.001)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // boilerplate span scrub: delete tokens covered by any verbatim
    // 13-gram occurring in >= 2 distinct docs (C4 repeated-line rule /
    // RefinedWeb line dedup, quantized to token grams)
    Gate("p31_scrub_spans",
      """WITH wsl AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents),
        |wso AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(text, '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents),
        |g AS (SELECT doc_id,
        |    unnest(list_transform(range(1, greatest(len(ws)-11, 1)),
        |      i -> {'pos': i - 1,
        |            'h': ('0x'||substr(md5(array_to_string(ws[i:i+12],
        |              chr(32))),1,16))::UBIGINT})) AS u
        |  FROM wsl),
        |gp AS (SELECT doc_id, u.pos AS pos, u.h AS h FROM g),
        |viral AS (SELECT h FROM (SELECT DISTINCT doc_id, h FROM gp)
        |  GROUP BY h HAVING count(*) >= 2),
        |cov AS (SELECT doc_id, list_sort(list(pos)) AS starts
        |  FROM gp JOIN viral USING (h) GROUP BY doc_id),
        |clean AS (SELECT w.doc_id,
        |    coalesce(array_to_string(list_filter(w.ws,
        |      (t, i) -> len(list_filter(coalesce(c.starts,
        |        CAST([] AS BIGINT[])),
        |        s -> s <= i - 1 AND i - 1 < s + 13)) = 0), chr(32)), '')
        |      AS clean_text,
        |    CAST(len(list_filter(w.ws,
        |      (t, i) -> len(list_filter(coalesce(c.starts,
        |        CAST([] AS BIGINT[])),
        |        s -> s <= i - 1 AND i - 1 < s + 13)) > 0)) AS BIGINT)
        |      AS n_tokens_dropped
        |  FROM wso w LEFT JOIN cov c USING (doc_id))
        |SELECT doc_id, clean_text, n_tokens_dropped FROM clean
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Chunking.scrubDuplicatedSpans(t(s, d, "documents"), "doc_id",
          "text", k = 13, minDocs = 2)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    },

    // contamination overlap fraction: per-doc share of 5-grams present
    // in the held-out eval slice (reporting companion to p19's flag)
    // oracle: p19's portable 5-gram hash sets, fraction instead of boolean
    Gate("p37_overlap_fraction", gramCtes +
      """st AS (SELECT tr.doc_id, count(*) AS n_grams, count(ev.h) AS n_hits
        |  FROM tr LEFT JOIN ev ON tr.h = ev.h GROUP BY tr.doc_id)
        |SELECT d.doc_id, CAST(COALESCE(st.n_grams, 0) AS BIGINT) AS n_grams,
        |  CAST(COALESCE(st.n_hits, 0) AS BIGINT) AS n_hits,
        |  CASE WHEN COALESCE(st.n_grams, 0) = 0 THEN 0.0
        |    ELSE COALESCE(st.n_hits, 0)::DOUBLE / st.n_grams END
        |    AS overlap_frac
        |FROM documents d LEFT JOIN st ON d.doc_id = st.doc_id
        |WHERE d.doc_id % 10 <> 0 ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Decontaminate.overlapFraction(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0), "doc_id", "text",
          k = 5)
        .select(col("id").as("doc_id"), col("n_grams"), col("n_hits"),
          col("overlap_frac"))
        .orderBy("doc_id")
    },

    // sketch-based corpus overlap: MinHash signature compare between the
    // even- and odd-id halves of the corpus (no cross-corpus join)
    // Generated corpus-overlap oracle: the p03 portable shingle hash and
    // permutations, but the mins run over each corpus HALF's whole gram
    // stream instead of per-document.
    Gate("p42_corpus_overlap", {
      val p = Dedup.minhashP
      val seeds = Dedup.minhashSeeds(32)
      def mins = seeds.zipWithIndex.map { case ((a, b), i) =>
        s"min(($a * x + $b) % $p) AS m$i"
      }.mkString(",\n    ")
      val eqSum = (0 until 32).map(i => s"(sa.m$i = sb.m$i)::INT")
        .mkString(" + ")
      shingleHashCtes +
      s"""g AS (SELECT doc_id, unnest(hs) AS x FROM hs0),
         |sa AS (SELECT
         |    $mins
         |  FROM g WHERE doc_id % 2 = 0),
         |sb AS (SELECT
         |    $mins
         |  FROM g WHERE doc_id % 2 = 1)
         |SELECT 32 AS h, CAST($eqSum AS BIGINT) AS n_equal,
         |  ($eqSum)::DOUBLE / 32 AS est_jaccard
         |FROM sa, sb""".stripMargin
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      Dedup.corpusOverlapEstimate(
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", k = 3, h = 32)
    },

    // winnowing fingerprints (MOSS): per-doc local fingerprint set,
    // fully oracle-gated via the portable hash (63-bit masked so signed
    // and unsigned engines select identical window minima)
    // oracle: winnowing replayed: same 5-gram text, same md5-prefix hash masked
    // to 63 bits (so UBIGINT and signed-long window minima agree), same w=8
    // sliding window, same sorted-distinct fingerprint set
    Gate("p49_winnowing", winnowCtes +
      """
        |SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fps,
        |  md5(array_to_string(list_transform(fps,
        |    x -> CAST(x AS VARCHAR)), ',')) AS fps_md5
        |FROM f ORDER BY doc_id""".stripMargin) { (s, d) =>
      Dedup.winnowingFingerprints(t(s, d, "documents"),
          "doc_id", "text", k = 5, w = 8)
        .select(col("id").as("doc_id"),
          size(col("fps")).cast("long").as("n_fps"),
          md5(concat_ws(",",
            transform(col("fps"), h => h.cast("string"))))
            .as("fps_md5"))
        .orderBy("doc_id")
    },

    // local-duplicate candidate pairs via shared winnowing fingerprints
    // (cross-validates the planted near-dups p02/p03 find globally)
    // oracle: p49's fingerprint CTE + an fp-keyed self-join
    Gate("p51_winnowing_pairs", winnowCtes +
      """,
        |u AS (SELECT doc_id, unnest(fps) AS fp FROM f),
        |rare AS (SELECT fp FROM u GROUP BY fp HAVING count(*) <= 128),
        |ur AS (SELECT u.doc_id, u.fp FROM u JOIN rare USING (fp))
        |SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  CAST(count(*) AS BIGINT) AS n_shared
        |FROM ur a JOIN ur b ON a.fp = b.fp AND a.doc_id < b.doc_id
        |GROUP BY 1, 2 ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Dedup.winnowingPairs(t(s, d, "documents"), "doc_id", "text",
          k = 5, w = 8)
        .select(col("id1"), col("id2"),
          col("n_shared").cast("long").as("n_shared"))
        .orderBy("id1", "id2")
    },

    // winnowing candidates VERIFIED into exact spans: anchor at each
    // shared fingerprint, extend over the positional gram hashes
    // (native map-side kernel after the same fp join as p51), report
    // the longest exact common substring per pair in tokens — the Lee
    // et al. 2021 exact-substring fidelity without a suffix array
    // oracle: p51's pair machinery + per-anchor extension: ALL occurrence-
    // position pairs of the shared fp, sorted nearest-first by the struct key
    // (|pa-pb|, pa, pb) — DuckDB sorts structs lexicographically by field order
    // — sliced to the kernel's 256-pair budget (MatchPairCap), extend
    // left/right to the first mismatching gram, max over the evaluated pairs;
    // span tokens = grams + k - 1
    Gate("p52_winnowing_spans", gramHashCtes +
      """f AS (SELECT doc_id, hs, CASE
        |    WHEN len(hs) = 0 THEN CAST([] AS BIGINT[])
        |    WHEN len(hs) < 8 THEN [list_min(hs)]
        |    ELSE list_sort(list_distinct(list_transform(
        |      range(1, len(hs) - 6), i -> list_min(hs[i:i+7])))) END
        |    AS fps FROM h),
        |u AS (SELECT doc_id, hs, unnest(fps) AS fp FROM f),
        |rare AS (SELECT fp FROM u GROUP BY fp HAVING count(*) <= 128),
        |ur AS (SELECT u.doc_id, u.hs, u.fp FROM u JOIN rare USING (fp)),
        |sp AS (SELECT a.doc_id AS id1, b.doc_id AS id2,
        |  list_max(list_transform(
        |    list_slice(list_sort(flatten(list_transform(
        |      list_filter(range(1, len(a.hs) + 1), p -> a.hs[p] = a.fp),
        |      pa -> list_transform(
        |        list_filter(range(1, len(b.hs) + 1), q -> b.hs[q] = a.fp),
        |        pb -> {'d': abs(pa - pb), 'pa': pa, 'pb': pb})))),
        |      1, 256),
        |    e ->
        |        coalesce(list_min(list_filter(
        |          range(1, least(e.pa, e.pb)),
        |          s -> a.hs[e.pa-s] IS DISTINCT FROM b.hs[e.pb-s])),
        |          least(e.pa, e.pb)) - 1
        |        + 1 +
        |        coalesce(list_min(list_filter(
        |          range(1, least(len(a.hs)-e.pa, len(b.hs)-e.pb) + 1),
        |          s -> a.hs[e.pa+s] IS DISTINCT FROM b.hs[e.pb+s])),
        |          least(len(a.hs)-e.pa, len(b.hs)-e.pb) + 1) - 1
        |      )) AS span
        |  FROM ur a JOIN ur b ON a.fp = b.fp AND a.doc_id < b.doc_id)
        |SELECT id1, id2, CAST(count(*) AS BIGINT) AS n_shared,
        |  CAST(max(span) + 4 AS BIGINT) AS max_span_tokens
        |FROM sp GROUP BY 1, 2 ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Dedup.winnowingSpans(t(s, d, "documents"), "doc_id", "text",
          k = 5, w = 8)
        .select(col("id1"), col("id2"),
          col("n_shared").cast("long").as("n_shared"),
          col("max_span_tokens"))
        .orderBy("id1", "id2")
    },

    // intra-document repeated-line scrub (C4/Gopher boilerplate
    // cleanup): keep first occurrences in order, rejoin. The corpus is
    // single-line, so the gate derives a word-per-line view
    // (translate ' '->'\n') — repetition is natural ("batch batch
    // batch"); integer line counts + md5 of the scrubbed text
    // oracle: first-occurrence-ordered line dedup: min(subscript) per distinct
    // line, string_agg back in that order (array_distinct's documented
    // first-occurrence order, replayed explicitly)
    Gate("p56_scrub_repeated_lines",
      """WITH l AS (SELECT doc_id,
        |    string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
        |  FROM documents),
        |u AS (SELECT doc_id, unnest(ls) AS line,
        |    generate_subscripts(ls, 1) AS i FROM l),
        |f AS (SELECT doc_id, line, min(i) AS fi
        |  FROM u GROUP BY doc_id, line),
        |s AS (SELECT doc_id, count(*) AS nd,
        |    md5(string_agg(line, chr(10) ORDER BY fi)) AS m
        |  FROM f GROUP BY doc_id)
        |SELECT l.doc_id, CAST(len(l.ls) AS BIGINT) AS n_lines,
        |  CAST(s.nd AS BIGINT) AS n_distinct_lines, s.m AS scrubbed_md5
        |FROM l JOIN s USING (doc_id) ORDER BY doc_id""".stripMargin) { (s, d) =>
      val lined = t(s, d, "documents").select(col("doc_id"),
        translate(col("text"), " ", "\n").as("text"))
      TextAnalysis.scrubRepeatedLines(lined, "text")
        .select(col("doc_id"),
          size(split(col("text"), "\n")).cast("long").as("n_lines"),
          size(array_distinct(split(col("text"), "\n"))).cast("long")
            .as("n_distinct_lines"),
          md5(col("scrubbed")).as("scrubbed_md5"))
        .orderBy("doc_id")
    },

    // CORPUS-GLOBAL line dedup (C4-style): all but the globally-first
    // occurrence of each line dropped, docs reassembled in order.
    // Word-per-line view like p56 — the corpus's heavy word repetition
    // makes the election bind hard (late docs keep almost nothing)
    // oracle: winner per line = lexicographic min (doc_id, pos), replayed as a
    // two-step min; docs reassembled with an ordered string_agg; docs losing
    // every line join to NULL -> '' (md5('') both engines)
    Gate("p58_global_line_dedup",
      """WITH l AS (SELECT doc_id, unnest(ls) AS line,
        |    generate_subscripts(ls, 1) AS i
        |  FROM (SELECT doc_id,
        |    string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
        |  FROM documents)),
        |w1 AS (SELECT line, min(doc_id) AS wd FROM l GROUP BY line),
        |w AS (SELECT l.line, l.doc_id AS wd, min(l.i) AS wi
        |  FROM l JOIN w1 ON l.line = w1.line AND l.doc_id = w1.wd
        |  GROUP BY l.line, l.doc_id),
        |kept AS (SELECT l.doc_id, l.line, l.i FROM l
        |  JOIN w ON l.line = w.line AND l.doc_id = w.wd AND l.i = w.wi),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_lines,
        |    md5(string_agg(line, chr(10) ORDER BY i)) AS deduped_md5
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.n_kept_lines, 0) AS n_kept_lines,
        |  coalesce(r.deduped_md5, md5('')) AS deduped_md5
        |FROM documents d LEFT JOIN r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val lined = t(s, d, "documents").select(col("doc_id"),
        translate(col("text"), " ", "\n").as("text"))
      Dedup.dedupLinesGlobal(lined, "doc_id", "text")
        .select(col("doc_id"), col("n_kept_lines"),
          md5(col("deduped")).as("deduped_md5"))
        .orderBy("doc_id")
    },

    // FUZZY decontamination: train docs near-duplicate (MinHash-LSH,
    // same banded rule as p03) to ANY eval doc (the %10==0 slice, like
    // p19's exact-gram gate) — catches the reworded-benchmark leakage
    // exact grams miss; planted near-dups straddle the slice boundary
    // Generated fuzzy-decontamination oracle: p03's signature + band
    // structure, asymmetric (train x eval slice) join, per-train-doc
    // distinct-eval count.
    Gate("p60_decontaminate_neardup", {
      val p = Dedup.minhashP
      val seeds = Dedup.minhashSeeds(32)
      val mins = seeds.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(hs, x -> ($a * x + $b) % $p)) AS m$i"
      }.mkString(",\n    ")
      val eqSum = (0 until 32).map(i => s"(a.m$i = b.m$i)::INT")
        .mkString(" + ")
      val bandJoins = (0 until 16).map { bi =>
        s"""SELECT a.doc_id AS tid, b.doc_id AS eid, $eqSum AS eqc
           |  FROM sigt a JOIN sige b
           |    ON a.m${2 * bi} = b.m${2 * bi}
           |    AND a.m${2 * bi + 1} = b.m${2 * bi + 1}""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      shingleHashCtes +
      s"""sig AS (SELECT doc_id,
         |    $mins
         |  FROM hs0),
         |sigt AS (SELECT * FROM sig WHERE doc_id % 10 <> 0),
         |sige AS (SELECT * FROM sig WHERE doc_id % 10 = 0),
         |cand AS (
         |  $bandJoins),
         |agg AS (SELECT tid, eid, count(*) AS nb, max(eqc) AS eqc
         |  FROM cand GROUP BY tid, eid),
         |near AS (SELECT tid, CAST(count(*) AS BIGINT) AS n
         |  FROM agg WHERE nb >= 2 AND eqc / 32.0 >= 0.35 GROUP BY tid)
         |SELECT d.doc_id, coalesce(near.n, 0) AS n_near_eval,
         |  coalesce(near.n, 0) > 0 AS contaminated
         |FROM documents d LEFT JOIN near ON near.tid = d.doc_id
         |WHERE d.doc_id % 10 <> 0
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      graft.operators.Decontaminate.nearDupFlag(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "doc_id", "text")
        .select(col("id").as("doc_id"), col("n_near_eval"),
          col("contaminated"))
        .orderBy("doc_id")
    },

    // INCREMENTAL snapshot dedup: snapshot A (even ids) bootstraps a
    // fresh on-disk index, snapshot B (odd ids) probes A's index —
    // exactly the monthly-crawl-drop motion. Output is BOTH snapshots'
    // verdicts; the oracle recomputes them ALL-AT-ONCE from scratch
    // under the (snapshot, id) precedence order, so green == the
    // incremental path is bit-identical to the one-shot path on this
    // corpus (the operator's core claim)
    // Generated incremental-dedup oracle: recomputes
    // Dedup.dedupAgainstIndex's verdicts ALL-AT-ONCE — no index, no
    // snapshot sequencing — under the (snapshot, id) precedence order
    // the incremental path realizes, from p03's portable signature +
    // band structure and p05's exact fingerprint. A hash match
    // therefore IS the incremental == all-at-once equivalence, checked
    // on real data end to end through the on-disk index.
    Gate("p68_dedup_incremental", {
      val p = Dedup.minhashP
      val seeds = Dedup.minhashSeeds(32)
      val mins = seeds.zipWithIndex.map { case ((a, b), i) =>
        s"list_min(list_transform(hs, x -> ($a * x + $b) % $p)) AS m$i"
      }.mkString(",\n    ")
      val earlier =
        "(b.snap < a.snap OR (b.snap = a.snap AND b.doc_id < a.doc_id))"
      val bandJoins = (0 until 16).map { bi =>
        s"""SELECT a.doc_id FROM sigd a JOIN sigd b
           |    ON a.m${2 * bi} = b.m${2 * bi}
           |    AND a.m${2 * bi + 1} = b.m${2 * bi + 1}
           |    AND $earlier""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH fps AS (SELECT doc_id, doc_id % 2 AS snap,
         |    md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')))
         |      AS fp
         |  FROM documents),
         |ws AS (SELECT doc_id, doc_id % 2 AS snap,
         |    list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |      x -> len(x) > 0) AS ws
         |  FROM documents),
         |sh0 AS (SELECT doc_id, snap, list_distinct(list_transform(
         |    range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
         |    AS shingles FROM ws),
         |hs0 AS (SELECT doc_id, snap, list_transform(shingles,
         |    s -> ${duckShingleHash(p)}) AS hs
         |  FROM sh0 WHERE len(shingles) > 0),
         |sigd AS (SELECT doc_id, snap,
         |    $mins
         |  FROM hs0),
         |ex AS (SELECT DISTINCT a.doc_id FROM fps a JOIN fps b
         |  ON a.fp = b.fp AND $earlier),
         |nr0 AS (
         |  $bandJoins),
         |nr AS (SELECT DISTINCT doc_id FROM nr0)
         |SELECT f.doc_id, f.fp,
         |  CASE WHEN ex.doc_id IS NOT NULL THEN 'drop_exact'
         |       WHEN nr.doc_id IS NOT NULL THEN 'drop_near'
         |       ELSE 'keep' END AS verdict
         |FROM fps f LEFT JOIN ex ON ex.doc_id = f.doc_id
         |           LEFT JOIN nr ON nr.doc_id = f.doc_id
         |ORDER BY f.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p68-").toString
      val decA = Dedup.dedupAgainstIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        dir, "snapA")
      val decB = Dedup.dedupAgainstIndex(
        docs.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        dir, "snapB")
      decA.unionByName(decB)
        .select(col("id").as("doc_id"), col("fp"), col("verdict"))
        .orderBy("doc_id")
    },

    // INCREMENTAL corpus-global line dedup: snapshot A (even ids)
    // seeds a line-digest index, snapshot B (odd ids) loses every line
    // A kept — the C4 global-first rule riding the p68 index motion.
    // The oracle recomputes all verdicts ALL-AT-ONCE under the
    // (snapshot, id, pos) precedence order, so green == incremental
    // line dedup is bit-identical to one dedupLinesGlobal over the
    // union (same space->newline corpus reshaping as p58)
    // oracle: p58's winner-election SQL with the (snapshot, id, pos) precedence
    // key (wk = snap·10^12 + doc_id encodes the lex order; doc ids are far
    // below 10^12 at every SF) — the ALL-AT-ONCE recomputation the incremental
    // path must equal
    Gate("p70_incr_line_dedup",
      """WITH l AS (SELECT doc_id, doc_id % 2 AS snap, unnest(ls)
        |    AS line, generate_subscripts(ls, 1) AS i
        |  FROM (SELECT doc_id,
        |    string_split(replace(text, ' ', chr(10)), chr(10)) AS ls
        |  FROM documents)),
        |w1 AS (SELECT line,
        |    min(snap * 1000000000000 + doc_id) AS wk
        |  FROM l GROUP BY line),
        |w AS (SELECT l.line, l.doc_id AS wd, min(l.i) AS wi
        |  FROM l JOIN w1 ON l.line = w1.line
        |    AND l.snap * 1000000000000 + l.doc_id = w1.wk
        |  GROUP BY l.line, l.doc_id),
        |kept AS (SELECT l.doc_id, l.line, l.i FROM l
        |  JOIN w ON l.line = w.line AND l.doc_id = w.wd AND l.i = w.wi),
        |r AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept_lines,
        |    md5(string_agg(line, chr(10) ORDER BY i)) AS deduped_md5
        |  FROM kept GROUP BY doc_id)
        |SELECT d.doc_id,
        |  coalesce(r.n_kept_lines, 0) AS n_kept_lines,
        |  coalesce(r.deduped_md5, md5('')) AS deduped_md5
        |FROM documents d LEFT JOIN r USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val lined = t(s, d, "documents").select(col("doc_id"),
        translate(col("text"), " ", "\n").as("text"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p70-").toString
      val a = Dedup.dedupLinesAgainstIndex(
        lined.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        dir, "snapA")
      val b = Dedup.dedupLinesAgainstIndex(
        lined.filter(col("doc_id") % 2 === 1), "doc_id", "text",
        dir, "snapB")
      a.unionByName(b)
        .select(col("doc_id"), col("n_kept_lines"),
          md5(col("deduped")).as("deduped_md5"))
        .orderBy("doc_id")
    },

    // URL latest-wins recrawl dedup: non-monotone version so the
    // (version, id) winner ordering is actually exercised
    Gate("p85_url_latest_wins",
      """WITH d AS (SELECT doc_id,
        |    'https://example.com/page/' || (doc_id % 50) AS url,
        |    doc_id * 7 % 11 AS version
        |  FROM documents),
        |r AS (SELECT doc_id, url, ROW_NUMBER() OVER (
        |    PARTITION BY url ORDER BY version DESC, doc_id DESC)
        |    AS rn FROM d)
        |SELECT doc_id, url, rn = 1 AS kept
        |FROM r ORDER BY doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents").select(col("doc_id"),
        concat(lit("https://example.com/page/"),
          (col("doc_id") % 50).cast("string")).as("url"),
        (col("doc_id") * 7 % 11).as("version"))
      Dedup.urlLatestWins(docs, "doc_id", "url", "version")
        .orderBy("doc_id")
    }
  )
}
