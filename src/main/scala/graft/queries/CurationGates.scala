package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.core.Tables.t
import graft.operators.{Bpe, Chunking, Curation, Dedup, TextAnalysis}

/** Corpus curation gates: fingerprints, quality signals, tokenization,
  * packing and mixture sampling, shuffles and splits, PII redaction,
  * normalization, profiling, the composed curation pass, and the
  * event-table sessionize/as-of operators, each with its DuckDB oracle. */
object CurationGates {

  /** DuckDB analog of TextAnalysis.subwordCountEstimate (same expression
    * the p08 oracle uses), shared by the packing/budget oracles. */
  private val duckSubwordTok: String =
    """CAST(list_sum(list_transform(
      |      list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
      |        p -> len(p) > 0),
      |      p -> greatest(CAST(ceil(len(p)/4.0) AS BIGINT), 1)))
      |    AS BIGINT)""".stripMargin

  val gates: Seq[Gate] = Seq(
    // document fingerprint + token counts
    Gate("p05_fingerprint_tokens",
      """SELECT doc_id,
        |  md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
        |  len(list_filter(string_split(lower(text),' '), w -> len(w)>0))
        |    AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents").select(
        col("doc_id"),
        TextAnalysis.fingerprintMd5(col("text")).as("fp"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"))
        .orderBy("doc_id")
    },

    // quality signals (map-only scoring pass)
    Gate("p06_quality",
      """SELECT doc_id,
        |  len(list_filter(string_split(lower(text),' '), w -> len(w)>0))
        |    AS n_tokens,
        |  (len(text) - len(regexp_replace(text, '[[:punct:]]', '', 'g')))
        |    ::DOUBLE / greatest(len(text), 1) AS punct_ratio,
        |  (len(text) - len(regexp_replace(text, '[0-9]', '', 'g')))
        |    ::DOUBLE / greatest(len(text), 1) AS digit_ratio,
        |  (CASE WHEN len(list_filter(string_split(lower(text),' '),
        |      w -> len(w)>0)) BETWEEN 5 AND 100000
        |    THEN 1.0 ELSE 0.2 END)
        |  * (1.0 - least((len(text) - len(regexp_replace(text,
        |      '[[:punct:]]', '', 'g')))::DOUBLE / greatest(len(text),1)*2,
        |      1.0))
        |  * (1.0 - least((len(text) - len(regexp_replace(text, '[0-9]',
        |      '', 'g')))::DOUBLE / greatest(len(text),1)*2, 1.0))
        |    AS quality_score
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.qualitySignals(t(s, d, "documents"), "text")
        .select("doc_id", "n_tokens", "punct_ratio", "digit_ratio",
          "quality_score")
        .orderBy("doc_id")
    },

    // BPE-ish subword count estimate
    Gate("p08_subword_count",
      """SELECT doc_id, CAST(list_sum(list_transform(
        |    list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      p -> len(p) > 0),
        |    p -> greatest(CAST(ceil(len(p)/4.0) AS BIGINT), 1)))
        |  AS BIGINT) AS n_subwords
        |FROM documents ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.subwordCountEstimate(col("text")).as("n_subwords"))
        .orderBy("doc_id")
    },

    // sessionization: 30-min-gap sessions per user over the event stream
    Gate("p11_events_sessionize",
      """WITH g AS (SELECT user_id, event_id, ts,
        |    CASE WHEN LAG(ts) OVER w IS NULL
        |      OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) > 1800000000
        |      THEN 1 ELSE 0 END AS new_sess
        |  FROM events WINDOW w AS (PARTITION BY user_id
        |    ORDER BY ts, event_id)),
        |s AS (SELECT user_id, ts,
        |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM g)
        |SELECT user_id, CAST(sess_id AS BIGINT) AS sess_id,
        |  COUNT(*) AS n_events, MIN(ts) AS sess_start
        |FROM s GROUP BY user_id, sess_id
        |ORDER BY user_id, sess_id""".stripMargin) { (s, d) =>
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val gapped = t(s, d, "events")
        .withColumn("prev_ts", lag(col("ts"), 1).over(w))
        .withColumn("new_sess",
          when(col("prev_ts").isNull ||
            unix_micros(col("ts")) - unix_micros(col("prev_ts")) >
              1800L * 1000000L, 1)
            .otherwise(0))
        .withColumn("sess_id", sum(col("new_sess")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      gapped.groupBy("user_id", "sess_id")
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"))
        .orderBy("user_id", "sess_id")
    },

    // as-of join: each purchase event picks up the latest view event at
    // or before it for the same user (union+window, no range join)
    Gate("p16_events_asof",
      """WITH u AS (
        |  SELECT user_id, ts, event_id,
        |    CASE WHEN event_type='view' THEN 0 ELSE 1 END AS src,
        |    CASE WHEN event_type='view' THEN event_id END AS vid
        |  FROM events WHERE event_type IN ('view','purchase')),
        |w AS (SELECT user_id, ts, event_id, src,
        |    LAST_VALUE(vid IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, src, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS view_id
        |  FROM u)
        |SELECT user_id, event_id AS purchase_id,
        |  CAST(view_id AS BIGINT) AS view_id
        |FROM w WHERE src = 1 ORDER BY purchase_id""".stripMargin) { (s, d) =>
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select("user_id", "event_id", "ts")
      val views = ev.filter(col("event_type") === "view")
      graft.operators.AsOf.backward(purchases, views,
          keyCol = "user_id", tsCol = "ts",
          payload = col("event_id"), asofCol = "view_id",
          tiebreak = col("event_id"))
        .select(col("user_id"), col("event_id").as("purchase_id"),
          col("view_id"))
        .orderBy("purchase_id")
    },

    // duplicate-bigram fraction (Gopher repetition rule): map-only pass
    // through the native tokenCount + ShingleHashes kernels
    Gate("p17_ngram_repetition",
      """WITH ws AS (SELECT doc_id,
        |    list_filter(string_split(lower(text),' '), x -> len(x)>0) AS ws
        |  FROM documents)
        |SELECT doc_id,
        |  CAST(greatest(len(ws)-1, 0) AS BIGINT) AS n_ngrams,
        |  CASE WHEN len(ws) > 1 THEN
        |    1.0 - len(list_distinct(list_transform(range(1, len(ws)),
        |      i -> ws[i]||' '||ws[i+1])))::DOUBLE / (len(ws)-1)
        |  ELSE 0.0 END AS dup_frac
        |FROM ws ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.ngramRepetition(t(s, d, "documents"), "doc_id", "text",
          n = 2)
        .orderBy("doc_id")
    },

    // concat-and-chunk sequence packing into 2048-token context bins
    Gate("p20_pack_sequences",
      s"""WITH tok AS (SELECT doc_id, $duckSubwordTok AS n_tok
         |    FROM documents),
         |c AS (SELECT doc_id, n_tok,
         |    CAST(SUM(n_tok) OVER (ORDER BY doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) - n_tok AS strt
         |  FROM tok)
         |SELECT doc_id, n_tok, strt // 2048 AS bin_id,
         |  strt % 2048 AS bin_offset
         |FROM c ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents").select(col("doc_id"),
        TextAnalysis.subwordCountEstimate(col("text")).as("n_tok"))
      Curation.packSequences(toks, "doc_id", "n_tok", capacity = 2048)
        .select("doc_id", "n_tok", "bin_id", "bin_offset")
        .orderBy("doc_id")
    },

    // per-language token-budget mixture draw (seeded order, whole docs)
    Gate("p21_mix_budget",
      s"""WITH tok AS (SELECT doc_id, lang, $duckSubwordTok AS n_tok
         |    FROM documents),
         |c AS (SELECT doc_id, lang, n_tok,
         |    CAST(SUM(n_tok) OVER (PARTITION BY lang
         |      ORDER BY md5(doc_id::VARCHAR || ':42')
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS BIGINT) AS cum
         |  FROM tok)
         |SELECT doc_id, lang, n_tok FROM c WHERE cum <= 3000
         |ORDER BY doc_id""".stripMargin) { (s, d) =>
      val toks = t(s, d, "documents").select(col("doc_id"), col("lang"),
        TextAnalysis.subwordCountEstimate(col("text")).as("n_tok"))
      Curation.budgetSample(toks, "lang", "doc_id", "n_tok",
          budget = 3000, seed = 42)
        .orderBy("doc_id")
    },

    // PII redaction. The driver corpus carries no PII, so deterministic
    // synthetic contact lines derived from doc_id are appended — by this
    // query and the oracle identically — before masking; planted-string
    // semantics are tested in OperatorsSpec.
    Gate("p22_pii_redact",
      s"""WITH p AS (SELECT doc_id,
         |    text || ' contact user' || doc_id || '@example.com or call '
         |      || (doc_id*7919+10000000) AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '${Curation.emailRe}'))
         |    + len(regexp_extract_all(
         |        regexp_replace(text, '${Curation.emailRe}', ' ', 'g'),
         |        '${Curation.numRe}')) AS BIGINT) AS n_pii,
         |  regexp_replace(regexp_replace(text,
         |      '${Curation.emailRe}', '<EMAIL>', 'g'),
         |    '${Curation.numRe}', '<NUM>', 'g') AS redacted
         |FROM p ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or call "),
          (col("doc_id") * 7919 + 10000000L).cast("long")).as("text"))
        .select(col("doc_id"),
          Curation.piiCount(col("text")).as("n_pii"),
          Curation.redactPii(col("text")).as("redacted"))
        .orderBy("doc_id")
    },

    // deterministic seeded shuffle into 32 shards with stable positions
    Gate("p23_seeded_shuffle",
      """WITH h AS (SELECT doc_id, md5(doc_id::VARCHAR || ':42') AS hex
        |  FROM documents),
        |s AS (SELECT doc_id, hex,
        |    CAST((('0x'||substr(hex,1,15))::UBIGINT % 32) AS INT) AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY hex)
        |    AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin) { (s, d) =>
      Curation.seededShuffle(t(s, d, "documents").select("doc_id"),
          "doc_id", shards = 32, seed = 42)
        .select("doc_id", "shard", "pos")
        .orderBy("doc_id")
    },

    // leakage-safe split: whole source domains assigned to one split
    Gate("p24_leakage_split",
      """WITH b AS (SELECT doc_id, source,
        |    ('0x'||substr(md5(source || ':42'),1,15))::UBIGINT % 1000000
        |      AS bucket
        |  FROM documents)
        |SELECT doc_id, source,
        |  CASE WHEN bucket < 800000 THEN 'train'
        |       WHEN bucket < 900000 THEN 'val'
        |       ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin) { (s, d) =>
      Curation.leakageSafeSplit(
          t(s, d, "documents").select("doc_id", "source"), "source",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), seed = 42)
        .select("doc_id", "source", "split")
        .orderBy("doc_id")
    },

    // context-window chunking: 64-token tiles, map-only
    Gate("p25_chunk_documents",
      """WITH w AS (SELECT doc_id, string_split(text, chr(32)) AS ws
        |  FROM documents),
        |g AS (SELECT doc_id, unnest(list_transform(
        |    range(0, greatest((len(ws)+63)//64, 1)),
        |    c -> struct_pack(chunk_id := c,
        |      chunk_text := array_to_string(ws[c*64+1:c*64+64], chr(32)),
        |      n_tokens := len(ws[c*64+1:c*64+64])))) AS ch FROM w)
        |SELECT doc_id, CAST(ch.chunk_id AS BIGINT) AS chunk_id,
        |  ch.chunk_text AS chunk_text, CAST(ch.n_tokens AS BIGINT)
        |    AS n_tokens
        |FROM g ORDER BY doc_id, chunk_id""".stripMargin) { (s, d) =>
      Chunking.chunk(t(s, d, "documents").select("doc_id", "text"),
          "doc_id", "text", window = 64, stride = 64)
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id", "chunk_id")
    },

    // BPE encode against the FROZEN canonical merge table (trained once
    // from this corpus by graft.BpeFreeze, deterministic): map-only
    // encode, fully oracle-gated — the DuckDB oracle replays the same
    // merges as a literal relation (sequential-by-rank exhaustive
    // replacement, equivalent to lowest-rank-first because a merge's
    // product can only appear in LATER-trained pairs). Corpus-driven
    // TRAINING stays spec-gated in BpeSpec (iterative argmax is not
    // expressible as a static oracle string).
    // oracle: built FROM the frozen merge table so Spark and
    // DuckDB replay the identical ranks by construction. Encode model:
    // each symbol rides as `US s US` (US = unit separator, chr(31)) so
    // a pair pattern `US a US US b US` can never match across symbol
    // boundaries or share characters with an adjacent occurrence;
    // merges apply as one exhaustive `replace` per rank, in rank order
    // — equivalent to the lowest-rank-first loop because a merge's
    // product only occurs in later-trained pairs. One recursive-CTE
    // step per rank over the DISTINCT words (the memoized shape of the
    // Spark encode); token count = separator count / 2.
    Gate("p27_bpe_tokens", {
      def esc(s: String) = s.replace("'", "''")
      val values = graft.operators.Bpe.canonicalMerges.zipWithIndex
        .map { case ((a, b), i) => s"(${i + 1},'${esc(a)}','${esc(b)}')" }
        .mkString(",")
      val n = graft.operators.Bpe.canonicalMerges.size
      s"""WITH RECURSIVE merges(r, a, b) AS (VALUES $values),
         |words AS (SELECT doc_id, w FROM (
         |    SELECT doc_id,
         |      unnest(regexp_split_to_array(lower(text), '\\s+')) AS w
         |    FROM documents) WHERE w <> ''),
         |dw AS (SELECT DISTINCT w FROM words),
         |enc AS (
         |  SELECT w,
         |    regexp_replace(w, '(.)', chr(31) || '\\1' || chr(31), 'g')
         |      || chr(31) || '</w>' || chr(31) AS s,
         |    0 AS r
         |  FROM dw
         |  UNION ALL
         |  SELECT e.w,
         |    replace(e.s,
         |      chr(31) || m.a || chr(31) || chr(31) || m.b || chr(31),
         |      chr(31) || m.a || m.b || chr(31)),
         |    e.r + 1
         |  FROM enc e JOIN merges m ON m.r = e.r + 1),
         |wtok AS (SELECT w,
         |    (length(s) - length(replace(s, chr(31), ''))) // 2 AS n
         |  FROM enc WHERE r = $n),
         |per_doc AS (SELECT wo.doc_id, sum(wt.n) AS n
         |  FROM words wo JOIN wtok wt USING (w) GROUP BY wo.doc_id)
         |SELECT d.doc_id,
         |  CAST(COALESCE(p.n, 0) AS BIGINT) AS n_tokens
         |FROM documents d LEFT JOIN per_doc p USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin
    }) { (s, d) =>
      val docs = t(s, d, "documents")
      Bpe.encode(docs, "doc_id", "text", Bpe.canonicalMerges)
        .select(col("id").as("doc_id"), col("n_tokens"))
        .orderBy("doc_id")
    },

    // temperature-based mixture resampling: domain d contributes
    // ∝ count_d^0.5 of the 600-row target — rare languages replicated
    // up, the dominant one sampled down (seeded md5, engine-portable)
    Gate("p29_temperature_mix",
      """WITH cnt AS (SELECT lang, COUNT(*)::DOUBLE AS c
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, POW(c, 0.5) AS pw, c FROM cnt),
        |tot AS (SELECT SUM(pw) AS s FROM w),
        |r AS (SELECT lang, 600.0 * pw / s / c AS rate FROM w, tot),
        |d AS (SELECT doc_id, dd.lang,
        |    CAST(FLOOR(rate) AS BIGINT) +
        |    CASE WHEN ('0x'||substr(md5(doc_id::VARCHAR || ':42'),1,15))
        |        ::UBIGINT % 1000000
        |      < CAST(FLOOR((rate - FLOOR(rate)) * 1e6) AS BIGINT)
        |      THEN 1 ELSE 0 END AS n
        |  FROM documents dd JOIN r USING (lang))
        |SELECT doc_id, lang, unnest(range(n)) AS copy
        |FROM d ORDER BY doc_id, copy""".stripMargin) { (s, d) =>
      Curation.temperatureMix(
          t(s, d, "documents").select("doc_id", "lang"), "lang", "doc_id",
          temperature = 0.5, targetRows = 600, seed = 42)
        .select("doc_id", "lang", "copy")
        .orderBy("doc_id", "copy")
    },

    // END-TO-END curation: exact dedup -> quality filter -> benchmark
    // decontamination, composed as ONE lazy DAG (each stage is the same
    // operator its standalone gate checks; Catalyst fuses the pipeline).
    // With an embedding column available, the semantic stage slots in
    // between dedup and quality via Dedup.semanticDedupGated — the
    // variant that ABORTS when the cell-cap exposure metric
    // (semanticDedupStats.capped_fraction) exceeds tolerance, so an
    // under-quantized pass can't silently ship an unexamined corpus.
    // (Not in this oracle-gated query: FP cosines aren't DuckDB-
    // replicable; the composed path is spec-gated in OperatorsSpec.)
    Gate("p30_curate_corpus",
      """WITH dd AS (SELECT doc_id, text FROM (
        |    SELECT doc_id, text,
        |      ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rn
        |    FROM documents) WHERE rn = 1),
        |q AS (SELECT doc_id, text,
        |    len(list_filter(string_split(lower(text),' '), w -> len(w)>0))
        |      AS n_tokens,
        |    (CASE WHEN len(list_filter(string_split(lower(text),' '),
        |        w -> len(w)>0)) BETWEEN 5 AND 100000
        |      THEN 1.0 ELSE 0.2 END)
        |    * (1.0 - least((len(text) - len(regexp_replace(text,
        |        '[[:punct:]]', '', 'g')))::DOUBLE / greatest(len(text),1)*2,
        |        1.0))
        |    * (1.0 - least((len(text) - len(regexp_replace(text, '[0-9]',
        |        '', 'g')))::DOUBLE / greatest(len(text),1)*2, 1.0))
        |      AS score
        |  FROM dd),
        |tr AS (SELECT doc_id, text, n_tokens FROM q
        |  WHERE score >= 0.5 AND doc_id % 10 <> 0),
        |ws AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents WHERE doc_id % 10 = 0),
        |ev AS (SELECT DISTINCT unnest(list_distinct(list_transform(
        |    range(1, len(ws)-3),
        |    i -> ('0x'||substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '
        |      ||ws[i+3]||' '||ws[i+4]),1,16))::UBIGINT))) AS h
        |  FROM ws),
        |tg AS (SELECT doc_id,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM tr),
        |th AS (SELECT doc_id, unnest(list_distinct(list_transform(
        |    range(1, len(ws)-3),
        |    i -> ('0x'||substr(md5(ws[i]||' '||ws[i+1]||' '||ws[i+2]||' '
        |      ||ws[i+3]||' '||ws[i+4]),1,16))::UBIGINT))) AS h
        |  FROM tg),
        |bad AS (SELECT DISTINCT th.doc_id FROM th JOIN ev USING (h))
        |SELECT tr.doc_id, CAST(tr.n_tokens AS BIGINT) AS n_tokens
        |FROM tr WHERE tr.doc_id NOT IN (SELECT doc_id FROM bad)
        |ORDER BY tr.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val deduped = Dedup.exact(docs, col("text"), col("doc_id"))
      val kept = TextAnalysis.qualitySignals(deduped, "text")
        .filter(col("quality_score") >= 0.5)
      val train = kept.filter(col("doc_id") % 10 =!= 0)
      val eval = docs.filter(col("doc_id") % 10 === 0)
      graft.operators.Decontaminate.flag(train, eval, "doc_id", "text", k = 5)
        .filter(!col("contaminated"))
        .join(train.select(col("doc_id"), col("n_tokens")),
          col("id") === col("doc_id"))
        .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"))
        .orderBy("doc_id")
    },

    // stratified sample: exactly 10 docs per language in seeded order
    Gate("p33_stratified_sample",
      """SELECT doc_id, lang, rank FROM (
        |  SELECT doc_id, lang, CAST(ROW_NUMBER() OVER (
        |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR || ':42'))
        |    AS BIGINT) AS rank
        |  FROM documents) WHERE rank <= 10 ORDER BY doc_id""".stripMargin) { (s, d) =>
      Curation.stratifiedSample(
          t(s, d, "documents").select("doc_id", "lang"), "lang", "doc_id",
          k = 10, seed = 42)
        .select("doc_id", "lang", "rank")
        .orderBy("doc_id")
    },

    // canonical text normalization (NFC + control strip + whitespace
    // collapse). The corpus is clean ASCII, so a planted dirty suffix
    // (decomposed e+◌́, a BEL control, ragged whitespace) makes the gate
    // exercise every normalization step; results are fingerprinted so
    // the oracle checks the normalized bytes without hauling full texts
    // through the compare
    // oracle: the normalization pipeline replayed: same dirty suffix built from
    // chr() codepoints (decomposed e+0301, BEL, composed e9, tab),
    // nfc_normalize + identical RE2 passes
    Gate("p38_normalize_text",
      """WITH dirty AS (SELECT doc_id, text || '  cafe' || chr(769) ||
        |    chr(7) || ' ' || chr(233) || 'tude' || chr(9) AS t
        |  FROM documents),
        |norm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(
        |    nfc_normalize(t),
        |    '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'),
        |    '\s+', ' ', 'g')) AS n FROM dirty)
        |SELECT doc_id, md5(n) AS norm_md5, CAST(len(n) AS BIGINT) AS norm_len
        |FROM norm ORDER BY doc_id""".stripMargin) { (s, d) =>
      val dirty = concat(col("text"),
        lit("  cafe\u0301\u0007 \u00e9tude\t"))
      t(s, d, "documents").select(col("doc_id"),
        md5(TextAnalysis.normalizeText(dirty)).as("norm_md5"),
        length(TextAnalysis.normalizeText(dirty))
          .cast("long").as("norm_len"))
        .orderBy("doc_id")
    },

    // corpus profile per language: counts, token totals, exact token
    // percentiles — the curation audit table
    // oracle: exact percentiles via quantile_cont (the same
    // linear-interpolation definition as Spark's percentile)
    Gate("p39_corpus_stats",
      """WITH d AS (SELECT lang,
        |    CAST(len(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      w -> len(w) > 0)) AS BIGINT) AS n_tok,
        |    CAST(len(text) AS BIGINT) AS n_chars
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
        |  CAST(SUM(n_chars) AS BIGINT) AS total_chars,
        |  MIN(n_tok) AS min_tokens, MAX(n_tok) AS max_tokens,
        |  quantile_cont(n_tok, 0.5) AS p50_tokens,
        |  quantile_cont(n_tok, 0.9) AS p90_tokens
        |FROM d GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
      TextAnalysis.corpusStats(t(s, d, "documents"), "lang", "text")
        .withColumnRenamed("grp", "lang")
        .orderBy("lang")
    },

    // markup stripping: the corpus is plain text, so each doc is wrapped
    // in a synthetic HTML template (style payload, tags, comment,
    // double-escaped entity) that the extractor must undo; fingerprinted
    // like p38
    // oracle: markup stripping replayed: same wrap, same RE2 passes, same
    // entity-decode order
    Gate("p43_strip_markup",
      """WITH w AS (SELECT doc_id,
        |    '<html><head><style>p{color:red}</style></head><body><p id="x">'
        |    || text ||
        |    '</p><!-- note --> &amp;lt; tail &nbsp;</body></html>' AS t
        |  FROM documents),
        |s1 AS (SELECT doc_id, regexp_replace(t,
        |    '(?is)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g')
        |    AS t FROM w),
        |s2 AS (SELECT doc_id, regexp_replace(t, '(?s)<!--.*?-->', ' ', 'g')
        |    AS t FROM s1),
        |s3 AS (SELECT doc_id, regexp_replace(t, '<[^>]+>', ' ', 'g') AS t
        |    FROM s2),
        |s4 AS (SELECT doc_id, replace(replace(replace(replace(replace(
        |    replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |    '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM s3),
        |n AS (SELECT doc_id, trim(regexp_replace(t, '\s+', ' ', 'g')) AS t
        |    FROM s4)
        |SELECT doc_id, md5(t) AS strip_md5, CAST(len(t) AS BIGINT)
        |  AS strip_len
        |FROM n ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wrapped = concat(
        lit("<html><head><style>p{color:red}</style></head><body><p id=\"x\">"),
        col("text"),
        lit("</p><!-- note --> &amp;lt; tail &nbsp;</body></html>"))
      t(s, d, "documents").select(col("doc_id"),
        md5(TextAnalysis.stripMarkup(wrapped)).as("strip_md5"),
        length(TextAnalysis.stripMarkup(wrapped))
          .cast("long").as("strip_len"))
        .orderBy("doc_id")
    },

    // deterministic domain interleaving: global training order that
    // cycles languages so no sequential reader sees a one-domain run
    // oracle: same seeded md5 rank-within-group + in-rank tiebreak
    Gate("p44_interleave",
      """WITH r AS (SELECT doc_id, lang,
        |    md5(doc_id::VARCHAR || ':42') AS key,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY md5(doc_id::VARCHAR || ':42')) AS BIGINT)
        |      AS grp_rank
        |  FROM documents)
        |SELECT doc_id, lang, grp_rank,
        |  CAST(ROW_NUMBER() OVER (PARTITION BY grp_rank ORDER BY key)
        |    AS BIGINT) AS ord_in_rank
        |FROM r ORDER BY grp_rank, ord_in_rank""".stripMargin) { (s, d) =>
      Curation.interleave(
          t(s, d, "documents").select("doc_id", "lang"), "lang", "doc_id",
          seed = 42)
        .select(col("doc_id"), col("lang"), col("grp_rank"),
          col("ord_in_rank"))
        .orderBy("grp_rank", "ord_in_rank")
    },

    // per-source frequency capping (domain caps): at most 17 docs per
    // source (sources carry 25 docs at the smallest gate SF, so the cap
    // BINDS at every scale), chosen by the seeded portable shuffle order
    // oracle: the cap is a count-cumulative <= N over the same seeded md5 order
    Gate("p50_cap_per_group",
      """WITH r AS (SELECT doc_id, source,
        |    CAST(COUNT(*) OVER (PARTITION BY source
        |      ORDER BY md5(doc_id::VARCHAR || ':42')
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS rn
        |  FROM documents)
        |SELECT doc_id, source FROM r WHERE rn <= 17
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      Curation.capPerGroup(
          t(s, d, "documents").select("doc_id", "source"),
          "source", "doc_id", maxPerGroup = 17, seed = 42)
        .orderBy("doc_id")
    },

    // table/column profiling preflight: per-column null count, EXACT
    // distinct count, min/max-as-string in ONE aggregation pass. Gate
    // columns are the bigint/varchar ones (timestamp/double string
    // RENDERING differs across engines — the operator profiles them
    // too, but the hash gate pins the portably-rendered types)
    // oracle: one UNION ALL branch per profiled column, identical statistics
    Gate("p61_table_profile",
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")
        .map { c =>
          s"""SELECT '$c' AS col_name,
             |  CAST(count(*) FILTER ($c IS NULL) AS BIGINT) AS n_nulls,
             |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
             |  CAST(min($c) AS VARCHAR) AS min_s,
             |  CAST(max($c) AS VARCHAR) AS max_s
             |FROM orders""".stripMargin
        }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")) { (s, d) =>
      graft.operators.Profiling.profile(t(s, d, "orders"),
          Seq("o_orderkey", "o_custkey", "o_orderstatus",
            "o_orderpriority"))
        .orderBy("col_name")
    },

    // per-language tokenizer fertility (bytes/token audit table):
    // exact totals, exact-quotient ratio
    Gate("p84_token_fertility",
      s"""WITH d AS (SELECT lang,
         |    CAST(octet_length(encode(text)) AS BIGINT) AS b,
         |    $duckSubwordTok AS t
         |  FROM documents),
         |a AS (SELECT lang, count(*) AS n_docs,
         |    CAST(sum(b) AS BIGINT) AS total_bytes,
         |    CAST(sum(t) AS BIGINT) AS total_tokens
         |  FROM d GROUP BY lang)
         |SELECT lang, n_docs, total_bytes, total_tokens,
         |  CASE WHEN total_tokens > 0
         |    THEN total_bytes::DOUBLE / total_tokens::DOUBLE
         |    ELSE NULL END AS bytes_per_token
         |FROM a ORDER BY lang""".stripMargin) { (s, d) =>
      TextAnalysis.tokenizerFertility(t(s, d, "documents"), "lang",
          "text")
        .orderBy("lang")
    }
  )
}
