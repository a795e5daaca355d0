package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for corpus curation: language ID, quality
  * scoring, token counting, document fingerprinting. Everything is
  * codegen'd column expressions — at 100 TB these run as a single
  * map-only pass over the corpus (no shuffle at all).
  */
object TextAnalysis {

  // codegen'd tokenizer kernel (r17): token-identical to
  // filter(split(lower(text), "\\s+"), length > 0), but the HOF filter
  // is CodegenFallback (interpreted per element) while the kernel
  // rides whole-stage codegen — see functions.TextHash.wordsArray
  private def words(text: Column): Column =
    graft.functions.F.wordsArray(text)


  /** Heuristic language ID: CJK codepoint share first, then the language
    * with the highest stopword hit ratio, default "en". One native
    * codegen pass (`functions.LangId`): the previous HOF formulation
    * evaluated the interpreted tokenize+membership chain once per
    * language and the argmax fold duplicated every score subtree —
    * measured ~1 ms/doc vs scan speed, with identical output (the
    * kernel keeps the same tokenization, profiles, 4% floor, and
    * sorted-order strict-greater tie-break). The kernel itself is
    * NULL-in/NULL-out (standard UnaryExpression contract); the coalesce
    * restores the old HOF formulation's behavior — its when/otherwise
    * chain fell through to "en" on null text, which is also what the
    * DuckDB oracle's CASE chains produce (null comparisons are falsy) —
    * so null-text rows classify as the default language, not null. */
  def langId(text: Column): Column =
    coalesce(graft.functions.F.langId(text), lit("en"))

  /** Quality signals: length, token stats, punctuation/digit/uppercase
    * ratios, stopword share, plus a single composite score in [0,1]. */
  def qualitySignals(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val ws = words(t)
    val nChars = length(t)
    val nTokens = size(ws)
    val avgTok = nChars.cast("double") / greatest(nTokens, lit(1))
    // one-pass char-class kernel (r17): the three counts previously
    // came from three regexp_replace passes, each allocating a
    // stripped copy of the document; the kernel's byte scan is
    // count-identical (all three classes are pure ASCII) and the three
    // field extractions share one evaluation under codegen CSE
    val ccs = graft.functions.F.charClassStats(t)
    val punct = ccs.getField("n_punct")
      .cast("double") / greatest(nChars, lit(1))
    val digits = ccs.getField("n_digit")
      .cast("double") / greatest(nChars, lit(1))
    val upper = ccs.getField("n_upper")
      .cast("double") / greatest(nChars, lit(1))
    // codegen'd stopword-occurrence kernel (r17): value-identical to
    // size(filter(ws, array_contains(enStops))) over the same en
    // profile list; the HOF filter was CodegenFallback and its subtree
    // re-ran the tokenizer outside codegen CSE
    val stopRatio = graft.functions.F.enStopHits(t)
      .cast("double") / greatest(nTokens, lit(1))
    // composite: penalize extreme lengths, high punct/digit share
    val lenOk = when(nTokens.between(5, 100000), 1.0).otherwise(0.2)
    val score = lenOk * (lit(1.0) - least(punct * 2, lit(1.0))) *
      (lit(1.0) - least(digits * 2, lit(1.0)))
    df.withColumn("n_chars_m", nChars)
      .withColumn("n_tokens", nTokens)
      .withColumn("avg_token_len", avgTok)
      .withColumn("punct_ratio", punct)
      .withColumn("digit_ratio", digits)
      .withColumn("upper_ratio", upper)
      .withColumn("stopword_ratio", stopRatio)
      .withColumn("quality_score", score)
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(words(text))

  /** BPE-ish subword count estimate: word-piece regex splits on
    * alphanumeric-run boundaries, ~1 token per 4 chars of long words (a
    * common heuristic), exact count for short words. */
  def subwordCountEstimate(text: Column): Column =
    // codegen'd kernel (r17), value-identical to the previous
    // interpreted filter+aggregate HOF chain over
    // split(lower(text), "[^a-z0-9]+") — same regex, same
    // max(ceil(len/4), 1) per piece; see functions.TextHash.subwordCount
    graft.functions.F.subwordCount(text)

  /** Gopher-style duplicate n-gram fraction: 1 − distinct/total word
    * n-grams per document (0 for documents shorter than n words). High
    * values flag boilerplate/templated text in pretraining corpora.
    * Map-only single pass: total from the [[tokenCount]] kernel, distinct
    * from the native ShingleHashes kernel — no shuffle, full codegen. */
  def ngramRepetition(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 2): DataFrame = {
    val total = greatest(tokenCount(col(textCol)) - (n - 1), lit(0))
      .cast("long")
    val dist = size(graft.functions.F.shingleHashes(col(textCol), n))
      .cast("long")
    df.select(col(idCol),
      total.as("n_ngrams"),
      when(total > 0,
        lit(1.0) - dist.cast("double") / total.cast("double"))
        .otherwise(lit(0.0)).as("dup_frac"))
  }

  /** Per-language tokenizer fertility — the bytes-per-token table of
    * multilingual tokenizer audits (XLM-R/NLLB-style analyses: a
    * tokenizer that spends 3× the tokens per byte on one language
    * effectively shrinks that language's context window and training
    * budget 3×). Uses the same subword estimator as the token-count
    * gate, UTF-8 octet length for bytes.
    *
    * Output per language: (lang, n_docs, total_bytes, total_tokens,
    * bytes_per_token) — the totals exact longs, the ratio their exact
    * double quotient. One partial-aggregated shuffle keyed by language
    * (languages-bounded output); everything else rides the scan. */
  def tokenizerFertility(docs: DataFrame, langCol: String,
                         textCol: String): DataFrame =
    docs.select(col(langCol).as("lang"),
        octet_length(col(textCol)).cast("long").as("__b"),
        subwordCountEstimate(col(textCol)).as("__t"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__b")).as("total_bytes"),
        sum(col("__t")).as("total_tokens"))
      .withColumn("bytes_per_token",
        // a language bucket of empty/whitespace-only docs has zero
        // tokens — NULL, not Infinity/NaN (which are non-portable)
        when(col("total_tokens") > 0,
          col("total_bytes").cast("double") /
            col("total_tokens").cast("double")))

  /** Corpus-level top-k n-grams (heavy hitters) — the dataset-report
    * companion of the per-doc [[ngramRepetition]]: the most frequent
    * word n-grams across the whole corpus with how many documents carry
    * them (the table every curation writeup ships to spot boilerplate,
    * templates and SEO spam; e.g. the Gopher/MassiveText and RefinedWeb
    * dataset analyses).
    *
    * Scale shape: tokenize + explode are map-only; the first aggregate
    * keys (ngram, doc) so map-side partials collapse a document's
    * repeated grams before the one gram-keyed shuffle; the second
    * aggregate reduces the already-deduplicated stream to one row per
    * distinct gram (vocabulary-sized, not corpus-sized); the top-k is
    * `orderBy(...).limit(k)` = TakeOrdered (per-partition heaps, no
    * full sort). A single-step `countDistinct` would instead expand
    * every gram row twice before its shuffle.
    *
    * Output: (rank, ngram, n_docs, total_count), ranked by total count
    * descending then gram ascending. */
  def topNgrams(df: DataFrame, idCol: String, textCol: String,
                n: Int = 3, k: Int = 20): DataFrame = {
    require(n >= 1, "topNgrams needs n >= 1")
    require(k >= 1, "topNgrams needs k >= 1")
    // codegen'd gram kernel (r17): value-identical to the previous
    // interpreted transform(sequence, slice+concat_ws) chain over the
    // words array (tokenize once, one native pass per doc; short docs
    // yield an empty array exactly like the HOF's otherwise branch)
    val tok = df.select(col(idCol).as("__id"),
      graft.functions.F.ngramStrings(col(textCol), n).as("__gs"))
    val perDoc = tok.select(explode(col("__gs")).as("ngram"), col("__id"))
      .groupBy(col("ngram"), col("__id")).agg(count(lit(1)).as("__c"))
    val agg = perDoc.groupBy("ngram")
      .agg(sum(col("__c")).as("total_count"), count(lit(1)).as("n_docs"))
    agg.orderBy(col("total_count").desc, col("ngram").asc).limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("total_count").desc, col("ngram").asc)))
      .select(col("rank"), col("ngram"), col("n_docs"),
        col("total_count"))
  }

  /** Bigram language-model scoring — the statistical quality filter of
    * CCNet/KenLM-style pipelines: train bigram/unigram counts on a
    * reference corpus, then score each document by add-k smoothed
    * log-probability and perplexity (low perplexity ≈ fluent,
    * in-distribution text; high ≈ gibberish or off-domain).
    *
    *   logprob(doc) = Σ_i log( (c(w_i,w_{i+1}) + a) / (c(w_i) + a·V) )
    *   ppl(doc)     = exp(-logprob / n_bigrams)
    *
    * Output per scored doc: (id, n_bigrams, n_oov, sum_c12, sum_c1,
    * logprob, ppl) — the integer columns are engine-exact (the oracle
    * checks them); the log-space doubles are for ranking/filtering.
    * Docs with fewer than 2 tokens score 0 bigrams, logprob 0, ppl null.
    *
    * Scale: counting is ONE fused hash-shuffle aggregate over the
    * train corpus with map-side partial aggregation (the same
    * [[lmCountTables]] pass the backoff scorer uses — bigram and
    * unigram counts ride one tagged shuffle, the train text tokenized
    * once via the multi-order kernel); scoring joins the score-side
    * bigram stream to the count tables on 64-bit gram hashes
    * (collision-approximate exactly like [[Dedup.ngramJaccardPairs]])
    * and reduces per document — no driver-side state, no vocabulary
    * broadcast needed (the count tables stay distributed; AQE
    * broadcasts them when small). */
  def ngramLmScore(train: DataFrame, score: DataFrame, idCol: String,
                   textCol: String, addK: Double = 0.1,
                   portableHash: Boolean = false): DataFrame = {
    val F = graft.functions.F
    // (id, h1, h2) per bigram OCCURRENCE: h2 = hash of "w_i w_{i+1}",
    // h1 = hash of w_i — position-aligned via ONE multi-order kernel
    // call per doc (per-order calls would re-tokenize per order)
    def bigramRows(df: DataFrame) =
      df.select(col(idCol).as("id"),
          F.shinglePosHashesUpTo(col(textCol), 2, portableHash)
            .as("am"))
        .select(col("id"), element_at(col("am"), 1).as("h1s"),
          posexplode(element_at(col("am"), 2)).as(Seq("i", "h2")))
        .select(col("id"), col("h2"),
          element_at(col("h1s"), col("i").cast("int") + 1).as("h1"))
    // pinned: the fused (k, h, c) table feeds the bigram join, the
    // unigram join, AND the vocab-size action — one train scan + one
    // shuffle for all three (the count() materializes the checkpoint;
    // consumers re-scan the blocks)
    val fused = lmCountTables(train, textCol, order = 2, minCount = 1,
      portableHash = portableHash).localCheckpoint(eager = false)
    val c12 = fused.filter(col("k") === 2)
      .select(col("h").as("h2"), col("c").as("c12"))
    val c1 = fused.filter(col("k") === 1)
      .select(col("h").as("h1"), col("c").as("c1"))
    val vocab = c1.count().toDouble
    val scored = bigramRows(score)
      .join(c12, Seq("h2"), "left_outer")
      .join(c1, Seq("h1"), "left_outer")
      .withColumn("lp",
        log((coalesce(col("c12"), lit(0L)) + lit(addK)) /
          (coalesce(col("c1"), lit(0L)) + lit(addK * vocab))))
      .groupBy("id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("c12").isNull, 1L).otherwise(0L)).as("n_oov"),
        sum(coalesce(col("c12"), lit(0L))).as("sum_c12"),
        sum(coalesce(col("c1"), lit(0L))).as("sum_c1"),
        sum(col("lp")).as("logprob"))
    score.select(col(idCol).as("id"))
      .join(scored, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        coalesce(col("sum_c12"), lit(0L)).as("sum_c12"),
        coalesce(col("sum_c1"), lit(0L)).as("sum_c1"),
        coalesce(col("logprob"), lit(0.0)).as("logprob"),
        when(col("n_bigrams") > 0,
          exp(-col("logprob") / col("n_bigrams"))).as("ppl"))
  }

  /** Order-n language-model scoring with STUPID BACKOFF (Brants et al.
    * 2007, "Large Language Models in Machine Translation" §4 — the
    * smoothing built for distributed count-based LMs; the shape of the
    * CCNet §3.3 5-gram KenLM quality scorer, which [[ngramLmScore]]
    * approximates at order 2 only). Every token scores at the HIGHEST
    * order its context admits and its count supports:
    *
    *   S(w_i | w_{i-k+1..i-1}) = c_k(gram) / c_{k-1}(prefix)   if c_k > 0
    *                           = α · S(w_i | w_{i-k+2..i-1})    otherwise
    *   S(w_i) = c_1(w_i) / N  at the unigram floor; an unseen word
    *   scores 1/(N+V) (one pseudo-occurrence against the event space).
    *
    * α is the EXACT RATIONAL `alphaNum/alphaDen` (default 2/5 = the
    * paper's 0.4), so the per-token score is α^steps · num/den with
    * integer num/den/steps — the gate hashes those integer sufficient
    * statistics (per-level hit counts, Σnum, Σden, Σsteps), NEVER the
    * float log score (p45/p62 playbook: a sum of transcendental logs is
    * not bit-stable across engines). They pin tokenization, hashing,
    * every per-order count table, and the backoff cascade itself.
    *
    * Output per scored doc: (id, n_tokens, n_hit1..n_hit<order>, n_oov,
    * sum_num, sum_den, sum_steps, logscore, ppl) — n_hit_k = tokens
    * resolved at order k, steps = backoff distance from the position's
    * top admissible order min(order, i+1), logscore = Σ ln(α)·steps +
    * ln(num/den), ppl = exp(−logscore/n_tokens) (null for 0 tokens).
    * Unlike [[ngramLmScore]] every token scores (a 1-token doc scores
    * at the unigram floor), so fluent-but-rare text and templated spam
    * separate the way the CCNet pipeline's 5-gram model separates them
    * where an add-k bigram ties (spec-tested).
    *
    * `minCount` is KenLM's singleton pruning (CCNet §3.3 ships PRUNED
    * 5-gram models for exactly this reason): count rows below
    * `minCount` at orders ≥ 3 are dropped from the tables, so a rare
    * high-order gram simply never "hits" and the cascade backs off
    * through it — stupid backoff absorbs pruned grams by construction,
    * no renormalization exists to break. Orders 1–2 stay unpruned
    * (the unigram floor and the N/V totals must see every token; the
    * order-2 table is every order-3 numerator's denominator). The
    * denominator-never-null-on-a-hit invariant survives pruning: a
    * k-gram with count ≥ minCount has a (k−1)-prefix with count ≥ the
    * k-gram's count, so the prefix survives the same threshold.
    *
    * Scale: the count step is ONE hash-shuffle aggregate over the
    * train corpus — all `order` gram streams explode through a single
    * (order-tag, hash) generate into a single map-side-combined
    * groupBy, so the train text is scanned and shuffled once, not
    * `order` times (the distributed KenLM count step; the per-order
    * tables are filters over the one checkpointed aggregate). With
    * `minCount` > 1 the high-order tables shrink from
    * corpus-gram-sized to the frequent-gram set —
    * the difference between an unbounded and a bounded scoring join at
    * web scale. Scoring explodes the score side once (positions carry
    * only 64-bit keys, the parent arrays never ride a shuffle) and
    * joins each per-order table twice at most (numerator key at k,
    * denominator prefix at k−1). No driver-side state beyond the 1-row
    * (N, V) collect.
    *
    * `broadcastModel` (default true) pins every count-table join to a
    * BROADCAST join — the KenLM operating shape: the pruned model
    * lives in full on every node (kenlm mmaps the model file; CCNet's
    * per-language pruned 5-gram models are sized for node RAM). The
    * default exists because the alternative fails silently-slow, not
    * loudly: at sf10 the order-4/5 tables crossed the 10 MB AQE
    * broadcast default and 4 of the 9 joins flipped to shuffle joins
    * over the position stream (26.6 s vs 11.6 s, SCALE_BENCH
    * lm_profile). For a model past the broadcast budget (Spark's hard
    * 8 GB / 512M-row per-table limits, or driver memory) pass `false`
    * and AQE picks strategies per table — measured to be the right
    * fallback: a "3 shuffles regardless of order" melt formulation
    * was built and benchmarked 3× slower than the AQE shuffle joins
    * (falsified; SCALE_BENCH_sf10_r16 notes). Strategy only, never a
    * value (spec-pinned equality).
    *
    * `langCol` turns the model PER-LANGUAGE (CCNet §3.3 trains one
    * KenLM per language and scores each doc against its own
    * language's model): count tables are keyed (lang, k, h) by the
    * SAME single train pass — one multilingual scan, `nlangs` models,
    * never a per-language corpus loop — and scoring joins on
    * (lang, hash) with each language's own (N, V) floor riding in as
    * a broadcast languages-sized frame. Output gains a `lang` column
    * after `id`. A language's slice is bit-identical to a
    * single-language model trained on that slice alone (spec-proven);
    * docs whose lang has no model degenerate deterministically (see
    * the scoring-half scaladoc). */
  /** The fused KenLM-style count step of [[ngramLmScoreBackoff]],
    * factored out so its physical shape is plan-gateable (the public
    * API checkpoints the result, which hides the aggregate from
    * `explain`): every order's positional gram stream rides the same
    * two generates — (k, array) rows, then (k, hash) grams — into ONE
    * map-side-combined (k, h) aggregate, so the train corpus is
    * scanned and shuffled once, not `order` times. Null text yields
    * null arrays, which the inner explode drops (exactly as per-order
    * explodes would). `minCount` > 1 prunes orders ≥ 3 below the
    * threshold; orders 1–2 always survive.
    *
    * With `langCol` set the aggregate is keyed (lang, k, h) — ONE
    * scan and ONE shuffle still count EVERY language's tables (the
    * CCNet §3.3 shape: one model per language, trained in one pass
    * over the multilingual corpus instead of a per-language corpus
    * rescan). Null-lang train rows are dropped (a doc that can't name
    * its model trains none of them). The lang key is cast to string
    * here (and on the score side, symmetrically) so a non-string lang
    * column — an int lang id, say — keys models by its decimal
    * rendering instead of dying in [[saveLmModel]]'s sidecar collect
    * with an opaque ClassCastException. */
  private[graft] def lmCountTables(train: DataFrame, textCol: String,
                                   order: Int, minCount: Int,
                                   portableHash: Boolean,
                                   langCol: Option[String] = None)
      : DataFrame = {
    val F = graft.functions.F
    // the multi-order kernel tokenizes each doc ONCE for all orders
    // (the per-order kernel re-ran the regex split per order — the
    // dominant map-side cost of the count pass)
    val langKey = langCol.map(lc => col(lc).cast("string").as("lang")).toSeq
    val src = langCol.fold(train)(lc => train.filter(col(lc).isNotNull))
    val fused = src
      .select(langKey :+ posexplode(
          F.shinglePosHashesUpTo(col(textCol), order, portableHash))
        .as(Seq("k0", "arr")): _*)
      .select(langCol.map(_ => col("lang")).toSeq ++
        Seq((col("k0") + 1).as("k"), explode(col("arr")).as("h")): _*)
      .groupBy(langCol.map(_ => col("lang")).toSeq ++
        Seq(col("k"), col("h")): _*)
      .agg(count(lit(1)).as("c"))
    if (minCount > 1) fused.filter(col("k") <= 2 || col("c") >= minCount)
    else fused
  }

  def ngramLmScoreBackoff(train: DataFrame, score: DataFrame,
                          idCol: String, textCol: String, order: Int = 3,
                          alphaNum: Int = 2, alphaDen: Int = 5,
                          minCount: Int = 1,
                          portableHash: Boolean = false,
                          langCol: Option[String] = None,
                          broadcastModel: Boolean = true): DataFrame = {
    require(order >= 2 && order <= 6,
      s"ngramLmScoreBackoff: order=$order out of [2,6]")
    require(alphaNum >= 1 && alphaDen > alphaNum,
      s"ngramLmScoreBackoff: alpha=$alphaNum/$alphaDen must be in (0,1)")
    require(minCount >= 1,
      s"ngramLmScoreBackoff: minCount=$minCount must be >= 1")
    // ONE fused count pass (plan-gated via lmCountTables), pinned: the
    // per-order filtered views below feed 2·order−1 joins plus the
    // N/V step. With langCol the SAME single pass counts every
    // language's tables keyed (lang, k, h) and scoring joins on
    // (lang, hash) — one multilingual corpus scan, `nlangs` models.
    val fused = lmCountTables(train, textCol, order, minCount,
      portableHash, langCol).localCheckpoint(eager = false)
    langCol match {
      case None =>
        // per-order occurrence-count tables (each feeds the numerator
        // join at k and the denominator join at k+1; c1 also feeds N/V)
        val cnts: Seq[DataFrame] = (1 to order).map { k =>
          fused.filter(col("k") === k)
            .select(col("h").as(s"nk$k"), col("c").as(s"cn$k"))
        }
        val nv = cnts.head
          .agg(coalesce(sum(col("cn1")), lit(0L)), count(lit(1)))
          .collect()(0)
        lmBackoffScore(score, idCol, textCol, cnts,
          Left((nv.getLong(0), nv.getLong(1))), order, alphaNum,
          alphaDen, portableHash, langCol = None, broadcastModel)
      case Some(_) =>
        val cnts: Seq[DataFrame] = (1 to order).map { k =>
          fused.filter(col("k") === k)
            .select(col("lang"), col("h").as(s"nk$k"),
              col("c").as(s"cn$k"))
        }
        // per-language (N, V): a languages-sized frame, broadcast into
        // the scoring positions — never collected
        val nv = fused.filter(col("k") === 1).groupBy("lang")
          .agg(sum(col("c")).as("__n"), count(lit(1)).as("__v"))
        lmBackoffScore(score, idCol, textCol, cnts, Right(nv), order,
          alphaNum, alphaDen, portableHash, langCol, broadcastModel)
    }
  }

  /** The scoring half of [[ngramLmScoreBackoff]], shared with the
    * saved-model path ([[ngramLmScoreWithModel]]): the backoff cascade
    * over caller-supplied per-order count tables + (N, V) totals.
    *
    * `nv` is `Left((n, v))` for a single-language model (driver-side
    * literals, the original plan) or `Right(df)` for per-language —
    * a (lang, __n, __v) frame broadcast onto the positions so the
    * unigram floor and OOV event space are each language's own.
    * Per-language count tables carry a `lang` column and every join
    * adds `lang` to its key. A scored doc whose lang has NO model
    * (absent from the nv frame / count tables) degenerates
    * deterministically: every token OOV against an empty event space
    * (num=den=0, floor probability 1), logscore = Σ steps·ln α — keep
    * such docs out or route them by filtering on the model's language
    * set; they are NOT nulled because a quota pipeline downstream
    * must still see a row per doc. A score-side row with NULL lang
    * takes the SAME degenerate path (a null key matches nothing in
    * the lang joins) — deliberate asymmetry with the train side,
    * which DROPS null-lang rows: training can't key a model without a
    * language, but a scored doc must keep its row. Since a null lang
    * at scoring time usually means an upstream langId bug rather than
    * a missing model, count or route `lang IS NULL` rows before
    * scoring if that distinction matters. */
  // private[graft] (was private) so the dev A/B probe can drive the
  // scoring tail with an unpinned count read (the r17-shape replica)
  private[graft] def lmBackoffScore(score: DataFrame, idCol: String,
                             textCol: String, cnts: Seq[DataFrame],
                             nv: Either[(Long, Long), DataFrame],
                             order: Int,
                             alphaNum: Int, alphaDen: Int,
                             portableHash: Boolean,
                             langCol: Option[String],
                             broadcastModel: Boolean): DataFrame = {
    val F = graft.functions.F
    // one position row per score-side token: the k-gram ending at
    // 0-based position i starts at i-k+1, i.e. 1-based element i-k+2 of
    // the positional hash array — and its (k-1)-prefix shares that
    // start, so numerator and denominator keys read the SAME index from
    // adjacent-order arrays. The multi-order kernel runs ONCE per doc
    // (order+1 per-order calls would re-tokenize per call — the
    // dominant score-side map cost); keys are extracted in the
    // projection fused with the generate, and the nested array rides
    // the Generate as a single attribute — never a shuffle.
    // cast mirrors lmCountTables' train-side key: a non-string lang
    // column joins by the same decimal rendering on both sides
    val langSel = langCol.map(lc => col(lc).cast("string").as("lang")).toSeq
    val langCar = langCol.map(_ => col("lang")).toSeq
    val arrs = score.select(Seq(col(idCol).as("id")) ++ langSel ++ Seq(
        F.shinglePosHashesUpTo(col(textCol), order, portableHash)
          .as("am")): _*)
      .select(Seq(col("id")) ++ langCar ++
        (1 to order).map(k => element_at(col("am"), k).as(s"a$k")) :+
        posexplode(element_at(col("am"), 1)).as(Seq("i", "nk1")): _*)
    val pos0 = arrs.select(Seq(col("id")) ++ langCar ++
      Seq(col("i"), col("nk1")) ++
      (2 to order).flatMap { k =>
        val idx = col("i") - (k - 2) // 1-based i-k+2; valid iff i >= k-1
        Seq(
          when(col("i") >= k - 1, element_at(col(s"a$k"), idx))
            .as(s"nk$k"),
          when(col("i") >= k - 1, element_at(col(s"a${k - 1}"), idx))
            .as(s"dk$k"))
      }: _*)
    // per-language (N, V) ride in as broadcast columns; an unmatched
    // lang coalesces to the empty event space (n=v=0), never null —
    // the degenerate-but-deterministic no-model case documented above
    val pos = nv.fold(_ => pos0, nvDf =>
      pos0.join(broadcast(nvDf), Seq("lang"), "left_outer")
        .withColumn("__n", coalesce(col("__n"), lit(0L)))
        .withColumn("__v", coalesce(col("__v"), lit(0L))))
    def jkeys(key: String) = langCol.map(_ => "lang").toSeq :+ key
    // the KenLM operating shape: the pruned model lives in full on
    // every node (kenlm mmaps it; CCNet ships per-language pruned
    // 5-gram models sized for node RAM), so the count tables join as
    // BROADCAST sides by default instead of flipping to shuffle joins
    // when a table crosses the AQE size default — at sf10 that flip
    // alone made order-5 scoring 2.3× slower (26.6 s vs 11.6 s,
    // SCALE_BENCH lm_profile). `broadcastModel = false` hands the
    // choice back to AQE for models past the broadcast budget — the
    // right fallback by MEASUREMENT, not assumption: a melt
    // formulation (explode every position's 2·order−1 lookups, ONE
    // (k, hash) join, (id, i) regroup — "3 shuffles regardless of
    // order") was built, proven value-identical, and measured 3×
    // SLOWER than even the AQE shuffle joins (81.7 s vs 27.2 s at
    // sf10 order 5): the 9× row multiplication before the single
    // join costs more than the repeated position-stream shuffles it
    // removes. Falsified and removed; numbers in SCALE_BENCH_sf10_r16.
    def side(df: DataFrame) = if (broadcastModel) broadcast(df) else df
    var joined = pos
    for (k <- 1 to order)
      joined = joined.join(side(cnts(k - 1)), jkeys(s"nk$k"),
        "left_outer")
    for (k <- 2 to order)
      joined = joined.join(
        side(cnts(k - 2).withColumnRenamed(s"nk${k - 1}", s"dk$k")
          .withColumnRenamed(s"cn${k - 1}", s"cd$k")),
        jkeys(s"dk$k"), "left_outer")
    val topk = least(lit(order), col("i") + 1)
    // level = highest order whose count hit (its prefix count is then
    // guaranteed non-null); 0 = OOV (unigram miss)
    val level = (order to 1 by -1)
      .foldRight(lit(0)) { (k, els) =>
        when(col(s"cn$k").isNotNull, lit(k)).otherwise(els)
      }
    val num = coalesce(
      (order to 1 by -1).map(k => col(s"cn$k")) :+ lit(0L): _*)
    // the unigram-floor denominator and the OOV event space: literals
    // for a single-language model, the broadcast per-lang columns
    // otherwise. Both branches compute ln(1.0 / max(n+v, 1)) with the
    // same IEEE ops (divide then Math.log), so a single-language score
    // and the same language's slice of a per-lang score are
    // bit-identical (spec-proven).
    val nBase = nv.fold(
      { case (nTok, _) => lit(nTok) }, _ => col("__n"))
    val den = (order to 2 by -1).foldRight(
        when(col("cn1").isNotNull, nBase).otherwise(lit(0L))) {
      (k, els) => when(col(s"cn$k").isNotNull, col(s"cd$k")).otherwise(els)
    }
    val steps = when(level > 0, topk - level).otherwise(topk - 1)
    val lnAlpha = math.log(alphaNum.toDouble / alphaDen)
    val lnOov = nv.fold(
      { case (nTok, vocab) =>
        lit(math.log(1.0 / math.max(nTok + vocab, 1L))) },
      _ => log(lit(1.0) /
        greatest(col("__n") + col("__v"), lit(1L)).cast("double")))
    val lp = when(level > 0,
        steps.cast("double") * lnAlpha +
          log(num.cast("double") / den.cast("double")))
      .otherwise(steps.cast("double") * lnAlpha + lnOov)
    val scored = joined.select(col("id"), level.as("lvl"),
        num.as("num"), den.as("den"),
        steps.cast("long").as("steps"), lp.as("lp"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens"),
        (1 to order).map(k =>
          sum(when(col("lvl") === k, 1L).otherwise(0L)).as(s"n_hit$k")) ++
        Seq(sum(when(col("lvl") === 0, 1L).otherwise(0L)).as("n_oov"),
          sum(col("num")).as("sum_num"), sum(col("den")).as("sum_den"),
          sum(col("steps")).as("sum_steps"),
          sum(col("lp")).as("logscore")): _*)
    score.select(Seq(col(idCol).as("id")) ++ langSel: _*)
      .join(scored, Seq("id"), "left_outer")
      .select(Seq(col("id")) ++ langCar ++ Seq(
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens")) ++
        (1 to order).map(k =>
          coalesce(col(s"n_hit$k"), lit(0L)).as(s"n_hit$k")) ++
        Seq(coalesce(col("n_oov"), lit(0L)).as("n_oov"),
          coalesce(col("sum_num"), lit(0L)).as("sum_num"),
          coalesce(col("sum_den"), lit(0L)).as("sum_den"),
          coalesce(col("sum_steps"), lit(0L)).as("sum_steps"),
          coalesce(col("logscore"), lit(0.0)).as("logscore"),
          when(coalesce(col("n_tokens"), lit(0L)) > 0,
            exp(-coalesce(col("logscore"), lit(0.0)) / col("n_tokens")))
            .as("ppl")): _*)
  }

  /** One sidecar line of space-separated k=v tokens. */
  private def parseLmKv(line: String): Map[String, String] =
    line.trim.split(" ").map(_.split("=", 2))
      .map(a => a(0) -> a(1)).toMap

  /** Read a COMPLETE model's sidecar: (header kv, per-language
    * (lang, n, v) lines — empty for single-language models). None
    * when params.lm.txt is absent; the CALLER owns the error shape
    * (scoring fails closed as an illegal state, appending as an
    * illegal argument). */
  private def readLmSidecar(modelDir: String)
      : Option[(Map[String, String], Array[(String, Long, Long)])] = {
    val meta = java.nio.file.Paths.get(modelDir, "params.lm.txt")
    if (!java.nio.file.Files.exists(meta)) None
    else {
      val lines = new String(java.nio.file.Files.readAllBytes(meta),
        java.nio.charset.StandardCharsets.UTF_8).trim.split("\n")
      Some((parseLmKv(lines.head), lines.tail.map(parseLmKv)
        .map(m => (m("lang"), m("n").toLong, m("v").toLong))))
    }
  }

  /** Lang values become partition dir names and sidecar tokens —
    * anything outside the code-shaped charset would corrupt both. */
  private def requireLangCodes(langs: Seq[String],
                               caller: String): Unit =
    langs.foreach { l =>
      require(l.matches("[A-Za-z0-9_.\\-]+"),
        s"$caller: language value '$l' is not a language code " +
          "(allowed: letters, digits, '_', '.', '-') — normalize " +
          "the lang column before saving")
    }

  /** Write the sidecar LAST, temp file + atomic rename: its presence
    * marks a COMPLETE model and its content is the language manifest
    * scorers prune to. */
  private def writeLmSidecar(modelDir: String, content: String): Unit = {
    val tmp = java.nio.file.Files.createTempFile(
      java.nio.file.Paths.get(modelDir), ".params.lm.", ".tmp")
    java.nio.file.Files.write(tmp,
      content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.file.Files.move(tmp,
      java.nio.file.Paths.get(modelDir, "params.lm.txt"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** TRAIN-ONCE / SCORE-MANY for the backoff LM: persist the fused
    * count tables of [[ngramLmScoreBackoff]] as an on-disk model.
    * This is the actual CCNet operating shape — §3.3 trains ONE KenLM
    * per language on curated text (Wikipedia) and scores EVERY monthly
    * crawl drop against it; recounting the train corpus per snapshot
    * (what the in-line API does) wastes a full train scan each month.
    * The saved model is just the (k, h, c) table partitioned by order
    * + a meta sidecar pinning (order, minCount, hash, N, V) — at 100
    * TB it is vocabulary/gram-bounded (and `minCount`-pruned), read
    * with per-order partition pruning, and broadcast into the
    * scoring joins exactly like the in-line tables (`broadcastModel`
    * on the scorer, default true — see [[ngramLmScoreBackoff]]).
    *
    * Layout: `modelDir/counts` (parquet, partitioned by `k`) and
    * `modelDir/params.lm.txt` (written temp-file + atomic rename
    * AFTER the counts land, so its presence marks a COMPLETE model —
    * [[ngramLmScoreWithModel]] fails closed on a counts dir without
    * it, the interrupted-save case). Re-saving overwrites the model;
    * train-vs-score parameter drift is impossible by construction
    * (scoring reads order/hash from the sidecar, never from caller
    * arguments). Models are immutable artifacts: re-save to a NEW dir
    * if scorers may be mid-flight on the old one — a re-save deletes
    * the sidecar first, so concurrent scorers fail closed rather than
    * read half-written counts, but in-flight jobs that already passed
    * the sidecar check race the overwrite like any file replaced
    * under a reader. */
  def saveLmModel(train: DataFrame, textCol: String, modelDir: String,
                  order: Int = 3, minCount: Int = 1,
                  portableHash: Boolean = false,
                  langCol: Option[String] = None): Unit = {
    require(order >= 2 && order <= 6,
      s"saveLmModel: order=$order out of [2,6]")
    require(minCount >= 1,
      s"saveLmModel: minCount=$minCount must be >= 1")
    val meta = java.nio.file.Paths.get(modelDir, "params.lm.txt")
    java.nio.file.Files.deleteIfExists(meta) // re-save: incomplete
    // until the new counts land and the sidecar is re-written
    // pinned: the (N, V) totals and the parquet write share one count
    // pass (reading N/V back from disk would also die on the
    // zero-file parquet dir an empty corpus produces — schema
    // inference, not the real error)
    val fused = lmCountTables(train, textCol, order, minCount,
      portableHash, langCol).localCheckpoint(eager = false)
    val sidecar: String = langCol match {
      case None =>
        val nv = fused.filter(col("k") === 1)
          .agg(coalesce(sum(col("c")), lit(0L)), count(lit(1)))
          .collect()(0)
        // an LM model of NOTHING is a pipeline bug upstream (empty
        // train slice), and its counts dir would fail every later
        // scorer with an unrelated schema-inference error — refuse
        // with the real cause
        require(nv.getLong(1) > 0L,
          s"saveLmModel: train corpus has no tokens (column " +
            s"'$textCol') — refusing to persist an empty model")
        fused.write.mode("overwrite").partitionBy("k")
          .parquet(s"$modelDir/counts")
        s"order=$order minCount=$minCount " +
          s"portable=$portableHash n=${nv.getLong(0)} v=${nv.getLong(1)}"
      case Some(_) =>
        // ONE-PASS multilingual save (CCNet §3.3: one model per
        // language): counts land partitioned (lang, k) so scoring
        // prunes to the languages it joins, and the sidecar carries
        // one (n, v) line per language — languages-bounded, tiny
        val langNv = fused.filter(col("k") === 1).groupBy("lang")
          .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
            count(lit(1)).as("v"))
          .collect().map(r => (r.getString(0), r.getLong(1),
            r.getLong(2))).sortBy(_._1)
        require(langNv.nonEmpty,
          s"saveLmModel: train corpus has no tokens (column " +
            s"'$textCol') in any language — refusing to persist an " +
            "empty model")
        requireLangCodes(langNv.map(_._1).toSeq, "saveLmModel")
        fused.write.mode("overwrite").partitionBy("lang", "k")
          .parquet(s"$modelDir/counts")
        val header = s"order=$order minCount=$minCount " +
          s"portable=$portableHash perlang=true"
        (header +: langNv.map { case (l, n, v) =>
          s"lang=$l n=$n v=$v" }).mkString("\n")
    }
    writeLmSidecar(modelDir, sidecar)
  }

  /** ADD languages to a saved per-language model WITHOUT retraining
    * the rest — the CCNet operating reality: ~174 per-language models
    * that evolve independently (a new language's corpus lands; nobody
    * retrains 173 finished models to admit the 174th). [[saveLmModel]]
    * overwrites the whole model dir; this appends.
    *
    * Parameters (order, minCount, hash) come FROM THE SIDECAR, never
    * from the caller — the same fail-closed discipline as scoring, so
    * an appended language can never be trained under silently
    * different parameters than the languages beside it. Fails closed
    * on: a missing/incomplete model, a single-language (lang-less)
    * model, and any train language ALREADY in the sidecar — saved
    * languages are immutable artifacts (re-save to a NEW dir to
    * replace one; in-place replacement would mix epochs under
    * in-flight scorers).
    *
    * Crash-window contract (spec-proven): the new `lang=` count
    * partitions land FIRST (dynamic partition overwrite — untouched
    * languages' files are never rewritten, so add-lang == retrain-all
    * BIT-identity for them), and the extended sidecar is renamed into
    * place LAST. A crash in between leaves orphan count partitions
    * that scoring cannot see — [[ngramLmScoreWithModel]] prunes its
    * count scan to the sidecar's language manifest — so the
    * half-added language scores down the documented no-model
    * degenerate path until the append is re-run, and the re-run's
    * dynamic overwrite replaces the orphans cleanly. SINGLE-WRITER:
    * two concurrent appends race the sidecar rename (last wins,
    * dropping the other's language list) — serialize appends
    * externally, exactly as with re-saves. */
  def addLmModelLanguages(train: DataFrame, textCol: String,
                          modelDir: String, langCol: String): Unit = {
    val (kv, existing) = readLmSidecar(modelDir).getOrElse(
      throw new IllegalArgumentException(
        s"addLmModelLanguages: no complete model at $modelDir " +
          "(missing params.lm.txt) — the first save is saveLmModel's " +
          "job"))
    require(kv.get("perlang").contains("true"),
      s"addLmModelLanguages: the model at $modelDir is " +
        "single-language — only per-language models (saved with " +
        "langCol) can grow languages")
    val order = kv("order").toInt
    val minCount = kv("minCount").toInt
    val portableHash = kv("portable").toBoolean
    val existingLangs = existing.map(_._1).toSet
    val fused = lmCountTables(train, textCol, order, minCount,
      portableHash, Some(langCol)).localCheckpoint(eager = false)
    val langNv = fused.filter(col("k") === 1).groupBy("lang")
      .agg(coalesce(sum(col("c")), lit(0L)).as("n"),
        count(lit(1)).as("v"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        r.getLong(2))).sortBy(_._1)
    require(langNv.nonEmpty,
      s"addLmModelLanguages: train corpus has no tokens (column " +
        s"'$textCol') in any language — nothing to add")
    requireLangCodes(langNv.map(_._1).toSeq, "addLmModelLanguages")
    val overlap = langNv.map(_._1).toSet.intersect(existingLangs)
    require(overlap.isEmpty,
      s"addLmModelLanguages: ${overlap.toSeq.sorted.mkString(", ")} " +
        s"already in the model at $modelDir — saved languages are " +
        "immutable; retrain to a NEW dir to replace one")
    // new partitions FIRST: dynamic overwrite touches only the lang=
    // dirs present in `fused` (the new languages), so every existing
    // language's files survive byte-for-byte
    fused.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("lang", "k")
      .parquet(s"$modelDir/counts")
    // sidecar LAST (temp + atomic rename): its language list is what
    // makes the new partitions visible to scorers
    val header = s"order=$order minCount=$minCount " +
      s"portable=$portableHash perlang=true"
    writeLmSidecar(modelDir,
      (header +: (existing ++ langNv).sortBy(_._1)
        .map { case (l, n, v) => s"lang=$l n=$n v=$v" }).mkString("\n"))
  }

  /** Score documents against a model saved by [[saveLmModel]] — the
    * monthly-crawl-drop side of train-once/score-many. Output schema
    * and semantics are EXACTLY [[ngramLmScoreBackoff]]'s (the p72 gate
    * proves the disk round-trip bit-identical against the same
    * oracle); order, pruning, and hashing come from the model's
    * sidecar so a scoring call can never silently mismatch its
    * training parameters. α stays a scoring-time knob (it never
    * touches the count tables).
    *
    * A model saved with `langCol` is PER-LANGUAGE and must be scored
    * with `langCol` (and vice versa) — the shape is read from the
    * sidecar and a mismatch fails closed in both directions, because
    * each silent version is wrong silently: lang-less scoring of a
    * per-lang model joins nothing (all-OOV), per-lang scoring of a
    * single model gives every language the same model. */
  def ngramLmScoreWithModel(modelDir: String, score: DataFrame,
                            idCol: String, textCol: String,
                            alphaNum: Int = 2,
                            alphaDen: Int = 5,
                            langCol: Option[String] = None,
                            broadcastModel: Boolean = true): DataFrame = {
    require(alphaNum >= 1 && alphaDen > alphaNum,
      s"ngramLmScoreWithModel: alpha=$alphaNum/$alphaDen not in (0,1)")
    val (kv, sidecarLangNv) = readLmSidecar(modelDir).getOrElse(
      throw new IllegalStateException(
        s"ngramLmScoreWithModel: no complete model at $modelDir — " +
          "params.lm.txt is missing (either the dir is wrong or a " +
          "saveLmModel was interrupted; re-save the model)"))
    val order = kv("order").toInt
    val portableHash = kv("portable").toBoolean
    val perLang = kv.get("perlang").contains("true")
    // lang-shape mismatch fails CLOSED both ways: scoring a per-lang
    // model without a lang column would join nothing (every doc
    // all-OOV, silently), and scoring a single-lang model "per
    // language" would silently give every language the same model
    require(perLang == langCol.isDefined,
      if (perLang)
        s"ngramLmScoreWithModel: the model at $modelDir is " +
          "PER-LANGUAGE (saved with langCol) — pass langCol so each " +
          "doc scores against its own language's model"
      else
        s"ngramLmScoreWithModel: the model at $modelDir is " +
          "single-language — langCol must be empty (save with " +
          "langCol to get a per-language model)")
    val spark = score.sparkSession
    // PINNED saved-model read (r18): the per-order count views below
    // feed 2·order−1 broadcast builds (numerator join at k, denominator
    // join at k+1), and each build re-scanned the counts parquet — five
    // scan jobs per scoring call at order 3. One lazy localCheckpoint
    // of the pruned counts replaces them: every broadcast build reads
    // the pinned fixed-width rows (guide §1.2 — remove passes; §5 —
    // the pinned table is the vocabulary-bounded pruned model, the
    // thing the KenLM shape already assumes fits on every node). The
    // manifest partition-pruning the r17 revert protected is asserted
    // by PlanSpec on the PRE-pin frame ([[lmSavedCounts]]), which is
    // exactly what materializes here.
    val counts = lmSavedCounts(spark, modelDir)
      .localCheckpoint(eager = false)
    if (perLang) {
      val langNv = sidecarLangNv
      import scala.jdk.CollectionConverters._
      val nvDf = spark.createDataFrame(
        langNv.map(t => org.apache.spark.sql.Row(t._1, t._2, t._3))
          .toSeq.asJava,
        org.apache.spark.sql.types.StructType.fromDDL(
          "lang STRING, __n BIGINT, __v BIGINT"))
      val cnts = (1 to order).map { k =>
        counts.filter(col("k") === k)
          .select(col("lang"), col("h").as(s"nk$k"),
            col("c").as(s"cn$k"))
      }
      lmBackoffScore(score, idCol, textCol, cnts, Right(nvDf), order,
        alphaNum, alphaDen, portableHash, langCol, broadcastModel)
    } else {
      val (nTok, vocab) = (kv("n").toLong, kv("v").toLong)
      val cnts = (1 to order).map { k =>
        counts.filter(col("k") === k)
          .select(col("h").as(s"nk$k"), col("c").as(s"cn$k"))
      }
      lmBackoffScore(score, idCol, textCol, cnts, Left((nTok, vocab)),
        order, alphaNum, alphaDen, portableHash, langCol = None,
        broadcastModel)
    }
  }

  /** The saved-model count READ of [[ngramLmScoreWithModel]], pruned to
    * the sidecar's language manifest but NOT yet pinned — factored out
    * so the manifest partition-pruning is plan-gateable (PlanSpec): the
    * public scorer localCheckpoints this frame, which hides the parquet
    * scan (and its PartitionFilters) from the final query plan.
    *
    * THE SIDECAR IS THE MODEL'S LANGUAGE MANIFEST: the count scan is
    * pruned to exactly its languages (partition pruning on the lang
    * dirs, languages-bounded IN list). A counts partition without a
    * sidecar line — the [[addLmModelLanguages]] crash window, where new
    * partitions landed but the sidecar rename didn't — is INVISIBLE, so
    * such a language scores down the documented no-model degenerate
    * path instead of hitting count tables with a zero (N, V) event
    * space (hits with no floor — silently wrong scores).
    *
    * Explicit schemas: partition-column TYPE INFERENCE would read a
    * purely numeric lang code (lang=01/, lang=1/) back as int and
    * silently merge two languages' tables — pin lang to STRING (and
    * k to INT) so the round trip is shape-exact by construction. */
  private[graft] def lmSavedCounts(
      spark: org.apache.spark.sql.SparkSession,
      modelDir: String): DataFrame = {
    val (kv, sidecarLangNv) = readLmSidecar(modelDir).getOrElse(
      throw new IllegalStateException(
        s"lmSavedCounts: no complete model at $modelDir — " +
          "params.lm.txt is missing"))
    if (kv.get("perlang").contains("true"))
      spark.read.schema("h BIGINT, c BIGINT, lang STRING, k INT")
        .parquet(s"$modelDir/counts")
        .filter(col("lang").isin(sidecarLangNv.map(_._1).toSeq: _*))
    else
      spark.read.schema("h BIGINT, c BIGINT, k INT")
        .parquet(s"$modelDir/counts")
  }

  /** DSIR-style hashed n-gram importance weights (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling"):
    * estimate the target-domain and raw-corpus distributions over a
    * FIXED number of hashed bigram buckets, then score every raw
    * document by its log importance weight
    *
    *   logw(doc) = Σ_g [ log((t_b(g)+a)/(T+aB)) −
    *                     log((r_b(g)+a)/(R+aB)) ]
    *
    * (t_b/r_b = target/raw occurrence count of gram g's bucket, T/R =
    * total gram occurrences, B = bucket count, a = add-k smoothing).
    * Resampling raw docs ∝ exp(logw) — or keeping the top fraction by
    * logw — shifts the raw corpus toward the target domain without a
    * trained classifier.
    *
    * Output per raw doc: (id, n_grams, sum_tb, sum_rb, n_zero_t, logw)
    * — the integer columns are engine-exact sufficient statistics (the
    * oracle gates them, same discipline as [[ngramLmScore]]: they pin
    * the tokenization, hashing, bucketing, and both count tables); the
    * float logw is derived for ranking and spec-tested. Docs with <2
    * tokens get 0 grams and logw 0.
    *
    * `buckets` must be a power of two: the portable hash is a SIGNED
    * big-endian read of the md5 prefix, and only power-of-two moduli
    * make `pmod(signed, B)` equal `unsigned % B` (2^64 ≡ 0 mod B), so
    * a SQL oracle reading the same digest as UBIGINT lands in the same
    * bucket.
    *
    * Scale: hashing the feature space into B buckets is what makes
    * DSIR 100 TB-shaped — both count tables are ≤ B rows REGARDLESS of
    * corpus size (two map-side-combined aggregates), broadcast to the
    * scoring pass, which reduces per document in one shuffle. Nothing
    * driver-side scales with the data; the two 1-row total collects
    * are bounded. */
  def dsirImportance(raw: DataFrame, target: DataFrame, idCol: String,
                     textCol: String, buckets: Int = 4096,
                     addK: Double = 1.0,
                     portableHash: Boolean = false): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val tb = dsirCounts(target, textCol, buckets, portableHash, "tb")
      .localCheckpoint(eager = false) // consumed by total + scoring join
    val rb = dsirCounts(raw, textCol, buckets, portableHash, "rb")
      .localCheckpoint(eager = false)
    def total(df: DataFrame, c: String): Double =
      df.agg(sum(col(c))).collect()(0) match {
        case r if r.isNullAt(0) => 0.0
        case r => r.getLong(0).toDouble
      }
    val tTot = total(tb, "tb")
    val rTot = total(rb, "rb")
    val scored = dsirBuckets(raw, col(idCol), textCol, buckets,
        portableHash)
      .join(broadcast(tb), Seq("b"), "left_outer")
      .join(broadcast(rb), Seq("b"), "left_outer") // always hits: b ∈ raw
      .withColumn("lw",
        log((coalesce(col("tb"), lit(0L)) + lit(addK)) /
            lit(tTot + addK * buckets)) -
        log((col("rb") + lit(addK)) / lit(rTot + addK * buckets)))
      .groupBy("id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("tb"), lit(0L))).as("sum_tb"),
        sum(col("rb")).as("sum_rb"),
        sum(when(col("tb").isNull, 1L).otherwise(0L)).as("n_zero_t"),
        sum(col("lw")).as("logw"))
    raw.select(col(idCol).as("id")).join(scored, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("sum_tb"), lit(0L)).as("sum_tb"),
        coalesce(col("sum_rb"), lit(0L)).as("sum_rb"),
        coalesce(col("n_zero_t"), lit(0L)).as("n_zero_t"),
        coalesce(col("logw"), lit(0.0)).as("logw"))
  }

  /** (id, b) rows: one per bigram occurrence in `textCol`, `b` its
    * hashed bucket. */
  private def dsirBuckets(df: DataFrame, id: Column, textCol: String,
                          buckets: Int, portableHash: Boolean): DataFrame =
    df.select(id.as("id"), explode(graft.functions.F
        .shinglePosHashes(col(textCol), 2, portableHash)).as("h"))
      .select(col("id"), pmod(col("h"), lit(buckets.toLong)).as("b"))

  /** [[dsirImportance]]'s count table of one corpus: (b, `name`) — each
    * hashed-bigram bucket and its occurrence count, at most `buckets`
    * rows whatever the corpus size. The streaming scorer
    * ([[graft.streaming.StreamIngest.dsirScoreStream]]) collects the
    * same table. */
  private[graft] def dsirCounts(df: DataFrame, textCol: String,
                                buckets: Int, portableHash: Boolean,
                                name: String): DataFrame =
    dsirBuckets(df, lit(0L), textCol, buckets, portableHash)
      .groupBy("b").agg(count(lit(1)).as(name))

  /** Linear bag-of-words classifier scoring — the fastText-style quality
    * gate of production curation pipelines (e.g. the GPT-3/CCNet "looks
    * like reference text" filter): a trained weight per vocabulary term,
    * score = bias + Σ_t tf(t,d)·w(t), label = score ≥ 0.
    *
    * The weight table is a FIXED small vocabulary (the model), applied
    * in one map-only codegen pass: per-term frequencies come from array
    * scans over the token list (no explode, no shuffle, no UDF), and
    * contributions sum in the fixed order of `weights` — deterministic
    * under any partitioning, and exact when the weights are binary
    * fractions (tf is an integer, so every product and partial sum is
    * representable; the oracle can then hash-match the score itself).
    *
    * Output: (<idCol>, n_hits, score, label) — n_hits = matched-term
    * occurrence count (exact integer).
    */
  def linearScore(df: DataFrame, idCol: String, textCol: String,
                  weights: Seq[(String, Double)],
                  bias: Double = 0.0): DataFrame = {
    // tf via size-minus-array_remove (codegen'd) over one materialized
    // token array — not ArrayFilter, which is an interpreted
    // CodegenFallback HOF re-running the split per term
    val tokens = df.select(col(idCol), words(col(textCol)).as("__ws"))
    val tfs = weights.map { case (t, _) =>
      (size(col("__ws")) -
        size(array_remove(col("__ws"), lit(t.toLowerCase)))).cast("long")
    }
    val score = tfs.zip(weights).map { case (tf, (_, w)) =>
      tf.cast("double") * lit(w)
    }.foldLeft(lit(bias).cast("double"))(_ + _)
    tokens.select(col(idCol),
      tfs.reduce(_ + _).as("n_hits"),
      score.as("score"),
      (score >= 0).as("label"))
  }

  /** Stochastic quality filter — the soft acceptance step of
    * CCNet-style head/middle/tail sampling and FineWeb-style classifier
    * gates: instead of a hard threshold, each document is kept with
    * probability equal to its clamped [[linearScore]] (keep-all at
    * score ≥ 1, drop-all at ≤ 0, proportional in between), so the
    * curated corpus keeps a calibrated share of mid-quality text
    * instead of a cliff at the threshold.
    *
    * Deterministic by construction: the per-doc uniform draw is the
    * first 15 hex chars (60 bits, never negative as a signed long) of
    * `md5("<id>:<seed>")` mod `resolution` — the engine-portable hash
    * discipline of the shingle kernels — and the acceptance threshold
    * is `floor(p · resolution)` with `resolution` a power of two, so
    * every compared quantity is an exact integer in any engine and the
    * whole filter replays identically under any partitioning, seed
    * change re-draws, and a plain-SQL oracle reproduces it end to end.
    *
    * Output: (id, score, keep_thr, u, kept). Map-only (one tokenize +
    * one md5 per doc); at 100 TB this is scan-speed like the other
    * quality gates. */
  def softQualityFilter(docs: DataFrame, idCol: String, textCol: String,
                        weights: Seq[(String, Double)],
                        bias: Double = 0.0, seed: Long = 42L,
                        resolution: Int = 1 << 20): DataFrame = {
    require(resolution > 0 && (resolution & (resolution - 1)) == 0,
      s"softQualityFilter: resolution must be a power of two, " +
        s"got $resolution")
    val scored = linearScore(docs, idCol, textCol, weights, bias)
    val p = least(greatest(col("score"), lit(0.0)), lit(1.0))
    val thr = floor(p * lit(resolution.toDouble)).cast("long")
    val u = conv(substring(md5(concat(col(idCol).cast("string"),
        lit(":"), lit(seed.toString))), 1, 15), 16, 10)
      .cast("long") % resolution
    scored.select(col(idCol), col("score"), thr.as("keep_thr"),
      u.as("u"), (u < thr).as("kept"))
  }

  /** TRAIN a linear quality classifier — the stage that PRODUCES the
    * model [[linearScore]]-style gates consume (the curated-vs-crawl
    * selection classifier of GPT-3 Appendix A / FineWeb-Edu-style
    * pipelines): hashed bag-of-words features over `buckets` buckets
    * (B-bounded like DSIR's — the dimensionality never scales with the
    * corpus), full-batch gradient descent with a FIXED iteration count,
    * and EVERY quantity an exact integer in fixed point, so training
    * itself is oracle-gatable (the p45/p62 integer discipline extended
    * from statistics to LEARNED PARAMETERS):
    *
    *   - weights are bigints scaled by 2^fracBits (S);
    *   - the activation is the HARD sigmoid σ̂(z) = clamp(½ + z/4, 0, 1)
    *     — piecewise-linear, so σ̂ in 4S-scale is the exact integer
    *     clamp(2S + z, 0, 4S); no transcendental ever enters;
    *   - the update divides by the power-of-two learning rate with
    *     exact FLOOR division (g − pmod(g, 2^lrShift)) div 2^lrShift —
    *     reproducible in any engine with truncated `%`.
    *
    * Per iteration: margins z_d = Σ_b W_b·x_db (one partial-aggregated
    * groupBy over the cached feature frame — the literal weight-array
    * lookup is codegen'd), residuals R_d = σ̂4S(z_d) − 4S·y_d, gradient
    * G_b = Σ_d R_d·x_db (one id-keyed join + one B-bounded aggregate),
    * then W ← W − floor(G / 2^lrShift) on the driver (B longs — the
    * bounded-collect class the DSIR totals established). Docs with no
    * tokens contribute no features and therefore no gradient.
    *
    * Unnormalized gradient: G scales with corpus size, so lrShift is a
    * SCALE-DEPENDENT knob (pick ~log2(n·x̄·4S) − log2(desired step));
    * fixed iterations + fixed shift keep the whole run deterministic
    * and engine-exact, which is the contract here — hyperparameter
    * search stays the caller's job, as in any trainer.
    *
    * Overflow budget (bigint, 2^63): |R| ≤ 4S = 2^(fracBits+2);
    * |G_b| ≤ 4S · Σ_d x_db ≤ 2^(fracBits+2) · corpus-tokens — fracBits
    * 20 holds to ~10^12 train tokens; |z| ≤ max|W|·doc-tokens with
    * max|W| growing by ≤ max|G|/2^lrShift per iteration. The requires
    * bound the knobs; callers training on >10^12 tokens shard first.
    *
    * Returns one row per bucket 0..buckets−1: (b, w) with `w` the
    * 2^fracBits-scaled bigint weight (0 for buckets no token hashed
    * to), plus `w_real` = w / 2^fracBits for direct use in
    * [[linearScoreHashed]]. `labelCol` must be boolean or 0/1-numeric
    * and NON-NULL on every row (fails closed — a null label would
    * silently drop the doc from the gradient).
    */
  def trainLinearClassifier(df: DataFrame, idCol: String, textCol: String,
                            labelCol: String, buckets: Int = 64,
                            iters: Int = 3, fracBits: Int = 20,
                            lrShift: Int = 26,
                            portableHash: Boolean = false): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0 &&
      buckets <= (1 << 20),
      s"trainLinearClassifier: buckets=$buckets must be a power of two " +
        "<= 2^20 (signed-vs-unsigned bucket parity needs 2^64 ≡ 0 mod B)")
    require(iters >= 1 && iters <= 16,
      s"trainLinearClassifier: iters=$iters out of [1,16]")
    require(fracBits >= 4 && fracBits <= 28,
      s"trainLinearClassifier: fracBits=$fracBits out of [4,28]")
    require(lrShift >= 0 && lrShift <= 48,
      s"trainLinearClassifier: lrShift=$lrShift out of [0,48]")
    val F = graft.functions.F
    val spark = df.sparkSession
    val scale = 1L << fracBits
    val lrP = 1L << lrShift
    // fail closed on unlabelable rows: a NULL (or non-castable) label
    // nulls the residual, so the doc would silently contribute NO
    // gradient — and a numeric label OUTSIDE {0,1} (a multi-class
    // column passed by mistake) corrupts the residual 2S·σ̂ − 4S·y
    // into an unbounded gradient with no error. Both are corpus-
    // quality bugs this trainer must surface, not absorb (the params-
    // sidecar philosophy). The probe scans only the label column and
    // short-circuits at one hit.
    val yl = col(labelCol).cast("long")
    require(df.filter(yl.isNull || (yl =!= 0L && yl =!= 1L))
        .limit(1).count() == 0L,
      s"trainLinearClassifier: labelCol '$labelCol' has NULL, " +
        "non-castable, or non-{0,1} values — NULLs silently drop out " +
        "of the gradient and out-of-domain labels corrupt it; filter " +
        "or re-encode labels first")
    // (id, y, b, x): per-doc per-bucket token-occurrence counts — ONE
    // tokenize + one map-side-combined shuffle, then re-keyed by id and
    // cached across iterations. The id re-key (one extra exchange of
    // the already-aggregated rows, paid once) is what makes EVERY
    // iteration's corpus-side work exchange-free (guide §2.4): the
    // margin aggregation groups by (id, y) and the residual joins back
    // on id, both satisfied by hash(id) — so the only per-iteration
    // shuffle left is the B-bounded gradient aggregate. Before this,
    // each of the `iters` iterations re-shuffled the feature table
    // twice (margin groupBy + residual join).
    val feat = df.select(col(idCol).as("id"),
        col(labelCol).cast("long").as("y"),
        explode(F.wordHashes(col(textCol), portableHash)).as("h"))
      .select(col("id"), col("y"),
        pmod(col("h"), lit(buckets.toLong)).as("b"))
      .groupBy("id", "y", "b").agg(count(lit(1)).as("x"))
      .repartition(col("id"))
      .cache()
    var w = Array.fill(buckets)(0L)
    try {
      for (_ <- 1 to iters) {
        val warr = typedLit(w)
        val resid = feat
          .groupBy("id", "y")
          .agg(sum(col("x") * element_at(warr, col("b").cast("int") + 1))
            .as("z"))
          .select(col("id"),
            (greatest(lit(0L), least(lit(4 * scale),
              lit(2 * scale) + col("z"))) - lit(4 * scale) * col("y"))
              .as("r"))
        val grad = feat.join(resid, Seq("id"))
          .groupBy("b").agg(sum(col("r") * col("x")).as("g"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        w = w.zipWithIndex.map { case (wb, b) =>
          val g = grad.getOrElse(b.toLong, 0L)
          wb - (g - Math.floorMod(g, lrP)) / lrP
        }
      }
    } finally feat.unpersist() // a failed stage must not leak the cache
    import spark.implicits._
    w.zipWithIndex.map { case (wb, b) =>
      (b.toLong, wb, wb.toDouble / scale)
    }.toSeq.toDF("b", "w", "w_real")
  }

  /** Score documents with a HASHED-bucket linear model — the scoring
    * counterpart of [[trainLinearClassifier]] (as [[linearScore]] is of
    * a term-keyed model): z = Σ_b tf_b(d)·w_b over the same
    * power-of-two token-hash buckets. `weights` is the trainer's
    * output frame (b, …, w_real) — B-bounded, collected once and
    * applied as a codegen'd literal-array lookup; the only shuffle is
    * the per-doc sum. Output: (<idCol>, n_tokens, score, label).
    *
    * Pass the trainer's FULL frame: it emits exactly one row per
    * bucket (zeros included), and the row count is the only carrier of
    * the model's trained width, so a dense frame is what makes a
    * width mismatch detectable in EITHER direction (scoring a 32-wide
    * model at 64 buckets lands tokens, via a different pmod modulus,
    * in buckets the model never trained — silently, if all you check
    * is bucket range). A sparsified frame (`filter(w =!= 0)`) is
    * rejected for exactly that reason; persist the dense frame — it is
    * B-bounded (≤ 2^20 rows) by the trainer's own contract. */
  def linearScoreHashed(df: DataFrame, idCol: String, textCol: String,
                        weights: DataFrame, buckets: Int,
                        portableHash: Boolean = false): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"linearScoreHashed: buckets=$buckets must be a power of two")
    val F = graft.functions.F
    val warr = new Array[Double](buckets)
    val rows = weights
      .select(col("b").cast("int"), col("w_real").cast("double"))
      .collect()
    // the trainer emits EXACTLY one row per bucket 0..B-1 (zeros
    // included), so a row-count mismatch is a width mismatch in EITHER
    // direction — a SMALLER trained width would otherwise score
    // silently garbage (pmod at a different modulus lands tokens in
    // buckets the model never trained). Dense frames are the contract
    // (scaladoc): a sparsified frame has no width evidence at all.
    require(rows.length == buckets,
      s"linearScoreHashed: weights frame has ${rows.length} rows but " +
        s"buckets=$buckets — either the model was trained at a " +
        "different width (pass the trainer's `buckets` value) or the " +
        "frame was sparsified; pass the trainer's full frame (one row " +
        "per bucket, zeros included — the row count is the width check)")
    rows.foreach { r =>
      val b = r.getInt(0)
      require(b >= 0 && b < buckets,
        s"linearScoreHashed: weight bucket $b out of range for " +
          s"buckets=$buckets — the weights frame was trained at a " +
          "different width; pass the trainer's `buckets` value")
      warr(b) = r.getDouble(1)
    }
    val tok = df.select(col(idCol),
      explode_outer(F.wordHashes(col(textCol), portableHash)).as("h"))
    tok.select(col(idCol),
        when(col("h").isNotNull,
          element_at(typedLit(warr), pmod(col("h"), lit(buckets.toLong))
            .cast("int") + 1)).otherwise(lit(0.0)).as("wt"),
        when(col("h").isNotNull, 1L).otherwise(0L).as("t"))
      .groupBy(idCol)
      .agg(sum(col("t")).as("n_tokens"), sum(col("wt")).as("score"))
      .select(col(idCol), col("n_tokens"), col("score"),
        (col("score") >= 0).as("label"))
  }

  /** Deterministic document fingerprint: MD5 of the normalized text
    * (lower-cased, whitespace collapsed) — the exact-dedup key. */
  /** Per-group corpus profile — the audit table every curation run ends
    * with (docs, token totals, and the token-count distribution per
    * language/source/domain). One partial-aggregated shuffle on the group
    * key; the percentile columns use Spark's EXACT `percentile` (memory
    * ∝ distinct token counts per group — fine for bounded-length corpora;
    * at 100 TB with adversarial length spreads swap in
    * `percentile_approx`, same shape, mergeable sketch). DuckDB's
    * `quantile_cont` implements the same linear-interpolation definition,
    * so the profile is oracle-checkable to the bit.
    */
  def corpusStats(df: DataFrame, groupCol: String,
                  textCol: String): DataFrame =
    df.select(col(groupCol).as("grp"),
        tokenCount(col(textCol)).cast("long").as("n_tok"),
        length(col(textCol)).cast("long").as("n_chars"))
      .groupBy("grp").agg(
        count(lit(1)).as("n_docs"),
        sum("n_tok").as("total_tokens"),
        sum("n_chars").as("total_chars"),
        min("n_tok").as("min_tokens"),
        max("n_tok").as("max_tokens"),
        percentile(col("n_tok"), lit(0.5)).as("p50_tokens"),
        percentile(col("n_tok"), lit(0.9)).as("p90_tokens"))

  /** Distribution-shift detection between corpus slices — the
    * "did this crawl batch drift from the reference mix?" monitor of a
    * training-data pipeline: per-group unigram TOTAL-VARIATION distance
    * against a designated reference group,
    *
    *   TV(g, ref) = ½ · Σ_w | P_g(w) − P_ref(w) |
    *
    * computed over the UNION vocabulary with an exact integer
    * numerator: scaling by the common denominator n_g·n_ref turns every
    * term into | c_gw·n_ref − c_refw·n_g |, so the statistic is
    * oracle-checkable bit-for-bit (unlike KL, whose logs are
    * transcendental). Words present in ref but ABSENT from g need no
    * vocabulary cross join — their contribution is the closed form
    * n_g · (n_ref − Σ_{w∈g} c_refw), so the whole computation is one
    * token-count aggregation plus a word-keyed left join of each
    * group's count table against the reference counts: shuffle on the
    * word key, partial aggregation map-side, never a V×G expansion.
    * Internals in DECIMAL(38,0) — c·n products overflow Long once a
    * slice passes ~10⁹ tokens.
    *
    * Output per group: `n_tokens`, `n_words` (distinct), `overlap_ref`
    * (Σ c_refw over words shared with ref — the raw coverage signal),
    * `tv_num` (exact integer numerator), `tv` = tv_num / (2·n_g·n_ref)
    * ∈ [0, 1). TV(ref, ref) = 0 by construction.
    */
  def distributionShift(df: DataFrame, groupCol: String, textCol: String,
                        refGroup: String): DataFrame = {
    val dec0 = lit(0).cast("decimal(38,0)")
    val tok = df.select(col(groupCol).as("grp"),
      explode(words(col(textCol))).as("w"))
    // pinned: the count table feeds THREE consumers (the per-word join,
    // the per-group totals, the reference slice) — without the pin the
    // corpus-wide tokenize+count re-executes per consumer (observed 8
    // explode passes in the AQE plan). Lazy checkpoint: materialized by
    // the first consumer inside the query's own action.
    val counts = tok.groupBy("grp", "w")
      .agg(count(lit(1)).cast("decimal(19,0)").as("c"))
      .localCheckpoint(eager = false)
    val totals = counts.groupBy("grp").agg(
      sum("c").cast("decimal(19,0)").as("n"),
      count(lit(1)).as("n_words"))
    val ref = counts.filter(col("grp") === refGroup)
      .select(col("w"), col("c").as("cr"))
    val refN = totals.filter(col("grp") === refGroup)
      .select(col("n").as("nr"))
    val present = counts
      .join(broadcast(totals.select(col("grp"), col("n"))), Seq("grp"))
      .join(broadcast(refN))
      .join(ref, Seq("w"), "left_outer")
      .groupBy("grp").agg(
        sum(abs(col("c") * col("nr") -
          coalesce(col("cr"), dec0) * col("n"))).as("tv_present"),
        sum(coalesce(col("cr"), dec0)).as("overlap_ref"))
    present
      .join(totals, Seq("grp"))
      .join(broadcast(refN))
      .select(
        col("grp"),
        col("n").cast("long").as("n_tokens"),
        col("n_words"),
        col("overlap_ref").cast("long").as("overlap_ref"),
        // absent-in-g ref words: closed form n_g·(n_ref − overlap)
        (col("tv_present") +
          col("n") * (col("nr") - col("overlap_ref")))
          .cast("decimal(38,0)").as("tv_num"),
        ((col("tv_present") +
          col("n") * (col("nr") - col("overlap_ref"))).cast("double") /
          (lit(2.0) * col("n").cast("double") * col("nr").cast("double")))
          .as("tv"))
  }

  /** Gopher-style document quality rules (Rae et al. 2021, "Scaling
    * Language Models: Methods, Analysis & Insights from Training
    * Gopher", Table A1) — the standard doc-level heuristic filter
    * battery for web-crawl curation. Emits EXACT INTEGER sufficient
    * statistics per document plus the pass verdict derived from them
    * with integer-only comparisons (mean word length ∈ [3,10] is
    * `3·n ≤ Σlen ≤ 10·n` — no float ever hashes in the gate):
    *
    *   - `n_words` ∈ [minWords, maxWords] (Gopher: 50..100k);
    *   - mean word length ∈ [3, 10];
    *   - hash-symbol and ellipsis symbol-to-word ratios ≤ 0.1
    *     (`10·n_hash ≤ n_words`, `10·n_ellipsis ≤ n_words`);
    *   - ≥ 80% of words contain an alphabetic character
    *     (`5·n_alpha ≥ 4·n_words`);
    *   - ≥ `minStopwords` (Gopher: 2) distinct members of the
    *     required-stopword set {the, be, to, of, and, that, have,
    *     with} — tunable like the other thresholds, since the right
    *     floor depends on the corpus's register (Gopher itself tuned
    *     its thresholds per corpus).
    *
    * All six counters come from ONE native codegen'd kernel pass
    * ([[graft.functions.GopherStats]] — the r11 formulation's
    * aggregate/filter/array_intersect HOFs were interpreted lambdas,
    * the exact shape the langId kernel retired; the r11 scaladoc's
    * "codegen'd" claim was wrong and is now true). The struct is
    * extracted six times in one projection; codegen subexpression
    * elimination evaluates the kernel once per row. Map-only, no
    * shuffle, no UDF — the battery is a scan-speed projection at
    * 100 TB. Tokenization is the engine-wide lowered whitespace
    * split, so the thresholds mean the same thing here as in every
    * other text operator. */
  def gopherQuality(df: DataFrame, textCol: String,
                    minWords: Int = 50, maxWords: Int = 100000,
                    minStopwords: Int = 2)
      : DataFrame = {
    val g = graft.functions.F.gopherStats(col(textCol))
    val nWords = g.getField("n_words")
    val sumLen = g.getField("sum_word_len")
    val nAlpha = g.getField("n_alpha_words")
    val nHash = g.getField("n_hash")
    val nEll = g.getField("n_ellipsis")
    val nStop = g.getField("n_stopwords")
    val pass = nWords >= minWords && nWords <= maxWords &&
      sumLen >= nWords * 3 && sumLen <= nWords * 10 &&
      nHash * 10 <= nWords && nEll * 10 <= nWords &&
      nAlpha * 5 >= nWords * 4 && nStop >= minStopwords
    // input columns pass through so the battery composes as a filter
    // stage (url-keyed crawl flows cap AFTER quality gating)
    df.select(df.columns.map(col) ++ Seq(
      nWords.as("n_words"), sumLen.as("sum_word_len"),
      nAlpha.as("n_alpha_words"), nHash.as("n_hash"),
      nEll.as("n_ellipsis"), nStop.as("n_stopwords"),
      pass.as("gopher_pass")): _*)
  }

  /** Gopher repetition-signal battery (Rae et al. 2021 Table A1, the
    * REPETITION half — [[gopherQuality]] is the quality half): exact
    * integer repetition counters per document from the one-pass native
    * [[graft.functions.RepStats]] kernel, plus a pass verdict derived
    * with INTEGER-ONLY comparisons at the paper's thresholds:
    *
    *   - duplicate line fraction ≤ 0.30       (10·dup ≤ 3·n)
    *   - duplicate paragraph fraction ≤ 0.30
    *   - duplicate line char fraction ≤ 0.20  (5·chars_dup ≤ total)
    *   - duplicate paragraph char fraction ≤ 0.20
    *   - top-2-gram char fraction ≤ 0.20
    *   - duplicate-5-gram char fraction ≤ 0.15 (20·dup5 ≤ 3·total)
    *
    * (the paper also lists top-3/4-gram and dup-6..10-gram variants —
    * same computation, different constants; the kernel's two signals
    * are the family endpoints). Unit semantics, tokenization, and the
    * coverage rule are pinned in the kernel scaladoc and mirrored by
    * the p64 oracle. A document with no text repetition passes; heavy
    * boilerplate (the docs [[scrubRepeatedLines]] and
    * [[Dedup.scrubBoilerplateLines]] would clean) fails — run the
    * scrubs first if the intent is salvage rather than filtering.
    * Map-only: one codegen'd kernel call per row, no shuffle — scan
    * speed at 100 TB like the rest of the signal passes. Input
    * columns pass through so it composes as a filter stage.
    *
    * NULL-text contract: the kernel is null-safe, so a NULL `textCol`
    * yields NULL for all nine counters AND `rep_pass` (three-valued
    * logic — the verdict is "unknown", not false; a `filter(rep_pass)`
    * drops such rows, matching the gating intent). Callers needing
    * integral counters on NULL text should coalesce to "" first —
    * [[curationReport]] does exactly that, so its sums never
    * NULL-poison. Same contract as [[gopherQuality]] (whose kernel is
    * null-safe too). */
  def repetitionSignals(df: DataFrame, textCol: String): DataFrame = {
    val r = graft.functions.F.repStats(col(textCol))
    val nl = r.getField("n_lines"); val dl = r.getField("n_dup_lines")
    val dlc = r.getField("chars_dup_lines")
    val np = r.getField("n_paras"); val dp = r.getField("n_dup_paras")
    val dpc = r.getField("chars_dup_paras")
    val tc = r.getField("total_chars")
    val t2 = r.getField("top2_chars"); val d5 = r.getField("dup5_chars")
    val pass = dl * 10 <= nl * 3 && dp * 10 <= np * 3 &&
      dlc * 5 <= tc && dpc * 5 <= tc && t2 * 5 <= tc &&
      d5 * 20 <= tc * 3
    df.select(df.columns.map(col) ++ Seq(
      nl.as("n_lines"), dl.as("n_dup_lines"),
      dlc.as("chars_dup_lines"), np.as("n_paras"),
      dp.as("n_dup_paras"), dpc.as("chars_dup_paras"),
      tc.as("total_chars"), t2.as("top2_chars"), d5.as("dup5_chars"),
      pass.as("rep_pass")): _*)
  }

  /** Corpus curation REPORT — the per-slice observability aggregate a
    * pipeline publishes after (or instead of) filtering: for each
    * group (source, language, crawl snapshot…), how many documents
    * pass the Gopher QUALITY battery ([[gopherQuality]]), how many
    * pass the REPETITION battery ([[repetitionSignals]]), how many
    * pass both, plus the exact integer volume counters that turn the
    * verdict counts into rates (total words, total chars) and the raw
    * repetition mass (total duplicate lines, total duplicated-5-gram
    * chars). "Did this crawl batch get spammier?" is a diff of two of
    * these reports — the same role [[Profiling.profile]] plays for
    * table shape and [[distributionShift]] for vocabulary mix.
    *
    * Shape: both batteries are map-only native-kernel projections over
    * the same scan (one stage, two kernel calls per row), then ONE
    * partial-aggregated group-by — at 100 TB this is a scan plus a
    * shuffle of #groups rows. All columns are exact integers, so the
    * whole report is oracle-gated, verdicts included.
    *
    * NULL text is coalesced to "" before the kernels (r13 ADVICE): the
    * batteries' null-safe kernels would otherwise yield NULL counters
    * and NULL verdicts, silently counting such docs as failing both
    * batteries while NULL-poisoning the volume sums. With the coalesce
    * a NULL-text doc is an EMPTY doc: fails quality (0 words), passes
    * repetition (nothing repeats), counts 0 into every volume column —
    * integral and honest. */
  def curationReport(df: DataFrame, groupCol: String, textCol: String,
                     minWords: Int = 50,
                     minStopwords: Int = 2): DataFrame = {
    val nn = df.withColumn(textCol, coalesce(col(textCol), lit("")))
    val scored = repetitionSignals(
      gopherQuality(nn, textCol, minWords = minWords,
        minStopwords = minStopwords), textCol)
    scored.groupBy(groupCol).agg(
      count(lit(1)).as("n_docs"),
      sum(when(col("gopher_pass"), 1L).otherwise(0L))
        .as("n_gopher_pass"),
      sum(when(col("rep_pass"), 1L).otherwise(0L)).as("n_rep_pass"),
      sum(when(col("gopher_pass") && col("rep_pass"), 1L)
        .otherwise(0L)).as("n_pass_both"),
      sum(col("n_words")).as("total_words"),
      sum(col("total_chars")).as("total_chars"),
      sum(col("n_dup_lines")).as("total_dup_lines"),
      sum(col("dup5_chars")).as("total_dup5_chars"))
  }

  /** Intra-document repeated-LINE scrub — the Rae et al. 2021 §A1.2 /
    * C4-style repetition cleanup: boilerplate (nav bars, cookie
    * banners, repeated headings) shows up as the same line occurring
    * many times inside one document; training corpora drop every
    * occurrence after the first. Keeps FIRST occurrences in order and
    * rejoins — `array_distinct` preserves first-occurrence order, so
    * the whole scrub is one map-only projection (no shuffle, no UDF;
    * at 100 TB this is scan speed like the other text passes).
    * `sep` defaults to newline; gate corpora without newlines derive
    * a line view first (the p56 gate word-lines its corpus).
    *
    * Empty-line semantics (deliberate, and a paragraph-boundary
    * caveat): `split` emits "" for consecutive separators, and the
    * empty string is a line like any other — so the FIRST blank line
    * survives and every later one is scrubbed, which collapses
    * paragraph boundaries after the first ("a\n\nb\n\nc" keeps only
    * the first gap: "a\n\nb\nc"). That matches treating the line as
    * the dedup unit literally; pipelines that must preserve paragraph
    * structure should scrub within paragraphs (split on "\n\n" first)
    * or filter blanks out of the line view before calling this. */
  def scrubRepeatedLines(df: DataFrame, textCol: String,
                         out: String = "scrubbed",
                         sep: String = "\n"): DataFrame =
    df.withColumn(out,
      concat_ws(sep, array_distinct(split(col(textCol),
        java.util.regex.Pattern.quote(sep)))))

  /** Canonical text normalization — the first pass of a crawl-ingest
    * pipeline, run BEFORE dedup/shingling so composed-vs-decomposed
    * Unicode (é vs e+◌́), stray control characters and ragged whitespace
    * can't split what is semantically the same document:
    *   1. Unicode NFC (native codegen'd [[graft.functions.NfcNormalize]];
    *      all-ASCII rows short-circuit without a copy),
    *   2. strip C0 control characters (except \t \n \r) and DEL —
    *      C1 controls (U+0080-U+009F) are deliberately LEFT ALONE:
    *      they are valid (if odd) codepoints in crawl text, and the
    *      byte-range character class that would catch them is
    *      encoding-treacherous across engines (a UTF-8 RE2 reads
    *      \x80-\x9F as bytes, not codepoints),
    *   3. collapse whitespace runs to one space, trim.
    * Map-only, no shuffle; every step is SQL-replicable (DuckDB
    * `nfc_normalize` + the same RE2 character classes).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(graft.functions.F.nfcNormalize(text),
        "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", ""),
      "\\s+", " "))

  /** HTML/markup stripping — the text-extraction pass of a web-crawl
    * pipeline (the step before [[normalizeText]]): drop script/style
    * payloads and comments, replace tags with spaces (tags separate
    * words), decode the common character entities (non-`&amp;` entities
    * first so double-escapes like `&amp;lt;` decode one level, exactly
    * once), collapse whitespace. Pure regex/replace pipeline — map-only,
    * codegen'd, and replicable in any RE2-compatible SQL engine; it is
    * deliberately a heuristic extractor (no DOM), the standard trade for
    * corpus-scale throughput.
    */
  def stripMarkup(html: Column): Column = {
    val noScript = regexp_replace(html,
      "(?is)<(script|style)[^>]*>.*?</(script|style)>", " ")
    val noComment = regexp_replace(noScript, "(?s)<!--.*?-->", " ")
    val noTags = regexp_replace(noComment, "<[^>]+>", " ")
    val entities = Seq("&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")
    val decoded = entities.foldLeft(noTags) { case (c, (e, v)) =>
      replace(c, lit(e), lit(v))
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"
    * §4; the same head/middle/tail selection LLaMA's pipeline used):
    * within each group (CCNet buckets PER LANGUAGE), rank documents by
    * a quality key ascending (for LM perplexity: lowest ppl = most
    * fluent = head) and assign equal-width rank buckets —
    * `bucket = ((rank−1)·k) div n` — so bucket 0 is the best 1/k of the
    * group, bucket k−1 the worst. With `quota = Some(q)`, at most the
    * q best-ranked documents of each (group, bucket) survive — the
    * bucket-quota sampling CCNet uses to hit a target corpus mix
    * without taking only the head (pure-head selection over-selects
    * Wikipedia-like text; quota'd middle/tail keep diversity).
    *
    * The ranking key is a caller-supplied column, NOT hardwired to
    * [[ngramLmScore]]'s float `ppl`: production callers pass `ppl`,
    * while correctness gates pass an exact integer/decimal surrogate
    * (e.g. a negated scaled fluency ratio `−(sum_c12·10⁶ div
    * n_bigrams)` from the LM's integer sufficient statistics), because
    * float perplexity — a sum of transcendental logs — is not
    * bit-stable across engines and must never hash in a gate (the p45
    * decimal playbook). Ties break on `idCol`, so the assignment is
    * total and deterministic for any key.
    *
    * Output: input columns + `rank_in_group` (1-based, key then id
    * ascending), `n_in_group`, `bucket` (0..k−1), `bucket_name`
    * ("head"/"middle"/"tail" when k = 3, else "b<i>"), `bucket_rank`
    * (1-based within the bucket, = rank_in_group − ⌈bucket·n/k⌉ —
    * integer arithmetic only, no float ever touches an assignment).
    *
    * Scale shape and the exact-vs-approx quantile trade: EXACT rank
    * bucketing is one shuffle on the group key plus a per-group sort
    * (two window functions over the same partition order — Catalyst
    * plans them in ONE Window exchange+sort). That is the standard
    * CCNet shape, because groups are languages: even at 100 TB the
    * biggest single language is a few tens of TB and the sort
    * distributes over its partitions. It degrades when one group must
    * be totally ordered inside single-reducer partitions — for a
    * grouping column with billion-row groups (or `groupCols = Nil`,
    * which is ONE global group), swap to [[perplexityBucketsApprox]]:
    * `approx_percentile` boundary estimation (one partial-aggregated
    * pass, no sort) + a broadcast join + a map-side comparison. The
    * cost is boundary wobble: approx_percentile guarantees rank error
    * ≤ ε·n, so up to ε·n documents near each cut land one bucket off —
    * fine for corpus selection, wrong for an exact-rank gate; quantile
    * SKEW makes it worse (a heavy spike exactly at the cut value puts
    * the whole spike on one side, where exact ranking splits it by
    * tie-break). This is why the oracle gate pins THIS method and the
    * approx variant is spec-tested against it instead.
    */
  def perplexityBuckets(df: DataFrame, idCol: String, keyCol: String,
                        groupCols: Seq[String] = Nil, k: Int = 3,
                        quota: Option[Long] = None): DataFrame = {
    require(k >= 1, s"perplexityBuckets: k=$k buckets must be >= 1")
    quota.foreach(q => require(q >= 1,
      s"perplexityBuckets: quota=$q must be >= 1"))
    val added = Seq("rank_in_group", "n_in_group", "bucket",
      "bucket_name", "bucket_rank")
    added.foreach(c => require(!df.columns.contains(c),
      s"perplexityBuckets: input already carries output column '$c'"))
    import org.apache.spark.sql.expressions.Window
    val part = Window.partitionBy(groupCols.map(col): _*)
    val w = part.orderBy(col(keyCol).asc, col(idCol).asc)
    val ranked = df
      .withColumn("rank_in_group", row_number().over(w).cast("long"))
      .withColumn("n_in_group", count(lit(1)).over(part))
      // integer div (not floor of a float quotient): exact at any n
      .withColumn("bucket",
        expr(s"((rank_in_group - 1) * $k) DIV n_in_group"))
      .withColumn("bucket_name",
        if (k == 3) when(col("bucket") === 0, "head")
          .when(col("bucket") === 1, "middle").otherwise("tail")
        else concat(lit("b"), col("bucket")))
      // first rank of bucket b is ceil(b*n/k)+1, so the within-bucket
      // rank is rank − ceil(b*n/k) — still pure integer arithmetic
      .withColumn("bucket_rank",
        expr(s"rank_in_group - ((bucket * n_in_group + ${k - 1}) DIV $k)"))
    quota.fold(ranked)(q => ranked.filter(col("bucket_rank") <= q))
  }

  /** Approximate-boundary variant of [[perplexityBuckets]] for groups
    * too large to totally order (see the scale note there): estimates
    * the k−1 bucket cut values per group with `approx_percentile`
    * (rank error ≤ ε·n, one partial-aggregated pass, NO sort), then
    * assigns `bucket` by comparing each row's key against its group's
    * broadcast boundaries — map-only after the tiny boundary
    * aggregate. No ranks exist on this path, so there is no
    * `rank_in_group`/`bucket_rank` and no quota (quota needs a rank);
    * output is input columns + `bucket` + `bucket_name`. Rows within
    * ε·n ranks of a cut may land one bucket off vs the exact variant,
    * and a value-spike at a cut lands entirely on one side (exact
    * ranking splits it by id tie-break) — spec-tested against the
    * exact variant, never oracle-gated. */
  def perplexityBucketsApprox(df: DataFrame, idCol: String,
                              keyCol: String,
                              groupCols: Seq[String] = Nil, k: Int = 3,
                              accuracy: Int = 10000): DataFrame = {
    require(k >= 1, s"perplexityBucketsApprox: k=$k must be >= 1")
    Seq("bucket", "bucket_name", "__cuts").foreach(c =>
      require(!df.columns.contains(c),
        s"perplexityBucketsApprox: input already carries column '$c'"))
    val probs = array((1 until k).map(i => lit(i.toDouble / k)): _*)
    val cuts = (if (groupCols.isEmpty) df.groupBy()
                else df.groupBy(groupCols.map(col): _*))
      .agg(approx_percentile(col(keyCol), probs, lit(accuracy))
        .as("__cuts"))
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(cuts))
      else df.join(broadcast(cuts), groupCols)
    joined
      .withColumn("bucket",
        // number of cuts strictly below the key = bucket index
        size(filter(col("__cuts"), c => c < col(keyCol))).cast("long"))
      .withColumn("bucket_name",
        if (k == 3) when(col("bucket") === 0, "head")
          .when(col("bucket") === 1, "middle").otherwise("tail")
        else concat(lit("b"), col("bucket")))
      .drop("__cuts")
  }

  def fingerprintMd5(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")).cast("binary"))
}
