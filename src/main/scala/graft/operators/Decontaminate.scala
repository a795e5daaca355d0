package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Benchmark decontamination for training-data pipelines: flag every
  * training document that shares at least one k-word-gram with a held-out
  * evaluation set (the standard n-gram-overlap decontamination rule used
  * for LLM pretraining corpora).
  *
  * Scale shape (the 100 TB path): the evaluation side is tiny relative to
  * the corpus (benchmark suites are at most millions of n-grams), so its
  * distinct gram-hash set is BROADCAST and the corpus side is a map-only
  * hash-join probe — the 100 TB train side is never shuffled; the only
  * shuffle is the per-document hit-count aggregation, which is partial
  * (map-side combined) on the already-exploded rows.
  *
  * Gram hashing is the native [[graft.functions.ShingleHashes]] codegen
  * kernel (one pass per document, distinct 64-bit hashes); a hash
  * collision across engines is the only approximation (~2^-64 per pair).
  */
object Decontaminate {

  /** Per-training-document contamination report: `(id, n_hits,
    * contaminated)` where `n_hits` counts the document's DISTINCT k-grams
    * that appear anywhere in `eval`, and `contaminated = n_hits > 0`.
    * Documents with fewer than k words have no grams and report 0.
    */
  def flag(train: DataFrame, eval: DataFrame, idCol: String,
           textCol: String, k: Int = 8): DataFrame = {
    val evalGrams = Dedup
      .shingleHashRows(eval, idCol, textCol, k)
      .select("h").distinct()
    val hits = Dedup.shingleHashRows(train, idCol, textCol, k)
      .join(broadcast(evalGrams), "h")
      // shingleHashRows emits each (id, h) once, so a plain count IS the
      // distinct-gram hit count — no count_distinct shuffle needed
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    train.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** FUZZY (near-duplicate) decontamination — the paraphrase-leakage
    * companion to the exact-gram [[flag]]: a training document is
    * flagged when its MinHash-estimated Jaccard with ANY eval document
    * reaches `threshold`, under the same banded-LSH candidate rule as
    * [[Dedup.minhashPairs]] (collide in ≥ `minBands` independent
    * bands, then signature-verify). Exact-gram decontamination stops
    * matching the moment a benchmark answer is lightly reworded; this
    * catches the near-verbatim tail.
    *
    * Scale shape: the eval side is tiny (benchmark suites), so its
    * banded keys AND signatures broadcast — the corpus side is a
    * map-only probe, never shuffled; the only shuffle is the per-doc
    * candidate dedup, already partial-aggregated. Output per training
    * doc: `(id, n_near_eval, contaminated)` with `n_near_eval` the
    * count of DISTINCT eval documents estimated ≥ threshold.
    *
    * `threshold` compares an ESTIMATE, not true Jaccard: the matching
    * fraction of an h-permutation signature is a Binomial(h, J)/h
    * estimator with standard deviation √(J(1−J)/h) — at the default
    * h = 32 that is ±~0.09 near J = 0.5 (and the banded candidate rule
    * adds its own miss probability below ~2 bands' worth of
    * similarity). So a pair whose true Jaccard sits within ~0.1 of
    * `threshold` can land on either side run-structure-independently
    * (the hash seeds are fixed, so any GIVEN pair is deterministic —
    * but which side it lands on is effectively arbitrary). Choose
    * thresholds with that margin in mind (the unit spec uses 0.25
    * against a true J ≈ 0.47), and raise h if the decision boundary
    * must be sharp — σ halves per 4× permutations. */
  def nearDupFlag(train: DataFrame, eval: DataFrame, idCol: String,
                  textCol: String, k: Int = 3, h: Int = 32,
                  bands: Int = 16, threshold: Double = 0.35,
                  minBands: Int = 2): DataFrame = {
    require(bands > 0 && h % bands == 0,
      s"nearDupFlag: bands=$bands must be positive and divide h=$h " +
        "(a non-divisor silently drops trailing signature positions " +
        "from banding; bands > h makes every band slice empty)")
    val rows = h / bands
    val sigT = Dedup.minhashSignatures(train, idCol, textCol, k, h)
    val sigE = Dedup.minhashSignatures(eval, idCol, textCol, k, h)
    def banded(sig: DataFrame): DataFrame =
      sig.select(col("id"),
        posexplode(Dedup.bandBucketArray(col("sig"), bands, rows)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
    val cand = banded(sigT).as("t")
      .join(broadcast(banded(sigE).as("e")),
        col("t.band") === col("e.band") &&
          col("t.bucket") === col("e.bucket"))
      .select(col("t.id").as("tid"), col("e.id").as("eid"))
      .groupBy("tid", "eid").agg(count(lit(1)).as("nb"))
      .filter(col("nb") >= minBands)
      .select("tid", "eid")
    val near = cand
      .join(broadcast(sigE.select(col("id").as("eid"),
        col("sig").as("esig"))), "eid")
      .join(sigT.select(col("id").as("tid"), col("sig").as("tsig")),
        "tid")
      .filter(size(filter(zip_with(col("tsig"), col("esig"), _ === _),
        x => x)).cast("double") / h >= threshold)
      .groupBy("tid").agg(count(lit(1)).as("n_near_eval"))
    train.select(col(idCol).as("id"))
      .join(near.withColumnRenamed("tid", "id"), Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_near_eval"), lit(0L)).as("n_near_eval"),
        (coalesce(col("n_near_eval"), lit(0L)) > 0).as("contaminated"))
  }

  /** Per-document contamination FRACTION — the reporting companion to the
    * boolean [[flag]]: `(id, n_grams, n_hits, overlap_frac)` where
    * `overlap_frac = n_hits / n_grams` (0 for gram-less short documents).
    * Pipelines threshold on the fraction ("drop if >X% of the document's
    * k-grams appear in any benchmark") instead of one-gram-kills-the-doc,
    * and audits report the distribution. Same scale shape as [[flag]]:
    * broadcast eval gram set, map-only probe of the corpus, one partial
    * (map-side combined) aggregation shuffle.
    */
  def overlapFraction(train: DataFrame, eval: DataFrame, idCol: String,
                      textCol: String, k: Int = 8): DataFrame = {
    val evalGrams = Dedup
      .shingleHashRows(eval, idCol, textCol, k)
      .select("h").distinct().withColumn("__hit", lit(1))
    val stats = Dedup.shingleHashRows(train, idCol, textCol, k)
      .join(broadcast(evalGrams), Seq("h"), "left_outer")
      .groupBy("id").agg(count(lit(1)).as("n_grams"),
        count(col("__hit")).as("n_hits"))
    train.select(col(idCol).as("id"))
      .join(stats, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        when(coalesce(col("n_grams"), lit(0L)) === 0, lit(0.0))
          .otherwise(coalesce(col("n_hits"), lit(0L)).cast("double") /
            col("n_grams")).as("overlap_frac"))
  }

  /** Bloom-filter variant for when even the eval gram set is too big to
    * broadcast as an exact hash set (cross-suite decontamination against
    * every benchmark at once): the eval grams collapse into a fixed-size
    * bit array (`fpp` false-positive rate), so executor memory is
    * constant regardless of eval size. One-sided error in the SCAN -- a
    * gram the bloom rejects is DEFINITELY not in eval -- and the few
    * bloom-surviving grams are then exact-checked with a semi-join
    * against the true gram set, so the RESULT is exact: two-phase,
    * constant executor memory. The bloom prunes the train gram stream
    * to roughly true-hits + fpp BEFORE anything shuffles; the
    * confirmation join then moves the full eval gram set once but only
    * the tiny candidate stream on the train side -- never a broadcast
    * of the eval grams, which is the whole premise of this variant.
    */
  def flagBloom(train: DataFrame, eval: DataFrame, idCol: String,
                textCol: String, k: Int = 8,
                fpp: Double = 0.001): DataFrame = {
    val (evalGrams, bc) = evalBloom(eval, idCol, textCol, k, fpp)
    val might = udf((h: Long) => bc.value.mightContainLong(h))
    val hits = Dedup
      .shingleHashRows(train, idCol, textCol, k)
      .filter(might(col("h")))
      .join(evalGrams, Seq("h"), "left_semi")
      .groupBy("id").agg(count(lit(1)).as("n_hits"))
    train.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left_outer")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** The eval side of [[flagBloom]]'s bloom scan: the distinct
    * eval k-gram hashes (column `h`) and a broadcast bloom filter over
    * them at false-positive rate `fpp`. */
  private[graft] def evalBloom(eval: DataFrame, idCol: String,
                               textCol: String, k: Int, fpp: Double)
      : (DataFrame, Broadcast[BloomFilter]) = {
    // pinned: the gram set feeds multiple actions (size for bloom
    // sizing, the bloom build, and flagBloom's confirmation join). Lazy
    // localCheckpoint, NOT cache(): cache registers in the shared
    // cache manager and repeated calls accumulate entries nobody
    // releases; checkpoint blocks are freed by the ContextCleaner as
    // soon as the result (and with it this RDD) becomes unreachable.
    val evalGrams = Dedup
      .shingleHashRows(eval, idCol, textCol, k)
      .select("h").distinct().localCheckpoint(eager = false)
    val n = math.max(evalGrams.count(), 1L)
    val bloom = evalGrams.stat.bloomFilter("h", n, fpp)
    (evalGrams, eval.sparkSession.sparkContext.broadcast(bloom))
  }
}
