package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Context-window chunking and duplicated-span detection for training
  * corpora.
  *
  * Both operators are single-shuffle-or-less DataFrame programs:
  * [[chunk]] is a pure map-side pass (codegen'd array functions, no
  * UDFs, no shuffle), [[duplicatedSpans]] shuffles once on a compact
  * 64-bit gram hash with a bucket cap bounding the pair blow-up — the
  * same LSH-bucket discipline as [[Dedup.minhashPairs]].
  */
object Chunking {

  /** Split each document into fixed token windows: `window` tokens per
    * chunk, starting every `stride` tokens (stride < window gives
    * overlapping chunks; stride == window tiles the document). Tokens
    * are single-space splits; the trailing chunk may be short; an empty
    * document yields one empty chunk (chunk_id 0), so every input row
    * survives — droppable downstream by `n_tokens`.
    *
    * Output: (id, chunk_id, chunk_text, n_tokens), id renamed from
    * `idCol`. Map-only: at 100 TB this pipelines with the scan and
    * never shuffles; chunk explosion multiplies rows ~len/stride so
    * downstream stages see bounded-size text cells.
    */
  def chunk(df: DataFrame, idCol: String, textCol: String,
            window: Int, stride: Int): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    val ws = split(col(textCol), " ")
    val nChunks = greatest(
      ceil(size(ws).cast("double") / stride).cast("long"), lit(1L))
    df.select(col(idCol).as("id"), ws.as("__ws"), nChunks.as("__nc"))
      .select(col("id"), col("__ws"),
        posexplode(sequence(lit(0L), col("__nc") - 1L)))
      .select(col("id"), col("col").as("chunk_id"),
        slice(col("__ws"), (col("col") * stride + 1L).cast("int"),
          lit(window)).as("__cw"))
      .select(col("id"), col("chunk_id"),
        array_join(col("__cw"), " ").as("chunk_text"),
        size(col("__cw")).cast("long").as("n_tokens"))
  }

  /** Document pairs sharing at least one verbatim `k`-token span, with
    * the count of distinct shared k-grams — the bucket-join
    * approximation of suffix-array substring dedup (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": exact
    * duplicated substrings; here spans are quantized to token k-grams
    * so detection runs as one hash shuffle instead of a global suffix
    * sort).
    *
    * Gram hashing is [[Dedup.shingleHashRows]] (native codegen kernel,
    * oracle-reproducible MD5-derived hash). Grams appearing in more
    * than `maxDocs` documents are dropped as boilerplate/stop-spans —
    * the cap that keeps a viral span from exploding quadratically, per
    * the LSH-bucket discipline. Collision-approximate in the same sense
    * as [[Dedup.ngramJaccardPairs]] (64-bit gram hashes).
    *
    * Output: (id1, id2, n_shared) with id1 < id2.
    */
  /** Boilerplate span REMOVAL (the scrub to [[duplicatedSpans]]'s
    * detection): delete from every document each token covered by a
    * verbatim k-token span occurring in at least `minDocs` distinct
    * documents — the "remove duplicated lines/paragraphs across the
    * corpus" pass of web-corpus pipelines (C4's repeated-line rule,
    * RefinedWeb line-wise dedup), quantized to token k-grams.
    *
    * Output: (id, clean_text, n_tokens_dropped). clean_text keeps the
    * original-case tokens re-joined with single spaces (hashing
    * lowercases, the output does not).
    *
    * Scale: positional gram hashing is a codegen kernel at scan speed;
    * the viral-gram set (grams in >= minDocs docs) is produced by one
    * hash-shuffle count and is small by construction (boilerplate), so
    * its join back to positions broadcasts; covered starts aggregate
    * per doc (second shuffle) and the scrub is a final map-side merge
    * pass. No stage ever holds more than (positions of one partition)
    * in memory. */
  def scrubDuplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                           k: Int, minDocs: Int = 10): DataFrame = {
    val F = graft.functions.F
    val pos = df.select(col(idCol).as("id"),
        F.shinglePosHashes(col(textCol), k).as("hs"))
      .select(col("id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val viral = pos.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= minDocs).select("h")
    val covered = pos.join(broadcast(viral), "h")
      .groupBy("id")
      .agg(sort_array(collect_list(col("pos").cast("long"))).as("starts"))
    def tokCount(c: org.apache.spark.sql.Column) =
      when(length(trim(c)) === 0, 0)
        .otherwise(size(split(trim(c), "\\s+"))).cast("long")
    df.select(col(idCol).as("id"), col(textCol).as("__t"))
      .join(covered, Seq("id"), "left_outer")
      .select(col("id"),
        F.scrubSpans(col("__t"),
          coalesce(col("starts"), lit(Array.empty[Long])), k)
          .as("clean_text"),
        col("__t"))
      .select(col("id"), col("clean_text"),
        (tokCount(col("__t")) - tokCount(col("clean_text")))
          .as("n_tokens_dropped"))
  }

  def duplicatedSpans(df: DataFrame, idCol: String, textCol: String,
                      k: Int, maxDocs: Int = 50): DataFrame = {
    val grams = Dedup.shingleHashRows(df, idCol, textCol, k)
      .select(col("id"), col("h"))
    val buckets = grams.groupBy("h")
      .agg(collect_list("id").as("ids"))
      .filter(size(col("ids")).between(2, maxDocs))
    buckets
      .select(explode(col("ids")).as("id1"), col("ids"))
      .select(col("id1"), explode(col("ids")).as("id2"))
      .filter(col("id1") < col("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("n_shared"))
  }
}
