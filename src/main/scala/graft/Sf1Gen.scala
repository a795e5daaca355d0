package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only generator for the sf1 scale-rehearsal dataset (10× the
  * largest driver-shipped scale): every sf0.1 fact table replicated
  * `copies` times with per-copy key offsets (+i·10⁸ on every key column)
  * so referential joins stay consistent; dimension tables (region,
  * nation) copy once. Documents get a per-copy suffix token and
  * embeddings a small per-copy jitter, so the corpus models a realistic
  * duplicate-heavy crawl (copy-count-way near-dup clusters) rather than
  * exact clones. See SCALE_REHEARSAL.md for the findings.
  *
  * Usage: `sbt "runMain graft.Sf1Gen [/tmp/sf1 [copies [tables [way]]]]"`
  * — `tables` is an optional comma list (e.g. `documents,embeddings`) to
  * generate only the corpus a family rehearsal needs (the sf10 dedup
  * rehearsal skips the 60M-row lineitem it never reads).
  *
  * `way` (default = `copies`) caps the near-duplicate CLUSTER SIZE for
  * documents/embeddings: copies are grouped `way` at a time, near-dups
  * within a group, and each group beyond the first becomes a fully
  * re-vocabularied clone of the base corpus (every token prefixed with
  * a group marker; embeddings shifted by a large per-group component
  * delta), so groups share ZERO n-gram/cosine similarity. This
  * separates the SCALE axis from the DUPLICATION axis: a 100-copy run
  * with way=10 is a 10x-larger distinct corpus at the same 10-way
  * duplication rate the sf1 rehearsal measured — not a 100-way
  * duplicate bomb whose quadratic answer set (C(100,2) pairs per
  * cluster, observed >74 GB of candidate-join shuffle) measures output
  * volume rather than engine scaling. */
object Sf1Gen {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/sf1")
    val copies = args.lift(1).map(_.toInt).getOrElse(10)
    val only: Option[Set[String]] =
      args.lift(2).map(_.split(",").map(_.trim).toSet)
    val way = args.lift(3).map(_.toInt).getOrElse(copies)
    def wanted(t: String): Boolean = only.forall(_.contains(t))
    val src = "/root/testdata/sf0.1"
    val spark = Session("32")

    val off = 100000000L
    def rep(t: String, keys: Seq[String],
            tweak: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      if (!wanted(t)) return
      val base = core.Tables.t(spark, src, t)
      val all = (0 until copies).map { i =>
        val shifted = keys.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * off)))
        tweak(shifted, i)
      }.reduce(_ unionByName _)
      all.repartition(32).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"[sf1gen] $t x$copies -> $out/$t.parquet")
    }
    def copy(t: String): Unit = {
      if (!wanted(t)) return
      core.Tables.t(spark, src, t).write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
      println(s"[sf1gen] $t (dim, 1 copy)")
    }

    copy("region"); copy("nation")
    rep("customer", Seq("c_custkey"))
    rep("supplier", Seq("s_suppkey"))
    rep("part", Seq("p_partkey"))
    rep("orders", Seq("o_orderkey", "o_custkey"))
    rep("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    rep("events", Seq("event_id", "user_id"))
    // near-dup clusters, not exact clones: copy i appends a distinct
    // suffix token (changes a handful of trailing shingles). Beyond the
    // first `way` copies, the whole vocabulary is re-marked per group so
    // cross-group Jaccard is ~0 (see scaladoc on `way`).
    rep("documents", Seq("doc_id"), (d, i) => {
      val g = i / way
      val base =
        if (g == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"zz${g}q$$1")
      if (i == 0) d
      else d.withColumn("text", concat(base, lit(s" copytoken$i")))
    })
    // embedding jitter: deterministic tiny per-copy offset on one
    // component keeps cosines ~1 within a cluster without exact
    // equality; groups beyond the first get a LARGE per-group component
    // shift (8x the unit norm) so cross-group cosine collapses to ~1/65
    rep("embeddings", Seq("vec_id"), (d, i) => {
      val g = i / way
      if (i == 0) d
      else d.withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          (x + when(j === (i % 8), lit(0.001f * (i + 1))).otherwise(lit(0f))
             + when(lit(g) > 0 && j === ((g * 7) % 64), lit(8f))
               .otherwise(lit(0f)))
            .cast("float")))
    })
    spark.stop()
  }
}
