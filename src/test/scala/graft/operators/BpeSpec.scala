package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class BpeSpec extends SparkTestBase {
  import spark.implicits._

  test("trainFromCounts merges the most frequent pair first, ties lexicographic") {
    // classic Sennrich toy corpus
    val counts = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val merges = Bpe.trainFromCounts(counts, 4)
    // pair frequencies: (e,s)=9, (s,t)=9, (t,</w>)=9 ... tie broken by
    // lexicographically smallest pair: ("e","s")
    assert(merges.head == ("e", "s"))
    assert(merges(1) == ("es", "t"))
    assert(merges(2) == ("est", Bpe.EndOfWord))
    // next: (l,o)=7 beats the rest
    assert(merges(3) == ("l", "o"))
  }

  test("segmentWord applies lowest-rank merges; unseen words fall to chars") {
    val counts = Seq(("low", 5L), ("lower", 2L), ("newest", 6L),
      ("widest", 3L))
    val rank = Bpe.trainFromCounts(counts, 8).zipWithIndex.toMap
    val seg = Bpe.segmentWord("lowest", rank)
    // "est</w>" exists as a trained piece; "lo" from merge 4
    assert(seg.last == "est" + Bpe.EndOfWord)
    assert(seg.head == "lo" || seg.head == "low")
    val unseen = Bpe.segmentWord("xyz", rank)
    assert(unseen == List("x", "y", "z", Bpe.EndOfWord))
  }

  test("encode is deterministic, memoized, and counts match segmentation") {
    val df = Seq((1L, "new newest lowest"), (2L, "low low low"),
      (3L, "")).toDF("doc_id", "text")
    val merges = Bpe.trainFromCounts(
      Seq(("low", 5L), ("newest", 6L)), 6)
    val out = Bpe.encode(df, "doc_id", "text", merges)
      .orderBy("id").collect()
    val rank = merges.zipWithIndex.toMap
    val expected1 =
      (Bpe.segmentWord("new", rank) ++ Bpe.segmentWord("newest", rank) ++
        Bpe.segmentWord("lowest", rank))
    assert(out(0).getSeq[String](1) == expected1)
    assert(out(0).getLong(2) == expected1.length.toLong)
    // "low" fully merged into one piece after enough merges
    assert(out(1).getSeq[String](1) ==
      Seq.fill(3)(Bpe.segmentWord("low", rank)).flatten)
    assert(out(2).getLong(2) == 0L) // empty doc -> no tokens

    val again = Bpe.encode(df, "doc_id", "text", merges)
      .orderBy("id").collect()
    assert(out.map(_.getLong(2)).toSeq == again.map(_.getLong(2)).toSeq)
  }

  test("train end-to-end on a DataFrame corpus bounds the vocab") {
    val df = (1 to 50).map(i => (i.toLong,
      "spark spark spark engine engine data")).toDF("doc_id", "text")
    val merges = Bpe.train(df, "text", numMerges = 10, maxWords = 2)
    // maxWords=2 keeps only the two most frequent words (engine, spark
    // after count: spark 150, engine 100) — merges reflect those only
    assert(merges.nonEmpty)
    val rank = merges.zipWithIndex.toMap
    assert(Bpe.segmentWord("spark", rank).length == 1) // fully merged
  }

  test("flagBloom never misses a contamination the exact flag finds") {
    val span = (1 to 10).map(i => s"tok$i").mkString(" ")
    val train = Seq(
      (1L, s"alpha $span omega"), (2L, "clean text with no overlap at all"),
      (3L, s"$span tail words here")).toDF("doc_id", "text")
    val eval = Seq((100L, s"prefix $span suffix")).toDF("doc_id", "text")
    val exact = Decontaminate.flag(train, eval, "doc_id", "text", k = 5)
      .filter(col("contaminated")).select("id").as[Long].collect().toSet
    // two-phase bloom (scan + semi-join confirmation): EXACT, not just
    // false-negative-free
    val bloom = Decontaminate.flagBloom(train, eval, "doc_id", "text",
        k = 5, fpp = 0.001)
      .filter(col("contaminated")).select("id").as[Long].collect().toSet
    assert(bloom == exact)
    assert(exact == Set(1L, 3L))
  }
}
