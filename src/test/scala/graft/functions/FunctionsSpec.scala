package graft.functions

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** Parity specs: the native codegen kernels must be value-identical to the
  * pure-DataFrame HOF formulations they replaced (the formulations the
  * DuckDB oracles were validated against).
  */
class FunctionsSpec extends SparkTestBase {
  import spark.implicits._

  private val texts = Seq(
    "the quick brown fox jumps over the lazy dog",
    "  leading and trailing   whitespace\tand\ttabs\nnewlines  ",
    "UPPER Case MiXeD with Ünïcödé wörds ÉÀÇ",
    "中文 空格 分词 测试 one two three",
    "two words",
    "one",
    "",
    "repeat repeat repeat repeat repeat",
    "a b a b a b a b" // repeated shingles -> distinct matters
  ).zipWithIndex.map { case (t, i) => (i.toLong, t) }

  private def hofWords(c: org.apache.spark.sql.Column) =
    filter(split(lower(c), "\\s+"), w => length(w) > 0)

  /** The text hash computed by Spark SQL's own md5 — the DuckDB oracle
    * form `('0x' || substr(md5(s), 1, 16))::UBIGINT`, independent of the
    * kernel under test. */
  private def sqlMd5(s: org.apache.spark.sql.Column) =
    conv(substring(md5(s), 1, 16), 16, -10).cast("long")

  test("WordsArray matches the HOF tokenizer (filter(split(lower)))") {
    val df = texts.toDF("id", "text")
    val expected = df.select(col("id"), hofWords(col("text")).as("ws"))
      .as[(Long, Seq[String])].collect().toMap
    val actual = df.select(col("id"), F.wordsArray(col("text")).as("ws"))
      .as[(Long, Seq[String])].collect().toMap
    assert(actual == expected)
    // null in, null out — exactly like split(null)
    val edge = Seq((0L, Some("solo two")), (1L, None), (2L, Some("")))
      .toDF("id", "text")
    val eExp = edge.select(col("id"), hofWords(col("text")).as("ws"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    val eAct = edge.select(col("id"), F.wordsArray(col("text")).as("ws"))
      .as[(Long, Option[Seq[String]])].collect().toMap
    assert(eAct == eExp)
  }

  test("NgramStrings matches the HOF transform/slice/concat_ws chain") {
    val df = texts.toDF("id", "text")
    for (n <- Seq(1, 2, 3, 5)) {
      val ws = hofWords(col("text"))
      val hofGrams = when(size(ws) >= n,
        transform(sequence(lit(1), size(ws) - lit(n - 1)),
          i => concat_ws(" ", slice(ws, i, lit(n)))))
        .otherwise(array().cast("array<string>"))
      val expected = df.select(col("id"), hofGrams.as("g"))
        .as[(Long, Seq[String])].collect().toMap
      val actual = df.select(col("id"),
          F.ngramStrings(col("text"), n).as("g"))
        .as[(Long, Seq[String])].collect().toMap
      assert(actual == expected, s"n=$n")
    }
    // null text: kernel is null-in/null-out, the HOF produced [] — both
    // explode to zero rows, which is the only way topNgrams consumes it
    val edge = Seq((0L, None: Option[String])).toDF("id", "text")
    assert(edge.select(explode(F.ngramStrings(col("text"), 3))).count() == 0)
  }

  test("WinnowFps matches the HOF window-min/distinct/sort chain") {
    val withLong = texts ++ Seq(
      (200L, ("lorem ipsum dolor sit amet " * 20).trim),
      (201L, ("spam spam spam spam spam spam spam spam " * 4).trim))
    val df = withLong.toDF("id", "text")
    for (k <- Seq(1, 3, 5); w <- Seq(1, 4, 8)) {
      val hs = transform(F.shinglePosHashes(col("text"), k),
        h => h.bitwiseAND(lit(Long.MaxValue)))
      val hofFps = when(size(hs) === 0, array().cast("array<bigint>"))
        .when(size(hs) < w, array(array_min(hs)))
        .otherwise(array_sort(array_distinct(
          transform(sequence(lit(0), size(hs) - w),
            i => array_min(slice(hs, i + lit(1), lit(w)))))))
      val expected = df.select(col("id"), hofFps.as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      val actual = df.select(col("id"),
          F.winnowFps(col("text"), k, w).as("fps"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(actual == expected, s"k=$k w=$w")
    }
    // null in, null out (the HOF chain also nulls through)
    val edge = Seq((0L, None: Option[String])).toDF("id", "text")
    val n = edge.select(F.winnowFps(col("text"), 3, 4).as("fps"))
      .collect()(0)
    assert(n.isNullAt(0))
  }

  test("EnStopHits matches the HOF stopword-occurrence filter") {
    val withStops = texts ++ Seq(
      (300L, "the cat and the dog and the bird"),
      (301L, "THE The the tHe"))
    val df = withStops.toDF("id", "text")
    val enStops = array(
      TextHash.langProfiles("en").map(lit): _*)
    val expected = df.select(col("id"),
        size(filter(hofWords(col("text")),
          w => array_contains(enStops, w))).cast("long").as("n"))
      .as[(Long, Long)].collect().toMap
    val actual = df.select(col("id"), F.enStopHits(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(actual == expected)
    val edge = Seq((0L, None: Option[String])).toDF("id", "text")
    assert(edge.select(F.enStopHits(col("text"))).collect()(0).isNullAt(0))
  }

  test("CharClassStats matches the regexp_replace counters") {
    val withPunct = texts ++ Seq(
      (400L, "Hello, World! 123 #tag... (a+b)=c? [x]{y}|z~`^_@"),
      (401L, "ÜMLAUT Ünïcödé — em-dash… ellipsis char ß123"),
      (402L, "ALLCAPS 999 !!!"))
    val df = withPunct.toDF("id", "text")
    val t = col("text")
    val expected = df.select(col("id"),
        (length(t) - length(regexp_replace(t, "[\\p{Punct}]", "")))
          .cast("long").as("p"),
        (length(t) - length(regexp_replace(t, "[0-9]", "")))
          .cast("long").as("d"),
        (length(t) - length(regexp_replace(t, "[A-Z]", "")))
          .cast("long").as("u"))
      .as[(Long, Long, Long, Long)].collect().toMap2
    val actual = df.select(col("id"),
        F.charClassStats(t).getField("n_punct").as("p"),
        F.charClassStats(t).getField("n_digit").as("d"),
        F.charClassStats(t).getField("n_upper").as("u"))
      .as[(Long, Long, Long, Long)].collect().toMap2
    assert(actual == expected)
  }

  implicit private class Tup4Ops(rows: Array[(Long, Long, Long, Long)]) {
    def toMap2: Map[Long, (Long, Long, Long)] =
      rows.map(r => r._1 -> ((r._2, r._3, r._4))).toMap
  }

  test("SubwordCount matches the HOF filter+aggregate estimate") {
    val withLong = texts ++ Seq(
      (100L, "hyphen-ated under_scored dots.and.digits123 xx"),
      (101L, "averyveryverylongword12345678 ok"))
    val df = withLong.toDF("id", "text")
    def hofSub(c: org.apache.spark.sql.Column) = {
      val pieces = filter(split(lower(c), "[^a-z0-9]+"), p => length(p) > 0)
      aggregate(pieces, lit(0L),
        (acc, p) => acc + greatest(ceil(length(p) / 4.0), lit(1L)))
    }
    val expected = df.select(col("id"), hofSub(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    val actual = df.select(col("id"), F.subwordCount(col("text")).as("n"))
      .as[(Long, Long)].collect().toMap
    assert(actual == expected)
    val edge = Seq((0L, Some("ab cd")), (1L, None)).toDF("id", "text")
    val eExp = edge.select(col("id"), hofSub(col("text")).as("n"))
      .as[(Long, Option[Long])].collect().toMap
    val eAct = edge.select(col("id"), F.subwordCount(col("text")).as("n"))
      .as[(Long, Option[Long])].collect().toMap
    assert(eAct == eExp)
  }

  test("ShingleHashes matches the HOF shingle pipeline") {
    for (k <- Seq(1, 2, 3, 5)) {
      val df = texts.toDF("id", "text")
      val ws = hofWords(col("text"))
      val hofShingles =
        when(size(ws) < k, array().cast("array<string>"))
          .otherwise(array_distinct(
            transform(sequence(lit(0), size(ws) - k),
              i => concat_ws(" ", slice(ws, i + 1, lit(k))))))
      val expected = df.select(col("id"),
        transform(hofShingles, s => sqlMd5(s)).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      val actual = df.select(col("id"), F.shingleHashes(col("text"), k).as("hs"))
        .as[(Long, Seq[Long])].collect().toMap
      assert(actual == expected, s"k=$k")
    }
  }

  test("ShinglePosHashesUpTo element k is bit-identical to the " +
      "per-order ShinglePosHashes, null-safe") {
    val df = texts.toDF("id", "text")
    for (maxK <- Seq(1, 3, 5)) {
      val expected = df.select(col("id"),
          array((1 to maxK).map(k =>
            F.shinglePosHashes(col("text"), k)): _*).as("a"))
        .as[(Long, Seq[Seq[Long]])].collect().toMap
      val actual = df.select(col("id"),
          F.shinglePosHashesUpTo(col("text"), maxK).as("a"))
        .as[(Long, Seq[Seq[Long]])].collect().toMap
      assert(actual == expected, s"maxK=$maxK")
    }
    // null in, null out; short/empty docs yield empty inner arrays
    val edge = Seq((0L, Some("solo")), (1L, None), (2L, Some("")))
      .toDF("id", "text")
      .select(col("id"), F.shinglePosHashesUpTo(col("text"), 3).as("a"))
      .collect()
    assert(edge.find(_.getLong(0) == 1L).get.isNullAt(1))
    val solo = edge.find(_.getLong(0) == 0L).get
      .getSeq[scala.collection.Seq[Long]](1)
    assert(solo(0).length == 1 && solo(1).isEmpty && solo(2).isEmpty)
    assert(edge.find(_.getLong(0) == 2L).get
      .getSeq[scala.collection.Seq[Long]](1).forall(_.isEmpty))
  }

  test("WordHashes matches Spark SQL md5 over the HOF word array") {
    val df = texts.toDF("id", "text")
    val expected = df.select(col("id"),
      transform(hofWords(col("text")), w => sqlMd5(w)).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    val actual = df.select(col("id"), F.wordHashes(col("text")).as("hs"))
      .as[(Long, Seq[Long])].collect().toMap
    assert(actual == expected)
  }

  test("ShingleHashes survives codegen and null input") {
    val df = Seq((0L, Some("a b c d")), (1L, None)).toDF("id", "text")
    val rows = df.select(col("id"), F.shingleHashes(col("text"), 2).as("hs"))
      .collect()
    assert(rows.length == 2)
    assert(rows.find(_.getLong(0) == 1L).get.isNullAt(1))
  }

  test("MinHashSig matches the explode+min-aggregate formulation") {
    import graft.operators.Dedup
    val df = texts.toDF("id", "text")
    val p = Dedup.minhashP
    val seeds = Dedup.minhashSeeds(8)
    val hashed = df.select(col("id"),
        explode(F.shingleHashes(col("text"), 3)).as("h"))
      .select(col("id"),
        pmod(col("h").bitwiseAND(lit(Long.MaxValue)), lit(p)).as("h0"))
    val aggs = seeds.zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h0") * lit(a) + lit(b), lit(p))).as(s"m$i")
    }
    val expected = hashed.groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until 8).map(i => col(s"m$i")): _*)
        .as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val actual = df.select(col("id"),
        F.minhashSig(F.shingleHashes(col("text"), 3), seeds, p).as("sig"))
      .filter(col("sig").isNotNull)
      .as[(Long, Seq[Long])].collect().toMap
    assert(actual == expected)
  }

  test("SimHash64 matches the explode+bit-sum formulation") {
    val df = texts.toDF("id", "text")
    val wordRows = df.select(col("id"),
        explode(F.wordHashes(col("text"))).as("h"))
    val bitSums = (0 until 64).map(b =>
      sum(shiftright(col("h"), b).bitwiseAND(lit(1L))).as(s"b$b"))
    val agg = wordRows.groupBy("id").agg(count(lit(1)).as("n"), bitSums: _*)
    val sim = (0 until 64).map { b =>
      when(col(s"b$b") * 2 > col("n"), shiftleft(lit(1L), b)).otherwise(0L)
    }.reduce((a, b) => a.bitwiseOR(b))
    val expected = agg.select(col("id"), sim.as("s"))
      .as[(Long, Long)].collect().toMap
    val actual = df.select(col("id"),
        F.simhash64(F.wordHashes(col("text"))).as("s"))
      .filter(col("s").isNotNull)
      .as[(Long, Long)].collect().toMap
    assert(actual == expected)
  }

  test("VecDot/VecCosine are bit-identical to the HOF folds") {
    val vecs = Seq(
      (0L, Array(1.0f, 2.5f, -3.25f, 0.125f)),
      (1L, Array(0.0f, 0.0f, 1.0f, -1.0f)),
      (2L, Array(0.3f, 0.7f, 0.9f, -0.2f))
    ).toDF("id", "v")
    val joined = vecs.as("a").crossJoin(vecs.as("b"))
      .select(col("a.v").as("x"), col("b.v").as("y"))
    def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, x) => acc + x)
    val expected = joined.select(
      hofDot(col("x"), col("y")).as("d"),
      (hofDot(col("x"), col("y")) /
        (sqrt(hofDot(col("x"), col("x"))) * sqrt(hofDot(col("y"), col("y")))))
        .as("c"))
      .as[(Double, Double)].collect().toSeq
    val actual = joined.select(
      F.vecDot(col("x"), col("y")).as("d"),
      F.vecCosine(col("x"), col("y")).as("c"))
      .as[(Double, Double)].collect().toSeq
    assert(actual == expected)
  }

  test("VecDot/VecCosine null-propagate like the HOF fold") {
    val df = spark.sql(
      """SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS withNull,
                array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)) AS full2,
                array(CAST(3.0 AS FLOAT)) AS full1""")
    val r = df.select(
      F.vecDot(col("withNull"), col("full2")).as("d1"),   // null element
      F.vecDot(col("full1"), col("full2")).as("d2"),      // length mismatch
      F.vecCosine(col("withNull"), col("full2")).as("c1"),
      F.vecDot(col("full2"), col("full2")).as("ok")).collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.isNullAt(2))
    assert(r.getDouble(3) == 5.0)
  }

  test("VecDot accepts double-array literals (hyperplanes)") {
    val vecs = Seq((0L, Array(1.0f, 2.0f))).toDF("id", "v")
    val plane = array(lit(0.5), lit(-0.25))
    val d = vecs.select(F.vecDot(col("v"), plane).as("d"))
      .as[Double].collect().head
    assert(d == 1.0 * 0.5 + 2.0 * -0.25)
  }

  test("BoundedSortedConcat: capped prefix of the sorted bag, any partitioning") {
    import graft.functions.{BoundedSortedConcat, ColumnBridge}
    // 3 groups x 400 values, shuffled across 7 partitions: partial
    // buffers cap at N per task and merge-cap again, so the result must
    // equal sorted-take-N regardless of merge order
    val rows = for { g <- 0 until 3; i <- 0 until 400 }
      yield (g, f"v${(i * 7919) % 1000}%03d")
    val df = spark.createDataFrame(
      scala.util.Random.shuffle(rows)).toDF("g", "s").repartition(7)
    def bounded(n: Int, distinct: Boolean) = ColumnBridge.column(
      BoundedSortedConcat(ColumnBridge.expression(col("s")), ",", n,
        distinct).toAggregateExpression())
    val got = df.groupBy("g").agg(bounded(10, distinct = false).as("c"))
      .orderBy("g").collect().map(_.getString(1))
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2
      .map(_._2).sorted.take(10).mkString(","))
    assert(got.toSeq == expected)
    // DISTINCT: capped prefix of the distinct sorted set
    val gotD = df.groupBy("g").agg(bounded(5, distinct = true).as("c"))
      .orderBy("g").collect().map(_.getString(1))
    val expectedD = rows.groupBy(_._1).toSeq.sortBy(_._1).map(_._2
      .map(_._2).distinct.sorted.take(5).mkString(","))
    assert(gotD.toSeq == expectedD)
  }
}
