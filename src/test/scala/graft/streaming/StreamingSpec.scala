package graft.streaming

import graft.SparkTestBase
import graft.rdf._
import graft.sinks.Results
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("NT line stream parses and hashes into quads incrementally") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[String]
    val quads = StreamIngest.toQuads(StreamIngest.parseNtLines(mem.toDS()))
    val q = quads.writeStream.format("memory").queryName("qstream")
      .outputMode("append").start()
    mem.addData(
      """<urn:a> <urn:name> "Alice" .""",
      """<urn:b> <urn:name> "Bob" <urn:g1> .""",
      "# comment", "garbage")
    q.processAllAvailable()
    val got = spark.sql("select * from qstream").collect()
    assert(got.length == 2)
    // streamed RIDs identical to batch RIDs
    assert(got.map(_.getLong(1)).toSet ==
      Set(Rid.uri("urn:a"), Rid.uri("urn:b")))
    q.stop()
  }

  test("windowed event counts with watermark run in streaming mode") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val df = mem.toDS().toDF("ts", "event_type", "value")
    val agg = StreamIngest.windowedEventCounts(df, "1 hour", "2 hours")
    val q = agg.writeStream.format("memory").queryName("wstream")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:05:00"), "click", 1.0),
      (Timestamp.valueOf("2024-01-01 10:45:00"), "click", 2.0),
      (Timestamp.valueOf("2024-01-01 11:10:00"), "view", 5.0))
    q.processAllAvailable()
    // advance watermark far enough to close the first windows
    mem.addData((Timestamp.valueOf("2024-01-02 00:00:00"), "late", 0.0))
    q.processAllAvailable()
    val got = spark.sql(
      "select event_type, n_events, sum_value from wstream").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got.contains(("click", 2L, 3.0)))
    assert(got.contains(("view", 1L, 5.0)))
    q.stop()
  }

  test("streaming dedup within watermark drops re-imported statements") {
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, Long, Long, Long)]
    val df = mem.toDS().toDF("ts", "g", "s", "p", "o")
    val deduped = StreamIngest.dedupWithinWatermark(df, "ts", "1 hour",
      Seq("g", "s", "p", "o"))
    val q = deduped.writeStream.format("memory").queryName("dedupstream")
      .outputMode("append").start()
    mem.addData(
      (Timestamp.valueOf("2024-01-01 10:00:00"), 1L, 10L, 20L, 30L),
      (Timestamp.valueOf("2024-01-01 10:00:05"), 1L, 10L, 20L, 30L), // dup
      (Timestamp.valueOf("2024-01-01 10:00:10"), 1L, 11L, 20L, 30L))
    q.processAllAvailable()
    mem.addData( // second micro-batch: same quad again inside horizon
      (Timestamp.valueOf("2024-01-01 10:30:00"), 1L, 10L, 20L, 30L))
    q.processAllAvailable()
    val got = spark.sql("select s from dedupstream").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(10L, 11L), s"expected 2 unique quads, got $got")
    q.stop()
  }

  test("full-text derived quads: token/stem/phonetic, searchable") {
    val flat = Seq(
      FlatQuad("", 1, "urn:doc1", "urn:title", 0,
        "Querying Spark Engines", "", ""),
      FlatQuad("", 1, "urn:doc2", "urn:title", 0, "engine rooms", "", ""),
      FlatQuad("", 1, "urn:doc3", "urn:other", 0, "not indexed", "", "")
    ).toDF()
    val store = FullText.withFullText(flat, Set("urn:title"))
    // searching a token finds the right subjects
    val hits = FullText.searchToken(store, "engines")
      .as[Long].collect().toSet
    assert(hits == Set(Rid.uri("urn:doc1")))
    // stem collapses engines/engine (Snowball english: "engin")
    val stemHits = store.quads
      .filter(col("p") === FullText.stemPredRid &&
        col("o") === Rid.literal("engin"))
      .select("s").as[Long].collect().toSet
    assert(stemHits == Set(Rid.uri("urn:doc1"), Rid.uri("urn:doc2")))
    // non-indexed predicate contributes nothing
    assert(FullText.searchToken(store, "indexed").count() == 0)
  }

  test("streaming decontamination flags overlap against a static eval set") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val span = (1 to 10).map(i => s"tok$i").mkString(" ")
    val evalDf = Seq((100L, s"prefix $span suffix")).toDF("doc_id", "text")
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val flagged = StreamIngest.decontaminateStream(
      docs, evalDf, "doc_id", "text", k = 5)
    val q = flagged.writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    mem.addData(
      (1L, s"alpha $span omega"),
      (2L, "clean text with no overlap at all here"))
    q.processAllAvailable()
    mem.addData((3L, s"$span trailing words")) // second micro-batch
    q.processAllAvailable()
    val got = spark.sql("select doc_id, contaminated from decon").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got == Map(1L -> true, 2L -> false, 3L -> true), got.toString)
    q.stop()
  }

  test("crawl front door runs on a STREAM: canonicalize + domain key + " +
      "blocklist + quality filter are stateless map stages") {
    // the r12 crawl operators are pure projections/filters, so the
    // whole pre-cap front door lifts onto readStream unchanged — this
    // pins that none of them silently grew a batch-only dependency
    // (collect, window, non-streamable join)
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    val mem = MemoryStream[(Long, String, String)]
    val good = ("the data " * 30).trim // passes the word floor, has "the"
    val front = {
      val docs = mem.toDS().toDF("doc_id", "url", "text")
      val keyed = graft.operators.UrlOps.dropBlockedHosts(
        graft.operators.UrlOps.keyByDomain(docs, "url"),
        "url", Seq("blocked.com"))
      graft.operators.TextAnalysis.gopherQuality(
          keyed, "text", minStopwords = 1)
        .filter(col("gopher_pass"))
        .select("doc_id", "registrable_host", "url_canon")
    }
    val q = front.writeStream.format("memory").queryName("front")
      .outputMode("append").start()
    mem.addData(
      (1L, "HTTP://WWW.Good.COM:80/a/../b?utm_x=1", good),
      (2L, "https://sub.blocked.com/x", good),     // blocklisted
      (3L, "https://ok.github.io/y", "too short")) // quality-rejected
    q.processAllAvailable()
    mem.addData((4L, "https://Tenant.GitHub.IO/z", good)) // 2nd batch
    q.processAllAvailable()
    val got = spark.sql(
        "select doc_id, registrable_host, url_canon from front")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1).toSeq
    assert(got == Seq(
      (1L, "good.com", "http://www.good.com/b"),
      (4L, "tenant.github.io", "https://tenant.github.io/z")), got)
    q.stop()
  }

  test("WET ingest runs on a STREAM: raw crawl file bodies frame into " +
      "documents as a stateless map stage") {
    // the kernel walk is a pure projection, so wetDocuments lifts onto
    // readStream unchanged — crawl files landing in a directory stream
    // straight into a documents frame with no state store
    import spark.implicits._
    implicit val sq = spark.sqlContext
    def rec(uri: String, text: String) =
      s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri" +
        s"\r\nContent-Length: ${text.length}\r\n\r\n$text\r\n\r\n"
    val mem = MemoryStream[(String, String)]
    val docs = graft.operators.WarcIngest.wetDocuments(
      mem.toDS().toDF("file", "raw"), "raw")
    val q = docs.writeStream.format("memory").queryName("wet")
      .outputMode("append").start()
    mem.addData(("f1", rec("urn:a", "first doc") + rec("urn:b", "second")))
    q.processAllAvailable()
    mem.addData(("f2", rec("urn:c", "third") +
      "WARC/1.0\r\nContent-Length: 999\r\n\r\nbad")) // invalid drops
    q.processAllAvailable()
    val got = spark.sql("select file, url, text from wet").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      .sortBy(_._2).toSeq
    assert(got == Seq(("f1", "urn:a", "first doc"),
      ("f1", "urn:b", "second"), ("f2", "urn:c", "third")), got)
    q.stop()
  }

  test("repetition battery runs on a STREAM and matches the batch " +
      "operator row for row") {
    // repetitionSignals is one map-only kernel projection, so it lifts
    // onto readStream unchanged — and unlike the corpus-scoped scrubs
    // (p58/p63 need corpus-global or domain-global state), the
    // REPETITION verdict is per-document, making it the natural
    // crawl-time pre-filter before any stateful stage
    import spark.implicits._
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions._
    val boiler = "spam line\nspam line\nspam line\nspam line\nok"
    val clean = (1 to 40).map(i => s"w$i").mkString(" ")
    val batch = graft.operators.TextAnalysis.repetitionSignals(
        Seq((1L, boiler), (2L, clean)).toDF("doc_id", "text"), "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(3), r.getBoolean(11))).toMap
    val mem = MemoryStream[(Long, String)]
    val out = graft.operators.TextAnalysis.repetitionSignals(
      mem.toDS().toDF("doc_id", "text"), "text")
    val q = out.writeStream.format("memory").queryName("repsig")
      .outputMode("append").start()
    mem.addData((1L, boiler), (2L, clean))
    q.processAllAvailable()
    val got = spark.sql(
        "select doc_id, n_dup_lines, rep_pass from repsig")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2))).toMap
    assert(got == batch, s"stream $got vs batch $batch")
    assert(got(1L) == (3L, false) && got(2L)._2, got)
    q.stop()
  }

  test("streaming DSIR scoring matches the batch operator's log weight") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val target = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val raw = Seq((1L, "a b c"), (2L, "x y")).toDF("doc_id", "text")
    // batch ground truth on the same corpora and hash (xxhash64)
    val batch = graft.operators.TextAnalysis.dsirImportance(
        raw, target, "doc_id", "text", buckets = 4096)
      .collect().map(r => r.getLong(0) -> r.getDouble(5)).toMap
    val mem = MemoryStream[(Long, String)]
    val docs = mem.toDS().toDF("doc_id", "text")
    val scored = StreamIngest.dsirScoreStream(
      docs, target, raw, "text", buckets = 4096)
    val q = scored.writeStream.format("memory").queryName("dsir")
      .outputMode("append").start()
    mem.addData((1L, "a b c"), (2L, "x y"))
    q.processAllAvailable()
    mem.addData((3L, "solo")) // <2 tokens -> 0 grams, logw 0
    q.processAllAvailable()
    val got = spark.sql("select doc_id, n_grams, dsir_logw from dsir")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    assert(got(1L)._1 == 2 && math.abs(got(1L)._2 - batch(1L)) < 1e-9, got)
    assert(got(2L)._1 == 1 && math.abs(got(2L)._2 - batch(2L)) < 1e-9, got)
    assert(got(3L) == ((0L, 0.0)), got)
    q.stop()
  }

  test("line dedup stream: the C4 global-first rule across " +
      "micro-batches — later docs lose lines earlier batches kept, " +
      "intra-batch election included, docs reassembled in order") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("linededup_stream")
    val idx = dir.resolve("index").toString
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.lineDedupStream(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text", idx, out,
      ckpt)
    // batch 0: doc 1 keeps everything; doc 2 loses the shared quote
    // to doc 1 WITHIN the batch (intra-batch election: lower id wins)
    mem.addData(
      (1L, "unique one\nshared quote\nunique two"),
      (2L, "shared quote\ndoc two line"))
    q.processAllAvailable()
    // batch 1: doc 3 loses BOTH cross-batch repeats (one from each
    // earlier doc) and keeps only its fresh line
    mem.addData((3L, "unique one\nfresh line\ndoc two line"))
    q.processAllAvailable()
    q.stop()
    val got = spark.read.parquet(out)
      .select("doc_id", "n_kept_lines", "deduped")
      .as[(Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(1L) == (3L, "unique one\nshared quote\nunique two"))
    assert(got(2L) == (1L, "doc two line"),
      s"intra-batch election must drop the later doc's copy: $got")
    assert(got(3L) == (1L, "fresh line"),
      s"cross-batch repeats must die against the line index: $got")
    // the index stores digests only — line TEXT never persists
    val cols = spark.read.parquet(s"$idx/lines").columns.toSet
    assert(cols == Set("lh", "snapshot"),
      s"history must stay digests-only: $cols")
    // one stream per index, fail-closed: a SECOND stream (fresh
    // checkpoint -> batch ids restart at 0) pointed at the same index
    // would overwrite historical digest partitions — it must error
    // with both checkpoint paths named, not corrupt shared history
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamIngest.lineDedupStream(
      mem2.toDS().toDF("doc_id", "text"), "doc_id", "text", idx,
      dir.resolve("out2").toString, dir.resolve("ckpt2").toString)
    mem2.addData((9L, "whatever"))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q2.processAllAvailable()
    }
    assert(e.getMessage.contains("owned by the stream") ||
      Option(e.getCause).exists(_.getMessage.contains("owned by")),
      s"colliding stream must fail closed: ${e.getMessage}")
    q2.stop()
  }

  /** Runs [[StreamIngest.minhashDedupStream]] over `batches` (one
    * micro-batch each) with its index, output and checkpoint under
    * `dir`: the kept ids. */
  private def nearDupStream(dir: java.nio.file.Path,
                            batches: Seq[(Long, String)]*): Seq[Long] = {
    implicit val sq = spark.sqlContext
    val out = dir.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    // added before start: a query restarted on an uncommitted batch
    // replays it first thing
    mem.addData(batches.head: _*)
    val q = StreamIngest.minhashDedupStream(mem.toDS().toDF("doc_id", "text"),
      "doc_id", "text", dir.resolve("index").toString, out,
      dir.resolve("ckpt").toString)
    try {
      q.processAllAvailable()
      batches.tail.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq
  }

  test("minhash dedup batch: drops near-dups vs index and within batch") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today and tomorrow and every day after that"
    val kept = nearDupStream(
      java.nio.file.Files.createTempDirectory("neardup_idx"),
      Seq((1L, base),
        (2L, base + " extra"), // near-dup of 1, same batch -> dropped
        (3L, "completely different text about spark engines and data flow")),
      Seq((4L, base.replace("quick", "slow")), // near-dup of kept doc 1
        (5L, "entirely novel content with nothing shared at all anywhere " +
          "in this corpus of streaming documents")))
    assert(kept == Seq(1L, 3L, 5L), kept)
  }

  test("minhash dedup stream filters the feed across micro-batches") {
    val base = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val kept = nearDupStream(
      java.nio.file.Files.createTempDirectory("neardup_stream"),
      Seq((1L, base),
        (2L, "some wholly unrelated document about query planners and " +
          "columnar execution engines")),
      Seq((3L, base + " seventeen"))) // near-dup of 1 from batch 1
    assert(kept == Seq(1L, 2L), kept)
  }

  test("minhash dedup stream: a replayed micro-batch keeps the same " +
      "documents") {
    val base = "one two three four five six seven eight nine ten eleven " +
      "twelve thirteen fourteen fifteen sixteen"
    val docs = Seq((1L, base), (2L, base + " seventeen"),
      (3L, "some wholly unrelated document about query planners and " +
        "columnar execution engines"))
    val dir = java.nio.file.Files.createTempDirectory("neardup_replay")
    val first = nearDupStream(dir, docs)
    assert(first == Seq(1L, 3L), first)
    // a crash after the index delta landed but before the batch's
    // output and commit: the restarted query replays batch 0
    def rmTree(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
    }
    Seq("ckpt/commits/0", "ckpt/commits/.0.crc", "out")
      .foreach(f => rmTree(dir.resolve(f).toFile))
    val replayed = nearDupStream(dir, docs)
    assert(replayed == first, s"replay kept $replayed, first run $first")
  }

  test("minhash dedup stream: the batch cut does not change the kept " +
      "set") {
    // A~B and B~C share LSH buckets; A and C share no 3-token shingle.
    // B drops against A, and C against B whether or not B was kept.
    val ws = (1 to 40).map(i => s"w$i")
    val a = (1L, ws.slice(0, 20).mkString(" "))
    val b = (2L, ws.slice(2, 38).mkString(" "))
    val c = (3L, ws.slice(18, 40).mkString(" "))
    val whole = nearDupStream(
      java.nio.file.Files.createTempDirectory("neardup_whole"), Seq(a, b, c))
    val split = nearDupStream(
      java.nio.file.Files.createTempDirectory("neardup_split"),
      Seq(a, b), Seq(c))
    assert(whole == Seq(1L), whole)
    assert(split == whole, s"split $split vs one batch $whole")
  }

  test("result sinks: TSV lines, SPARQL JSON and XML") {
    val df = Seq(("<urn:a>", "\"Alice\"@en"), ("_:b1", "\"5\"^^<urn:int>"))
      .toDF("s", "o")
    val w = new java.io.StringWriter()
    Results.writeTsv(df, w)
    val tsv = w.toString.split("\n")
    assert(tsv.head == "?s\t?o")
    assert(tsv.length == 3)
    val json = Results.toJson(df)
    assert(json.contains(""""type":"uri","value":"urn:a""""))
    assert(json.contains(""""xml:lang":"en""""))
    assert(json.contains(""""type":"bnode""""))
    assert(json.contains(""""datatype":"urn:int""""))
    val xml = Results.toXml(df)
    assert(xml.contains("<uri>urn:a</uri>"))
    assert(xml.contains("""<literal xml:lang="en">Alice</literal>"""))
    assert(Results.toAskJson(true).contains("\"boolean\":true"))
  }

  test("text index stream: batches land as snapshots; queries on the " +
      "grown index match the direct path over everything ingested") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("idxstream")
    val idx = dir.resolve("index").toString
    val ckpt = dir.resolve("ckpt").toString
    val b1 = Seq((0L, "spark joins data with hash joins"),
      (1L, "join join join elsewhere"))
    val b2 = Seq((2L, "spark spark spark"), (3L, "join spark"))
    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.textIndexStream(
      mem.toDS().toDF("doc_id", "text"), "doc_id", "text", idx, ckpt)
    mem.addData(b1: _*)
    q.processAllAvailable() // batch 0 bootstraps the index
    mem.addData(b2: _*)
    q.processAllAvailable() // batch 1 appends a snapshot
    q.stop()
    val all = (b1 ++ b2).toDF("doc_id", "text")
    val direct = graft.operators.Ranking.bm25TopK(all, "doc_id", "text",
      Seq("join", "spark"), k = 10).collect().map(_.toSeq).toSeq
    val viaIdx = graft.operators.Ranking.bm25TopKFromIndex(spark, idx,
      Seq("join", "spark"), k = 10).collect().map(_.toSeq).toSeq
    assert(viaIdx == direct, "streamed index diverges from direct path")
    // a second stream with a different checkpoint must be refused
    val mem2 = MemoryStream[(Long, String)]
    val q2 = StreamIngest.textIndexStream(
      mem2.toDS().toDF("doc_id", "text"), "doc_id", "text", idx,
      dir.resolve("ckpt2").toString)
    mem2.addData((9L, "intruder"))
    val e = intercept[org.apache.spark.sql.streaming
      .StreamingQueryException] { q2.processAllAvailable() }
    assert(e.getMessage.contains("owned by the stream"))
    q2.stop()
  }

  test("LM score stream: per-micro-batch scoring against a saved " +
      "model is bit-identical to the batch scorer") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lmstream")
    val modelDir = dir.resolve("model").toString
    val out = dir.resolve("out").toString
    val ckpt = dir.resolve("ckpt").toString
    val train = Seq((1L, "a b c a b"), (2L, "a b c d e"),
      (3L, "c d e a b")).toDF("doc_id", "text")
    graft.operators.TextAnalysis.saveLmModel(train, "text", modelDir,
      order = 3, minCount = 1)
    val evalDocs = Seq((10L, "a b c"), (11L, "zz zz zz"),
      (12L, "c d e a"))
    val batchDf = graft.operators.TextAnalysis.ngramLmScoreWithModel(
      modelDir, evalDocs.toDF("doc_id", "text"), "doc_id", "text")
    val cols = batchDf.columns
    val expect = batchDf.collect().map(r => r.getLong(0) -> r.toSeq).toMap

    val mem = MemoryStream[(Long, String)]
    val q = StreamIngest.lmScoreStream(mem.toDS().toDF("doc_id", "text"),
      "doc_id", "text", modelDir, out, ckpt)
    mem.addData((10L, "a b c"), (11L, "zz zz zz"))
    q.processAllAvailable()
    mem.addData((12L, "c d e a")) // second batch: no cross-batch state
    q.processAllAvailable()
    q.stop()

    val got = spark.read.parquet(out)
    assert(got.columns.toSet == cols.toSet + "batch")
    val gotRows = got.select(cols.head, cols.tail: _*).collect()
      .map(r => r.getLong(0) -> r.toSeq).toMap
    assert(gotRows == expect, s"stream scores diverge:\n$gotRows\n$expect")
    // scores land batch-partitioned (dynamic overwrite -> replaying an
    // uncommitted batch replaces its partition, never duplicates)
    val bids = got.select("id", "batch").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bids(10L) == "batch0000000000" &&
      bids(11L) == "batch0000000000" &&
      bids(12L) == "batch0000000001", bids)
  }
}
