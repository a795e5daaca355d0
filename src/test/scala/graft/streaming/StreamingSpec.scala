package graft.streaming

import graft.SparkTestBase
import graft.rdf._
import graft.sinks.Results
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

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

  test("minhash dedup batch: drops near-dups vs index and within batch") {
    val base = "the quick brown fox jumps over the lazy dog near the " +
      "river bank today and tomorrow and every day after that"
    val idx = java.nio.file.Files.createTempDirectory("neardup_idx").toString
    def kept(snapshot: String, docs: (Long, String)*): Seq[Long] =
      graft.operators.Dedup.dedupAgainstIndex(docs.toDF("doc_id", "text"),
          "doc_id", "text", idx, snapshot)
        .filter(col("verdict") === "keep").select("id").as[Long]
        .collect().sorted.toSeq
    assert(kept("s1", (1L, base),
      (2L, base + " extra"), // near-dup of 1, same batch -> dropped
      (3L, "completely different text about spark engines and data flow")
    ) == Seq(1L, 3L))
    assert(kept("s2", (4L, base.replace("quick", "slow")), // near-dup of 1
      (5L, "entirely novel content with nothing shared at all anywhere " +
        "in this corpus of streaming documents")) == Seq(5L))
  }

  /** Runs [[graft.operators.Dedup.dedupAgainstIndex]] on each
    * micro-batch of a stream over `batches` (one micro-batch each), one
    * zero-padded batch-id snapshot per batch, with its index, output
    * and checkpoint under `dir`: the kept ids. */
  private def nearDupStream(dir: java.nio.file.Path,
                            batches: Seq[(Long, String)]*): Seq[Long] = {
    implicit val sq = spark.sqlContext
    val idx = dir.resolve("index").toString
    val out = dir.resolve("out").toString
    val mem = MemoryStream[(Long, String)]
    mem.addData(batches.head: _*)
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        val kept = graft.operators.Dedup.dedupAgainstIndex(batch,
            "doc_id", "text", idx, f"batch$bid%010d")
          .filter(col("verdict") === "keep").select(col("id").as("doc_id"))
        batch.join(kept, Seq("doc_id"), "left_semi")
          .write.mode("append").parquet(out)
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      batches.tail.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()
    spark.read.parquet(out).select("doc_id").as[Long].collect().sorted.toSeq
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

  test("LM score stream: per-micro-batch scoring against a saved " +
      "model is bit-identical to the batch scorer") {
    implicit val sq = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("lmstream")
    val modelDir = dir.resolve("model").toString
    val out = dir.resolve("out").toString
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

    // the batch scorer on each micro-batch, scores partitioned by batch
    // id (dynamic overwrite: a replayed batch replaces its partition)
    val mem = MemoryStream[(Long, String)]
    val q = mem.toDS().toDF("doc_id", "text").writeStream
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, bid: Long) =>
        graft.operators.TextAnalysis.ngramLmScoreWithModel(modelDir,
            batch, "doc_id", "text")
          .withColumn("batch", lit(f"batch$bid%010d"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch")
          .parquet(out)
        ()
      }
      .start()
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
    val bids = got.select("id", "batch").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(bids(10L) == "batch0000000000" &&
      bids(11L) == "batch0000000000" &&
      bids(12L) == "batch0000000001", bids)
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

}
