package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

/** The monthly-crawl-drop COMPOSITION at fixture scale — the per-commit
  * test behind `graft.Probe monthly` (which measures the same chain at
  * sf10): WET framing → Gopher quality + repetition gates → language
  * ID → SAVED per-language backoff model scoring → per-language
  * perplexity buckets → incremental dedup against a persisted index.
  * The probe proves the cost; this spec pins the SEMANTICS of the
  * stages composing — including the contract that the monthly chain's
  * plan reads the model and the snapshot and never rescans the train
  * corpus (the whole point of train-once/score-many + the persisted
  * index). */
class CompositionSpec extends SparkTestBase {
  import spark.implicits._
  private val T = TextAnalysis

  test("monthly-drop composition: framing, gates, langId, saved " +
      "per-lang model, per-lang buckets, incremental dedup — and the " +
      "monthly plan never rescans the train corpus") {
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    // 24 docs, two languages by construction: even ids English, odd
    // ids Chinese-marked (enough CJK share for langId, still ≥80%
    // alpha words and ≥3 mean word length for the Gopher gate). Every
    // doc distinct via its token suffix.
    // per-doc VOCABULARIES: docs must be genuinely distinct (near-dup
    // LSH correctly flags template text that differs by one token), a
    // "the" for the stopword gate, and doc-unique CJK markers for
    // langId's CJK share without shared shingles between zh docs
    def body(i: Int) = (1 to 20).map(j => s"word${i}x$j").mkString(" ")
    def enText(i: Int) = "the " + body(i)
    def zhText(i: Int) =
      s"的的的的的的${i}a 的的的的的的${i}b the " + body(i)
    val docs = (0 until 24)
      .map(i => (i.toLong, if (i % 2 == 0) enText(i) else zhText(i)))
      .toDF("doc_id", "text")
    // the train corpus lives ON DISK so "never rescanned" is a real
    // plan property, not a vacuous one
    val trainDir = tmp("graft-comp-train-")
    docs.write.mode("overwrite").parquet(trainDir)
    val train = spark.read.parquet(trainDir)

    // setup artifacts (what a production site persists between drops)
    val modelDir = tmp("graft-comp-model-")
    val indexDir = tmp("graft-comp-index-")
    T.saveLmModel(train.withColumn("lang_id", T.langId(col("text"))),
      "text", modelDir, order = 3, langCol = Some("lang_id"))
    Dedup.dedupAgainstIndex(train.filter(col("doc_id") < 16),
      "doc_id", "text", indexDir, "2026-07").count()

    // the monthly snapshot: docs 8..23 as ONE WET blob in its own dir
    // (8..15 overlap last month's snapshot — the dedup stage's work)
    val crlf = "\r\n"
    val rec = concat(lit("WARC/1.0" + crlf),
      lit("WARC-Type: conversion" + crlf),
      lit("WARC-Target-URI: urn:doc:"), col("doc_id"), lit(crlf),
      lit("WARC-Date: 2026-08-01T00:00:00Z" + crlf),
      lit("Content-Length: "), octet_length(col("text")).cast("string"),
      lit(crlf + crlf), col("text"), lit(crlf + crlf))
    val wetDir = tmp("graft-comp-wet-") + "/snap"
    docs.filter(col("doc_id") >= 8).withColumn("r", rec)
      .groupBy().agg(concat_ws("", collect_list(col("r"))).as("raw"))
      .write.mode("overwrite").parquet(wetDir)

    // ---- the monthly composition (the probe's chain, verbatim)
    val raw = spark.read.parquet(wetDir)
    val framed = WarcIngest.wetDocuments(raw, "raw")
      .withColumn("doc_id",
        regexp_extract(col("url"), "urn:doc:(\\d+)", 1).cast("long"))
      .select("doc_id", "text")
    assert(framed.count() == 16, "all 16 monthly records frame")
    val gated = T.repetitionSignals(
        T.gopherQuality(framed, "text", minWords = 5,
          minStopwords = 1), "text")
      .filter(col("gopher_pass") && col("rep_pass"))
      .select("doc_id", "text")
    assert(gated.count() == 16,
      "the fixture is calibrated to pass both gate batteries")
    val withLang = gated.withColumn("lang_id", T.langId(col("text")))
    val langs = withLang.groupBy("lang_id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(langs == Map("en" -> 8L, "zh" -> 8L),
      s"langId must split the fixture 8/8: $langs")
    val scored = T.ngramLmScoreWithModel(modelDir, withLang,
      "doc_id", "text", langCol = Some("lang_id"))
    // per-language models are REAL here: each language's docs hit
    // their own language's trigram table (n_hit3 > 0), proving the
    // scoring joined per-lang tables rather than one merged pile
    val hits = scored.groupBy("lang")
      .agg(min(col("n_hit3")).as("mn")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hits.keySet == Set("en", "zh") && hits.values.forall(_ > 0),
      s"every doc must hit its own language's trained trigrams: $hits")
    val picked = T.perplexityBuckets(
        scored.filter(col("ppl").isNotNull),
        "id", "ppl", Seq("lang"), k = 3, quota = Some(100L))
      .select(col("id").as("doc_id"))
      .join(withLang.select("doc_id", "text"), Seq("doc_id"))
    // the no-rescan contract, on the PLAN: snapshot read, train corpus
    // NOT read — and since the r18 model-read pin, the saved model is
    // read ONCE into a localCheckpoint when the scorer is built (the
    // manifest-pruned read; PlanSpec gates its PartitionFilters) and
    // the monthly plan consumes the pin, so the model parquet path
    // must NOT appear as a per-query rescan here either
    val plan = picked.queryExecution.executedPlan.toString
    assert(!plan.contains(modelDir),
      "the monthly plan must consume the pinned model read, not " +
        "rescan the model parquet per query")
    // ...and it does consume it: the checkpointed (h, c, lang, k) counts
    // are a leaf of the plan (a chain that dropped the model join would
    // pass the negative check above)
    assert(picked.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.output.map(_.name)
    }.contains(Seq("h", "c", "lang", "k")),
      "the monthly plan must scan the pinned model counts")
    assert(plan.contains(wetDir), "plan must read the WET snapshot")
    assert(!plan.contains(trainDir),
      "the monthly chain must never rescan the train corpus")
    // incremental dedup: the 8 docs last month's snapshot already
    // holds drop exact; the 8 new ones keep
    val verdicts = Dedup.dedupAgainstIndex(picked, "doc_id", "text",
        indexDir, "2026-08")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert((8L to 15L).forall(verdicts(_) == "drop_exact"),
      s"seeded-overlap docs must drop: $verdicts")
    assert((16L to 23L).forall(verdicts(_) == "keep"),
      s"fresh docs must keep: $verdicts")
  }

  test("crawl front-door composition: URL canonicalize + domain key " +
      "+ blocklist, per-domain boilerplate scrub, quality gates on " +
      "the scrubbed text, incremental line dedup across snapshots — " +
      "the p75 chain's semantics at fixture scale") {
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    // 10 docs, 3 hosts: two github.io TENANTS (ids 0–3 / 4–7; the PSL
    // private section keys them as separate domains, so each tenant's
    // banner scrubs independently) and a blocked domain (ids 8–9).
    // Planted lines: per-tenant banner (4 docs ≥ minDocs → scrubbed),
    // per-pair buddy (2 docs < minDocs → kept, then line-deduped),
    // a quote shared ACROSS tenants by a snapA doc (0) and a snapB
    // doc (5) — survives the per-domain scrub, dies cross-snapshot —
    // and a "gate victim" line shared by rep-failing doc 6 and
    // passing doc 7: doc 7 must KEEP it, proving gate-failers never
    // enter the line index (gates run BEFORE dedup in the chain).
    def body(i: Int) =
      "the " + (1 to 12).map(j => s"w${i}x$j").mkString(" ")
    def tenant(i: Int) = if (i < 4) "a1.github.io" else "a2.github.io"
    def text(i: Int): String = {
      val base = s"welcome to ${tenant(i)}\n" +
        (if (i == 3) "the tiny\n" else body(i) + "\n") +
        s"buddy ${i / 2}"
      base +
        (if (i == 0 || i == 5) "\nshared quote of note" else "") +
        (if (i == 6 || i == 7) "\ngate victim line" else "") +
        (if (i == 6) "\nrep line\nrep line\nrep line" else "")
    }
    def url(i: Int): String =
      if (i >= 8) s"https://Blocked.COM/page$i"
      else s"HTTP://A${i / 4 + 1}.GitHub.IO:80/x/../p?utm_source=z&id=$i"
    val docs = (0 until 10)
      .map(i => (i.toLong, url(i), text(i)))
      .toDF("doc_id", "url", "text")

    val front = UrlOps.dropBlockedHosts(docs, "url",
        Seq("blocked.com"))
      .withColumn("url_canon", UrlOps.canonicalizeUrl(col("url")))
      .withColumn("reg_host", UrlOps.registrableHost(col("url")))
      .filter(col("reg_host") =!= "")
    assert(front.count() == 8, "blocklist drops the blocked domain")
    val canon0 = front.filter(col("doc_id") === 0)
      .select("url_canon").as[String].head()
    assert(canon0 == "http://a1.github.io/p?id=0",
      s"canonicalize: scheme/host lowered, default port dropped, " +
        s"dot segments resolved, tracking param stripped: $canon0")

    val scrubbed = Dedup.scrubBoilerplateLines(front, "doc_id",
      "reg_host", "text", minDocs = 3)
    val sc = scrubbed.select("doc_id", "cleaned", "n_dropped_lines")
      .as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(sc.values.forall(_._2 == 1L),
      "exactly the banner is boilerplate in every doc")
    assert(sc.values.forall(!_._1.contains("welcome to")),
      "banners scrubbed per tenant")
    assert(sc(5L)._1.contains("shared quote of note") &&
      sc(7L)._1.contains("gate victim line"),
      "sub-threshold shared lines survive the per-domain scrub")

    val gated = T.repetitionSignals(
      T.gopherQuality(scrubbed, "cleaned", minWords = 6,
        minStopwords = 1), "cleaned")
    val verdicts = gated
      .select("doc_id", "gopher_pass", "rep_pass")
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(!verdicts(3L)._1, "the 4-word doc fails the word floor")
    assert(!verdicts(6L)._2, "the tripled line fails the rep battery")
    assert(Seq(0L, 1L, 2L, 4L, 5L, 7L).forall(i =>
        verdicts(i)._1 && verdicts(i)._2),
      s"the other docs pass both batteries: $verdicts")

    val surv = gated.filter(col("gopher_pass") && col("rep_pass"))
      .select(col("doc_id"), col("cleaned"))
    val indexDir = tmp("graft-comp-lines-")
    val a = Dedup.dedupLinesAgainstIndex(
      surv.filter(col("doc_id") % 2 === 0), "doc_id", "cleaned",
      indexDir, "snapA")
    val b = Dedup.dedupLinesAgainstIndex(
      surv.filter(col("doc_id") % 2 === 1), "doc_id", "cleaned",
      indexDir, "snapB")
    val out = a.unionByName(b).select("doc_id", "deduped")
      .as[(Long, String)].collect().toMap
    assert(out.keySet == Set(0L, 2L, 4L, 1L, 5L, 7L),
      s"exactly the gate passers enter line dedup: ${out.keySet}")
    assert(out(0L).contains("shared quote of note") &&
      out(0L).contains("buddy 0"),
      "the snapA doc wins its shared lines")
    assert(out(5L) == body(5),
      s"the snapB doc loses the cross-tenant quote AND its buddy " +
        s"line to snapA: '${out(5L)}'")
    assert(out(1L) == body(1), "buddy pairs dedup cross-snapshot")
    assert(out(7L).contains("gate victim line") &&
      out(7L).contains("buddy 3"),
      "lines of a gate-FAILING doc never enter the index — the " +
        "passing doc keeps them (gates precede dedup in the chain)")
  }
}
