package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, shiftrightunsigned, sum, xxhash64}
import graft.queries.PipelineQueries

/** `curation_batch`: one pass over six curation gates of
  * `PipelineQueries.queries` on a seeded crawl-like corpus with planted
  * exact duplicates, near-duplicates and per-host boilerplate lines. Each
  * gate's full result is written as parquet, which `run.py` checks
  * after the run. */
final class CurationWorkload(spark: SparkSession, conf: Conf, rep: Report,
                             obs: OpListener) extends Workload {
  val gates = Seq("p30_curate_corpus", "p68_dedup_incremental",
    "p70_incr_line_dedup", "p73_lm_perlang", "p75_crawl_pipeline",
    "p81_bm25_index")
  private val dir = s"${conf.work}/data"
  private var planted: Map[String, Long] = _
  /** gate → content hashes of its result (the traced run's passes must
    * agree) */
  private val hashes = mutable.Map.empty[String, mutable.Set[Long]]
  private val resultRows = mutable.Map.empty[String, Long]

  /** Run one gate, forcing its full result by writing it to
    * `results/<tag>/<gate>` as parquet (a `count()` would let Spark prune
    * map-only gates to the scan); `run.py` checks the written rows once
    * the JVM has ended. An observation on the same write collects an
    * order-insensitive content hash and the row count, so comparing
    * passes costs no extra Spark job. */
  private def run(g: String, tag: String): Unit = {
    val ob = new Observation(s"check-$tag-$g")
    // the gate's own eager work (index writes, pins) runs while its
    // DataFrame is built, so the tag covers building as well as the write
    OpListener.tagged(spark.sparkContext, s"$tag:$g") {
      val df = PipelineQueries.queries(g)(spark, dir)
      // hashes shifted to 40 bits so the sum cannot overflow
      df.observe(ob, sum(shiftrightunsigned(xxhash64(df.columns.map(col): _*),
          24)).as("h"), count(lit(1)).as("n"))
        .write.mode("overwrite").parquet(s"${conf.work}/results/$tag/$g")
    }
    val m = ob.get
    def long(k: String) = Option(m(k)).map(_.toString.toLong).getOrElse(0L)
    resultRows(g) = long("n")
    hashes.getOrElseUpdate(g, mutable.Set.empty) += long("h")
    if (hashes(g).size > 1)
      rep.wrong(g, s"result content differs between passes: ${hashes(g)}")
  }

  def setup(): Seq[Double] = {
    planted = Inputs.props(dir)
    // the engine's DuckDB oracle of each gate, for run.py's answer check
    java.nio.file.Files.write(java.nio.file.Paths.get(s"${conf.work}/oracles.json"),
      Json(gates.flatMap(g => PipelineQueries.oracles.get(g).map(g -> _)).toMap)
        .getBytes("UTF-8"))
    rep.info("corpus") = planted ++ Map(
      "exact_share" -> planted("exact_dups").toDouble / planted("documents"),
      "near_share" -> planted("near_dups").toDouble / planted("documents"),
      "boilerplate_share" ->
        planted("boilerplate").toDouble / planted("documents"))
    // a batch job pays the JVM's warm-up on every run, so the timed pass
    // starts cold; set-up is reading the corpus
    (1 to 3).map { _ =>
      val t0 = nowMs
      Inputs.frame(spark, dir, "documents").write.format("noop")
        .mode("overwrite").save()
      (nowMs - t0) / 1000
    }
  }

  /** One pass over the gates; returns the seconds of each gate that
    * succeeded (a failed one is recorded and not timed). */
  private def pass(tag: String): Seq[(String, Double)] = gates.flatMap { g =>
    rep.attempt()
    val t0 = nowMs
    try { run(g, tag); Some(g -> (nowMs - t0) / 1000) }
    catch { case e: Exception => rep.fail(s"$tag:$g", e); None }
  }

  /** One pass (it outlasts the run's seconds on a 4-core box); each gate
    * run is one operation. */
  def measure(): Unit = {
    val t0 = nowMs
    val gateS = pass("pass0")
    val passS = (nowMs - t0) / 1000
    val ms = gateS.map(_._2 * 1000)
    val (tail, pct, n) = Stats.tail(ms)
    rep.e2e("op_p50_ms") = Stats.median(ms)
    rep.e2e("op_tail_ms") = tail
    rep.info("op_tail") = Map("percentile" -> pct, "n" -> n)
    rep.e2e("throughput_per_s") = planted("documents") / passS
    rep.info("pass_s") = passS
    rep.info("gate_s") = gateS.toMap
    rep.info("result_hashes") = hashes.map { case (g, h) => g -> h.head }
  }

  def traced(): Unit = {
    val sc = spark.sparkContext
    // the first pass runs cold; the tracing overhead compares the traced
    // pass with the second, untraced one
    pass("cold")
    val untraced = pass("untraced").map(_._2).sum
    val tracer = new Tracer
    val t0 = nowMs
    tracer.request("pass") {
      gates.foreach { g =>
        rep.attempt()
        try tracer.span(s"curation.$g")(run(g, "traced"))
        catch { case e: Exception => rep.fail(s"traced:$g", e) }
      }
    }
    val wall = nowMs - t0
    OpListener.drain(sc)
    val works = gates.map(g => g -> obs.take(s"traced:$g")).toMap
    val byName = tracer.spans.map(s => s.name -> s).toMap
    works.foreach { case (g, w) =>
      val parent = byName(s"curation.$g").id
      w.jobSpans.foreach { case (_, s, e) =>
        tracer.add(parent, "pass", "exec.job", s, e) }
      rep.layer(s"curation.${g}_s") = byName(s"curation.$g").durMs / 1000
      rep.layer(s"curation.$g.jobs") = w.jobs
      rep.layer(s"curation.$g.shuffle_bytes") = w.shuffleBytes
      rep.layer(s"curation.$g.spill_bytes") = w.spillBytes
    }
    Layers.execMetrics(rep, works.values.toSeq, resultRows.values.sum, wall,
      conf.cpus)
    Layers.selfTimes(rep, tracer.selfMs(), 1)
    rep.layer("trace.overhead_share") = (wall / 1000 - untraced) / untraced
    rep.info("result_hashes") = hashes.map { case (g, h) => g -> h.head }
    tracer.write(s"${conf.work}/spans.json")
  }
}
