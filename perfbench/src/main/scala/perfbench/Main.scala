package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Settings of one run, parsed from the command line run.py passes. */
final case class Conf(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, work: String,
                      out: String, cpus: Int, corrupt: Boolean)

/** Benchmark JVM entry point:
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *  --work DIR --out FILE [--corrupt-expected]`, with the inputs `gen.py`
  * wrote under DIR/data.
  * Writes one JSON object to FILE: correctness counts (a run is correct
  * only when no operation failed), end-to-end or per-layer metrics, failures with their exception class and message,
  * and the workload record. `--corrupt-expected` perturbs one expected
  * answer so the self-test can prove a wrong answer is caught. */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val flags = args.toSet
    val cpus = Runtime.getRuntime.availableProcessors()
    val conf = Conf(
      workload = a("--workload"), seed = a("--seed").toLong,
      seconds = a("--seconds").toDouble, trace = a("--trace") == "1",
      work = a("--work"),
      out = a("--out"), cpus = cpus,
      corrupt = flags.contains("--corrupt-expected"))
    val rep = new Report
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .config("spark.local.dir", s"${conf.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    rep.info("session_s") = sessionS
    val obs = OpListener.install(spark.sparkContext)
    val wl: Workload = conf.workload match {
      case "sparql_read" => new ReadWorkload(spark, conf, rep, obs)
      case "curation_batch" => new CurationWorkload(spark, conf, rep, obs)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    try {
      val setups = wl.setup()
      rep.e2e("setup_s") = sessionS + Stats.median(setups)
      rep.info("setup_repeats_s") = setups
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      if (conf.trace) wl.traced() else wl.measure()
      val wallMs = (System.nanoTime() - t0) / 1e6
      val gc = gcMs() - gc0
      rep.e2e("live_heap_mb") = liveHeapMb()
      if (conf.trace) {
        rep.layer("jvm.gc_ms") = gc
        rep.layer("jvm.gc_share") = gc / wallMs
      }
    } finally {
      wl.close()
      spark.stop()
    }
    val out = Map(
      "correct" -> rep.failures.isEmpty,
      "attempted" -> rep.attempted,
      "failed" -> rep.failures.size,
      "e2e" -> rep.e2e,
      "layer" -> rep.layer,
      "failures" -> rep.failures.map(f =>
        Map("op" -> f.op, "class" -> f.cls, "message" -> f.message)),
      "record" -> rep.info)
    java.nio.file.Files.write(java.nio.file.Paths.get(conf.out),
      Json(out).getBytes("UTF-8"))
  }

  def gcMs(): Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble

  /** Heap in use after a full collection: pinned stores, cached plans and
    * everything else the engine keeps live. */
  def liveHeapMb(): Double = (1 to 3).map { _ =>
    System.gc()
    Thread.sleep(100)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }.min
}

/** One workload: set-up, a timed phase and a traced phase. */
trait Workload {
  /** Build the workload's state; returns the seconds of each set-up
    * repetition (the engine's share: store build or load plus warm-up);
    * `setup_s` takes their median. */
  def setup(): Seq[Double]
  /** The untraced timed phase: fills the end-to-end metrics. */
  def measure(): Unit
  /** The traced phase: fills the per-layer metrics. */
  def traced(): Unit
  def close(): Unit = ()

  protected def nowMs: Double = System.nanoTime() / 1e6
}
