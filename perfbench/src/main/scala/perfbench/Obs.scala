package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Order statistics and the tail rule every latency metric uses. */
object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.floor.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail latency: the 90th percentile, interpolated. A run here
    * yields tens of samples, too few for the highest percentile with ten
    * samples beyond it to sit above the median. Returns (value,
    * percentile, n). */
  def tail(xs: Seq[Double]): (Double, Double, Int) =
    (quantile(xs, 0.9), 90.0, xs.size)
}

/** Minimal JSON writer for the result file (no dependency beyond the
  * standard library). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}

/** Spark work attributed to one benchmark operation. */
final class OpWork {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var schedDelayMs = ArrayBuffer.empty[Double]
  var inputRecords = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var skews = ArrayBuffer.empty[Double]
  /** (jobId, start ms, end ms) */
  val jobSpans = ArrayBuffer.empty[(Int, Long, Long)]
}

/** One SparkListener for the whole benchmark JVM. The benchmark puts the
  * current operation's id into the submitting thread's local property
  * [[OpListener.Prop]]; every job and stage that thread submits, and
  * every task of those stages, is attributed to that operation. Work
  * without the property (endpoint pool threads, Spark's own threads)
  * is summed under "". */
final class OpListener extends SparkListener {
  import OpListener.Prop
  private val work = new ConcurrentHashMap[String, OpWork]()
  private val stageOp = new ConcurrentHashMap[Int, String]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  private val stageTaskMs = new ConcurrentHashMap[Int, ArrayBuffer[Double]]()
  private val jobOp = new ConcurrentHashMap[Int, (String, Long)]()

  private def opOf(p: java.util.Properties): String =
    if (p == null) "" else Option(p.getProperty(Prop)).getOrElse("")
  private def w(op: String): OpWork = work.computeIfAbsent(op, _ => new OpWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val op = opOf(e.properties)
    jobOp.put(e.jobId, (op, e.time))
    e.stageIds.foreach(s => stageOp.put(s, op))
    val ow = w(op)
    ow.synchronized { ow.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val started = jobOp.remove(e.jobId)
    if (started != null) {
      val ow = w(started._1)
      ow.synchronized { ow.jobSpans += ((e.jobId, started._2, e.time)) }
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val id = e.stageInfo.stageId
    stageOp.putIfAbsent(id, opOf(e.properties))
    stageSubmit.put(id,
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val op = Option(stageOp.get(id)).getOrElse("")
    val times = Option(stageTaskMs.remove(id)).getOrElse(ArrayBuffer.empty)
    val ow = w(op)
    ow.synchronized {
      ow.stages += 1
      if (times.size >= 2) {
        val med = Stats.median(times.toSeq)
        if (med > 0) ow.skews += times.max / med
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val op = Option(stageOp.get(e.stageId)).getOrElse("")
    val info = e.taskInfo
    val m = e.taskMetrics
    val submitted = Option(stageSubmit.get(e.stageId))
    stageTaskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Double])
      .synchronized {
        stageTaskMs.get(e.stageId) += (info.finishTime - info.launchTime)
          .toDouble
      }
    val ow = w(op)
    ow.synchronized {
      ow.tasks += 1
      submitted.foreach(s =>
        ow.schedDelayMs += math.max(0L, info.launchTime - s).toDouble)
      if (m != null) {
        ow.cpuNs += m.executorCpuTime
        ow.inputRecords += m.inputMetrics.recordsRead
        ow.shuffleBytes += m.shuffleWriteMetrics.bytesWritten +
          m.shuffleReadMetrics.totalBytesRead
        ow.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Work attributed to `op`, removed from the listener. Spark delivers
    * events asynchronously, so callers drain the listener bus first. */
  def take(op: String): OpWork =
    Option(work.remove(op)).getOrElse(new OpWork)

}

object OpListener {
  val Prop = "perfbench.op"

  def install(sc: SparkContext): OpListener = {
    val l = new OpListener
    sc.addSparkListener(l)
    l
  }

  /** Run `body` with the calling thread's Spark jobs attributed to `op`. */
  def tagged[A](sc: SparkContext, op: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, op)
    try body finally sc.setLocalProperty(Prop, prev)
  }

  /** Wait until the listener has seen every event posted so far. */
  def drain(sc: SparkContext): Unit = {
    // SparkContext.listenerBus is private; a no-op job's end event is
    // the last event of that job, and events are delivered in order per
    // listener queue, so waiting for a marker job's end suffices
    val done = new java.util.concurrent.CountDownLatch(1)
    val marker = new SparkListener {
      override def onJobEnd(e: SparkListenerJobEnd): Unit = done.countDown()
    }
    sc.addSparkListener(marker)
    tagged(sc, "__drain")(sc.parallelize(Seq(1), 1).count())
    done.await(10, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(marker)
  }
}

/** A recorded span: one call into a layer. `req` is shared by the spans
  * of one operation; `parent` is the id of the enclosing span (-1 at the
  * root). Times are epoch milliseconds with sub-millisecond precision. */
final case class Span(id: Int, parent: Int, req: String, name: String,
                      startMs: Double, endMs: Double) {
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder for the traced run; written out once when the
  * run ends. Not thread-safe: the traced run is single-threaded. */
final class Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var req = ""

  private val t0Nanos = System.nanoTime()
  private val t0Epoch = System.currentTimeMillis().toDouble
  def nowMs: Double = t0Epoch + (System.nanoTime() - t0Nanos) / 1e6

  def request[A](id: String)(body: => A): A = {
    req = id
    try span("op")(body) finally req = ""
  }

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, parent, req, name, nowMs, Double.NaN)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endMs = nowMs)
    }
  }

  /** Add a finished span (listener job spans, Catalyst phases) under the
    * span `parent`. */
  def add(parent: Int, reqId: String, name: String, s: Double,
          e: Double): Unit =
    spans += Span(spans.size, parent, reqId, name, s, e)

  /** The most recent span named `name` of request `reqId`. */
  def last(reqId: String, name: String): Option[Span] =
    spans.reverseIterator.find(s => s.req == reqId && s.name == name)

  /** Self time per span name over the spans `keep` selects: a span's
    * duration minus the union of its children's intervals (clipped to the
    * span). */
  def selfMs(keep: Span => Boolean = _ => true): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.filter(keep).groupMapReduce(_.name) { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var curS = Double.NaN
      var curE = Double.NaN
      iv.foreach { case (a, b) =>
        if (curS.isNaN || a > curE) {
          if (!curS.isNaN) covered += curE - curS
          curS = a; curE = b
        } else curE = math.max(curE, b)
      }
      if (!curS.isNaN) covered += curE - curS
      math.max(0.0, s.durMs - covered)
    }(_ + _).toMap
  }

  /** Write every span to `path` as a JSON array (once, when the run
    * ends). */
  def write(path: String): Unit = java.nio.file.Files.write(
    java.nio.file.Paths.get(path),
    spans.map(s => Json(Map("id" -> s.id, "parent" -> s.parent,
      "req" -> s.req, "name" -> s.name, "start_ms" -> s.startMs,
      "end_ms" -> s.endMs))).mkString("[", ",\n", "]").getBytes("UTF-8"))
}

/** A failed or wrong-answer operation, recorded with its cause. */
final case class Failure(op: String, cls: String, message: String)

/** Everything one run reports; serialized by [[Main]]. */
final class Report {
  var attempted = 0L
  val failures = ArrayBuffer.empty[Failure]
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def fail(op: String, e: Throwable): Unit = synchronized {
    failures += Failure(op, e.getClass.getName,
      Option(e.getMessage).getOrElse("").take(500))
  }
  def wrong(op: String, message: String): Unit = synchronized {
    failures += Failure(op, "WrongAnswer", message.take(500))
  }
  def attempt(): Unit = synchronized { attempted += 1 }
}

/** Per-layer metric families shared by the workloads. */
object Layers {
  /** Spark work of a set of operations, per operation. */
  def execMetrics(rep: Report, works: Seq[OpWork], resultRows: Long,
                  wallMs: Double, cpus: Int): Unit = {
    val n = works.size.max(1).toDouble
    rep.layer("exec.jobs_per_op") = works.map(_.jobs).sum / n
    rep.layer("exec.stages_per_op") = works.map(_.stages).sum / n
    rep.layer("exec.tasks_per_op") = works.map(_.tasks).sum / n
    rep.layer("exec.sched_delay_ms_p50") =
      Stats.median(works.flatMap(_.schedDelayMs))
    rep.layer("exec.scan_rows_per_result_row") =
      works.map(_.inputRecords).sum.toDouble / resultRows.max(1L)
    rep.layer("exec.shuffle_bytes_per_op") = works.map(_.shuffleBytes).sum / n
    rep.layer("exec.spill_bytes") = works.map(_.spillBytes).sum.toDouble
    rep.layer("exec.task_skew") = Stats.median(works.flatMap(_.skews))
    rep.layer("exec.cpu_share") =
      works.map(_.cpuNs).sum / 1e6 / (wallMs * cpus).max(1e-9)
  }

  /** Span name → the layer it measures. */
  def layerOf(span: String): String = span.takeWhile(_ != '.') match {
    case "op" => "bench"
    case "exec" => "exec"
    case l => l
  }

  val all = Seq("parser", "sparql", "catalyst", "exec", "results", "ingest",
    "update", "curation")

  /** `self.<layer>_ms_per_op` for every layer (0 when it did no work). */
  def selfTimes(rep: Report, self: Map[String, Double], ops: Int): Unit = {
    val byLayer = self.groupMapReduce(x => layerOf(x._1))(_._2)(_ + _)
    all.foreach(l =>
      rep.layer(s"self.${l}_ms_per_op") = byLayer.getOrElse(l, 0.0) / ops.max(1))
  }
}
