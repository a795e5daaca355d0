package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.ui.{
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.functions._
import graft.sinks.Results

/** The dev profiler: one main for every scale and calibration run.
  *
  * {{{
  * graft.Probe gates <regex> <sfDir> [outJson] [--action count|noop|both]
  *                   [--repeats n] [--explain outDir]
  * graft.Probe sparql <sfDir> [outJson] [docsDir]
  * graft.Probe incr <sfDir> [nSnapshots] [outJson]
  * graft.Probe monthly <sfDir> [quota] [outJson]
  * graft.Probe gsp <sfDir> [copies] [rounds] [minMBps] [outJson]
  * }}}
  *
  * Every scenario takes `--master m` (default `local[<all cores>]`; the
  * shuffle partition count is the n of a `local[n]` master, else the
  * core count) and prints ONE JSON line, also written to
  * `outJson` when given. The line carries a disk-write and a CPU
  * reference reading taken at the start and at the end of the run: the
  * box this runs on has phases where sequential writes slow 2–5× and
  * CPU drifts too, so a slow run with slow readings is a box phase and
  * a slow run with healthy readings is a regression.
  *
  * A `local-cluster[n,cores,mb]` master forks real executor JVMs and
  * needs `SPARK_HOME` (the Spark distribution) and
  * `SPARK_SCALA_VERSION=2.13` in the environment: the worker builds the
  * executor command through the launcher library, which resolves
  * SPARK_HOME and, in a binary distribution, needs the Scala version to
  * skip its source-tree probe.
  */
object Probe {
  type Gate = (SparkSession, String) => DataFrame
  private type Obj = ListMap[String, Any]

  private val usage =
    "usage: graft.Probe gates|sparql|incr|monthly|gsp <args> (see Probe.scala)"

  private val LocalN = """local\[(\d+)\]""".r

  def main(args: Array[String]): Unit = {
    val master = parse(args.toSeq)._2.get("master")
    // shuffle partitions: the n of a `local[n]` master, else every core
    val cpus = master.collect { case LocalN(n) => n }
      .getOrElse(Runtime.getRuntime.availableProcessors.toString)
    val spark = Session(cpus, master)
    try {
      val (line, out) = run(spark, args.toSeq)
      println(line)
      out.foreach(p => Files.writeString(Paths.get(p), line + "\n"))
    } finally spark.stop()
  }

  /** Runs one scenario on `spark`: its JSON line and output path. */
  private[graft] def run(spark: SparkSession, args: Seq[String],
                         queries: Map[String, Gate] = SparkEntry.queries)
      : (String, Option[String]) = {
    val (pos, flags) = parse(args)
    def arg(i: Int): Option[String] = pos.lift(i).filter(_.nonEmpty)
    def need(i: Int): String = arg(i).getOrElse(
      throw new IllegalArgumentException(usage))
    val scenario = arg(0).getOrElse("")
    require(Set("gates", "sparql", "incr", "monthly", "gsp")(scenario), usage)
    val listener = new Listener
    spark.sparkContext.addSparkListener(listener)
    try {
      val start = bracket("start")
      val (body, out) = scenario match {
        case "gates" =>
          (gates(spark, queries, need(1), need(2), flags, listener), arg(3))
        case "sparql" =>
          (sparql(spark, queries, need(1), arg(3).getOrElse(need(1)),
            listener), arg(2))
        case "incr" =>
          (incr(spark, need(1), arg(2).fold(5)(_.toInt)), arg(3))
        case "monthly" =>
          (monthly(spark, need(1), arg(2).fold(10000L)(_.toLong)), arg(3))
        case "gsp" =>
          (gsp(spark, need(1), arg(2).fold(10)(_.toInt),
            arg(3).fold(3)(_.toInt), arg(4).fold(350.0)(_.toDouble)), arg(5))
      }
      val head = ListMap("scenario" -> scenario,
        "master" -> spark.sparkContext.master)
      (json(head ++ start ++ body ++ bracket("end")), out)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Positional args and `--flag value` pairs. */
  private def parse(args: Seq[String]): (Seq[String], Map[String, String]) =
    args match {
      case k +: v +: rest if k.startsWith("--") =>
        val (p, f) = parse(rest); (p, f + (k.drop(2) -> v))
      case a +: rest => val (p, f) = parse(rest); (a +: p, f)
      case _ => (Nil, Map.empty)
    }

  private def note(msg: String): Unit = System.err.println(s"[probe] $msg")

  // ---- the shared parts -------------------------------------------------

  /** `f`'s result and its wall seconds. */
  private def lap[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  private def bracket(when: String): Obj =
    ListMap(s"dd_mbps_$when" -> writeMBps(), s"cpu_ref_sec_$when" -> cpuRefSec())

  /** Sequential write throughput in MB/s, like `dd bs=1M conv=fsync`:
    * 1 MiB writes to a temp file on the filesystem the runs spool to,
    * fsync'd before the clock stops. 256 MiB spans any writeback cache
    * and takes under a second on a healthy disk. */
  private def writeMBps(totalBytes: Long = 256L << 20): Double = {
    val f = Files.createTempFile("ddprobe", ".bin")
    try {
      val buf = java.nio.ByteBuffer.allocate(1 << 20)
      val ch = java.nio.channels.FileChannel.open(f,
        java.nio.file.StandardOpenOption.WRITE)
      val (_, sec) = lap {
        try {
          var written = 0L
          while (written < totalBytes) {
            buf.clear().limit(math.min(buf.capacity.toLong,
              totalBytes - written).toInt)
            written += ch.write(buf)
          }
          ch.force(false)
        } finally ch.close()
      }
      totalBytes / 1e6 / sec
    } finally Files.deleteIfExists(f)
  }

  /** Wall seconds of a fixed xorshift loop (no allocation, no I/O, ~1 s
    * on a healthy box): the CPU axis beside the disk one. The iteration
    * count is fixed so the number compares across runs; the loop stays
    * inline (no closure) so `x` lives in a register. */
  private def cpuRefSec(iters: Long = 400_000_000L): Double = {
    var x = 0x9e3779b97f4a7c15L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < iters) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val sec = (System.nanoTime() - t0) / 1e9
    if (x == 42L) println("") // sink: defeats dead-code elimination
    sec
  }

  /** Compact JSON of maps, sequences, strings and numbers; strings go
    * through the engine's one escaper. Doubles keep 4 decimals. */
  private def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + Results.jsonEscape(s) + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else (math.rint(d * 1e4) / 1e4).toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => json(k.toString) + ":" + json(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Work seen in one [[Listener.measure]] window. `plans` holds each SQL
    * execution's description and final physical plan, in order. */
  private[graft] final case class Window(stats: Obj,
                                         plans: Seq[(String, String)])

  /** The one SparkListener: jobs, stages and task times, plus the final
    * executed plan of every SQL execution, over one window at a time
    * (probes run their actions one after another). AQE re-plans replace
    * the initial plan, so writes and pins show the shape that ran —
    * including the plans a `localCheckpoint` or a write hides from the
    * query that consumes it. */
  private[graft] final class Listener extends SparkListener {
    private val drainProp = "graft.probe.drain"
    private var jobs, stages = 0
    private val taskMs = mutable.ArrayBuffer.empty[Long]
    private val plans = mutable.LinkedHashMap.empty[Long, (String, String)]
    private val drainJobs, drainStages = mutable.Set.empty[Int]
    @volatile private var drained = new CountDownLatch(0)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (Option(e.properties).exists(_.getProperty(drainProp) != null)) {
        drainJobs += e.jobId; drainStages ++= e.stageIds
      } else jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (synchronized(drainJobs.remove(e.jobId))) drained.countDown()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { if (!drainStages(e.stageInfo.stageId)) stages += 1 }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      synchronized { if (!drainStages(e.stageId)) taskMs += e.taskInfo.duration }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        plans(s.executionId) = (s.description, s.physicalPlanDescription) }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
        plans.get(u.executionId).foreach { case (d, _) =>
          plans(u.executionId) = (d, u.physicalPlanDescription) } }
      case _ =>
    }

    /** Runs `f` as one window and returns its result with the window.
      * The bus is drained before the counters reset, so late events of
      * earlier unmeasured work stay out, and again after `f`, so all of
      * `f`'s events are in. */
    def measure[A](sc: SparkContext)(f: => A): (A, Window) = {
      drain(sc)
      synchronized { jobs = 0; stages = 0; taskMs.clear(); plans.clear() }
      val a = f
      drain(sc)
      synchronized {
        val t = taskMs.sorted
        (a, Window(ListMap("jobs" -> jobs, "stages" -> stages,
          "tasks" -> t.size, "task_ms_max" -> t.lastOption.getOrElse(0L),
          "task_ms_median" -> t.lift(t.size / 2).getOrElse(0L)),
          plans.values.toSeq))
      }
    }

    /** Returns once every event posted before the call has reached this
      * listener: events arrive asynchronously but in order, so once a
      * marker job's end is seen, so is everything before it. A bus that
      * does not drain fails the window rather than report part of it. */
    private def drain(sc: SparkContext): Unit = {
      val done = new CountDownLatch(1)
      drained = done
      sc.setLocalProperty(drainProp, "1")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(drainProp, null)
      if (!done.await(60, TimeUnit.SECONDS))
        throw new IllegalStateException(
          "listener bus not drained after 60 s: window stats incomplete")
    }
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** `t` at `sfDir`, its pages read once so timings skip cold I/O. */
  private def warmTable(spark: SparkSession, sfDir: String,
                        t: String): DataFrame = {
    val df = graft.core.Tables.t(spark, sfDir, t)
    df.write.format("noop").mode("overwrite").save()
    df
  }

  // ---- gates -----------------------------------------------------------

  /** Every gate whose name matches `regex`: first, untimed, its rows and
    * an order-insensitive, multiplicity-sensitive content digest (the
    * sum of row xxhash64s as decimal(38,0)), so runs under two masters
    * compare gate by gate; that pass is also the warm-up. Then it is
    * timed `--repeats` times per action, with the listener's work of its
    * last run. `count` is Bench's action, which column-prunes map-only
    * gates down to the scan; `noop` writes every output column. A gate
    * that throws records its exception instead. `--explain dir` writes
    * each gate's executed plans to `dir/<gate>.txt`. */
  private def gates(spark: SparkSession, queries: Map[String, Gate],
                    regex: String, sfDir: String, flags: Map[String, String],
                    listener: Listener): Obj = {
    val actions = flags.getOrElse("action", "count") match {
      case "both" => Seq("count", "noop")
      case a @ ("count" | "noop") => Seq(a)
      case a => throw new IllegalArgumentException(
        s"--action $a: expected count, noop or both")
    }
    val repeats = flags.get("repeats").fold(1)(_.toInt)
    val explain = flags.get("explain").map(Paths.get(_))
    explain.foreach(Files.createDirectories(_))
    val re = regex.r
    val names = queries.keys.toSeq.sorted.filter(re.findFirstIn(_).isDefined)
    val results = names.map { n =>
      note(s"gate $n")
      n -> gate(spark, queries(n), sfDir, actions, repeats, listener,
        explain.map(_.resolve(s"$n.txt")))
    }
    ListMap("sf" -> sfDir, "actions" -> actions, "repeats" -> repeats,
      "gates" -> ListMap(results: _*))
  }

  private def gate(spark: SparkSession, fn: Gate, sfDir: String,
                   actions: Seq[String], repeats: Int, listener: Listener,
                   explainTo: Option[java.nio.file.Path]): Obj =
    try {
      // rows and digest first: the untimed pass doubles as the warm-up,
      // so every timed run of every action is a warm one
      val df = fn(spark, sfDir)
      val d = df.select(xxhash64(df.columns.map(col): _*).as("h"))
        .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)"))).head()
      val runs = actions.map { a =>
        a -> (1 to repeats).map { _ =>
          listener.measure(spark.sparkContext)(lap {
            val df = fn(spark, sfDir)
            if (a == "noop") df.write.format("noop").mode("overwrite").save()
            else df.count()
          }._2)
        }
      }
      explainTo.foreach { f =>
        Files.writeString(f, runs.map { case (a, rs) =>
          s"==== $a ====\n" + rs.last._2.plans.map { case (d, p) =>
            s"---- $d ----\n$p" }.mkString("\n")
        }.mkString("\n"))
      }
      ListMap("rows" -> d.getLong(0),
        "digest" -> d.getDecimal(1).toBigInteger.toString) ++
        runs.map { case (a, rs) =>
          a -> (ListMap("sec" -> rs.map(_._1)) ++ rs.last._2.stats)
        }
    } catch { case NonFatal(e) => ListMap("error" -> e.toString) }

  // ---- sparql ----------------------------------------------------------

  /** The SPARQL engine at scale: the rdfize/import phase timed alone, the
    * join/aggregate/closure gate shapes with their listener work, an
    * INSERT…WHERE over the orders, a lexical-value FILTER and the
    * full-text index build. `docsDir` holds the documents table for the
    * full-text query (default: `sfDir`). */
  private def sparql(spark: SparkSession, queries: Map[String, Gate],
                     sfDir: String, docsDir: String,
                     listener: Listener): Obj = {
    import graft.queries.SparqlQueries.{locStore, store}
    import graft.sparql.{Sparql, Update}
    def stores = Seq(store(spark, sfDir, "customer", "orders"),
      store(spark, sfDir, "orders"), store(spark, sfDir, "customer"),
      locStore(spark, sfDir))
    val (_, importSec) = lap(stores.foreach(_.quads.count()))
    val storeQuads = store(spark, sfDir, "customer", "orders")
      .quads.count() + locStore(spark, sfDir).quads.count()
    val gs = Seq("s01_sparql_bgp_join", "s02_sparql_optional",
        "s04_sparql_minus", "s05_sparql_agg", "s07_sparql_order_limit",
        "s17_sparql_path", "s18_sparql_subselect").map { n =>
      note(s"gate $n")
      n -> gate(spark, queries(n), sfDir, Seq("count"), 1, listener, None)
    }
    // update at scale: INSERT…WHERE over the immutable snapshot, then a
    // count over the inserted predicate
    val (updRows, updSec) = lap {
      val updated = Update(store(spark, sfDir, "customer", "orders"),
        spark, """INSERT { ?o <urn:flag> "big" } WHERE {
                 |  ?o <urn:p:orders:o_totalprice> ?tp .
                 |  FILTER(?tp > 400000) }""".stripMargin)
      Sparql.run(updated, spark,
        """SELECT ?o WHERE { ?o <urn:flag> "big" }""").count()
    }
    // value-decode axis (the reference's need_val gate,
    // src/frontend/query.c:1155-1194): a FILTER on lexical values either
    // scans the inline-value form or pays a dictionary decode join; the
    // plan's join count records which
    val lexical = graft.queries.SparqlQueries.sparql(spark, sfDir,
      Seq("customer"),
      """SELECT ?cname WHERE {
        |  ?c <urn:p:customer:c_name> ?cname .
        |  FILTER(REGEX(?cname, "#0000000(4[0-9])") &&
        |         STRLEN(?cname) > 8) }""".stripMargin)
    val joins = lexical.queryExecution.executedPlan.toString()
      .linesIterator.count(_.contains("Join"))
    val (lexRows, lexSec) = lap(lexical.count())
    // full text: the first run derives the token index, the second
    // queries it warm
    val ft = queries("s15_sparql_fulltext")
    val (_, ftBuild) = lap(ft(spark, docsDir).count())
    val (ftRows, ftWarm) = lap(ft(spark, docsDir).count())
    ListMap("sf" -> sfDir, "import_sec" -> importSec,
      "store_quads" -> storeQuads,
      "queries" -> (ListMap(gs: _*) ++ ListMap(
        "s16x_update_insert_where" -> ListMap("rows" -> updRows,
          "sec" -> updSec),
        "s06x_regex_lexical" -> ListMap("rows" -> lexRows, "sec" -> lexSec,
          "plan_joins" -> joins),
        "s15x_fulltext" -> ListMap("rows" -> ftRows,
          "build_plus_query_sec" -> ftBuild, "warm_query_sec" -> ftWarm))))
  }

  // ---- incr ------------------------------------------------------------

  private def verdicts(dec: DataFrame): ListMap[String, Long] = {
    val m = dec.groupBy("verdict").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    ListMap(Seq("keep", "drop_exact", "drop_near")
      .map(k => k -> m.getOrElse(k, 0L)): _*)
  }

  /** `Dedup.dedupAgainstIndex` as snapshots accumulate: the corpus split
    * into `n` id-ordered snapshots, probed in turn against one growing
    * index. Probing re-reads only the fixed-width index, never history's
    * text, so per-snapshot time should grow only with the index scan.
    * Then the index is compacted and the last snapshot re-probed: its
    * verdicts must not change. Snapshot ids are `snap%05d`, zero-padded
    * so they sort in processing order (the index contract); every run
    * starts a fresh index directory. */
  private def incr(spark: SparkSession, sfDir: String, n: Int): Obj = {
    val D = graft.operators.Dedup
    val docs = warmTable(spark, sfDir, "documents")
    val ids = docs.agg(min("doc_id"), max("doc_id")).head()
    val (lo, hi) = (ids.getLong(0), ids.getLong(1))
    val span = (hi - lo + 1 + n - 1) / n
    def snap(i: Int) = docs.filter(col("doc_id") >= lo + i * span &&
      col("doc_id") < lo + (i + 1) * span)
    val dir = tmp("graft-incr-")
    def idxRows() = spark.read.parquet(s"$dir/bands").count() +
      spark.read.parquet(s"$dir/fp").count()
    // untimed pass on a throwaway index: codegen and JIT, so snapshot 0
    // does not absorb the session's cold start
    D.dedupAgainstIndex(snap(0), "doc_id", "text", tmp("graft-incr-warm-"),
      "warm")
    val snaps = (0 until n).map { i =>
      val id = f"snap$i%05d"
      note(id)
      val probed = if (i == 0) 0L else idxRows()
      val (dec, sec) = lap(D.dedupAgainstIndex(snap(i), "doc_id", "text",
        dir, id))
      id -> (ListMap("sec" -> sec, "index_rows_probed" -> probed) ++
        verdicts(dec))
    }
    val last = f"snap${n - 1}%05d"
    def replay() = verdicts(D.dedupAgainstIndex(snap(n - 1), "doc_id",
      "text", dir, last))
    val pre = replay()
    val before = idxRows()
    val (_, compactSec) = lap(D.compactDedupIndex(spark, dir))
    val after = idxRows()
    val replayOk = replay() == pre
    ListMap("sf" -> sfDir, "n_snapshots" -> n,
      "compaction" -> ListMap("rows_before" -> before, "rows_after" -> after,
        "sec" -> compactSec, "replay_identical" -> replayOk),
      "snapshots" -> ListMap(snaps: _*))
  }

  // ---- monthly ---------------------------------------------------------

  /** The crawl-like reshaping, deterministic from (doc_id, text), shared
    * by last month's index seed and this month's WET snapshot so
    * cross-month dedup hits happen by construction: a per-domain banner
    * (scrubbed at minDocs=3), the words reflowed into 10-token lines
    * that each carry a doc-unique head token and an " of the"
    * connective, a "trending topic" line shared by 50 consecutive ids
    * across ~50 domains (survives the scrub, dies against last month's
    * line index), and three planted failure arms — doc_id%10 in {6,7}
    * hash spam and 8 ellipsis spam (Gopher fails), 9 a 9×-duplicated
    * line (repetition fails) — so the gates keep a crawl-like ~65%. */
  private def reshape(docId: Column, text: Column): Column = {
    val ws = filter(split(text, " "), w => length(w) > 0)
    val nLines =
      greatest(ceil(size(ws).cast("double") / 10).cast("int"), lit(1))
    val body = array_join(
      transform(sequence(lit(0), nLines - 1),
        c => concat(lit("d"), docId, lit("l"), c.cast("string"), lit(" "),
          array_join(slice(ws, c * 10 + 1, lit(10)), " "), lit(" of the"))),
      "\n")
    val banner = concat(lit("welcome to site"),
      pmod(docId, lit(1009L)).cast("string"), lit(".com"))
    val trending = concat(lit("trending topic "),
      floor(docId / 50).cast("long").cast("string"), lit(" of note"))
    // failure-arm lines carry the doc-unique head token, so the
    // per-domain scrub cannot save the doc by electing them boilerplate
    val arm = pmod(docId, lit(10L))
    val tail =
      when(arm === 6 || arm === 7, concat(lit("\nd"), docId,
          lit("h " + Seq.fill(20)("#").mkString(" "))))
        .when(arm === 8, concat(lit("\nd"), docId,
          lit("e " + Seq.fill(20)("...").mkString(" "))))
        .when(arm === 9, concat(lit("\n"), array_join(transform(
          sequence(lit(1), lit(9)),
          _ => concat(lit("d"), docId, lit(" dup notice line"))), "\n")))
        .otherwise(lit(""))
    concat(banner, lit("\n"), body, lit("\n"), trending, tail)
  }

  /** The crawl URL, deterministic from doc_id: adversarial casing,
    * default port, dot segments and a tracking param for the front door
    * to canonicalize and domain-key. */
  private def crawlUrl(docId: Column): Column =
    concat(lit("HTTP://WWW.Site"), pmod(docId, lit(1009L)).cast("string"),
      lit(".COM:80/a/../p/"), docId.cast("string"), lit("?utm_source=feed"))

  /** The monthly crawl drop as ONE composition (C4 §2.1 + CCNet §3 stage
    * order). Setup, untimed: a per-language order-5 backoff model saved
    * from the train slice, doc and line indexes seeded with last month's
    * snapshot (even ids, reshaped), and two monthly WET snapshots. The
    * timed drop: WET framing → URL front door → incremental doc dedup →
    * per-domain boilerplate scrub → Gopher + repetition gates →
    * incremental line dedup → language ID → saved-model scoring →
    * per-language perplexity quota. Then both indexes are compacted and
    * a second month probes the grown indexes. The no-rescan contract is
    * checked on the plans. */
  private def monthly(spark: SparkSession, sfDir: String, quota: Long): Obj = {
    val T = graft.operators.TextAnalysis
    val D = graft.operators.Dedup
    val U = graft.operators.UrlOps
    val docs = warmTable(spark, sfDir, "documents")
    val modelDir = tmp("graft-monthly-model-")
    val indexDir = tmp("graft-monthly-index-")
    val lineIndexDir = tmp("graft-monthly-lines-")
    // one model per language, trained in ONE multilingual pass on
    // labels from the same classifier that labels the monthly side
    val (_, trainSec) = lap(T.saveLmModel(
      docs.filter(col("doc_id") % 10 =!= 0)
        .withColumn("lang_id", T.langId(col("text"))),
      "text", modelDir, order = 5, minCount = 2, langCol = Some("lang_id")))
    val (_, seedSec) = lap {
      val july = docs.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id"), reshape(col("doc_id"), col("text")).as("text"))
      D.dedupAgainstIndex(july, "doc_id", "text", indexDir, "2026-07").count()
      D.dedupLinesAgainstIndex(july, "doc_id", "text", lineIndexDir,
        "2026-07").count()
    }
    // a monthly snapshot: one third of the corpus as 64 blobs of
    // Content-Length-framed WET conversion records with real target URLs
    val crlf = "\r\n"
    def writeWet(residue: Int, date: String): String = {
      val dir = tmp("graft-monthly-wet-") + "/snap"
      val payload = reshape(col("doc_id"), col("text"))
      val rec = concat(lit("WARC/1.0" + crlf),
        lit("WARC-Type: conversion" + crlf),
        lit("WARC-Target-URI: "), crawlUrl(col("doc_id")), lit(crlf),
        lit(s"WARC-Date: ${date}T00:00:00Z" + crlf),
        // octet_length, not length: the WARC walk is byte-driven, and a
        // character count under-frames any multi-byte doc
        lit("Content-Length: "), octet_length(payload).cast("string"),
        lit(crlf + crlf), payload, lit(crlf + crlf))
      docs.filter(col("doc_id") % 3 === residue)
        .withColumn("rec_str", rec)
        .withColumn("file", pmod(col("doc_id"), lit(64L)))
        .groupBy("file")
        .agg(concat_ws("", collect_list(col("rec_str"))).as("raw"))
        .write.mode("overwrite").parquet(dir)
      dir
    }
    // August overlaps July's seed at ids ≡ 0 mod 6, September at ≡ 4
    val wetDir = writeWet(0, "2026-08-01")
    val wetDirSep = writeWet(1, "2026-09-01")

    case class Drop(mix: ListMap[String, Long], gated: DataFrame,
                    lded: DataFrame,
                    picked: DataFrame)
    def composed(wet: String, docIdx: String, lineIdx: String,
                 snapshotId: String): Drop = {
      val framed = graft.operators.WarcIngest
        .wetDocuments(spark.read.parquet(wet), "raw")
        .withColumn("doc_id",
          regexp_extract(col("url"), "/p/(\\d+)", 1).cast("long"))
        .select("doc_id", "url", "text")
      val front = U.dropBlockedHosts(framed, "url",
          Seq("site13.com", "site404.com"))
        .withColumn("reg_host", U.registrableHost(col("url")))
        .filter(col("reg_host") =!= "")
      // docs last month already holds never reach the expensive stages
      val dec = D.dedupAgainstIndex(front.select("doc_id", "text"),
        "doc_id", "text", docIdx, snapshotId)
      val keep = front.join(dec.filter(col("verdict") === "keep")
        .select(col("id").as("doc_id")), Seq("doc_id"))
      // the gates judge what survives the scrub, not banners
      val gated = T.repetitionSignals(
          T.gopherQuality(
            D.scrubBoilerplateLines(keep, "doc_id", "reg_host", "text",
              minDocs = 3),
            "cleaned", minWords = 5, minStopwords = 1),
          "cleaned")
        .filter(col("gopher_pass") && col("rep_pass"))
        .select("doc_id", "cleaned")
      val lded = D.dedupLinesAgainstIndex(gated, "doc_id", "cleaned",
          lineIdx, snapshotId)
        .select(col("doc_id"), col("n_kept_lines"), col("deduped"))
      val withLang = lded.withColumn("lang_id", T.langId(col("deduped")))
      val scored = T.ngramLmScoreWithModel(modelDir, withLang, "doc_id",
        "deduped", langCol = Some("lang_id"))
      val picked = T.perplexityBuckets(scored.filter(col("ppl").isNotNull),
          "id", "ppl", Seq("lang"), k = 3, quota = Some(quota))
        .select(col("id").as("doc_id"))
        .join(withLang.select("doc_id", "deduped"), Seq("doc_id"))
      Drop(verdicts(dec), gated, lded, picked)
    }
    // warm lap against throwaway indexes, so the real probe and delta
    // write against the seeded history are first-time work
    composed(wetDir, tmp("graft-monthly-warmidx-"),
      tmp("graft-monthly-warmlines-"), "2026-08").picked.count()
    val (aug, augSec) = lap {
      val d = composed(wetDir, indexDir, lineIndexDir, "2026-08")
      (d, d.picked.count())
    }
    val (drop, nPicked) = aug
    // the no-rescan contract, on the plans: the gate segment reads the
    // WET snapshot, scoring consumes the pinned model read (a scan of
    // the checkpointed counts), and no segment reads the train corpus
    val gatePlan = drop.gated.queryExecution.executedPlan.toString
    val scorePlan = drop.picked.queryExecution.executedPlan.toString
    val readsWet = gatePlan.contains(wetDir)
    val readsModel = drop.picked.queryExecution.optimizedPlan.collect {
      case r: LogicalRDD => r.output.map(_.name)
    }.contains(Seq("h", "c", "lang", "k"))
    val rescans = Seq(gatePlan, scorePlan).exists(_.contains("documents.parquet"))
    require(readsModel && readsWet && !rescans,
      s"monthly plans must read the pinned model and the snapshot only: " +
        s"model=$readsModel wet=$readsWet corpusRescan=$rescans")
    // per-stage rows, untimed. Every front-door row got a verdict, and
    // the pinned line-dedup output has one row per gated doc
    val nFramed = graft.operators.WarcIngest
      .wetDocuments(spark.read.parquet(wetDir), "raw").count()
    val lines = drop.lded.agg(count(lit(1)),
      coalesce(sum(col("n_kept_lines")), lit(0L))).head()
    val nKept = drop.mix("keep")
    val nGated = lines.getLong(0)
    // between drops: offline compaction of both indexes
    val (_, compactSec) = lap {
      D.compactDedupIndex(spark, indexDir)
      D.compactDedupIndex(spark, lineIndexDir)
    }
    // September probes the indexes August grew (and compaction shrank)
    val (sep, sepSec) = lap {
      val d = composed(wetDirSep, indexDir, lineIndexDir, "2026-09")
      (d, d.picked.count())
    }
    ListMap("sf" -> sfDir, "quota" -> quota,
      "setup_train_save_sec" -> trainSec, "setup_index_seed_sec" -> seedSec,
      "monthly_sec" -> augSec,
      "rows" -> (ListMap("framed" -> nFramed,
        "front_door" -> drop.mix.values.sum) ++
        drop.mix ++ ListMap("gated" -> nGated,
          "deduped_lines" -> lines.getLong(1), "picked" -> nPicked)),
      "gate_kept_frac" -> (if (nKept == 0) 0.0 else nGated.toDouble / nKept),
      "intermonth_compaction_sec" -> compactSec,
      "september_sec" -> sepSec,
      "september_rows" -> (sep._1.mix ++ ListMap(
        "gated" -> sep._1.lded.count(), "picked" -> sep._2)),
      "plan_reads_model" -> readsModel, "plan_reads_snapshot" -> readsWet,
      "plan_rescans_train_corpus" -> rescans)
  }

  // ---- gsp -------------------------------------------------------------

  /** The HTTP graph-store import end to end: PUT an N-Triples body of
    * `copies` rdfized lineitem variants (per-copy subject namespaces, so
    * the triples are distinct) through a live Endpoint — transport,
    * spool, distributed parse, RID encode and store swap — `rounds`
    * times. A disk reading precedes every PUT; runs below `minMBps`
    * stay in the record but not in the gated floor. */
  private def gsp(spark: SparkSession, sfDir: String, copies: Int,
                  rounds: Int, minMBps: Double): Obj = {
    val ntPath = tmp("gsp_probe") + "/nt"
    val li = graft.core.Tables.t(spark, sfDir, "lineitem")
    (0 until copies).map { c =>
      val subj = concat(lit(s"<urn:li$c/"), col("l_orderkey"), lit("/"),
        col("l_linenumber"), lit(">"))
      li.select(concat(
        subj, lit(" <urn:p/part> <urn:part/"), col("l_partkey"),
        lit("> .\n"),
        subj, lit(" <urn:p/qty> \""), col("l_quantity"),
        lit("\"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n"),
        subj, lit(" <urn:p/flag> \""), col("l_returnflag"),
        lit("\" .")).as("line"))
    }.reduce(_ unionByName _).write.mode("overwrite").text(ntPath)
    val parts = new java.io.File(ntPath).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName)
    val bytes = parts.map(_.length).sum
    val triples = li.count() * 3 * copies

    def put(): Obj = {
      val dd = writeMBps()
      val store = graft.rdf.QuadStore.fromTerms(spark, Seq(
        (graft.rdf.Uri("urn:a"), graft.rdf.Uri("urn:p"), graft.rdf.Lit("x"))))
      val ep = new graft.http.Endpoint(spark, store, 0).start()
      try {
        val (code, sec) = lap {
          val conn = java.net.URI
            .create(s"http://localhost:${ep.boundPort}/data/?graph=urn:li")
            .toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
          conn.setRequestMethod("PUT")
          conn.setDoOutput(true)
          // 1 MB chunks: 64 KB chunked mode costs a flush per chunk
          conn.setChunkedStreamingMode(1 << 20)
          val os = conn.getOutputStream
          parts.foreach { f =>
            Files.copy(f.toPath, os)
            os.write('\n')
          }
          os.close()
          conn.getResponseCode
        }
        require(code == 201, s"PUT answered $code")
        // checked every run: a check on the first round only would hide
        // a run that breaks later
        val n = graft.sparql.Sparql.run(ep.store, spark,
          "SELECT ?s WHERE { ?s <urn:p/part> ?o }").count()
        require(n == triples / 3, s"expected ${triples / 3}, got $n")
        note(f"gsp: $sec%.1f s at dd $dd%.0f MB/s")
        ListMap("dd_mbps" -> dd, "healthy" -> (dd >= minMBps), "sec" -> sec)
      } finally {
        ep.stop()
        // drop the pinned store's blocks before the next run: the
        // references die with the endpoint; nudge the ContextCleaner
        System.gc()
        Thread.sleep(2000)
      }
    }
    val runs = Seq.fill(rounds)(put())
    def floor(rs: Seq[Obj]) = rs.map(_("sec").asInstanceOf[Double]).minOption
    ListMap("sf" -> sfDir, "triples" -> triples, "bytes" -> bytes,
      "rounds" -> rounds, "min_mbps_gate" -> minMBps, "runs" -> runs,
      "floor_sec" -> floor(runs),
      "gated_floor_sec" -> floor(runs.filter(_("healthy") == true)))
  }
}
