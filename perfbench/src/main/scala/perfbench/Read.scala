package perfbench

import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, concat, lit}
import graft.http.Endpoint
import graft.rdf.QuadStore
import graft.sinks.Results
import graft.sparql.{Parser, Sparql}

/** One generated SPARQL request. */
final case class Req(id: Int, template: String, text: String,
                     repeat: Boolean, expected: Expected)

/** The read workload's answer model: the source tables collected through
  * plain Spark SQL over the generated parquet (never through the SPARQL
  * path), with every value cast to the lexical form the direct mapping
  * stores. */
final class ReadModel(spark: SparkSession, dir: String) {
  import ReadModel._

  private def sql(q: String) = spark.sql(q).collect().toSeq
  Seq("customer", "orders", "part", "nation").foreach(t =>
    spark.read.parquet(s"$dir/$t.parquet").createOrReplaceTempView(t))

  val custs: IndexedSeq[Cust] = sql(
    """SELECT c_custkey, c_name, c_nationkey, CAST(c_acctbal AS STRING),
      |c_mktsegment FROM customer ORDER BY c_custkey""".stripMargin)
    .map(r => Cust(r.getLong(0), r.getString(1), r.getInt(2), r.getString(3),
      r.getString(4))).toIndexedSeq
  val orders: IndexedSeq[Ord] = sql(
    """SELECT o_orderkey, o_custkey, o_orderstatus,
      |CAST(o_totalprice AS STRING), o_totalprice,
      |CAST(o_orderdate AS STRING), o_orderpriority
      |FROM orders ORDER BY o_orderkey""".stripMargin)
    .map(r => Ord(r.getLong(0), r.getLong(1), r.getString(2), r.getString(3),
      r.getDouble(4), r.getString(5), r.getString(6))).toIndexedSeq
  val parts: IndexedSeq[Part] = sql(
    "SELECT p_partkey, p_name, p_size FROM part ORDER BY p_partkey")
    .map(r => Part(r.getLong(0), r.getString(1), r.getInt(2))).toIndexedSeq
  val nationRegion: Map[Int, Int] = sql(
    "SELECT n_nationkey, n_regionkey FROM nation")
    .map(r => r.getInt(0) -> r.getInt(1)).toMap

  val custsByNation: Map[Int, Seq[Cust]] =
    custs.groupBy(_.nation).withDefaultValue(Nil)
  val ordersByCust: Map[Long, Seq[Ord]] =
    orders.groupBy(_.cust).withDefaultValue(Nil)
}

object ReadModel {
  final case class Cust(key: Long, name: String, nation: Int, bal: String,
                        seg: String)
  final case class Ord(key: Long, cust: Long, status: String, tp: String,
                       tpD: Double, date: String, prio: String)
  final case class Part(key: Long, name: String, size: Int)
}

/** The seeded request stream: a weighted mix of the engine's s01–s18
  * query shapes with seed-drawn constants. Half of the requests repeat an
  * earlier text; the rest draw fresh constants from a space of many
  * thousands of texts. A run sends only tens of distinct texts, so the
  * 1024-entry plan cache never evicts during a run. */
final class ReadMix(m: ReadModel, seed: Long) {
  private val r = new SplittableRandom(seed * 6364136223846793005L + 11)
  private val issued = ArrayBuffer.empty[(String, String, Expected)]
  private var n = 0

  private val P = "urn:p:"
  private def pick[A](xs: Seq[A]): A = xs(r.nextInt(xs.size))
  private def threshold: Int = 50000 * (1 + r.nextInt(8))

  private val templates: Seq[(String, Int, () => (String, Expected))] = Seq(
    ("lookup", 2, () => {
      val c = pick(m.custs)
      (s"""SELECT ?name ?bal WHERE { <urn:t:customer:${c.key}>
          | <${P}customer:c_name> ?name ;
          | <${P}customer:c_acctbal> ?bal }""".stripMargin,
        Expected(Seq(Seq(c.name, c.bal))))
    }),
    ("ask", 1, () => {
      val c = pick(m.custs)
      val seg = if (r.nextBoolean()) c.seg else pick(Inputs.segments)
      (s"""ASK { <urn:t:customer:${c.key}> <${P}customer:c_mktsegment>
          | "$seg" }""".stripMargin,
        Expected(Seq(Seq((seg == c.seg).toString))))
    }),
    ("describe", 1, () => {
      val o = pick(m.orders)
      val po = Seq("o_orderkey" -> o.key.toString,
        "o_custkey" -> o.cust.toString, "o_orderstatus" -> o.status,
        "o_totalprice" -> o.tp, "o_orderdate" -> o.date,
        "o_orderpriority" -> o.prio)
      (s"DESCRIBE <urn:t:orders:${o.key}>",
        Expected(po.map { case (p, v) =>
          Seq(s"urn:t:orders:${o.key}", s"${P}orders:$p", v) }))
    }),
    ("star", 1, () => {
      val nk = r.nextInt(25); val x = threshold
      (s"""SELECT ?cname ?tp WHERE {
          | ?c <${P}customer:c_nationkey> $nk ;
          |    <${P}customer:c_custkey> ?ck ; <${P}customer:c_name> ?cname .
          | ?o <${P}orders:o_custkey> ?ck ; <${P}orders:o_totalprice> ?tp .
          | FILTER(?tp > $x) }""".stripMargin,
        Expected(for {
          c <- m.custsByNation(nk); o <- m.ordersByCust(c.key) if o.tpD > x
        } yield Seq(c.name, o.tp)))
    }),
    ("optional", 1, () => {
      val nk = r.nextInt(25); val x = threshold
      (s"""SELECT ?cname ?tp WHERE {
          | ?c <${P}customer:c_nationkey> $nk ;
          |    <${P}customer:c_custkey> ?ck ; <${P}customer:c_name> ?cname .
          | OPTIONAL { ?o <${P}orders:o_custkey> ?ck ;
          |    <${P}orders:o_totalprice> ?tp . FILTER(?tp > $x) } }""".stripMargin,
        Expected(m.custsByNation(nk).flatMap { c =>
          val os = m.ordersByCust(c.key).filter(_.tpD > x)
          if (os.isEmpty) Seq(Seq(c.name, "")) else os.map(o => Seq(c.name, o.tp))
        }))
    }),
    ("minus", 1, () => {
      val nk = r.nextInt(25); val x = threshold
      (s"""SELECT ?cname WHERE {
          | ?c <${P}customer:c_nationkey> $nk ;
          |    <${P}customer:c_custkey> ?ck ; <${P}customer:c_name> ?cname .
          | MINUS { ?o <${P}orders:o_custkey> ?ck ;
          |    <${P}orders:o_totalprice> ?tp . FILTER(?tp > $x) } }""".stripMargin,
        Expected(m.custsByNation(nk)
          .filterNot(c => m.ordersByCust(c.key).exists(_.tpD > x))
          .map(c => Seq(c.name))))
    }),
    ("group", 1, () => {
      val nk = r.nextInt(25)
      (s"""SELECT ?seg (COUNT(?c) AS ?n) WHERE {
          | ?c <${P}customer:c_nationkey> $nk ;
          |    <${P}customer:c_mktsegment> ?seg } GROUP BY ?seg""".stripMargin,
        Expected(m.custsByNation(nk).groupBy(_.seg).toSeq
          .map { case (s, cs) => Seq(s, cs.size.toString) }))
    }),
    ("orderlimit", 1, () => {
      val st = pick(Inputs.statuses); val pr = pick(Inputs.priorities)
      val lim = 3 + r.nextInt(10)
      (s"""SELECT ?ok ?tp WHERE {
          | ?o <${P}orders:o_orderstatus> "$st" ;
          |    <${P}orders:o_orderpriority> "$pr" ;
          |    <${P}orders:o_orderkey> ?ok ; <${P}orders:o_totalprice> ?tp }
          | ORDER BY DESC(?tp) ?ok LIMIT $lim""".stripMargin,
        Expected(m.orders.filter(o => o.status == st && o.prio == pr)
          .sortBy(o => (-o.tpD, o.key)).take(lim)
          .map(o => Seq(o.key.toString, o.tp)), ordered = true))
    }),
    ("regex", 1, () => {
      val size = 1 + r.nextInt(50); val pfx = pick(Inputs.colors)
      (s"""SELECT ?pname WHERE { ?p <${P}part:p_size> $size ;
          | <${P}part:p_name> ?pname . FILTER(REGEX(?pname, "^$pfx")) }""".stripMargin,
        Expected(m.parts.filter(p => p.size == size && p.name.startsWith(pfx))
          .map(p => Seq(p.name))))
    }),
    ("path", 1, () => {
      val c = pick(m.custs)
      (s"SELECT ?dst WHERE { <urn:t:customer:${c.key}> <urn:p:locIn>+ ?dst }",
        Expected(Seq(Seq(s"urn:t:nation:${c.nation}"),
          Seq(s"urn:t:region:${m.nationRegion(c.nation)}"))))
    }),
    ("subselect", 1, () => {
      val nk = r.nextInt(25)
      (s"""SELECT ?cname ?cnt WHERE {
          | ?c <${P}customer:c_nationkey> $nk ;
          |    <${P}customer:c_name> ?cname ; <${P}customer:c_custkey> ?ck .
          | { SELECT ?ck (COUNT(?o) AS ?cnt) WHERE {
          |     ?o <${P}orders:o_custkey> ?ck } GROUP BY ?ck } }""".stripMargin,
        Expected(m.custsByNation(nk).filter(c => m.ordersByCust(c.key).nonEmpty)
          .map(c => Seq(c.name, m.ordersByCust(c.key).size.toString))))
    }))

  /** Texts this template family can produce (for the workload record). */
  def textSpace: Long = {
    val c = m.custs.size.toLong; val o = m.orders.size.toLong
    c + 2 * c + o + 3 * 25 * 8 + 25 + 15 * 10 + 50 * Inputs.colors.size + c + 25
  }

  /** Fresh texts cycle through the templates in a fixed order (each as
    * many times as its weight), so every stretch of the stream has the
    * same mix whatever the seed; the seed draws the constants. Every
    * second request repeats the fresh text issued `lag` fresh texts
    * earlier. */
  private val order = templates.indices.flatMap(i => Seq.fill(templates(i)._2)(i))
  private val lag = 3

  def next(): Req = synchronized {
    n += 1
    if (n % 2 == 0 && issued.nonEmpty) {
      val (t, text, e) = issued(math.max(0, issued.size - lag))
      Req(n, t, text, repeat = true, e)
    } else {
      val (name, _, f) = templates(order(issued.size % order.size))
      val (text, e) = f()
      issued += ((name, text, e))
      Req(n, name, text, repeat = false, e)
    }
  }

  def distinctIssued: Int = synchronized(issued.map(_._2).distinct.size)
}

/** `sparql_read`: the HTTP `/sparql/` endpoint over an in-memory pinned
  * store of six direct-mapped tables plus a `locIn` hierarchy, queried by
  * one client waiting for each reply; the traced run adds a saturation
  * phase with one client per core. */
final class ReadWorkload(spark: SparkSession, conf: Conf, rep: Report,
                         obs: OpListener) extends Workload {
  private val dir = s"${conf.work}/data"
  private val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders")
  private var model: ReadModel = _
  private var store: QuadStore = _
  private var ep: Endpoint = _
  private def base = s"http://localhost:${ep.boundPort}"

  /** The `locIn` edges customer → nation → region as one graph. */
  private def locStore(): QuadStore = {
    def edge(t: String, sPfx: String, sCol: String, oPfx: String,
             oCol: String) =
      spark.read.parquet(s"$dir/$t.parquet").select(
        lit("urn:g:loc").as("gLex"), lit(1).as("sKind"),
        concat(lit(sPfx), col(sCol)).as("sLex"),
        lit("urn:p:locIn").as("pLex"), lit(1).as("oKind"),
        concat(lit(oPfx), col(oCol)).as("oLex"),
        lit("").as("oDt"), lit("").as("oLang"))
    QuadStore.fromFlat(spark,
      edge("customer", "urn:t:customer:", "c_custkey", "urn:t:nation:",
        "c_nationkey")
        .unionByName(edge("nation", "urn:t:nation:", "n_nationkey",
          "urn:t:region:", "n_regionkey")))
  }

  def setup(): Seq[Double] = {
    val m0 = nowMs
    model = new ReadModel(spark, dir)
    rep.info("model_s") = (nowMs - m0) / 1000
    // one build: a second costs as much as the run's measuring time
    val t0 = nowMs
    store = QuadStore.rdfizeDir(spark, dir, tables).union(locStore())
      .pinned()
    val buildS = (nowMs - t0) / 1000
    // warm-up: 2 requests (a fresh text and its repeat) on constants the
    // timed phase's seed does not draw from
    val t1 = nowMs
    ep = new Endpoint(spark, store, 0, workerThreads = conf.cpus).start()
    val warm = new ReadMix(model, conf.seed + 1000003)
    (1 to 2).foreach(_ => Http.sparql(base, warm.next().text))
    val warmS = (nowMs - t1) / 1000
    rep.info("store_build_s") = buildS
    rep.info("warm_up_s") = warmS
    val quads = store.quads.count()
    val mem = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum
    rep.info("store") = Map("quads" -> quads, "in_memory_bytes" -> mem,
      "customers" -> model.custs.size, "orders" -> model.orders.size,
      "parts" -> model.parts.size)
    Seq(buildS + warmS)
  }

  /** `clients` closed-loop clients sending the mix's next request as soon
    * as their previous one is answered, for `seconds`. Returns every
    * answer received inside the window as (request, response, sent ms,
    * answered ms). */
  private def closedLoop(mix: ReadMix, clients: Int, seconds: Double)
      : Seq[(Req, Http.Resp, Double, Double)] = {
    val done = new ConcurrentLinkedQueue[(Req, Http.Resp, Double, Double)]()
    val end = nowMs + seconds * 1000
    val ts = (1 to clients).map { _ =>
      new Thread(() => {
        while (nowMs < end) {
          val q = mix.next()
          val s = nowMs
          val resp =
            try Http.sparql(base, q.text)
            catch { case e: Exception =>
              rep.fail(s"read#${q.id}:${q.template}", e); null }
          val t = nowMs
          // a failed request counts whenever it ends
          if (t <= end || resp == null) done.add((q, resp, s, t))
        }
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    done.asScala.toSeq.sortBy(_._1.id)
  }

  /** `--corrupt-expected`: the first answer checked is compared with a
    * perturbed expectation (the self-test's proof that checks bite). */
  private var corruptNext = conf.corrupt

  /** Check every answer; returns the ids of the requests answered
    * correctly. */
  private def checkAll(rs: Seq[(Req, Http.Resp)]): Set[Int] = {
    val ok = mutable.Set.empty[Int]
    rs.foreach { case (q, resp) =>
      rep.attempt()
      val op = s"read#${q.id}:${q.template}"
      if (resp == null) ()
      else if (resp.status != 200)
        rep.failures.synchronized(rep.failures += Failure(op,
          s"HttpStatus${resp.status}", resp.body.take(500)))
      else if (Answers.streamError(resp.body).isDefined)
        rep.failures.synchronized(rep.failures += Failure(op, "StreamError",
          Answers.streamError(resp.body).get))
      else Answers.check(
        if (corruptNext) {
          corruptNext = false
          q.expected.copy(rows = q.expected.rows :+ Seq("corrupted"))
        } else q.expected,
        resp.body) match {
        case None => ok += q.id
        case Some(msg) => rep.wrong(op, s"${q.text.take(160)}: $msg")
      }
    }
    ok.toSet
  }

  /** One client waiting for each reply, for the whole run. Four clients
    * (the saturation phase of the traced run) varied 1.7–2.8 answers/s
    * between runs of one build on a 4-vCPU box, too wide for the bound;
    * one client's service times hold within about 15%. */
  def measure(): Unit = {
    val mix = new ReadMix(model, conf.seed)
    val t0 = nowMs
    val lat = closedLoop(mix, 1, conf.seconds)
    val ok = checkAll(lat.map(x => (x._1, x._2)))
    // only correct answers are timed
    val ms = lat.filter(x => ok(x._1.id)).map(x => x._4 - x._3)
    val (tail, pct, n) = Stats.tail(ms)
    rep.e2e("op_p50_ms") = Stats.median(ms)
    rep.e2e("op_tail_ms") = tail
    rep.info("op_tail") = Map("percentile" -> pct, "n" -> n)
    // correct answers per second up to the last answer inside the window
    val last = lat.map(_._4).maxOption.getOrElse(nowMs)
    rep.e2e("throughput_per_s") = ok.size / ((last - t0) / 1000)
    val reqs = lat.map(_._1)
    rep.info("requests") = Map(
      "sent" -> reqs.size,
      "distinct_texts" -> mix.distinctIssued,
      "repeat_share" -> reqs.count(_.repeat).toDouble / reqs.size.max(1),
      "plan_cache_entries" -> 1024,
      "text_space" -> mix.textSpace,
      "by_template" -> reqs.groupBy(_.template).map { case (k, v) =>
        k -> Map("n" -> v.size, "p50_ms" -> Stats.median(
          lat.filter(x => x._1.template == k && ok(x._1.id))
            .map(x => x._4 - x._3))) })
  }

  /** One client sending each request over HTTP and replaying it
    * in-process on `st` right after or right before, alternating which
    * goes first, so that neither side always runs the warmer second call.
    * Returns (request, response, HTTP ms, in-process ms, HTTP first). */
  private def pairedLoop(mix: ReadMix, st: QuadStore, seconds: Double)
      : Seq[(Req, Http.Resp, Double, Double, Boolean)] = {
    val out = ArrayBuffer.empty[(Req, Http.Resp, Double, Double, Boolean)]
    val end = nowMs + seconds * 1000
    while (nowMs < end) {
      val q = mix.next()
      val httpFirst = out.size % 2 == 0
      def timed[A](f: => A): (A, Double) = { val s = nowMs; val a = f; (a, nowMs - s) }
      def http() = timed(
        try Http.sparql(base, q.text)
        catch { case e: Exception =>
          rep.fail(s"read#${q.id}:${q.template}", e); null })
      def local() = timed(inProcess(st, q.text))._2
      val ((resp, h), l) =
        if (httpFirst) { val x = http(); (x, local()) }
        else { val l = local(); (http(), l) }
      out += ((q, resp, h, l, httpFirst))
    }
    out.toSeq
  }

  def traced(): Unit = {
    val sc = spark.sparkContext
    // the latency phase's requests over HTTP, each paired with its
    // in-process replay on a fresh store instance (a new instance starts
    // with an empty plan cache, as the endpoint's did)
    val stA = store.copy(); stA.dtUriMap
    val paired = pairedLoop(new ReadMix(model, conf.seed), stA,
      conf.seconds * 0.5)
    val okIds = checkAll(paired.map(x => (x._1, x._2)))
    rep.layer("loadgen.sent") = paired.size
    // saturation: one client per core, back to back
    val t0 = nowMs
    val sat = closedLoop(new ReadMix(model, conf.seed + 1), conf.cpus,
      conf.seconds * 0.3)
    val ok = checkAll(sat.map(x => (x._1, x._2)))
    val last = sat.map(_._4).maxOption.getOrElse(nowMs)
    rep.layer("loadgen.saturation_qps") = ok.size / ((last - t0) / 1000)
    val reqs = paired.map(_._1)
    def untracedPass(): Seq[Double] = {
      val st = store.copy(); st.dtUriMap
      reqs.map { q =>
        val s = nowMs
        inProcess(st, q.text)
        nowMs - s
      }
    }
    val tracer = new Tracer
    val stB = store.copy(); stB.dtUriMap
    val phases = mutable.Map.empty[String, Map[String, (Double, Double)]]
    val rows = mutable.Map.empty[String, Long]
    val seen = mutable.Set.empty[String]
    val firstReq = mutable.Set.empty[String]
    reqs.foreach { q =>
      val id = s"r${q.id}"
      if (seen.add(q.text)) firstReq += id
      OpListener.tagged(sc, id) {
        tracer.request(id) {
          tracer.span("parser")(Parser.parse(q.text))
          val df = tracer.span("sparql")(Sparql.runNt(stB, spark, q.text))
          tracer.span("catalyst")(df.queryExecution.executedPlan)
          phases(id) = df.queryExecution.tracker.phases.map { case (k, v) =>
            k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
          val w = new java.io.StringWriter()
          tracer.span("results")(Results.writeJson(df, w))
          rows(id) = Answers.rows(w.toString).size
        }
      }
    }
    OpListener.drain(sc)
    val works = reqs.map(q => s"r${q.id}").map(id => id -> obs.take(id)).toMap
    attach(tracer, works, phases.toMap)
    // the paired replay before the traced pass and a second untraced pass
    // after it, so warm-up does not count against either side of the
    // tracing overhead
    val untracedMs = (paired.map(_._4).sum + untracedPass().sum) / 2
    layerMetrics(tracer, works, firstReq.toSet, rows.toMap, untracedMs)
    // HTTP minus in-process per correctly answered request: the median
    // of each order, averaged
    val byOrder = paired.filter(x => okIds(x._1.id)).groupBy(_._5)
      .map { case (httpFirst, g) =>
        (if (httpFirst) "http_first" else "in_process_first") ->
          Stats.median(g.map(x => x._3 - x._4)) }
    rep.layer("http.overhead_ms_p50") = byOrder.values.sum / byOrder.size.max(1)
    rep.info("http_overhead_ms_p50_by_order") = byOrder
    rep.info("traced_requests") = reqs.size
    // the ingest and update layers do no work in this workload; a small
    // durable round after the read passes measures them in traced runs
    new DurableProbe(spark, conf, rep, obs).run(tracer)
    tracer.write(s"${conf.work}/spans.json")
  }

  /** What the endpoint does for one `/sparql/` request, minus HTTP. */
  private def inProcess(st: QuadStore, text: String): Unit = {
    Parser.parse(text)
    val df = Sparql.runNt(st, spark, text)
    Results.writeJson(df, new java.io.StringWriter())
  }

  /** Listener job spans and Catalyst phase spans become children of the
    * innermost benchmark span that contains them. */
  private def attach(tracer: Tracer, works: Map[String, OpWork],
                     phases: Map[String, Map[String, (Double, Double)]]): Unit = {
    val byReq = tracer.spans.groupBy(_.req)
    def parentOf(req: String, s: Double, e: Double): Int =
      byReq.getOrElse(req, Nil).filter(p => p.startMs <= s + 1 && p.endMs >= e - 1)
        .sortBy(_.durMs).headOption.map(_.id).getOrElse(-1)
    works.foreach { case (req, w) =>
      w.jobSpans.foreach { case (_, s, e) =>
        tracer.add(parentOf(req, s, e), req, "exec.job", s, e) }
    }
    phases.foreach { case (req, ph) =>
      ph.foreach { case (name, (s, e)) =>
        if (name != "parsing")
          tracer.add(parentOf(req, s, e), req, s"catalyst.$name", s, e)
      }
    }
  }

  private def layerMetrics(tracer: Tracer, works: Map[String, OpWork],
                           first: Set[String], rows: Map[String, Long],
                           untracedMs: Double): Unit = {
    val spans = tracer.spans.toSeq
    def durs(name: String, keep: Span => Boolean = _ => true) =
      spans.filter(s => s.name == name && keep(s)).map(_.durMs)
    val ops = works.size.max(1)
    rep.layer("parser.parse_ms_p50") = Stats.median(durs("parser"))
    rep.layer("sparql.build_ms_p50_first") =
      Stats.median(durs("sparql", s => first(s.req)))
    rep.layer("sparql.build_ms_p50_repeat") =
      Stats.median(durs("sparql", s => !first(s.req)))
    rep.layer("sparql.repeat_share") = 1.0 - first.size.toDouble / ops
    Seq("analysis", "optimization", "planning").zip(
      Seq("analysis", "optimize", "plan")).foreach { case (ph, short) =>
      rep.layer(s"catalyst.${short}_ms_p50") = Stats.median(durs(s"catalyst.$ph"))
    }
    val self = tracer.selfMs()
    val execPerOp = spans.filter(_.name == "exec.job").groupBy(_.req)
      .map(_._2.map(_.durMs).sum).toSeq
    rep.layer("exec.ms_p50") = Stats.median(execPerOp)
    val resSelf = spans.filter(_.name == "results").map { s =>
      val kids = spans.filter(k => k.parent == s.id).map(_.durMs).sum
      s.durMs - kids
    }
    rep.layer("results.serialize_ms_p50") = Stats.median(resSelf)
    Layers.execMetrics(rep, works.values.toSeq, rows.values.sum,
      tracer.spans.filter(_.name == "op").map(_.durMs).sum, conf.cpus)
    Layers.selfTimes(rep, self, ops)
    val tracedMs = spans.filter(_.name == "op").map(_.durMs).sum
    rep.layer("trace.overhead_share") = (tracedMs - untracedMs) / untracedMs
  }

  override def close(): Unit = if (ep != null) ep.stop()
}
