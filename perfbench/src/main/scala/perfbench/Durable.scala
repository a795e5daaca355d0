package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import graft.rdf.QuadStore
import graft.sparql.{Sparql, Update}
import graft.streaming.StreamIngest

/** One durable write: its SPARQL Update text and the read-your-write ASK
  * that must answer `askTrue` once it is applied. */
final case class WriteOp(id: Int, kind: String, update: String, ask: String,
                         askTrue: Boolean)

/** The durable ingest and update layers, which the read workload itself
  * never touches: a seeded N-Triples bulk load (`fromNTriples` →
  * `saveBucketed` → `loadBucketed`, verified by count) and six durable
  * updates, each followed by a reload and a read-your-write ASK. A load
  * and the first two ops run untraced on one table to warm the paths,
  * then the load and all six ops traced on another; the traced run of
  * `sparql_read` reports the ingest.* and update.* metrics from this. */
final class DurableProbe(spark: SparkSession, conf: Conf, rep: Report,
                         obs: OpListener) {
  private def nowMs: Double = System.nanoTime() / 1e6
  private val dir = s"${conf.work}/data"
  private val loadPath = s"$dir/load.nt"
  private val lines = Inputs.ntriples(dir)
  private val inputBytes = Files.size(Paths.get(loadPath))
  private val warehouse = Paths.get(s"${conf.work}/warehouse")

  /** Line-item triples per order key. */
  private val byOrder: Map[Int, Seq[String]] = lines
    .filter(_.startsWith("<urn:l:"))
    .groupBy(l => "<urn:l:(\\d+)".r.findPrefixMatchOf(l).get.group(1).toInt)
  private val nOrders = byOrder.keys.max

  /** insert, range delete, insert (the bulk form of a `/data/` post),
    * range delete, delete of the first insert, insert. A range delete
    * removes every line item of ~1/12 of the orders. */
  private def ops(): Seq[WriteOp] = {
    val r = new SplittableRandom(conf.seed * 2862933555777941757L + 13)
    val span = math.max(2, nOrders / 12)
    def order = 1 + r.nextInt(nOrders)
    def note(i: Int, p: String) =
      s"""<urn:o:$order> <urn:p:o:$p> "$p${conf.seed}-$i-${r.nextInt(1 << 30)}" ."""
    def askOf(line: String) = s"ASK { ${line.stripSuffix(" .")} }"
    def insert(i: Int, p: String, n: Int) = {
      val ls = (1 to n).map(_ => note(i, p))
      WriteOp(i, "insert", s"INSERT DATA { ${ls.mkString(" ")} }",
        askOf(ls.head), askTrue = true)
    }
    def rangeDelete(i: Int, a: Int) = WriteOp(i, "range_delete",
      s"""DELETE { ?l ?p ?o } WHERE { ?l <urn:p:l:okey> ?k ; ?p ?o .
         | FILTER(?k >= $a && ?k < ${a + span}) }""".stripMargin,
      s"ASK { ?l <urn:p:l:okey> ?k . FILTER(?k >= $a && ?k < ${a + span}) }",
      askTrue = false)
    val first = insert(1, "note", 1 + r.nextInt(4))
    val firstLine = first.update.stripPrefix("INSERT DATA { ")
      .takeWhile(_ != '.') + "."
    Seq(first,
      rangeDelete(2, 1),
      insert(3, "audit", 2 + r.nextInt(9)),
      rangeDelete(4, 1 + nOrders / 2),
      WriteOp(5, "delete", s"DELETE DATA { $firstLine }", askOf(firstLine),
        askTrue = false),
      insert(6, "note", 1 + r.nextInt(4)))
  }

  /** Bulk load: N-Triples → dictionary + RIDs → bucketed tables → reload,
    * verified by count. Returns the seconds it took. */
  private def load(table: String, tracer: Option[Tracer]): Double = {
    val t0 = nowMs
    tracer match {
      case None =>
        QuadStore.fromNTriples(spark, loadPath).saveBucketed(table)
      case Some(tr) =>
        // the same calls fromNTriples makes, one span per layer piece
        val flat = tr.span("ingest.parse") {
          val f = StreamIngest.parseNtLines(spark.read.textFile(loadPath))
            .cache()
          f.count(); f
        }
        val st = tr.span("ingest.dict") {
          val s = QuadStore.fromFlat(spark, flat)
          s.quads.write.format("noop").mode("overwrite").save()
          s.resources.write.format("noop").mode("overwrite").save()
          s
        }
        tr.span("ingest.save")(st.saveBucketed(table))
        flat.unpersist()
    }
    val n = tracer.fold(QuadStore.loadBucketed(spark, table).quads.count())(
      _.span("update.reload")(QuadStore.loadBucketed(spark, table).quads.count()))
    rep.attempt()
    if (n != lines.distinct.size)
      rep.wrong(s"load:$table", s"loaded $n quads from ${lines.distinct.size} triples")
    (nowMs - t0) / 1000
  }

  private def tableBytes(n: String): Long =
    Seq("quads", "resources", "dels").flatMap { t =>
      val d = warehouse.resolve(s"${n}_$t")
      if (!Files.isDirectory(d)) Nil
      else Files.walk(d).iterator().asScala.toSeq
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
    }.map((p: Path) => Files.size(p)).sum

  /** The engine calls behind one write, in-process: durable update, the
    * reload, and the read-your-write ASK on the new store instance. */
  private def inProcess(table: String, op: WriteOp, tr: Option[Tracer]): Unit = {
    def span[A](n: String)(f: => A): A = tr.fold(f)(_.span(n)(f))
    rep.attempt()
    val tag = s"$table:w${op.id}:${op.kind}"
    try {
      span("update.durable")(Update.durable(spark, table, op.update))
      val st = span("update.reload")(QuadStore.loadBucketed(spark, table))
      val got = span("sparql")(Sparql.runNt(st, spark, op.ask).collect())
        .headOption.map(_.getBoolean(0))
      if (!got.contains(op.askTrue))
        rep.wrong(tag, s"read-your-write ${op.ask}: expected ${op.askTrue}, got $got")
    } catch { case e: Exception => rep.fail(tag, e) }
  }

  /** Warm up on one bulk load, then apply the ops traced to another
    * (whose load is traced too); fills the ingest.* and update.* metrics
    * and the two layers' self times. */
  def run(tracer: Tracer): Unit = {
    val ops = this.ops()
    // an insert and a range delete warm both update paths; all six would
    // cost about 30 s of the run
    load("warm", None)
    ops.take(2).foreach(op => inProcess("warm", op, None))
    val loadS = tracer.request("load")(load("traced", Some(tracer)))
    val sc = spark.sparkContext
    val firstBuild = ArrayBuffer.empty[Double]
    ops.foreach { op =>
      val id = s"w${op.id}"
      OpListener.tagged(sc, id)(tracer.request(id)(inProcess("traced", op,
        Some(tracer))))
      tracer.last(id, "sparql").foreach(s => firstBuild += s.durMs)
    }
    OpListener.drain(sc)
    val ids = ops.map(op => s"w${op.id}").toSet
    ids.foreach { req =>
      val parent = tracer.last(req, "op").map(_.id).getOrElse(-1)
      obs.take(req).jobSpans.foreach { case (_, s, e) =>
        tracer.add(parent, req, "exec.job", s, e) }
    }
    val mine = (sp: Span) => sp.req == "load" || ids.contains(sp.req)
    def d(n: String) = tracer.spans.filter(s => s.name == n && mine(s))
      .map(_.durMs).toSeq
    rep.layer("ingest.parse_ms") = d("ingest.parse").sum
    rep.layer("ingest.dict_ms") = d("ingest.dict").sum
    rep.layer("ingest.save_ms") = d("ingest.save").sum
    rep.layer("ingest.bytes_written_per_input_byte") =
      tableBytes("traced").toDouble / inputBytes
    rep.layer("ingest.load_triples_per_s") = lines.size / loadS
    rep.layer("update.durable_ms_p50") = Stats.median(d("update.durable"))
    // the first reload belongs to the bulk load
    rep.layer("update.reload_ms_p50") = Stats.median(d("update.reload").drop(1))
    rep.layer("update.first_query_build_ms_p50") = Stats.median(firstBuild.toSeq)
    val self = tracer.selfMs(mine)
    Seq("ingest", "update").foreach { l =>
      rep.layer(s"self.${l}_ms_per_op") =
        self.filter(x => Layers.layerOf(x._1) == l).values.sum / ops.size
    }
  }
}
