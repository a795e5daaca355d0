package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line for the driver (`BENCH_r{N}.json`).
  *
  * A warm-up pass touches each source table first so timings measure the
  * operator pipelines, not cold OS page cache / JIT. Each query then runs
  * THREE times and reports the best run, mirroring the reference
  * benchmark harness, which runs each query repeatedly and reports
  * best/worst/mean (`tests/benchmark/run.pl:47-80`) — the first run pays
  * one-time whole-stage-codegen compilation that a long-lived engine
  * amortizes away. Best-of-3 (was 2): the round-6 bench ran on a loaded
  * machine and a handful of sub-second queries (s05/s06/s07) absorbed
  * 3-11x noise spikes in BOTH of their two samples; a quiet re-run
  * reproduced the previous round's numbers exactly. One more sample
  * costs ~8s per bench run and makes a double-spike far less likely.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session(cpus, conf = Map(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.debug.maxToStringFields" -> "2000"))

    // a bad table or gate costs only the queries that touch it (-1 in
    // `queries`), never the whole run — but it says so: stderr now, and
    // the gate's exception under `errors` in the full line
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def failed(what: String, e: Throwable): Unit = {
      System.err.println(s"[bench] $what failed: $e")
      errors.getOrElseUpdate(what, e.toString)
    }
    graft.core.Tables.names.foreach { t =>
      // noop-write scans every column's data pages, not just the footer,
      // so timed runs never pay cold page-cache I/O
      try graft.core.Tables.t(spark, sfDir, t)
        .write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] table $t warm-up failed: $e") }
    }
    graft.queries.SparqlQueries.warm(spark, sfDir)
    // SPARK_GRAFT_ONLY: regex over query names for family rehearsals
    // (e.g. the sf10 dedup run) — a filtered run also skips the ingest
    // bench (it reads lineitem, which a family dataset may not carry)
    val onlyRe = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    def selected(name: String): Boolean =
      onlyRe.forall(_.findFirstIn(name).isDefined)
    // untimed pass over every query: pays Catalyst analysis, whole-stage
    // codegen compilation, and JIT once, so the timed runs below measure
    // the steady state a long-lived engine serves (the reference harness
    // likewise reports over repeated runs, `tests/benchmark/run.pl:47-80`)
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (selected(name))
        try fn(spark, sfDir).count()
        catch { case e: Throwable => failed(name, e) }
    }
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(t => selected(t._1)).map {
      case (name, fn) =>
        // INSTRUMENT CAVEAT (r10 finding, kept for cross-round
        // comparability): count() lets Catalyst prune any deterministic
        // projection that cannot change the row count, so MAP-ONLY
        // gates time the scan floor, not the operator's evaluation
        // (measured: p49 count 0.45 s vs noop-write 3.1 s at sf0.1).
        // Shuffling/aggregating/joining gates — everything the verdicts'
        // perf analysis leans on — evaluate fully either way, and the
        // map-only family's real costs are carried by Verify's parquet
        // writes and the scale probes (SCALE_REHEARSAL.md). Switching
        // to a noop-write action would be the honest per-gate number at
        // the cost of a level shift across every prior BENCH_r*.json
        // (it also pays each gate's Verify-determinism orderBy); do it
        // only at a round boundary with the shift documented.
        def once(): Double = {
          val t0 = System.nanoTime()
          try { fn(spark, sfDir).count() }
          catch { case e: Throwable => failed(name, e); return -1.0 }
          (System.nanoTime() - t0) / 1e9
        }
        val samples = Iterator.continually(once()).take(3).toSeq
        // a transient later-run failure must not discard a valid timing;
        // all-failed reports -1 like before
        val ok = samples.filter(_ >= 0)
        name -> (if (ok.isEmpty) Seq(-1.0) else ok.sorted)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.head }
      .mkString("{", ",", "}")
    // per-query [min, median, max] of the 3 samples: this box's noise
    // floor swings sub-second queries ±10% and I/O-heavy numbers ±30%
    // between same-code runs (r8–r10 observations), so the judge's
    // drift adjudication needs the spread, not just the point estimate
    val spread = results.map { case (k, v) =>
      val med = v(v.size / 2)
      f""""$k":[${v.head}%.4f,$med%.4f,${v.last}%.4f]"""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.head).sum
    val ingest = if (onlyRe.isDefined) "" else ingestBench(spark, sfDir)
    val errs = errors.map { case (k, v) =>
      s""""$k":"${graft.sinks.Results.jsonEscape(v)}""""
    }.mkString("{", ",", "}")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"spread":$spread,"errors":$errs,$ingest"sf":"$sfDir"}"""
    println(fullLine)
    // r18 (VERDICT_r17 item 1): the driver captures only a ~2000-char
    // stdout TAIL, which the full line above (~10 KB at 130 queries) has
    // never fit — every BENCH_r*.json r01-r17 has parsed:null and the
    // per-query PERF comparison has been empty for 17 rounds. The full
    // line still prints (and is written verbatim to a sidecar file);
    // the LAST line is a COMPACT JSON with the same contract keys
    // (metric/value/unit/queries/sf) sized to fit the capture window:
    // `queries` carries the slowest gates (real names, best-of-3 secs)
    // up to a serialized-length budget, `families` the per-prefix sums
    // over ALL gates, `full` the sidecar path with every per-query
    // number. Point estimates are identical to the full line's.
    val sidecar = java.nio.file.Paths.get("BENCH_FULL.json").toAbsolutePath
    try java.nio.file.Files.write(sidecar,
      (fullLine + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] sidecar write failed: $e") }
    val families = results.groupBy(_._1.take(1)).toSeq.sortBy(_._1)
      .map { case (f, rs) => f""""$f":${rs.map(_._2.head).sum}%.4f""" }
      .mkString("{", ",", "}")
    val head = f"""{"metric":"total","value":$total%.4f,"unit":"sec","compact":true,"n_queries":${results.size},"families":$families,$ingest"full":"$sidecar","sf":"$sfDir","queries":{"""
    val tail = "}}"
    // 1300 chars of JSON + sbt's "[info] " prefix + the trailing
    // "[success] ..." line must all fit the ~2000-char capture tail
    val budget = 1300 - head.length - tail.length
    val slowest = results.sortBy(-_._2.head)
      .map { case (k, v) => f""""$k":${v.head}%.4f""" }
    val picked = new StringBuilder
    slowest.foreach { e =>
      val add = (if (picked.nonEmpty) 1 else 0) + e.length
      if (picked.length + add <= budget) {
        if (picked.nonEmpty) picked.append(",")
        picked.append(e)
      }
    }
    println(head + picked + tail)
    spark.stop()
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
  private[graft] def ingestBench(spark: SparkSession, sfDir: String): String =
    try {
      import org.apache.spark.sql.functions._
      val dir = java.nio.file.Files.createTempDirectory("graft_ingest")
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
      Seq("bench_ingest_quads", "bench_ingest_resources").foreach { tn =>
        spark.sql(s"DROP TABLE IF EXISTS $tn")
        val loc = new java.io.File(wh, tn)
        if (loc.exists()) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(loc.toPath).iterator().asScala.toSeq
            .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
        }
      }
      // quiesce before timing: the query pass above leaves every gate
      // store cached in the 8g heap; import throughput should measure
      // the ingest pipeline, not old-gen GC against unrelated caches
      spark.catalog.clearCache()
      System.gc()
      var n = 0L
      def once(): Double = {
        Seq("bench_ingest_quads", "bench_ingest_resources").foreach { tn =>
          spark.sql(s"DROP TABLE IF EXISTS $tn")
          val loc = new java.io.File(wh, tn)
          if (loc.exists()) {
            import scala.jdk.CollectionConverters._
            java.nio.file.Files.walk(loc.toPath).iterator().asScala.toSeq
              .reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
          }
        }
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
      val rs = runs.map(r => f"$r%.3f").mkString("[", ",", "]")
      f""""ingest_triples":$n,"ingest_sec":$sec%.3f,"ingest_tps":${n / sec}%.0f,"ingest_sec_runs":$rs,"""
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] ingest bench failed: $e")
        ""
    }
}
