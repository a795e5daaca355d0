package graft

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** A one-table sf dir and gates over it: one answers, one throws, one
  * aggregates a lazily pinned read. */
object ProbeSpec {
  lazy val sfDir: String = {
    val d = java.nio.file.Files.createTempDirectory("probe-sf").toString
    SparkTestBase.session.range(1000).selectExpr("id", "id % 7 AS k")
      .write.parquet(s"$d/t.parquet")
    d
  }
  val gates: Map[String, Probe.Gate] = Map(
    "g01_agg" -> ((s, d) =>
      s.read.parquet(s"$d/t.parquet").groupBy("k").count()),
    "g00_boom" -> ((_, _) =>
      throw new IllegalStateException("boom \"quoted\"\nsecond line")),
    "p01_pinned" -> ((s, d) => s.read.parquet(s"$d/t.parquet")
      .filter("k > 1").localCheckpoint(eager = false).groupBy("k").count()))
}

class ProbeSpec extends SparkTestBase {
  import ProbeSpec.{gates, sfDir}

  test("gates prints one parseable JSON line bracketed by dd/cpuRef " +
      "readings; a throwing gate records its exception, not -1") {
    val (line, out) = Probe.run(spark,
      Seq("gates", "^g0", sfDir, "--action", "both"), gates)
    assert(out.isEmpty)
    assert(!line.contains("\n"), "one line")
    val j = new ObjectMapper().readTree(line)
    assert(j.get("scenario").asText() == "gates")
    for (k <- Seq("dd_mbps_start", "cpu_ref_sec_start", "dd_mbps_end",
                  "cpu_ref_sec_end"))
      assert(j.get(k).isNumber && j.get(k).asDouble() > 0, k)
    val gs = j.get("gates")
    assert(gs.fieldNames().asScala.toSeq == Seq("g00_boom", "g01_agg"))
    val ok = gs.get("g01_agg")
    assert(ok.get("rows").asLong() == 7 && ok.has("digest"))
    for (a <- Seq("count", "noop")) {
      assert(ok.get(a).get("sec").size() == 1, a)
      assert(ok.get(a).get("jobs").asInt() >= 1, a)
      assert(ok.get(a).get("tasks").asInt() >= 1, a)
    }
    val err = gs.get("g00_boom").get("error").asText()
    assert(err.startsWith("java.lang.IllegalStateException: boom \"quoted\""),
      err)
    assert(!gs.get("g00_boom").has("rows"))
  }

  test("a gate's window holds only its own work, not the late events of " +
      "the untimed passes before it") {
    // a slow listener on the same bus holds back every event behind it,
    // so work that returned before a window opened still reports late
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(
          e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Thread.sleep(50)
    }
    val two: Map[String, Probe.Gate] = Map(
      "w1_wide" -> ((s, _) => s.range(0, 4000, 1, 40)
        .selectExpr("id % 13 AS k").groupBy("k").count()),
      "w2_narrow" -> ((s, _) => s.range(0, 30, 1, 3).toDF()))
    spark.sparkContext.addSparkListener(slow)
    val line =
      try Probe.run(spark, Seq("gates", "^w", sfDir, "--action", "noop"),
        two)._1
      finally spark.sparkContext.removeSparkListener(slow)
    val narrow = new ObjectMapper().readTree(line)
      .get("gates").get("w2_narrow").get("noop")
    // one noop write of three range partitions: one job, one stage
    assert(narrow.get("jobs").asInt() == 1, narrow)
    assert(narrow.get("stages").asInt() == 1, narrow)
    assert(narrow.get("tasks").asInt() == 3, narrow)
  }

  test("gates --explain writes the executed plans the listener saw, " +
      "including the one a localCheckpoint hides") {
    val dir = java.nio.file.Files.createTempDirectory("probe-explain")
    Probe.run(spark, Seq("gates", "^p01_pinned$", sfDir, "--action", "noop",
      "--explain", dir.toString), gates)
    val txt = java.nio.file.Files.readString(dir.resolve("p01_pinned.txt"))
    // the pin's own plan scans the parquet; the query reads the pin
    assert(txt.contains("==== noop ====") && txt.contains("Scan parquet") &&
      txt.contains("Scan ExistingRDD"), txt)
  }

  test("gsp PUTs the lineitem body once per round and reports the run " +
      "floors") {
    val dir = java.nio.file.Files.createTempDirectory("probe-gsp").toString
    spark.range(1, 21).selectExpr("id AS l_orderkey",
        "CAST(id % 3 + 1 AS INT) AS l_linenumber", "id % 5 AS l_partkey",
        "CAST(id AS DECIMAL(15,2)) AS l_quantity",
        "IF(id % 2 = 0, 'R', 'N') AS l_returnflag")
      .write.parquet(s"$dir/lineitem.parquet")
    // each PUT must answer 201 and its triple count must check, or the
    // scenario throws
    val (line, _) = Probe.run(spark, Seq("gsp", dir, "1", "2", "0"))
    assert(!line.contains("\n"), "one line")
    val j = new ObjectMapper().readTree(line)
    assert(j.get("scenario").asText() == "gsp")
    assert(j.get("triples").asLong() == 60)
    val runs = j.get("runs")
    assert(runs.size() == 2, runs)
    runs.elements().asScala.foreach(r =>
      assert(r.get("sec").asDouble() > 0 && r.get("healthy").asBoolean(), r))
    val floor = j.get("floor_sec").asDouble()
    assert(floor > 0 && j.get("gated_floor_sec").asDouble() == floor, line)
  }
}
