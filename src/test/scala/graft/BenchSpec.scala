package graft

import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

class BenchSpec extends SparkTestBase {

  test("Bench reports through the gate runner: a compact last line, and a " +
      "full line and per-cpu sidecar with -1 and the exception for a " +
      "throwing gate and 3 ordered samples with listener work for the rest") {
    val out = Files.createTempDirectory("bench-out")
    // a filtered run: no ingest step
    val (full, compact) = Bench.run(spark, ProbeSpec.sfDir, "4",
      ProbeSpec.gates, Some("^g0"), out)
    val m = new ObjectMapper()

    assert(!compact.contains("\n") && compact.length <= 1300, compact)
    val c = m.readTree(compact)
    assert(c.fieldNames().asScala.toSeq == Seq("metric", "value", "unit",
      "compact", "n_queries", "families", "full", "sf", "queries"), compact)
    assert(c.get("n_queries").asInt() == 2)
    val sidecar = Paths.get(c.get("full").asText())
    assert(sidecar == out.resolve("BENCH_FULL_c4.json").toAbsolutePath)
    assert(Files.readString(sidecar) == full + "\n")

    val f = m.readTree(full)
    for (k <- Seq("metric", "value", "unit", "queries", "spread", "errors",
                  "sf", "gates", "dd_mbps_start", "cpu_ref_sec_end"))
      assert(f.has(k), k)
    assert(f.get("queries").get("g00_boom").asDouble() == -1.0)
    val errors = f.get("errors")
    assert(errors.fieldNames().asScala.toSeq == Seq("g00_boom"), errors)
    assert(errors.get("g00_boom").asText()
      .startsWith("java.lang.IllegalStateException: boom \"quoted\""), errors)

    val spread = f.get("spread").get("g01_agg").elements().asScala
      .map(_.asDouble()).toSeq
    assert(spread.size == 3 && spread == spread.sorted && spread.head > 0,
      spread)
    assert(f.get("queries").get("g01_agg").asDouble() == spread.head)
    val ok = f.get("gates").get("g01_agg")
    assert(ok.get("rows").asLong() == 7 && ok.has("digest"), ok)
    val count = ok.get("count")
    assert(count.get("sec").size() == 3, count)
    for (k <- Seq("jobs", "stages", "tasks"))
      assert(count.get(k).asInt() >= 1, k)
  }
}
