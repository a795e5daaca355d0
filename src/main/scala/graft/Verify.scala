package graft
import java.nio.file.{Files, Paths}
import graft.sinks.Results.jsonEscape
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session(cpus, logLevel = "WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter, Bench's regex over gate names; the driver
    // sets no env, so its runs always dump everything
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.r)
    def selected(name: String): Boolean =
      only.forall(_.findFirstIn(name).isDefined)
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // escaped: a tab or CR in builder-authored SQL must not make the
    // driver's json.load fail and silently zero the round's correctness
    val json = SparkEntry.oracleSql.map { case (k, v) =>
      s""""${jsonEscape(k)}": "${jsonEscape(v)}""""
    }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
