package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One correctness gate: its name, the DuckDB SQL that must produce the
  * same rows, and the DataFrame program over the driver's parquet tables
  * (`run(spark, dir)`). Each family declares its gates once, program and
  * oracle side by side, in a `gates` sequence. */
final case class Gate(name: String, oracle: String)(
    val run: (SparkSession, String) => DataFrame)

object Gate {

  /** `gates` keyed by name. A name declared twice throws instead of one
    * declaration silently replacing the other. */
  def registry(gates: Seq[Gate]): Map[String, Gate] = {
    val dups = gates.groupBy(_.name).collect {
      case (n, gs) if gs.size > 1 => n }
    require(dups.isEmpty,
      s"duplicate gate names: ${dups.toSeq.sorted.mkString(", ")}")
    gates.map(g => g.name -> g).toMap
  }
}
