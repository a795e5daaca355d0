package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see SURVEY.md §7 + TESTDATA.md.
  *
  * `registry` holds one [[Gate]] per implemented operator (SURVEY.md §2):
  * a DataFrame program over the driver's parquet tables and the
  * value-identical DuckDB SQL for it. `queries` and `oracleSql` are the
  * two views of it the driver reads.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q03_join_customer_nation_region")(spark, "/root/testdata/sf0.001")

  /** Every family's gates by name; a name declared twice throws. */
  private lazy val registry: Map[String, Gate] = Gate.registry(
    RelationalQueries.gates ++ SparqlQueries.gates ++ PipelineQueries.gates)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, g) => n -> g.run }

  def oracleSql: Map[String, String] =
    registry.map { case (n, g) => n -> g.oracle }
}
