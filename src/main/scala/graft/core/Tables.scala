package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Every `SparkEntry.queries` entry receives `(spark, sfDir)`; this helper
  * reads one table or registers the whole star schema as temp views so
  * queries can be written either with the DataFrame API or `spark.sql`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") events(spark, dir)
    else spark.read.parquet(s"$dir/$name.parquet")

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark refuses by default, so it is read as long nanos and narrowed to
    * a microsecond timestamp (matching DuckDB/Arrow ns -> us) — or as a
    * native TIMESTAMP(MICROS) that needs no conversion. Branch on the
    * schema actually read so both generations of the testdata load.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val raw = spark.read.parquet(s"$dir/events.parquet")
    if (raw.schema("ts").dataType == LongType)
      raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
    else
      // TIMESTAMP(MICROS) with isAdjustedToUTC=false arrives as
      // TIMESTAMP_NTZ; cast to the session-zoned TIMESTAMP the rest of
      // the engine (unix_micros, windowing) expects — an identity
      // mapping under the engine-wide UTC session timezone
      raw.withColumn("ts", col("ts").cast("timestamp"))
  }
}
