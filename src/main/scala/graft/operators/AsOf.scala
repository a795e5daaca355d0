package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** As-of (point-in-time) join — an extension operator the reference has
  * no counterpart for (4store's only join is the equi-join on shared
  * variables, `src/frontend/query-datatypes.c:919`); standard in event /
  * feature-store pipelines.
  *
  * Implementation is the union+window form, NOT a range join: tag both
  * sides, union them, and for each left row take the latest right payload
  * at or before its timestamp via `last(_, ignoreNulls)` over a
  * partition-ordered window. One shuffle on the key, no candidate-pair
  * explosion, no AQE-hostile non-equi condition — at 100 TB this is a
  * single sort-based pass per key group.
  */
object AsOf {

  /** For every `left` row, attach `payload` from the most recent `right`
    * row with `right.tsCol <= left.tsCol` and equal `keyCol` (NULL when
    * no such row). Ties between right rows at one timestamp are broken by
    * `tiebreak`, a RIGHT-side column (larger wins = "latest"); right rows
    * at the exact left timestamp DO match.
    *
    * Output: all `left` columns plus `asofCol` = matched payload.
    */
  def backward(left: DataFrame, right: DataFrame, keyCol: String,
               tsCol: String, payload: Column, asofCol: String,
               tiebreak: Column = lit(0)): DataFrame = {
    val l = left.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(1).as("__src"),
      lit(0).cast(right.select(tiebreak.as("t")).schema("t").dataType)
        .as("__tb"),
      struct(left.columns.map(col): _*).as("__l"),
      lit(null).cast(right.select(payload.as("p")).schema("p").dataType)
        .as("__p"))
    val r = right.select(
      col(keyCol).as("__k"), col(tsCol).as("__ts"), lit(0).as("__src"),
      tiebreak.as("__tb"),
      lit(null).cast(l.schema("__l").dataType).as("__l"),
      payload.as("__p"))
    // right rows sort before left rows at equal ts (__src 0 < 1), so the
    // running last-payload at a left row includes same-instant rights
    val w = Window.partitionBy("__k")
      .orderBy(col("__ts"), col("__src"), col("__tb"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("__asof", last(col("__p"), ignoreNulls = true).over(w))
      .filter(col("__src") === 1)
      .select(left.columns.map(c => col(s"__l.$c").as(c)) :+
        col("__asof").as(asofCol): _*)
  }
}
