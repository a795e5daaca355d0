package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The inputs `gen.py` wrote for this run, and the vocabularies the
  * request generators draw constants from (the same lists `gen.py` draws
  * table values from). */
object Inputs {
  val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
    "MACHINERY")
  val statuses = Seq("F", "O", "P")
  val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPEC",
    "5-LOW")
  val colors = Seq("almond", "antique", "aquamarine", "azure", "beige",
    "bisque", "black", "blanched", "blue", "blush", "brown", "burlywood",
    "chartreuse", "chiffon", "chocolate", "coral", "cornflower", "cream")

  /** `inputs.json`: the generator's record of what it produced. */
  def props(dir: String): Map[String, Long] = {
    val node = new ObjectMapper().readTree(new java.io.File(s"$dir/inputs.json"))
    val it = node.fields()
    val out = Map.newBuilder[String, Long]
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.isNumber) out += e.getKey -> e.getValue.asLong()
    }
    out.result()
  }

  def frame(spark: SparkSession, dir: String, t: String): DataFrame =
    spark.read.parquet(s"$dir/$t.parquet")

  def ntriples(dir: String): IndexedSeq[String] =
    scala.io.Source.fromFile(s"$dir/load.nt", "UTF-8").getLines().toIndexedSeq
}
