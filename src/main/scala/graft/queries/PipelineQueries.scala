package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data pipeline operators over the documents/embeddings/events
  * tables, one file per family: [[DedupGates]], [[GraphGates]],
  * [[LmGates]], [[RetrievalGates]], [[CrawlGates]], [[CurationGates]] and
  * [[MultimodalGates]]. Every gate carries a DuckDB oracle; operators
  * whose engine-specific parts (LSH seeds, float scores) cannot hash
  * expose a portable variant or integer statistics to the gate, and their
  * semantics are tested in OperatorsSpec with planted near-duplicates.
  */
object PipelineQueries {

  val gates: Seq[Gate] = DedupGates.gates ++ GraphGates.gates ++
    LmGates.gates ++ RetrievalGates.gates ++ CrawlGates.gates ++
    CurationGates.gates ++ MultimodalGates.gates

  private val registry = Gate.registry(gates)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (n, g) => n -> g.run }

  val oracles: Map[String, String] =
    registry.map { case (n, g) => n -> g.oracle }
}
