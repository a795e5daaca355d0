package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.rdf._

/** N-Triples/N-Quads line ingest: the reference's chunked bulk import
  * (`fs_import_stream_*`, `src/frontend/import.c:191-331`) maps to
  * [[parseNtLines]] and [[toQuads]]. Both are plain column projections,
  * so they run unchanged over a batch `Dataset[String]` (the endpoint's
  * graph-store import, `BackupCli` restore) or a file-source stream. The
  * reference has no continuous queries (SURVEY §2.9).
  */
object StreamIngest {

  /** Parse a stream of N-Triples/N-Quads lines into flat quad rows
    * (same row shape the batch importer uses). One codegen'd native
    * expression ([[graft.functions.ParseNtQuad]]) instead of a typed
    * flatMap: the old shape split every import plan into
    * DeserializeToObject → MapPartitions → SerializeFromObject — a
    * whole-stage-codegen break plus an encoder round trip per
    * statement. The struct projects FIRST (one parse per row —
    * codegen CSE shares the child across the eight field extracts)
    * and the dirty-line filter tests a PROJECTED column, so predicate
    * pushdown cannot substitute the parse into a second evaluation. */
  def parseNtLines(lines: Dataset[String]): DataFrame =
    lines.toDF("line")
      .select(graft.functions.F.parseNtQuad(col("line")).as("q"))
      .select(col("q.gLex").as("gLex"), col("q.sKind").as("sKind"),
        col("q.sLex").as("sLex"), col("q.pLex").as("pLex"),
        col("q.oKind").as("oKind"), col("q.oLex").as("oLex"),
        col("q.oDt").as("oDt"), col("q.oLang").as("oLang"))
      .filter(col("pLex").isNotNull)

  /** Flat rows -> RID quads (the batch importer's mapping,
    * [[QuadStore.flatQuadCols]]). */
  def toQuads(flat: DataFrame): DataFrame =
    flat.select(QuadStore.flatQuadCols: _*)
}
