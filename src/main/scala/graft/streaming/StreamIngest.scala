package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.rdf._

/** Structured Streaming ingest & event-time processing. The reference has
  * no continuous queries (SURVEY §2.9) — its chunked bulk import
  * (`fs_import_stream_*`, `src/frontend/import.c:191-331`) maps to
  * [[parseNtLines]] and [[toQuads]] over a file-source stream; event-time
  * windowed aggregation and the streaming curation shells are additive
  * capabilities.
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

  /** Streaming exact dedup on the ingest path: drop quads (or any keyed
    * rows) already seen within the watermark horizon. State is bounded by
    * the horizon — the streaming analog of the batch `Dedup.exact` pass;
    * `dropDuplicatesWithinWatermark` keys state by the dedup columns only,
    * so re-imports of the same statements inside the horizon are no-ops
    * (the reference backend's insert path likewise discards exact
    * duplicate quads, `src/backend/import-backend.c`). */
  def dedupWithinWatermark(rows: DataFrame, tsCol: String,
                           horizon: String, keys: Seq[String]): DataFrame =
    rows.withWatermark(tsCol, horizon)
      .dropDuplicatesWithinWatermark(keys)

  /** Event-time tumbling-window counts with a watermark for late data. */
  def windowedEventCounts(events: DataFrame, windowLen: String = "1 hour",
                          watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).cast("double")
          .as("sum_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Streaming near-duplicate dedup: filter an ingest feed down to the
    * documents [[graft.operators.Dedup.dedupAgainstIndex]] keeps — no
    * exact fingerprint and no MinHash-LSH band bucket shared with an
    * earlier document, earlier meaning an earlier micro-batch or a
    * lower `idCol` in the same one. Kept documents append to `outDir`.
    *
    * A thin foreachBatch shell like [[lineDedupStream]], with the same
    * zero-padded batch-id snapshot key and the same one-stream-per-index
    * ownership claim, so the batch operator's guarantees carry over: the
    * params sidecar fails closed, the index lock serializes probes
    * against [[graft.operators.Dedup.compactDedupIndex]], every probed
    * document enters the index (dropped ones too), so cutting the feed
    * into micro-batches anywhere keeps the same set as one batch, and a
    * replayed batch probes only strictly-earlier batches, so it keeps
    * the same documents it kept the first time. */
  def minhashDedupStream(docs: DataFrame, idCol: String, textCol: String,
                         indexDir: String, outDir: String,
                         checkpoint: String, k: Int = 3, h: Int = 32,
                         bands: Int = 16) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
          claimStreamOwner(indexDir, checkpoint, "minhashDedupStream")
          val kept = graft.operators.Dedup.dedupAgainstIndex(batch.toDF(),
              idCol, textCol, indexDir, f"batch$bid%010d", k, h, bands)
            .filter(col("verdict") === "keep").select(col("id").as(idCol))
          batch.toDF().join(kept, Seq(idCol), "left_semi")
            .write.mode("append").parquet(outDir)
          ()
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Claim (or re-verify) exclusive stream ownership of an on-disk
    * index dir via atomic CREATE_NEW of `stream.owner.txt` holding
    * this stream's checkpoint path. Two streams with different
    * checkpoints generate COLLIDING batch ids, silently overwriting
    * each other's batch-keyed partitions — and the check-then-write
    * form this replaces let two concurrent FIRST batches both pass
    * the existence check and both claim the dir. CREATE_NEW makes the
    * claim race-free; a restart of the same stream (same checkpoint)
    * passes. */
  private def claimStreamOwner(indexDir: String, checkpoint: String,
                               what: String): Unit = {
    val dir = java.nio.file.Paths.get(indexDir)
    java.nio.file.Files.createDirectories(dir)
    val owner = dir.resolve("stream.owner.txt")
    try java.nio.file.Files.write(owner, checkpoint.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val prev = new String(
          java.nio.file.Files.readAllBytes(owner), "UTF-8").trim
        if (prev != checkpoint)
          throw new IllegalStateException(
            s"$what: index $indexDir is owned by the stream " +
              s"checkpointed at '$prev' but this stream checkpoints " +
              s"at '$checkpoint' — batch ids would collide and " +
              "overwrite the other stream's batch-keyed partitions. " +
              "Use a fresh indexDir per stream (or restore the " +
              "original checkpoint).")
    }
  }

  /** Streaming corpus-global LINE dedup: the C4 global-first rule
    * ([[graft.operators.Dedup.dedupLinesGlobal]]) over an unbounded
    * ingest feed — every line any earlier micro-batch kept is dropped
    * from later documents, documents reassembled in order and appended
    * to `outDir` with their `deduped` text and `n_kept_lines`.
    *
    * Deliberately a thin streaming shell over
    * [[graft.operators.Dedup.dedupLinesAgainstIndex]] with the batch id
    * as the snapshot key (zero-padded, so ids sort lexicographically in
    * processing order — the index's caller contract): the batch engine
    * already solves the hard problems, and its guarantees TRANSFER —
    * history stays digests-only (scanned never shuffled, pruned scans
    * PlanSpec-gated), the per-family params sidecar fails closed, the
    * lock file serializes probes against offline compaction
    * ([[graft.operators.Dedup.compactDedupIndex]] runs between drops,
    * bounding the index at distinct lines ever seen), and — the
    * property that makes this restart-safe — RE-probing a snapshot id
    * is verdict-identical (spec-proven), so Structured Streaming's
    * replay of an uncommitted batch after a crash reproduces the same
    * cleaned documents rather than double-dropping against its own
    * half-written delta. Like [[minhashDedupStream]], `outDir` is an
    * append sink: a replayed batch appends its (identical) rows again —
    * dedup exact-once delivery downstream by `idCol` if the sink needs
    * it. The blank-line caveat of the batch operator applies feed-wide:
    * exactly one "" survives across ALL batches ever processed.
    *
    * ONE STREAM PER INDEX, fail-closed: batch ids restart at 0 for a
    * NEW checkpoint dir, so a second stream (or the same stream after
    * its checkpoint was deleted) pointed at an existing index would
    * re-probe snapshot "batch0000000000" with DIFFERENT data — and the
    * index's dynamic partition overwrite would replace that historical
    * digest partition, silently un-deduplicating every line it held.
    * The index therefore records its owning checkpoint path in a
    * `stream.owner.txt` sidecar on first use and every batch requires
    * a match: a colliding stream gets an error naming both paths
    * instead of corrupting shared history. (The batch API has no such
    * guard because its callers pick explicit date-shaped snapshot ids;
    * here the ids are batch-generated, so the lineage must be pinned.) */
  def lineDedupStream(docs: DataFrame, idCol: String, textCol: String,
                      indexDir: String, outDir: String,
                      checkpoint: String, sep: String = "\n") =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
          claimStreamOwner(indexDir, checkpoint, "lineDedupStream")
          graft.operators.Dedup.dedupLinesAgainstIndex(batch.toDF(),
              idCol, textCol, indexDir, f"batch$bid%010d", sep)
            .write.mode("append").parquet(outDir)
          ()
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming LM quality scoring against a SAVED model
    * ([[graft.operators.TextAnalysis.saveLmModel]]) — the streaming
    * side of train-once/score-many: the CCNet motion where every
    * incoming crawl document is scored against the fixed curated-text
    * model the moment it arrives, instead of waiting for the monthly
    * batch drop.
    *
    * A thin foreachBatch shell over
    * [[graft.operators.TextAnalysis.ngramLmScoreWithModel]], so the
    * batch scorer's guarantees TRANSFER: order/pruning/hashing read
    * from the model's params sidecar (a scoring stream can never
    * silently mismatch its training parameters), per-language models
    * prune their count scan to the sidecar's language manifest, and
    * the default broadcast-model join shape is the KenLM
    * model-resident-per-node layout. Scoring is per-document (the
    * groupBy inside the scorer keys on doc id), so each micro-batch is
    * complete in itself — no cross-batch state, no watermark — and the
    * scores land as `batch=` partitions via DYNAMIC overwrite, so a
    * restart replay of an uncommitted batch REPLACES its partition
    * instead of appending duplicate rows.
    *
    * The model directory is read ONCE per batch via the scorer; saved
    * models are immutable per language
    * ([[graft.operators.TextAnalysis.addLmModelLanguages]] appends new
    * languages atomically behind the sidecar rename), so a concurrent
    * add-language flips a half-visible language to "no model"
    * (documented degenerate path), never to wrong scores. */
  def lmScoreStream(docs: DataFrame, idCol: String, textCol: String,
                    modelDir: String, outDir: String, checkpoint: String,
                    langCol: Option[String] = None) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
          graft.operators.TextAnalysis.ngramLmScoreWithModel(modelDir,
              batch.toDF(), idCol, textCol, langCol = langCol)
            .withColumn("batch", lit(f"batch$bid%010d"))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch")
            .parquet(outDir)
          ()
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Stream an ingest feed INTO the inverted text index
    * ([[graft.operators.Ranking.buildTextIndex]] layout) — retrieval
    * over the crawl as it arrives, one snapshot per micro-batch, with
    * the batch engine's replay guarantees transferring: each batch
    * lands as `snap=batch<id>` partitions via dynamic overwrite (a
    * restart replay of an uncommitted batch REPLACES its partitions —
    * idempotent, never double-counted), the stats sidecar with its
    * snapshot manifest renames in last, and a crash mid-batch leaves
    * the previous consistent index answering queries. The first batch
    * bootstraps the index; an `indexDir` already owned by a different
    * stream (checkpoint mismatch) is refused before any write, because
    * colliding batch ids would silently overwrite the other stream's
    * snapshots. */
  def textIndexStream(docs: DataFrame, idCol: String, textCol: String,
                      indexDir: String, checkpoint: String) =
    docs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch {
        (batch: Dataset[org.apache.spark.sql.Row], bid: Long) =>
          claimStreamOwner(indexDir, checkpoint, "textIndexStream")
          val snap = f"batch$bid%010d"
          if (java.nio.file.Files.exists(java.nio.file.Paths
              .get(indexDir, "params.index.txt")))
            graft.operators.Ranking.appendToTextIndex(batch.toDF(),
              idCol, textCol, indexDir, snap)
          else
            graft.operators.Ranking.buildTextIndex(batch.toDF(),
              idCol, textCol, indexDir, snap)
          ()
      }
      .outputMode(OutputMode.Append())
      .start()

  /** Streaming DSIR scoring: annotate an ingest feed in-flight with its
    * log importance weight against FIXED target/raw hashed-bigram
    * bucket distributions trained on static corpora — the streaming
    * analog of [[graft.operators.TextAnalysis.dsirImportance]], for
    * domain-match screening before documents land in a training corpus.
    *
    * Both count tables are the batch operator's
    * ([[graft.operators.TextAnalysis.dsirCounts]]), bounded at `buckets`
    * entries regardless of corpus size, so they collapse to two
    * driver-built long arrays broadcast once at plan time; the scorer is
    * a stateless map over each micro-batch — no stream-stream join, no
    * state store, executor memory constant in the training-corpus size.
    * Uses the fast xxhash64 gram hash (no oracle needs portability
    * here); `buckets` must be a power of two so the bucket is a mask of
    * the signed hash.
    */
  def dsirScoreStream(docs: DataFrame, target: DataFrame, raw: DataFrame,
                      textCol: String, buckets: Int = 4096,
                      addK: Double = 1.0): DataFrame = {
    require(buckets > 0 && (buckets & (buckets - 1)) == 0,
      s"buckets must be a power of two, got $buckets")
    val spark = docs.sparkSession
    def counts(df: DataFrame): (Array[Long], Long) = {
      val arr = new Array[Long](buckets)
      graft.operators.TextAnalysis.dsirCounts(df, textCol, buckets,
          portableHash = false, "c")
        .collect() // <= buckets rows by construction
        .foreach(r => arr(r.getLong(0).toInt) = r.getLong(1))
      (arr, arr.sum)
    }
    val (tArr, tTot) = counts(target)
    val (rArr, rTot) = counts(raw)
    val bcT = spark.sparkContext.broadcast(tArr)
    val bcR = spark.sparkContext.broadcast(rArr)
    val tDen = tTot + addK * buckets
    val rDen = rTot + addK * buckets
    val mask = buckets - 1
    val logwUdf = udf((hs: Seq[Long]) =>
      if (hs == null) 0.0
      else {
        var s = 0.0
        hs.foreach { h =>
          val b = (h & mask).toInt // power-of-two: equals pmod(h, B)
          s += math.log((bcT.value(b) + addK) / tDen) -
            math.log((bcR.value(b) + addK) / rDen)
        }
        s
      })
    docs.select(col("*"), graft.functions.F
        .shinglePosHashes(col(textCol), 2, md5 = false).as("__hs"))
      // null text -> null gram array: report 0 grams like the batch
      // operator, not a NULL that silently drops from downstream math
      .withColumn("n_grams",
        coalesce(size(col("__hs")).cast("long"), lit(0L)))
      .withColumn("dsir_logw", logwUdf(col("__hs")))
      .drop("__hs")
  }

  /** Streaming decontamination: annotate documents in-flight with their
    * k-gram overlap against a STATIC held-out eval set — the streaming
    * analog of [[graft.operators.Decontaminate.flag]], for screening an
    * ingest feed before it lands in a training corpus.
    *
    * The eval side collapses to the driver-built bloom filter of
    * [[graft.operators.Decontaminate.flagBloom]] once at plan time, so
    * the probe is a stateless map over each micro-batch: no
    * stream-stream join, no state store, executor memory constant in
    * the eval size. Negatives are exact (bloom one-sided error);
    * positives over-report by at most `fpp` per gram and can be
    * re-checked exactly downstream in batch.
    */
  def decontaminateStream(docs: DataFrame, evalDf: DataFrame,
                          idCol: String, textCol: String, k: Int = 8,
                          fpp: Double = 0.001): DataFrame = {
    val (_, bc) = graft.operators.Decontaminate.evalBloom(evalDf, idCol,
      textCol, k, fpp, portableHash = false)
    val hits = udf((hs: Seq[Long]) =>
      if (hs == null) 0 else hs.count(bc.value.mightContainLong))
    docs.select(col("*"),
        graft.functions.F.shingleHashes(col(textCol), k, md5 = false)
          .as("__hs"))
      .withColumn("n_hits", hits(col("__hs")))
      .withColumn("contaminated", col("n_hits") > 0)
      .drop("__hs")
  }
}
