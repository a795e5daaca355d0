package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranked full-text retrieval over a document corpus — the query-time
  * counterpart of the import-time token index ([[graft.rdf.FullText]],
  * reference `src/frontend/import.c:603-708`): where the reference's
  * `fs:token` quads answer boolean containment, [[bm25TopK]] scores and
  * ranks the matches with Okapi BM25 (Robertson & Spärck Jones; the
  * idf/tf saturation form Lucene ships as its default similarity).
  *
  * Scale shape: one map-only pass computes each document's query-term
  * frequencies (a fixed, small term set — per-term array scans stay
  * inside whole-stage codegen; the corpus never explodes into a token
  * table), one aggregate computes the corpus statistics (N, avgdl,
  * per-term document frequencies — a handful of driver scalars, like
  * the vocabulary count in [[TextAnalysis.ngramLmScore]]), and the
  * final top-k is a global `orderBy(...).limit(k)` that Spark executes
  * as TakeOrdered (per-partition heaps + driver merge, no full sort).
  * No shuffle touches the corpus at any point.
  */
object Ranking {

  // codegen'd tokenizer kernel (r17): token-identical to
  // filter(split(lower(text), "\\s+"), length > 0) — the HOF filter is
  // CodegenFallback; the kernel stays inside whole-stage codegen
  private def words(text: Column): Column =
    graft.functions.F.wordsArray(text)

  /** Top-k documents for a bag-of-words query under BM25:
    *
    *   score(d) = Σ_t idf(t) · tf(t,d)·(k1+1) /
    *                         (tf(t,d) + k1·(1 − b + b·|d|/avgdl))
    *   idf(t)   = ln(1 + (N − df(t) + 0.5)/(df(t) + 0.5))
    *
    * Documents matching no query term are not retrieved. Ties break on
    * ascending id. The per-term contributions sum in the fixed order of
    * `terms`, so scores are deterministic under any partitioning.
    *
    * Output: (rank, <idCol>, dl, tf_total, score) — dl is the document's
    * token length, tf_total the summed query-term frequency (both exact
    * integers), score the BM25 value.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               terms: Seq[String], k: Int,
               k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val qTerms = terms.map(_.toLowerCase).distinct
    // materialize the token array once, then count each term with
    // size(ws) - size(array_remove(ws, t)): ArrayRemove is a plain
    // codegen'd collection expression, unlike the ArrayFilter
    // higher-order function (CodegenFallback, interpreted per element,
    // and re-evaluating the split per term)
    val tokens = docs.select(col(idCol), words(col(textCol)).as("__ws"))
    val tfCols = qTerms.zipWithIndex.map { case (t, i) =>
      (size(col("__ws")) - size(array_remove(col("__ws"), lit(t))))
        .cast("long").as(s"tf_$i")
    }
    // pinned (lazy checkpoint, r17): the (id, dl, tf_*) projection is
    // consumed TWICE — the corpus-stats aggregate and the scoring pass —
    // and each consumer re-ran the tokenize+count scan. The pinned rows
    // are fixed-width (id + 1+|terms| longs), far smaller than the
    // tokenization they avoid; the stats aggregate materializes them
    // inside its own action. TakeOrdered top-k and the no-corpus-shuffle
    // property are unchanged (PlanSpec's bm25 gate).
    // LIFETIME (ADVICE_r17): localCheckpoint blocks have no unpersist
    // handle — they release at RDD GC, so repeated calls in a
    // long-lived session hold blocks until their frames are collected;
    // and the truncated lineage means an executor loss on a real
    // cluster fails the query instead of recomputing (acceptable for a
    // rerunnable batch gate — house style shared by every pin here).
    val base = tokens.select(
      (col(idCol) +: size(col("__ws")).cast("long").as("dl") +: tfCols): _*)
      .localCheckpoint(eager = false)

    // corpus statistics: one aggregate, a handful of driver scalars
    val statCols = count(lit(1)).as("n") +: avg(col("dl")).as("avgdl") +:
      qTerms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*).first()
    val n = stats.getAs[Long]("n")
    val avgdl = stats.getAs[Double]("avgdl")
    val idf = qTerms.indices.map { i =>
      val df = stats.getAs[Long](s"df_$i")
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }

    scoreBase(base, qTerms.size, n, avgdl, idf, k1, b, idCol, k)
  }

  /** Shared BM25 ranking tail over a `(idCol, dl, tf_0..tf_{m-1})`
    * frame — ONE expression tree for both the direct path and the
    * index path, so their scores are bit-identical by construction
    * (the p81 equivalence gate hashes index-path ranks against the
    * direct path's oracle). */
  private def scoreBase(base: DataFrame, nTerms: Int, n: Long,
                        avgdl: Double, idf: Seq[Double], k1: Double,
                        b: Double, idCol: String, k: Int): DataFrame = {
    val lenNorm = lit(k1) * (lit(1 - b) +
      lit(b) * col("dl").cast("double") / lit(avgdl))
    val score = (0 until nTerms).map { i =>
      lit(idf(i)) * (col(s"tf_$i").cast("double") * lit(k1 + 1)) /
        (col(s"tf_$i").cast("double") + lenNorm)
    }.reduce(_ + _)
    val tfTotal = (0 until nTerms).map(i => col(s"tf_$i")).reduce(_ + _)

    base.withColumn("tf_total", tfTotal)
      .filter(col("tf_total") > 0)
      .withColumn("score", score)
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("score").desc, col(idCol).asc)))
      .select(col("rank"), col(idCol), col("dl"), col("tf_total"),
        col("score"))
  }

  private def indexSidecar(indexDir: String) =
    java.nio.file.Paths.get(indexDir, "params.index.txt")

  private val snapIdRe = "[A-Za-z0-9_-]+"

  // shared write motion for build/append: snapshot-partitioned DYNAMIC
  // overwrite (re-writing a snapshot replaces its partitions instead of
  // doubling them -> idempotent replay), bulk files first, then the
  // stats sidecar -- whose snapshot MANIFEST is what makes partitions
  // visible -- atomic-renamed LAST. Same discipline as the LM model
  // sidecar and the dedup indexes' params files.
  private def writeIndexSnapshot(docs: DataFrame, idCol: String,
                                 textCol: String, indexDir: String,
                                 snapshotId: String,
                                 append: Boolean): Unit =
      Dedup.withIndexLock(indexDir, s"textIndex($snapshotId)") {
    require(snapshotId.matches(snapIdRe),
      s"text-index snapshot id must match $snapIdRe, got '$snapshotId'")
    // the prior manifest is read INSIDE the lock: reading it before
    // acquisition would let two serialized appends publish manifests
    // based on the same stale snapshot list — the second writer's
    // sidecar would silently orphan the first's partitions forever
    val priorSnaps: Seq[String] =
      if (append) readIndexSidecar(indexDir, "appendToTextIndex",
        forAppend = true)._3
      else Nil
    val tokens = docs.select(col(idCol).as("doc_id"),
      words(col(textCol)).as("__ws"))
    val withLen = tokens.select(col("doc_id"),
      size(col("__ws")).cast("long").as("dl"), col("__ws"))
    // ONE corpus pass (r18; was two). The old second pass existed
    // because doclens could not derive from postings: token-less docs
    // carry no postings but MUST count in N/avgdl. Solved with a
    // per-doc SENTINEL posting under term "" — a value the tokenizer
    // can never emit (words() drops empty tokens) — prepended to the
    // token array so it rides the SAME explode + combine shuffle as
    // the real postings (guide §2.4: two outputs keyed the same way
    // share one exchange; §1.2: one corpus scan instead of two + a
    // doclens read-back). coalesce keeps the sentinel for null-text
    // docs (null array would explode to zero rows); their dl stays
    // null, exactly as the old doclens row. The separate doclens
    // table is gone; corpus stats read the sentinel rows back — they
    // sort first within the term range, so the scan prunes to the
    // leading files via min/max row-group stats. Query-side, "" is
    // excluded from every term filter (bm25TopKFromIndex), keeping
    // scores bit-identical to the direct path even for a queried ""
    // (tf 0, df 0 on both paths).
    // repartitionByRange(term, doc_id) — doc_id added r18 — splits the
    // N-row sentinel run AND any hot stopword's postings across range
    // partitions instead of sending each single-term run to one task
    // (guide §2.5); files still hold contiguous (term, doc_id) ranges,
    // so term predicates prune files/row groups as before.
    val postings = withLen
      .select(col("doc_id"), col("dl"),
        explode(concat(array(lit("")),
          coalesce(col("__ws"), array().cast("array<string>"))))
          .as("term"))
      .groupBy("term", "doc_id")
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .withColumn("snap", lit(snapshotId))
    postings.repartitionByRange(col("term"), col("doc_id"))
      .sortWithinPartitions("term", "doc_id")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("snap")
      .parquet(s"$indexDir/postings")
    // corpus stats over the MANIFEST being published (sentinel-only
    // pruned scan; never over orphan partitions a crashed foreign
    // append left)
    val manifest = (priorSnaps :+ snapshotId).distinct.sorted
    val spark = docs.sparkSession
    val st = spark.read.parquet(s"$indexDir/postings")
      .filter(col("snap").isin(manifest: _*))
      .filter(col("term") === "")
      .agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).first()
    Sidecar.publish(indexSidecar(indexDir),
      s"analyzer=ws-lower layout=sentinel n=${st.getAs[Long]("n")} " +
        s"avgdl=${st.getAs[Double]("avgdl")} " +
        s"snaps=${manifest.mkString(",")}")
  }

  private def readIndexSidecar(indexDir: String, who: String,
                               forAppend: Boolean = false)
      : (Long, Double, Seq[String]) = {
    val side = indexSidecar(indexDir)
    require(java.nio.file.Files.exists(side),
      s"$who: no complete index at $indexDir — params.index.txt is " +
        "missing (wrong dir, or an interrupted buildTextIndex; " +
        "(re)build the index)")
    val kv = Sidecar.read(side).head
    // append recomputes corpus stats from the sentinel postings, which
    // a pre-r18 index (separate doclens table) does not have — appending
    // there would silently undercount every earlier snapshot's docs.
    // QUERIES on an old index stay valid (postings + sidecar stats are
    // layout-independent), so only the append path gates on layout.
    require(!forAppend || kv.get("layout").contains("sentinel"),
      s"$who: the index at $indexDir predates the sentinel-postings " +
        "layout and cannot grow snapshots — rebuild it (delete the " +
        "dir and re-run buildTextIndex over all snapshots)")
    (kv("n").toLong, kv("avgdl").toDouble,
      kv("snaps").split(",").toSeq.filter(_.nonEmpty))
  }

  /** Build a persisted inverted text index — the build-once/query-many
    * motion ([[graft.operators.TextAnalysis.saveLmModel]]'s discipline
    * applied to retrieval): [[bm25TopK]] rescans the corpus per query,
    * this scans it ONCE and every later query touches only the queried
    * terms' posting lists.
    *
    * Layout: `postings/snap=.../` parquet `(term, doc_id, tf, dl)` —
    * document length DENORMALIZED into every posting, the classic
    * search-index trade (8 bytes/row) that keeps query-time joins away
    * from any corpus-sized table — range-partitioned and sorted by
    * (term, doc_id) within each snapshot so a term predicate prunes
    * files and row groups; ONE SENTINEL posting per doc under term ""
    * (a value the tokenizer cannot emit) carries the doc length for
    * the corpus stats, token-less docs included — no separate doclens
    * table, one corpus pass, one shuffle;
    * `params.index.txt` written LAST via atomic rename with the
    * analyzer, exact corpus stats (long sum / long count;
    * `Double.toString` round-trips so query scores are bit-identical to
    * the direct path) and the SNAPSHOT MANIFEST: queries prune to
    * manifest snapshots, so partitions a crashed append left behind are
    * invisible rather than silently mis-scored (the LM
    * language-manifest rule).
    *
    * Scale shape: tokenize + explode map-only; ONE (term, doc) shuffle
    * with map-side combine; the range partitioner bounds any single
    * output file to a term range. */
  def buildTextIndex(docs: DataFrame, idCol: String, textCol: String,
                     indexDir: String,
                     snapshotId: String = "base"): Unit = {
    // a fresh build must not inherit a previous index's partitions:
    // refuse a dir that already has one (delete it first, explicitly)
    require(!java.nio.file.Files.exists(indexSidecar(indexDir)),
      s"buildTextIndex: $indexDir already holds a built index — " +
        "append with appendToTextIndex, or remove the dir to rebuild " +
        "from scratch")
    writeIndexSnapshot(docs, idCol, textCol, indexDir, snapshotId,
      append = false)
  }

  /** APPEND a document snapshot to a [[buildTextIndex]] index without
    * rebuilding — the monthly-drop motion applied to retrieval. The
    * drop's postings land as `snap=<snapshotId>` partitions via
    * DYNAMIC overwrite (re-appending the SAME snapshot — a restart
    * replay — replaces its partitions instead of doubling them:
    * idempotent), the corpus stats are recomputed from the pruned
    * sentinel-postings scan restricted to the new manifest, and the sidecar
    * carrying that manifest renames in LAST. A crash anywhere before
    * the rename leaves the old sidecar: the index answers consistently
    * as of the previous corpus, the half-written snapshot invisible
    * until the append re-runs.
    *
    * Caller contract: distinct snapshots carry disjoint doc ids (the
    * same contract as the dedup indexes); re-sending one snapshot is
    * safe, sending one document under two snapshot ids double-counts
    * it. */
  def appendToTextIndex(docs: DataFrame, idCol: String, textCol: String,
                        indexDir: String,
                        snapshotId: String): Unit = {
    // friendly pre-check (the authoritative read happens again inside
    // the write lock, where it cannot go stale)
    readIndexSidecar(indexDir, "appendToTextIndex", forAppend = true)
    writeIndexSnapshot(docs, idCol, textCol, indexDir, snapshotId,
      append = true)
  }

  /** Top-k BM25 against a [[buildTextIndex]] index. Output schema and
    * scores are EXACTLY [[bm25TopK]]'s — the shared [[scoreBase]]
    * expression tree over the same exact integer inputs (tf, dl, df)
    * and the sidecar's exact (N, avgdl) — but the query reads ONLY the
    * queried terms' posting lists within the sidecar's snapshot
    * manifest (term predicate pushed to the parquet scan, snapshot
    * partition pruning; the corpus is never touched and the sentinel
    * rows are filtered out at the scan). Per-term df is computed from
    * the filtered postings
    * (query-terms-bounded driver scalars, like the direct path's
    * stats row). */
  def bm25TopKFromIndex(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, terms: Seq[String], k: Int,
                        k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopKFromIndex needs at least one term")
    val (n, avgdl, snaps) =
      readIndexSidecar(indexDir, "bm25TopKFromIndex")
    val qTerms = terms.map(_.toLowerCase).distinct
    // term =!= "" keeps the per-doc sentinel postings (the doclens
    // carrier, r18 layout) out of every query: a queried "" then gets
    // tf 0 / df 0 on this path exactly as on the direct path (the
    // tokenizer never emits an empty token). Both predicates push to
    // the parquet scan.
    val post = spark.read.parquet(s"$indexDir/postings")
      .filter(col("snap").isin(snaps: _*))
      .filter(col("term").isin(qTerms: _*) && col("term") =!= "")
    val dfByTerm = post.groupBy("term").agg(count(lit(1)).as("df"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val idf = qTerms.map { t =>
      val df = dfByTerm.getOrElse(t, 0L)
      math.log(1.0 + (n - df + 0.5) / (df + 0.5))
    }
    val tfAggs = qTerms.zipWithIndex.map { case (t, i) =>
      sum(when(col("term") === t, col("tf")).otherwise(0L))
        .cast("long").as(s"tf_$i")
    }
    val base = post.groupBy(col("doc_id"))
      .agg(max(col("dl")).as("dl"), tfAggs: _*)
    scoreBase(base, qTerms.size, n, avgdl, idf, k1, b, "doc_id", k)
  }

  /** Reciprocal-rank fusion (Cormack, Clarke & Büttcher, SIGIR 2009) of
    * N ranked lists — the standard hybrid-retrieval combiner (sparse
    * BM25 + dense ANN, or any mix of rankers):
    *
    *   rrf(d) = Σ_lists 1 / (k0 + rank_list(d))    (absent ⇒ 0)
    *
    * Each input holds one ranked list as `(idCol, rankCol)` (rank 1 =
    * best, as [[bm25TopK]] and `Similarity.*TopK` emit). Items are fused
    * by id across lists with full-outer joins folded in the FIXED order
    * of `lists`, and the score sums its per-list contributions in that
    * same order — so the double is bit-reproducible under any
    * partitioning and in a plain-SQL oracle (a groupBy-sum over a melted
    * union would instead add in shuffle-arrival order). Ties break on
    * ascending id; absent ranks surface as NULL columns.
    *
    * Output: (rank, <idCol>, n_lists, rank_0..rank_{N-1}, rrf6) — n_lists
    * counts the lists that retrieved the item, rrf6 the fused score
    * rounded to 6 decimals (the ordering uses the unrounded sum).
    *
    * Scale shape: the inputs are top-k lists — a few thousand rows at
    * most regardless of corpus size — so every fold step joins
    * driver-scalar-sized frames (the broadcast hint applies where the
    * planner supports it for full-outer; even the fallback shuffles
    * only ≤ Σ k rows) and the final rank is one row_number over those
    * same rows. The corpus itself was already reduced by the upstream
    * rankers; fusion never touches it. */
  def rrfFuse(lists: Seq[DataFrame], idCol: String, rankCol: String,
              k: Int, k0: Int = 60): DataFrame = {
    require(lists.size >= 2, "rrfFuse needs at least two ranked lists")
    require(k0 > 0, "rrfFuse needs k0 > 0")
    val renamed = lists.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol), col(rankCol).cast("int").as(s"rank_$i"))
    }
    val fused = renamed.reduceLeft((a, b) =>
      a.join(broadcast(b), Seq(idCol), "full_outer"))
    val contribs = lists.indices.map(i =>
      coalesce(lit(1.0) / (lit(k0.toDouble) + col(s"rank_$i")
        .cast("double")), lit(0.0)))
    val score = contribs.reduce(_ + _)
    val nLists = lists.indices.map(i =>
      when(col(s"rank_$i").isNotNull, 1).otherwise(0)).reduce(_ + _)
    val rankCols = lists.indices.map(i => col(s"rank_$i"))
    fused.withColumn("__score", score)
      .orderBy(col("__score").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__score").desc, col(idCol).asc)))
      .select((col("rank") +: col(idCol) +: nLists.as("n_lists") +:
        rankCols :+ round(col("__score"), 6).as("rrf6")): _*)
  }
}
