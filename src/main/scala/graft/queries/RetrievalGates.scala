package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.operators.{Dedup, Ranking, Similarity}
import DuckSql.withWs

/** Retrieval gates: exact and approximate vector top-k (brute force, LSH,
  * IVF, PQ), embedding near-dup and semantic dedup, BM25 (direct and
  * persisted index), and hybrid rank fusion, each with its DuckDB oracle. */
object RetrievalGates {

  /** Shared CTE chain for the p78/p79 product-quantization oracles:
    * doubles, deterministic lowest-id codebook, per-subspace argmin
    * with the (d2, code_id) tie order, squared L2 spelled exactly as
    * the operator's fixed-order dot-product identity. */
  private def pqOracleCtes: String = {
    def ip(a: String, b: String) = s"list_inner_product($a, $b)"
    def d2(a: String, b: String, j: Int): String = {
      val lo = j * 16 + 1; val hi = j * 16 + 16
      val sa = s"$a[$lo:$hi]"; val sb = s"$b[$lo:$hi]"
      s"${ip(sa, sa)} - 2 * ${ip(sa, sb)} + ${ip(sb, sb)}"
    }
    val aCols = (0 until 4)
      .map(j => s"    ${d2("e.v", "cb.cv", j)} AS d2_$j").mkString(",\n")
    val cCtes = (0 until 4).map(j =>
      s"""c$j AS (SELECT item_id, code_id FROM (
         |  SELECT item_id, code_id, ROW_NUMBER() OVER (
         |      PARTITION BY item_id ORDER BY d2_$j ASC, code_id ASC
         |    ) AS rn FROM a) WHERE rn = 1)""".stripMargin).mkString(",\n")
    val codeCols = (0 until 4)
      .map(j => s"    CAST(c$j.code_id AS INT) AS code_$j").mkString(",\n")
    val codeJoins = (1 until 4)
      .map(j => s"  JOIN c$j USING (item_id)").mkString("\n")
    s"""WITH e AS (SELECT vec_id,
       |    list_transform(embedding, x -> x::DOUBLE) AS v
       |  FROM embeddings),
       |cb AS (SELECT vec_id AS code_id, v AS cv FROM e
       |  ORDER BY vec_id LIMIT 8),
       |a AS (SELECT e.vec_id AS item_id, cb.code_id,
       |$aCols
       |  FROM e CROSS JOIN cb),
       |$cCtes,
       |codes AS (SELECT c0.item_id,
       |$codeCols
       |  FROM c0
       |$codeJoins)""".stripMargin
  }

  private def pqTopkOracleTail: String = {
    def ip(a: String, b: String) = s"list_inner_product($a, $b)"
    def d2(a: String, b: String, j: Int): String = {
      val lo = j * 16 + 1; val hi = j * 16 + 16
      val sa = s"$a[$lo:$hi]"; val sb = s"$b[$lo:$hi]"
      s"${ip(sa, sa)} - 2 * ${ip(sa, sb)} + ${ip(sb, sb)}"
    }
    val dtCols = (0 until 4)
      .map(j => s"    ${d2("q.qv", "cb.cv", j)} AS qd2_$j").mkString(",\n")
    val dtJoins = (1 until 4).map(j =>
      s"  JOIN dt d$j ON d$j.query_id = d0.query_id" +
        s" AND d$j.code_id = c.code_$j").mkString("\n")
    s""",
       |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
       |dt AS (SELECT q.query_id, CAST(cb.code_id AS INT) AS code_id,
       |$dtCols
       |  FROM q CROSS JOIN cb),
       |sc AS (SELECT d0.query_id, c.item_id,
       |    d0.qd2_0 + d1.qd2_1 + d2.qd2_2 + d3.qd2_3 AS adc
       |  FROM codes c
       |  JOIN dt d0 ON d0.code_id = c.code_0
       |$dtJoins
       |  WHERE d0.query_id <> c.item_id),
       |r AS (SELECT query_id, item_id, adc,
       |    ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY adc ASC, item_id ASC) AS rank
       |  FROM sc)
       |SELECT query_id, CAST(rank AS INT) AS rank, item_id,
       |  round(adc, 6) AS adc6
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** BM25 (k1 = 1.2, b = 0.75) of the query `dup join spark`: term
    * counts and doc length `f`, corpus stats `st`, and each matching
    * doc's `score` in `sc`, beside `doc_id` and the `scCols`. */
  private def bm25Ctes(scCols: String): String = withWs +
    s"""f AS (SELECT doc_id, len(ws) AS dl,
       |    len(list_filter(ws, x -> x = 'dup')) AS tf0,
       |    len(list_filter(ws, x -> x = 'join')) AS tf1,
       |    len(list_filter(ws, x -> x = 'spark')) AS tf2
       |  FROM ws),
       |st AS (SELECT count(*) AS n, avg(dl) AS avgdl,
       |    sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) AS df0,
       |    sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) AS df1,
       |    sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS df2
       |  FROM f),
       |sc AS (SELECT doc_id$scCols,
       |    ln(1 + (n - df0 + 0.5)/(df0 + 0.5)) * (tf0 * 2.2) /
       |      (tf0 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |  + ln(1 + (n - df1 + 0.5)/(df1 + 0.5)) * (tf1 * 2.2) /
       |      (tf1 + 1.2 * (0.25 + 0.75 * dl / avgdl))
       |  + ln(1 + (n - df2 + 0.5)/(df2 + 0.5)) * (tf2 * 2.2) /
       |      (tf2 + 1.2 * (0.25 + 0.75 * dl / avgdl)) AS score
       |  FROM f, st WHERE tf0 + tf1 + tf2 > 0)""".stripMargin

  /** The direct-path BM25 SQL — shared verbatim by p34 (direct) and
    * p81 (persisted inverted index): the two paths are defined to be
    * bit-identical, so they hash against the same oracle. */
  private val bm25DirectSql: String =
    bm25Ctes(", dl, tf0 + tf1 + tf2 AS tf_total") + """
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
      |    AS INT) AS rank,
      |  doc_id, CAST(dl AS BIGINT) AS dl,
      |  CAST(tf_total AS BIGINT) AS tf_total
      |FROM sc ORDER BY score DESC, doc_id LIMIT 20""".stripMargin

  /** Cosine similarity of two DOUBLE lists in DuckDB SQL. */
  private def cos(a: String, b: String): String =
    s"list_inner_product($a, $b) / (sqrt(list_inner_product($a, $a)) * " +
      s"sqrt(list_inner_product($b, $b)))"

  /** The deterministic coarse quantizer shared by IVF (p14) and SemDeDup
    * (p36): DOUBLE vectors `e` and the 16 lowest-id vectors as
    * centroids `cent`. */
  private val quantizerCtes: String =
    """WITH e AS (SELECT vec_id,
      |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cell_id, v AS cvec FROM e
      |  ORDER BY vec_id LIMIT 16),
      |""".stripMargin

  val gates: Seq[Gate] = Seq(
    // brute-force cosine top-k (rank compare; scores are FP-sensitive)
    Gate("p09_embed_topk",
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
        |  FROM embeddings WHERE vec_id < 5),
        |scored AS (SELECT q.query_id, e.vec_id AS item_id,
        |    list_cosine_similarity(q.qvec, e.embedding) AS score
        |  FROM q CROSS JOIN embeddings e WHERE e.vec_id <> q.query_id),
        |ranked AS (SELECT query_id, item_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY score DESC, item_id ASC) AS rank
        |  FROM scored)
        |SELECT query_id, rank, item_id FROM ranked WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
        .select("query_id", "rank", "item_id")
        .orderBy("query_id", "rank")
    },

    // LSH ANN variant (recall asserted in spec)
    // Generated LSH-ANN oracle: the hyperplane components are exact binary
    // fractions, embedded as SQL literals; signature bits, 2-bit band keys
    // and the cosine rank replicate Similarity.lshTopK(k=5, dim=64,
    // nPlanes=16, bands=8) over queries vec_id < 5.
    Gate("p10_embed_lsh", {
      val planes = Similarity.hyperplanes(16, 64)
      def lits(pl: Seq[Double]): String =
        pl.map(d => java.math.BigDecimal.valueOf(d).toPlainString)
          .mkString("[", ", ", "]")
      val sigs = planes.zipWithIndex.map { case (pl, i) =>
        s"(CASE WHEN list_inner_product(v, ${lits(pl)}) >= 0 " +
          s"THEN 1 ELSE 0 END) AS s$i"
      }.mkString(",\n    ")
      val keyCase = (0 until 8).map(b =>
        s"WHEN $b THEN s${2 * b} + 2 * s${2 * b + 1}").mkString(" ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings),
         |sig AS (SELECT vec_id, v,
         |    $sigs
         |  FROM e),
         |banded AS (SELECT vec_id, v, b AS band,
         |    CASE b $keyCase END AS key
         |  FROM sig, unnest([0,1,2,3,4,5,6,7]) AS t(b)),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, i.vec_id AS item_id,
         |    list_inner_product(q.v, i.v) /
         |      (sqrt(list_inner_product(q.v, q.v)) *
         |       sqrt(list_inner_product(i.v, i.v))) AS score
         |  FROM banded i JOIN banded q
         |    ON i.band = q.band AND i.key = q.key
         |    AND q.vec_id < 5 AND q.vec_id <> i.vec_id),
         |ranked AS (SELECT query_id, item_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, item_id ASC) AS rank
         |  FROM cand)
         |SELECT query_id, rank, item_id FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin
    }) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.lshTopK(emb, queries, "vec_id", "embedding",
          k = 5, dim = 64, nPlanes = 16, bands = 8)
        .select("query_id", "rank", "item_id")
        .orderBy("query_id", "rank")
    },

    // embedding-cosine near-dup pairs (exact verification path)
    Gate("p13_embed_neardup",
      """WITH d AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
        |SELECT a.vec_id AS id1, b.vec_id AS id2,
        |  round(list_inner_product(a.v, b.v) /
        |    (sqrt(list_inner_product(a.v, a.v)) *
        |     sqrt(list_inner_product(b.v, b.v))), 6) AS cos6
        |FROM d a JOIN d b ON a.vec_id < b.vec_id
        |WHERE list_inner_product(a.v, b.v) /
        |  (sqrt(list_inner_product(a.v, a.v)) *
        |   sqrt(list_inner_product(b.v, b.v))) >= 0.4
        |ORDER BY id1, id2""".stripMargin) { (s, d) =>
      Dedup.embedNearDupPairs(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4)
        .select(col("id1"), col("id2"), round(col("cosine"), 6).as("cos6"))
        .orderBy("id1", "id2")
    },

    // IVF ANN: coarse-quantizer cells + nProbe probing (the second scale
    // path beside LSH; deterministic quantizer -> oracle-checkable)
    // IVF oracle: same deterministic quantizer (16 lowest-id centroids),
    // assignment argmax, 4-cell probe and cosine rank as
    // Similarity.ivfTopK(k=5, nCells=16, nProbe=4).
    Gate("p14_embed_ivf", quantizerCtes +
      s"""cells AS (SELECT cell_id, item_id, ivec FROM (
         |  SELECT c.cell_id, i.vec_id AS item_id, i.v AS ivec,
         |    ROW_NUMBER() OVER (PARTITION BY i.vec_id
         |      ORDER BY ${cos("i.v", "c.cvec")} DESC, c.cell_id ASC) AS rn
         |  FROM e i CROSS JOIN cent c) WHERE rn = 1),
         |probes AS (SELECT query_id, qvec, cell_id FROM (
         |  SELECT q.vec_id AS query_id, q.v AS qvec, c.cell_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${cos("q.v", "c.cvec")} DESC, c.cell_id ASC) AS rn
         |  FROM e q CROSS JOIN cent c WHERE q.vec_id < 5) WHERE rn <= 4),
         |scored AS (SELECT p.query_id, s.item_id,
         |    ${cos("p.qvec", "s.ivec")} AS score
         |  FROM probes p JOIN cells s ON p.cell_id = s.cell_id
         |  WHERE p.query_id <> s.item_id),
         |ranked AS (SELECT query_id, item_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id
         |      ORDER BY score DESC, item_id ASC) AS rank
         |  FROM scored)
         |SELECT query_id, rank, item_id FROM ranked WHERE rank <= 5
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = t(s, d, "embeddings")
      val queries = emb.filter(col("vec_id") < 5)
      Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
          k = 5, nCells = 16, nProbe = 4)
        .select("query_id", "rank", "item_id")
        .orderBy("query_id", "rank")
    },

    // BM25 ranked retrieval over the corpus (query-time counterpart of
    // the import-time token index): mixed-idf query, global top-20.
    // Integer columns oracle-checked; the FP score drives ranking only.
    Gate("p34_bm25_topk", bm25DirectSql) { (s, d) =>
      Ranking.bm25TopK(t(s, d, "documents"), "doc_id", "text",
          Seq("dup", "join", "spark"), k = 20)
        .select(col("rank"), col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("rank")
    },

    // SemDeDup semantic dedup: coarse-quantizer cells, within-cell
    // cosine >= threshold drops all but the lowest-id representative
    // (deterministic quantizer -> oracle-checkable end to end)
    // oracle: same deterministic lowest-id quantizer as the p14 oracle,
    // within-cell pairwise cosine, drop any member with a lower-id cluster-mate
    // at >= threshold
    Gate("p36_semantic_dedup", quantizerCtes +
      s"""cells AS (SELECT cell_id, vec_id, v FROM (
         |  SELECT c.cell_id, i.vec_id, i.v,
         |    ROW_NUMBER() OVER (PARTITION BY i.vec_id
         |      ORDER BY ${cos("i.v", "c.cvec")} DESC, c.cell_id ASC) AS rn
         |  FROM e i CROSS JOIN cent c) WHERE rn = 1),
         |dropped AS (SELECT DISTINCT b.vec_id FROM cells a JOIN cells b
         |  ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
         |  WHERE ${cos("a.v", "b.v")} >= 0.4)
         |SELECT c.vec_id, CAST(c.cell_id AS BIGINT) AS cell_id,
         |  d.vec_id IS NULL AS kept
         |FROM cells c LEFT JOIN dropped d ON c.vec_id = d.vec_id
         |ORDER BY c.vec_id""".stripMargin) { (s, d) =>
      Dedup.semanticDedup(t(s, d, "embeddings"), "vec_id", "embedding",
          threshold = 0.4, nCells = 16)
        .select(col("id").as("vec_id"), col("cell_id").cast("long")
          .as("cell_id"), col("kept"))
        .orderBy("vec_id")
    },

    // random-projection dimensionality reduction: 64 -> 4 dims through
    // the deterministic exact-binary-fraction hyperplanes
    // Generated random-projection oracle: the engine's deterministic
    // hyperplanes embedded as literal arrays (every component is an exact
    // binary fraction, so the literals parse back bit-identically).
    Gate("p41_random_project", {
      val planes = Similarity.hyperplanes(4, 64)
      def arr(p: Seq[Double]): String =
        p.map(_.toString).mkString("[", ", ", "]")
      val comps = planes.zipWithIndex.map { case (p, i) =>
        s"round(list_inner_product(v, ${arr(p)}), 6) AS d$i"
      }.mkString(",\n  ")
      s"""WITH e AS (SELECT vec_id,
         |    list_transform(embedding, x -> x::DOUBLE) AS v FROM embeddings)
         |SELECT vec_id,
         |  $comps
         |FROM e ORDER BY vec_id""".stripMargin
    }) { (s, d) =>
      Similarity.randomProject(t(s, d, "embeddings"), "vec_id",
          "embedding", dim = 64, outDim = 4)
        .select(col("id").as("vec_id"),
          round(element_at(col("proj"), 1), 6).as("d0"),
          round(element_at(col("proj"), 2), 6).as("d1"),
          round(element_at(col("proj"), 3), 6).as("d2"),
          round(element_at(col("proj"), 4), 6).as("d3"))
        .orderBy("vec_id")
    },

    // hybrid retrieval: the sparse BM25 list (p34's ranker at k=50)
    // and the dense cosine list (p09's ranker, query = vec 0) fused by
    // reciprocal rank — absent ranks surface as -1 so the nullable
    // columns stay hash-stable
    // oracle: p34's BM25 chain and p09's dense chain at k=50, full outer join
    // on doc, 1/(60+rank) contributions added sparse-first (the operator's
    // fixed fold order)
    Gate("p77_hybrid_rrf", bm25Ctes("") + """,
        |bm AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |      ORDER BY score DESC, doc_id) AS INT) AS rank_0
        |  FROM sc ORDER BY score DESC, doc_id LIMIT 50),
        |qv AS (SELECT embedding AS q FROM embeddings WHERE vec_id = 0),
        |ds AS (SELECT e.vec_id AS doc_id,
        |    list_cosine_similarity(qv.q, e.embedding) AS cs
        |  FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0),
        |dn AS (SELECT doc_id, CAST(ROW_NUMBER() OVER (
        |      ORDER BY cs DESC, doc_id) AS INT) AS rank_1
        |  FROM ds ORDER BY cs DESC, doc_id LIMIT 50),
        |fu AS (SELECT COALESCE(bm.doc_id, dn.doc_id) AS doc_id,
        |    bm.rank_0, dn.rank_1,
        |    COALESCE(CAST(1 AS DOUBLE) / (60 + bm.rank_0), 0)
        |      + COALESCE(CAST(1 AS DOUBLE) / (60 + dn.rank_1), 0)
        |      AS score,
        |    CAST(CASE WHEN bm.rank_0 IS NOT NULL THEN 1 ELSE 0 END
        |      + CASE WHEN dn.rank_1 IS NOT NULL THEN 1 ELSE 0 END
        |      AS INT) AS n_lists
        |  FROM bm FULL OUTER JOIN dn ON bm.doc_id = dn.doc_id)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
        |    AS INT) AS rank,
        |  doc_id, n_lists, COALESCE(rank_0, -1) AS rank_0,
        |  COALESCE(rank_1, -1) AS rank_1, round(score, 6) AS rrf6
        |FROM fu ORDER BY score DESC, doc_id LIMIT 20""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val emb = t(s, d, "embeddings")
      val sparse = Ranking.bm25TopK(docs, "doc_id", "text",
          Seq("dup", "join", "spark"), k = 50)
        .select(col("doc_id"), col("rank"))
      val dense = Similarity.bruteForceTopK(emb,
          emb.filter(col("vec_id") === 0), "vec_id", "embedding", k = 50)
        .select(col("item_id").as("doc_id"), col("rank"))
      Ranking.rrfFuse(Seq(sparse, dense), "doc_id", "rank", k = 20)
        .withColumn("rank_0", coalesce(col("rank_0"), lit(-1)))
        .withColumn("rank_1", coalesce(col("rank_1"), lit(-1)))
        .orderBy("rank")
    },

    // product-quantization ENCODE: every vector -> m=4 subspace codes
    // against the deterministic lowest-id codebook (integer output,
    // engine-exact end to end)
    Gate("p78_embed_pq_codes",
      (pqOracleCtes + "\nSELECT * FROM codes ORDER BY item_id")) { (s, d) =>
      Similarity.pqEncode(t(s, d, "embeddings"), "vec_id", "embedding",
          dim = 64, m = 4, nCodes = 8)
        .orderBy("item_id")
    },

    // PQ asymmetric-distance top-k: the memory-bound ANN scale path —
    // the corpus side of the scoring join is ONLY the p78 codes
    Gate("p79_embed_pq_topk", (pqOracleCtes + pqTopkOracleTail)) { (s, d) =>
      val emb = t(s, d, "embeddings")
      Similarity.pqTopK(emb, emb.filter(col("vec_id") < 5), "vec_id",
          "embedding", k = 5, dim = 64, m = 4, nCodes = 8)
        .orderBy("query_id", "rank")
    },

    // BM25 via a PERSISTED inverted index: build once (postings with
    // denormalized dl, sidecar-last), query touching only the queried
    // terms' posting lists — the oracle is the DIRECT path's SQL, so
    // green IS the index == rescans equivalence (the p72 saved-model
    // motion applied to retrieval)
    // oracle: the index path must reproduce the DIRECT path bit-for-bit, so its
    // oracle IS the direct path's SQL
    Gate("p81_bm25_index", bm25DirectSql) { (s, d) =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p81-").toString
      Ranking.buildTextIndex(t(s, d, "documents"), "doc_id", "text", dir)
      Ranking.bm25TopKFromIndex(s, dir, Seq("dup", "join", "spark"),
          k = 20)
        .select(col("rank"), col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("rank")
    },

    // index LIFECYCLE: build on the even half, APPEND the odd half
    // (bulk files first, sidecar rename last), query the grown index —
    // the oracle is still the direct path over the FULL corpus, so
    // green == append is equivalent to a fresh build of everything
    // oracle: append == fresh build == direct rescans: same oracle again
    Gate("p83_bm25_index_append", bm25DirectSql) { (s, d) =>
      val docs = t(s, d, "documents")
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p83-").toString
      Ranking.buildTextIndex(docs.filter(col("doc_id") % 2 === 0),
        "doc_id", "text", dir)
      Ranking.appendToTextIndex(docs.filter(col("doc_id") % 2 === 1),
        "doc_id", "text", dir, "drop1")
      Ranking.bm25TopKFromIndex(s, dir, Seq("dup", "join", "spark"),
          k = 20)
        .select(col("rank"), col("doc_id"), col("dl"), col("tf_total"))
        .orderBy("rank")
    }
  )
}
