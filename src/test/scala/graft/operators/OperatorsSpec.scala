package graft.operators

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkTestBase {
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog near the river bank today"
  private val docs = Seq(
    (0L, base),
    (1L, base + " extra"),                       // near-dup of 0
    (2L, base.replace("quick", "slow")),         // near-dup of 0
    (3L, "completely different text about spark engines and data systems"),
    (4L, base),                                  // exact dup of 0
    (5L, "short text")
  ).toDF("doc_id", "text")

  test("exact dedup keeps one representative per text") {
    val out = Dedup.exact(docs, col("text"), col("doc_id"))
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(out == Seq(0L, 1L, 2L, 3L, 5L)) // 4 deduped into 0
  }

  test("minhash LSH finds planted near-dups, not unrelated docs") {
    val pairs = Dedup.minhashPairs(docs, "doc_id", "text",
        k = 3, h = 32, bands = 16, threshold = 0.35)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L))) // exact dup: jaccard 1
    assert(pairs.contains((0L, 1L)) || pairs.contains((0L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash pairs find near-dups within hamming radius") {
    val pairs = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 8)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 4L)))
    assert(!pairs.contains((0L, 3L)))
  }

  test("ngram jaccard is exact") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text",
        k = 3, threshold = 0.99)
      .as[(Long, Long, Double)].collect().toSet
    assert(pairs.map(p => (p._1, p._2)) == Set((0L, 4L))) // only exact dup
  }

  test("brute-force cosine top-k ranks the identical vector first") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(1.0f, 0.01f, 0.0f)),  // nearly parallel to 0
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val res = Similarity.bruteForceTopK(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 2)
      .select("rank", "item_id").as[(Int, Long)].collect().toMap
    assert(res(1) == 1L) // closest is the nearly-parallel vector
  }

  test("LSH ANN returns a subset of candidates with correct scoring") {
    val emb = graft.core.Tables.t(spark, "/root/testdata/sf0.001",
      "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val lsh = Similarity.lshTopK(emb, q, "vec_id", "embedding",
        k = 5, dim = 64, nPlanes = 16, bands = 8)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    // recall against brute force should be non-trivial
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall > 0.2, s"LSH recall too low: $recall")
  }

  test("IVF ANN recalls most brute-force neighbors with partial probing") {
    val emb = graft.core.Tables.t(spark, "/root/testdata/sf0.001",
      "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, q, "vec_id", "embedding",
        k = 5, nCells = 16, nProbe = 8)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    assert(recall > 0.3, s"IVF recall too low: $recall")
    // probing fewer cells can only shrink the candidate set
    assert(ivf.size <= 15)
  }

  test("trained IVF centroids beat the default quantizer on skewed data") {
    // four tight clusters along distinct axes of an 8-dim space; item
    // ids ordered so the DEFAULT quantizer (lowest-id items) draws all
    // its centroids from cluster 0 — worst case for untrained IVF
    def vec(cluster: Int, jitterSeed: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f)
      v(cluster * 2) = 1.0f
      val r = new scala.util.Random(jitterSeed)
      (0 until 8).foreach(i => v(i) += (r.nextFloat() - 0.5f) * 0.1f)
      v
    }
    val items = (0 until 200).map { i =>
      val cluster = i / 50 // ids 0-49 cluster 0, 50-99 cluster 1, ...
      (i.toLong, vec(cluster, i))
    }.toDF("vec_id", "embedding")
    val q = items.filter(col("vec_id").isin(10L, 60L, 110L, 160L))
    val truth = Similarity.bruteForceTopK(items, q, "vec_id", "embedding", 5)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet

    def recallOf(cent: Option[org.apache.spark.sql.DataFrame]): Double = {
      val got = Similarity.ivfTopK(items, q, "vec_id", "embedding",
          k = 5, nCells = 4, nProbe = 1, centroids = cent)
        .select("query_id", "item_id").as[(Long, Long)].collect().toSet
      (truth intersect got).size.toDouble / truth.size
    }
    val trained = Similarity.trainCentroids(items, "vec_id", "embedding",
      nCells = 4, maxIter = 5)
    val rTrained = recallOf(Some(trained))
    val rDefault = recallOf(None)
    // k-means centers recover the four clusters; every query probes its
    // own cell -> near-perfect recall. The default quantizer's cells all
    // sit in cluster 0, so off-cluster queries lose their neighborhoods.
    assert(rTrained >= rDefault,
      s"trained recall $rTrained < default $rDefault")
    assert(rTrained > 0.9, s"trained recall too low: $rTrained")
  }

  test("language ID picks out en/zh-ish docs") {
    val d = Seq(
      (0L, "the cat and the dog are in the house that is on the hill"),
      (1L, "der Hund und die Katze sind nicht mit dem Mann im Haus"),
      (2L, "le chat et le chien sont dans la maison qui est sur les collines"),
      (3L, "el gato y el perro no son los animales en la casa"),
      (4L, "中文文本处理测试")
    ).toDF("doc_id", "text")
    val preds = d.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("p"))
      .as[(Long, String)].collect().toMap
    assert(preds(0) == "en"); assert(preds(1) == "de")
    assert(preds(2) == "fr"); assert(preds(3) == "es")
    assert(preds(4) == "zh")
  }

  test("language ID of null text is the default 'en', not null") {
    // parity with the pre-kernel HOF formulation AND the DuckDB oracle:
    // both fall through their CASE chains to 'en' on null input.
    val d = Seq((0L, Option.empty[String]), (1L, Some("the cat and the")))
      .toDF("doc_id", "text")
    val preds = d.select(col("doc_id"),
      TextAnalysis.langId(col("text")).as("p"))
      .as[(Long, String)].collect().toMap
    assert(preds(0) == "en"); assert(preds(1) == "en")
  }

  test("quality signals and fingerprints are deterministic") {
    val sig = TextAnalysis.qualitySignals(docs, "text")
      .filter(col("doc_id") === 0)
      .select("n_tokens", "punct_ratio", "quality_score").collect()(0)
    assert(sig.getInt(0) == 14)
    assert(sig.getDouble(1) == 0.0)
    assert(sig.getDouble(2) == 1.0)
    val fp = docs.select(TextAnalysis.fingerprintMd5(col("text")).as("f"))
      .filter(col("f").isNull).count()
    assert(fp == 0)
  }

  test("decontamination flags train docs overlapping the eval set") {
    // eval doc 10 is a near-copy of train doc 0 (shares 5-grams); train
    // docs 3 and 5 share nothing with eval; doc 5 is too short for grams
    val eval = Seq((10L, base + " tail"), (11L, "held out benchmark prose"))
      .toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") =!= 4L)
    val out = Decontaminate.flag(train, eval, "doc_id", "text", k = 5)
      .select("id", "n_hits", "contaminated")
      .as[(Long, Long, Boolean)].collect().sortBy(_._1).toSeq
    assert(out.map(_._1) == Seq(0L, 1L, 2L, 3L, 5L))
    val byId = out.map(t => t._1 -> t).toMap
    assert(byId(0L)._3 && byId(0L)._2 > 0)  // full 5-gram overlap
    assert(byId(1L)._3)                     // shares base's grams
    assert(byId(2L)._2 < byId(0L)._2)       // "slow" breaks some grams
    assert(!byId(3L)._3 && byId(3L)._2 == 0)
    assert(!byId(5L)._3 && byId(5L)._2 == 0) // < 5 words: no grams
  }

  test("connected components label near-dup clusters by min id") {
    val pairs = Seq((0L, 1L), (1L, 2L), (7L, 8L)).toDF("id1", "id2")
    val ids = Seq(0L, 1L, 2L, 3L, 7L, 8L).toDF("id")
    val cc = graft.operators.Dedup.connectedComponents(ids, pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cc.toSeq == Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L),
      (7L, 7L), (8L, 7L)))
  }

  test("connected components converge on a long chain and a cycle") {
    val pairs = ((0L until 9L).map(i => (i, i + 1)) :+ (9L, 0L))
      .toDF("id1", "id2")
    val ids = (0L until 10L).toDF("id")
    val cc = graft.operators.Dedup.connectedComponents(ids, pairs)
      .collect().map(r => r.getLong(1)).distinct
    assert(cc.toSeq == Seq(0L))
  }

  test("GraphX connected components agree with the DataFrame variant") {
    val pairs = Seq((0L, 1L), (1L, 2L), (7L, 8L), (5L, 5L))
      .toDF("id1", "id2")
    val ids = Seq(0L, 1L, 2L, 3L, 5L, 7L, 8L).toDF("id")
    val df = graft.operators.Dedup.connectedComponents(ids, pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    // the reference: GraphX's Pregel implementation over the same graph
    import org.apache.spark.graphx.{Edge, Graph}
    val g = Graph(ids.as[Long].rdd.map(id => (id, id)),
      pairs.as[(Long, Long)].rdd.map { case (a, b) => Edge(a, b, ()) })
    val gx = org.apache.spark.graphx.lib.ConnectedComponents.run(g)
      .vertices.collect().sortBy(_._1)
    assert(df.toSeq == gx.toSeq)
  }

  test("as-of join picks the latest right row at or before each left ts") {
    val purchases = Seq((1L, 100L, 10L), (1L, 101L, 20L), (2L, 102L, 5L))
      .toDF("user", "pid", "ts")
    val views = Seq((1L, 200L, 10L), (1L, 201L, 15L), (3L, 202L, 1L))
      .toDF("user", "vid", "ts")
    val r = graft.operators.AsOf.backward(purchases, views,
        keyCol = "user", tsCol = "ts",
        payload = col("vid"), asofCol = "view_id",
        tiebreak = col("vid"))
      .orderBy("pid").collect()
      .map(x => (x.getLong(1), Option(x.get(3)).map(_.toString).orNull))
    // pid 100 at ts=10 matches the same-instant view 200; pid 101 at
    // ts=20 takes the latest (201); user 2 has no views -> NULL
    assert(r.toSeq == Seq((100L, "200"), (101L, "201"), (102L, null)))
  }

  test("graph analytics: degrees and GraphX triangle counts") {
    // triangle 1-2-3 plus pendant 4 and isolate 9
    val pairs = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
      .toDF("id1", "id2")
    val ids = Seq(1L, 2L, 3L, 4L, 9L).toDF("id")
    val deg = graft.operators.GraphAnalytics.degrees(ids, pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(deg.toSeq == Seq((1L, 2L), (2L, 2L), (3L, 3L), (4L, 1L),
      (9L, 0L)))
    val tri = graft.operators.GraphAnalytics.triangleCounts(ids, pairs)
      .orderBy("id").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(tri.toSeq == Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 0L),
      (9L, 0L)))
  }

  test("sequence packing: concat-and-chunk bins, sparse ids, tiny chunks") {
    // in id order (2,5,7,1000) lengths 60+40 fill bin 0 exactly (cap
    // 100) -> doc 7 opens bin 1; sparse id 1000 lands in its own chunk
    val d = Seq((2L, 60L), (7L, 50L), (5L, 40L), (1000L, 30L))
      .toDF("id", "len")
    val out = Curation.packSequences(d, "id", "len", capacity = 100L,
        chunkSize = 2)
      .select("id", "bin_id", "bin_offset")
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((2L, 0L, 0L), (5L, 0L, 60L), (7L, 1L, 0L),
      (1000L, 1L, 50L)))
    // equivalent to the naive single-window cumulative sum
    val naive = d.orderBy("id").collect()
      .scanLeft(0L) { case (acc, r) => acc + r.getLong(1) }.init
    assert(out.map(_._2).toSeq == naive.map(_ / 100).toSeq)
  }

  test("budget sample keeps exactly the seeded prefix of each group") {
    val d = Seq.tabulate(20)(i => (i.toLong, if (i < 10) "a" else "b", 30L))
      .toDF("id", "grp", "len")
    val kept = Curation.budgetSample(d, "grp", "id", "len", budget = 100L)
      .collect()
    // 30-token docs into a 100 budget -> exactly 3 whole docs per group
    assert(kept.groupBy(_.getString(1)).view.mapValues(_.length).toMap ==
      Map("a" -> 3, "b" -> 3))
    // and they are the first 3 of each group in seeded-hash order
    val expectA = (0 until 10).map(_.toLong)
      .sortBy(i => java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:42".getBytes("UTF-8")).map("%02x".format(_)).mkString)
      .take(3).toSet
    assert(kept.filter(_.getString(1) == "a").map(_.getLong(0)).toSet ==
      expectA)
  }

  test("stratifiedSample draws exactly k per group, matches naive rank") {
    val d = ((0 until 100).map(i => (i.toLong, "a")) ++
      (100 until 105).map(i => (i.toLong, "b"))).toDF("id", "grp")
    val out = Curation.stratifiedSample(d, "grp", "id", k = 7, seed = 42)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // exact-k for the big group, whole small group
    assert(out.count(_._2 == "a") == 7 && out.count(_._2 == "b") == 5)
    // ranks dense 1..k, and the chunked two-pass rank equals the naive
    // single-window seeded rank
    def md5k(i: Long) = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$i:42".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val naive = (0L until 100L).sortBy(md5k).take(7).toSet
    assert(out.filter(_._2 == "a").map(_._1).toSet == naive)
    assert(out.filter(_._2 == "a").map(_._3).sorted.toSeq ==
      (1L to 7L))
  }

  test("ngramLmScore: hand-computed smoothed logprob; gibberish ranks worse") {
    val train = Seq((1L, "the cat sat"), (2L, "the cat ran")).toDF("id", "text")
    // vocab = {the, cat, sat, ran} -> V=4; c(the)=2, c(cat)=2
    // c(the cat)=2, c(cat sat)=1
    val score = Seq((10L, "the cat sat")).toDF("id", "text")
    val out = TextAnalysis.ngramLmScore(train, score, "id", "text",
      addK = 0.5).collect().head
    assert(out.getLong(1) == 2L && out.getLong(2) == 0L) // 2 bigrams, 0 oov
    assert(out.getLong(3) == 3L && out.getLong(4) == 4L) // c12: 2+1, c1: 2+2
    val expect = math.log((2 + 0.5) / (2 + 0.5 * 4)) +
      math.log((1 + 0.5) / (2 + 0.5 * 4))
    assert(math.abs(out.getDouble(5) - expect) < 1e-12)
    assert(math.abs(out.getDouble(6) - math.exp(-expect / 2)) < 1e-12)
    // fluent text scores lower perplexity than shuffled gibberish
    val s2 = Seq((20L, "the cat sat"), (21L, "sat the ran cat"))
      .toDF("id", "text")
    val r = TextAnalysis.ngramLmScore(train, s2, "id", "text")
      .collect().map(x => x.getLong(0) -> x.getDouble(6)).toMap
    assert(r(20L) < r(21L))
    // sub-2-token doc: 0 bigrams, null ppl, still present
    val r3 = TextAnalysis.ngramLmScore(train,
      Seq((30L, "the")).toDF("id", "text"), "id", "text").collect().head
    assert(r3.getLong(1) == 0L && r3.isNullAt(6))
  }

  test("ngramLmScoreBackoff: hand-computed stupid-backoff cascade") {
    // train: c1 = {a:1,b:2,c:1,z:1,d:1}, N=6, V=5;
    // c2 = {a b:1, b c:1, z b:1, b d:1}; c3 = {a b c:1, z b d:1}
    val train = Seq((1L, "a b c"), (2L, "z b d")).toDF("id", "text")
    val a = TextAnalysis.ngramLmScoreBackoff(train,
      Seq((10L, "a b c")).toDF("id", "text"), "id", "text",
      order = 3).collect().head
    // pos1 "a"->lvl1 (num 1/den N=6), pos2 "a b"->lvl2 (1/1),
    // pos3 "a b c"->lvl3 (1/1); no backoff anywhere
    assert(a.getAs[Long]("n_tokens") == 3L)
    assert(a.getAs[Long]("n_hit3") == 1L &&
      a.getAs[Long]("n_hit2") == 1L && a.getAs[Long]("n_hit1") == 1L)
    assert(a.getAs[Long]("n_oov") == 0L)
    assert(a.getAs[Long]("sum_num") == 3L &&
      a.getAs[Long]("sum_den") == 8L &&
      a.getAs[Long]("sum_steps") == 0L)
    assert(math.abs(a.getAs[Double]("logscore") - math.log(1.0 / 6)) < 1e-12)
    // "a b d": pos3's trigram "a b d" is unseen -> ONE backoff step to
    // the bigram "b d" (num 1 / den c1(b)=2), alpha = 2/5
    val b = TextAnalysis.ngramLmScoreBackoff(train,
      Seq((11L, "a b d")).toDF("id", "text"), "id", "text",
      order = 3).collect().head
    assert(b.getAs[Long]("n_hit3") == 0L &&
      b.getAs[Long]("n_hit2") == 2L && b.getAs[Long]("n_hit1") == 1L)
    assert(b.getAs[Long]("sum_steps") == 1L)
    val expectB = math.log(1.0 / 6) + math.log(1.0) +
      (math.log(0.4) + math.log(0.5))
    assert(math.abs(b.getAs[Double]("logscore") - expectB) < 1e-12)
    // OOV floor: "q" unseen at the unigram -> lvl 0, ln(1/(N+V))=ln(1/11)
    // at 0 steps; pos2 "q b" misses the bigram, backs off to "b" (lvl 1,
    // 1 step, num 2 / den 6)
    val o = TextAnalysis.ngramLmScoreBackoff(train,
      Seq((12L, "q b")).toDF("id", "text"), "id", "text",
      order = 3).collect().head
    assert(o.getAs[Long]("n_oov") == 1L && o.getAs[Long]("n_hit1") == 1L)
    assert(o.getAs[Long]("sum_num") == 2L &&
      o.getAs[Long]("sum_den") == 6L &&
      o.getAs[Long]("sum_steps") == 1L)
    val expectO = math.log(1.0 / 11) +
      (math.log(0.4) + math.log(2.0 / 6))
    assert(math.abs(o.getAs[Double]("logscore") - expectO) < 1e-12)
    // empty/absent docs still come back with zeroed stats and null ppl
    val e = TextAnalysis.ngramLmScoreBackoff(train,
      Seq((13L, "")).toDF("id", "text"), "id", "text",
      order = 3).collect().head
    assert(e.getAs[Long]("n_tokens") == 0L && e.isNullAt(e.length - 1))
  }

  test("ngramLmScoreBackoff at order 5: top-order hit and a 4-step " +
      "cascade to the OOV floor, hand-computed") {
    // train = one 5-token doc: every k-gram table holds exactly the
    // grams of "a b c d e"; N = 5 tokens, V = 5 distinct words
    val train = Seq((1L, "a b c d e")).toDF("id", "text")
    // exact replay: each position scores at its top admissible order
    val hit = TextAnalysis.ngramLmScoreBackoff(train,
      Seq((10L, "a b c d e")).toDF("id", "text"), "id", "text",
      order = 5).collect().head
    for (k <- 1 to 5)
      assert(hit.getAs[Long](s"n_hit$k") == 1L, s"n_hit$k")
    assert(hit.getAs[Long]("sum_steps") == 0L &&
      hit.getAs[Long]("n_oov") == 0L)
    // num 1 at every position; den = N (pos1) + c(k-1-prefix)=1 x4
    assert(hit.getAs[Long]("sum_num") == 5L &&
      hit.getAs[Long]("sum_den") == 9L)
    // "a b c d x": positions 1-4 hit at orders 1-4; position 5 misses
    // the 5-gram, 4-gram, 3-gram and 2-gram ending in the unseen "x",
    // then falls past the unigram to the OOV floor: 4 backoff steps
    val miss = TextAnalysis.ngramLmScoreBackoff(train,
      Seq((11L, "a b c d x")).toDF("id", "text"), "id", "text",
      order = 5).collect().head
    assert(miss.getAs[Long]("n_hit5") == 0L &&
      miss.getAs[Long]("n_hit4") == 1L &&
      miss.getAs[Long]("n_hit3") == 1L &&
      miss.getAs[Long]("n_hit2") == 1L &&
      miss.getAs[Long]("n_hit1") == 1L)
    assert(miss.getAs[Long]("n_oov") == 1L &&
      miss.getAs[Long]("sum_steps") == 4L)
    // logscore: hits contribute ln(1/5)+0+0+0; the OOV position pays
    // 4 alpha steps times the 1/(N+V) floor
    val expect = math.log(1.0 / 5) +
      4 * math.log(0.4) + math.log(1.0 / 10)
    assert(math.abs(miss.getAs[Double]("logscore") - expect) < 1e-12)
    assert(hit.getAs[Double]("ppl") < miss.getAs[Double]("ppl"))
  }

  test("ngramLmScoreBackoff minCount pruning: pruned trigrams back " +
      "off where unpruned hit; orders 1-2 never prune") {
    // c3 = {a b c: 2, z b d: 1}; minCount=2 prunes "z b d" only.
    // c1/c2 keep their singletons (z:1, z b:1, b d:1) — unpruned.
    val train = Seq((1L, "a b c"), (2L, "a b c"), (3L, "z b d"))
      .toDF("id", "text")
    val score = Seq((10L, "a b c"), (11L, "z b d")).toDF("id", "text")
    def run(mc: Int) = TextAnalysis.ngramLmScoreBackoff(train, score,
        "id", "text", order = 3, minCount = mc)
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    val un = run(1)
    val pr = run(2)
    // the frequent trigram still hits at order 3 under pruning
    assert(pr(10L).getAs[Long]("n_hit3") == 1L &&
      pr(10L).getAs[Long]("sum_steps") == 0L)
    // the singleton trigram hit unpruned...
    assert(un(11L).getAs[Long]("n_hit3") == 1L &&
      un(11L).getAs[Long]("sum_steps") == 0L)
    // ...but BACKS OFF pruned: pos3 falls to the bigram "b d" (1/3),
    // one alpha step; the singleton bigram "z b" still hits at lvl 2
    // (orders 1-2 are never pruned)
    assert(pr(11L).getAs[Long]("n_hit3") == 0L &&
      pr(11L).getAs[Long]("n_hit2") == 2L &&
      pr(11L).getAs[Long]("n_hit1") == 1L &&
      pr(11L).getAs[Long]("n_oov") == 0L)
    assert(pr(11L).getAs[Long]("sum_steps") == 1L)
    // num: z 1 + "z b" 1 + "b d" 1; den: N=9 + c1(z)=1 + c1(b)=3
    assert(pr(11L).getAs[Long]("sum_num") == 3L &&
      pr(11L).getAs[Long]("sum_den") == 13L)
    // unpruned den: N=9 + c1(z)=1 + c2(z b)=1
    assert(un(11L).getAs[Long]("sum_den") == 11L)
    // pruning degrades the pruned doc's score, leaves the other exact
    assert(pr(11L).getAs[Double]("ppl") > un(11L).getAs[Double]("ppl"))
    assert(pr(10L).getAs[Double]("logscore") ==
      un(10L).getAs[Double]("logscore"))
    // minCount=1 is the identity: bit-identical to the default path
    assert(run(1).view.mapValues(_.toSeq).toMap ==
      TextAnalysis.ngramLmScoreBackoff(train, score, "id", "text",
        order = 3).collect()
        .map(r => r.getAs[Long]("id") -> r.toSeq).toMap)
  }

  test("saveLmModel / ngramLmScoreWithModel: the disk round trip is " +
      "bit-identical to the in-line scorer, pins its own params, and " +
      "fails closed on an incomplete save") {
    val train = Seq((1L, "a b c"), (2L, "a b c"), (3L, "z b d"))
      .toDF("id", "text")
    val score = Seq((10L, "a b c"), (11L, "z b d"), (12L, ""))
      .toDF("id", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-model-").toString
    TextAnalysis.saveLmModel(train, "text", dir, order = 3,
      minCount = 2)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.toSeq).toMap
    // saved == in-line at the same pruning, column for column
    assert(rows(TextAnalysis.ngramLmScoreWithModel(dir, score,
        "id", "text")) ==
      rows(TextAnalysis.ngramLmScoreBackoff(train, score, "id", "text",
        order = 3, minCount = 2)))
    // a document's score does not depend on what it is scored with:
    // scoring the docs in two calls equals one call over all of them
    assert(Seq(col("id") < 12, col("id") === 12)
        .map(c => rows(TextAnalysis.ngramLmScoreWithModel(dir,
          score.filter(c), "id", "text"))).reduce(_ ++ _) ==
      rows(TextAnalysis.ngramLmScoreWithModel(dir, score, "id", "text")))
    // order and hashing come from the sidecar, not the caller — a
    // model trained at order 3 scores at order 3, full stop (the meta
    // line carries order/minCount/portable/n/v)
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "params.lm.txt")), "UTF-8")
    assert(meta.contains("order=3") && meta.contains("minCount=2") &&
      meta.contains("n=9") && meta.contains("v=5"), meta)
    // re-save with different params replaces the model wholesale
    TextAnalysis.saveLmModel(train, "text", dir, order = 2)
    val rescored = TextAnalysis.ngramLmScoreWithModel(dir, score,
      "id", "text")
    assert(!rescored.columns.contains("n_hit3") &&
      rescored.columns.contains("n_hit2"))
    // an interrupted save (counts present, sidecar missing) refuses
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(dir, "params.lm.txt"))
    val e = intercept[IllegalStateException] {
      TextAnalysis.ngramLmScoreWithModel(dir, score, "id", "text")
    }
    assert(e.getMessage.contains("params.lm.txt"))
    // ...and so does a wrong dir
    intercept[IllegalStateException] {
      TextAnalysis.ngramLmScoreWithModel("/tmp/graft-no-such-model",
        score, "id", "text")
    }
  }

  test("ngramLmScoreBackoff: order 3 separates where order 2 ties " +
      "(the CCNet gap vs the add-k bigram)") {
    val train = Seq((1L, "a b c"), (2L, "z b d")).toDF("id", "text")
    val score = Seq((10L, "a b c"), (11L, "a b d")).toDF("id", "text")
    // order 2: both docs hit the same bigram/unigram counts
    // (c2(b c) = c2(b d) = 1, shared prefix "a b") -> EXACT tie on every
    // statistic including the float score
    val o2 = TextAnalysis.ngramLmScoreBackoff(train, score, "id", "text",
      order = 2).collect().map(r => r.getAs[Long]("id") -> r).toMap
    for (c <- Seq("n_tokens", "n_hit2", "n_hit1", "n_oov", "sum_num",
        "sum_den", "sum_steps"))
      assert(o2(10L).getAs[Long](c) == o2(11L).getAs[Long](c),
        s"order-2 $c should tie")
    assert(o2(10L).getAs[Double]("logscore") ==
      o2(11L).getAs[Double]("logscore"))
    // order 3: the trained trigram "a b c" separates them — doc 10
    // scores strictly higher (lower ppl), doc 11 pays one alpha step
    val o3 = TextAnalysis.ngramLmScoreBackoff(train, score, "id", "text",
      order = 3).collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(o3(10L).getAs[Long]("n_hit3") == 1L &&
      o3(11L).getAs[Long]("n_hit3") == 0L)
    assert(o3(10L).getAs[Double]("logscore") >
      o3(11L).getAs[Double]("logscore"))
    assert(o3(10L).getAs[Double]("ppl") < o3(11L).getAs[Double]("ppl"))
    // and fluent text still beats shuffled gibberish at order 3
    val g = TextAnalysis.ngramLmScoreBackoff(train,
      Seq((20L, "a b c"), (21L, "c a b")).toDF("id", "text"),
      "id", "text", order = 3).collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("ppl")).toMap
    assert(g(20L) < g(21L))
  }

  test("ngramLmScoreBackoff composes with perplexityBuckets on an " +
      "integer surrogate (the p62 CCNet chain at order n)") {
    val train = Seq((1L, "a b c d e"), (2L, "a b c x y")).toDF("id", "text")
    val score = Seq((10L, "a b c d e"), (11L, "a b c"), (12L, "e d c b a"),
      (13L, "x y a b"), (14L, "q q q"), (15L, "a b x y")).toDF("id", "text")
    val lm = TextAnalysis.ngramLmScoreBackoff(train, score, "id", "text",
      order = 3)
    // exact integer fluency surrogate, like the p62 gate's: more
    // high-order hits and fewer backoff steps rank better
    val keyed = lm.withColumn("ppl_proxy",
      expr("0L - (((n_hit3 * 4 + n_hit2 * 2 + n_hit1) * 1000000L) " +
        "DIV greatest(n_tokens, 1L))"))
    val out = TextAnalysis.perplexityBuckets(keyed, "id", "ppl_proxy",
        groupCols = Nil, k = 3)
      .select("id", "bucket_name", "rank_in_group").collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("bucket_name"), r.getAs[Long]("rank_in_group")))
      .toMap
    assert(out.size == 6)
    // the fully-trained doc ranks first (head); all-OOV gibberish last
    assert(out(10L)._1 == "head" && out(10L)._2 == 1L)
    assert(out(14L)._1 == "tail" && out(14L)._2 == 6L)
  }

  test("trainLinearClassifier: hand-traced fixed-point GD (clamps, " +
      "residuals, floor-division updates all exact)") {
    // portable buckets: md5be64("excellent") % 64 = 55,
    // md5be64("spam") % 64 = 57 (no collision)
    val d = Seq((1L, "excellent excellent", true), (2L, "spam", false))
      .toDF("id", "text", "y")
    val w = TextAnalysis.trainLinearClassifier(d, "id", "text", "y",
        buckets = 64, iters = 2, fracBits = 20, lrShift = 20)
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("w")).toMap
    // iter 1: z=0 -> sigma4S = 2S; R = ∓2S; G55 = -2S*2, G57 = +2S;
    //   W55 = -floor(-4S/P) = 4, W57 = -floor(2S/P) = -2  (P = 2^20 = S)
    // iter 2: z1 = 8 -> R1 = -2S+8 -> G55 = -4194288 -> floor = -4 ->
    //   W55 = 8; z2 = -2 -> R2 = 2S-2 -> G57 = 2097150 -> floor = 1 ->
    //   W57 = -3
    assert(w(55L) == 8L, s"w55 = ${w(55L)}")
    assert(w(57L) == -3L, s"w57 = ${w(57L)}")
    assert(w.filter(kv => kv._1 != 55L && kv._1 != 57L)
      .values.forall(_ == 0L), "untouched buckets must stay 0")
  }

  test("trainLinearClassifier recovers a planted separation and " +
      "round-trips through linearScoreHashed") {
    // 20 positives keyed by "excellent", 20 negatives by "spam", with
    // shared filler words; lrShift sized for a 40-doc corpus
    val rows = (0 until 40).map { i =>
      val pos = i % 2 == 0
      val key = if (pos) "excellent prose excellent" else "spam noise spam"
      (i.toLong, s"some shared filler words $key here", pos)
    }
    val d = rows.toDF("id", "text", "y")
    val model = TextAnalysis.trainLinearClassifier(d, "id", "text", "y",
      buckets = 64, iters = 3, fracBits = 20, lrShift = 12)
    val w = model.collect()
      .map(r => r.getAs[Long]("b") -> r.getAs[Long]("w")).toMap
    assert(w(55L) > 0L, s"planted positive key got w=${w(55L)}")
    assert(w(57L) < 0L, s"planted negative key got w=${w(57L)}")
    // round-trip: score with the trained model, threshold at 0
    val scored = TextAnalysis.linearScoreHashed(d, "id", "text",
        model, buckets = 64)
      .collect().map(r => r.getAs[Long]("id") ->
        r.getAs[Boolean]("label")).toMap
    rows.foreach { case (id, _, y) =>
      assert(scored(id) == y, s"doc $id misclassified after round-trip")
    }
    // determinism: retraining yields bit-identical weights
    val w2 = TextAnalysis.trainLinearClassifier(d, "id", "text", "y",
        buckets = 64, iters = 3, fracBits = 20, lrShift = 12)
      .collect().map(r => r.getAs[Long]("b") -> r.getAs[Long]("w")).toMap
    assert(w == w2, "training must be deterministic")
  }

  test("trainLinearClassifier fails closed on NULL or non-castable " +
      "labels (a null label would silently drop the doc's gradient)") {
    val withNull = Seq((1L, "good text", Some(true)),
      (2L, "other text", None)).toDF("id", "text", "y")
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.trainLinearClassifier(withNull, "id", "text", "y",
        buckets = 64, iters = 1)
    }
    assert(e.getMessage.contains("NULL"))
    val nonCastable = Seq((1L, "good text", "yes"))
      .toDF("id", "text", "y")
    intercept[IllegalArgumentException] {
      TextAnalysis.trainLinearClassifier(nonCastable, "id", "text", "y",
        buckets = 64, iters = 1)
    }
    // numeric but out of {0,1}: a multi-class column passed by
    // mistake would corrupt the residual silently, so it fails too
    val multiClass = Seq((1L, "good text", 0L), (2L, "other", 2L))
      .toDF("id", "text", "y")
    val e3 = intercept[IllegalArgumentException] {
      TextAnalysis.trainLinearClassifier(multiClass, "id", "text", "y",
        buckets = 64, iters = 1)
    }
    assert(e3.getMessage.contains("{0,1}"))
  }

  test("saveLmModel refuses an empty train corpus (a model of " +
      "nothing fails every later scorer with an unrelated error)") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-empty-").toString
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.saveLmModel(
        Seq.empty[(Long, String)].toDF("id", "text"), "text", dir)
    }
    assert(e.getMessage.contains("no tokens"))
    // nothing half-written: no sidecar means scorers keep failing
    // closed with the save-side message, not schema inference
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "params.lm.txt")))
  }

  test("per-language LM (langCol): one-pass scoring equals the " +
      "per-language-model loop bit-for-bit; the same text scores " +
      "differently under two languages' models; unknown langs " +
      "degenerate deterministically") {
    val train = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b c"), (3L, "en", "z b d"),
      (4L, "fr", "a b q"), (5L, "fr", "q q a"))
      .toDF("id", "lang", "text")
    val score = Seq(
      (10L, "en", "a b c"), (11L, "fr", "a b c"),
      (12L, "en", "q q"), (13L, "fr", "q q"))
      .toDF("id", "lang", "text")
    val per = TextAnalysis.ngramLmScoreBackoff(train, score, "id",
      "text", order = 3, langCol = Some("lang"))
    assert(per.columns.take(2).toSeq == Seq("id", "lang"))
    val perRows = per.collect()
      .map(r => r.getAs[Long]("id") -> r.toSeq).toMap
    // CCNet §3.3 loop equality: for EVERY language, the one-pass
    // per-lang rows equal a single-language model trained on that
    // language's slice alone — all columns, floats included
    for (l <- Seq("en", "fr")) {
      val single = TextAnalysis.ngramLmScoreBackoff(
        train.filter(col("lang") === l).drop("lang"),
        score.filter(col("lang") === l), "id", "text", order = 3)
      single.collect().foreach { r =>
        val spliced = (r.toSeq.take(1) :+ l) ++ r.toSeq.drop(1)
        assert(perRows(r.getAs[Long]("id")) == spliced,
          s"lang=$l id=${r.get(0)}: per-lang != per-model loop")
      }
    }
    // the SAME text under two models: "a b c" hits en's trained
    // trigram but backs off under fr — different levels, different
    // scores (the two-language separation the round-16 gate hashes)
    val en = perRows(10L); val fr = perRows(11L)
    assert(en != fr)
    assert(per.filter(col("id") === 10L).collect()
        .head.getAs[Long]("n_hit3") == 1L &&
      per.filter(col("id") === 11L).collect()
        .head.getAs[Long]("n_hit3") == 0L)
    // a doc whose lang has NO model: every token OOV against the
    // empty event space (num=den=0, floor prob 1), logscore pays
    // only the backoff-step alphas — deterministic, never null
    val zz = TextAnalysis.ngramLmScoreBackoff(train,
        Seq((20L, "zz", "a b")).toDF("id", "lang", "text"),
        "id", "text", order = 3, langCol = Some("lang"))
      .collect().head
    assert(zz.getAs[Long]("n_oov") == 2L &&
      zz.getAs[Long]("sum_num") == 0L &&
      zz.getAs[Long]("sum_den") == 0L)
    assert(math.abs(zz.getAs[Double]("logscore") -
      math.log(0.4)) < 1e-12) // pos2's single backoff step
  }

  test("saveLmModel(langCol): the per-language disk round trip is " +
      "bit-identical to the in-line per-lang scorer; lang-shape " +
      "mismatches and non-code lang values fail closed") {
    val train = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b c"), (3L, "en", "z b d"),
      (4L, "fr", "a b q"), (5L, "fr", "q q a"))
      .toDF("id", "lang", "text")
    val score = Seq(
      (10L, "en", "a b c"), (11L, "fr", "a b c"), (12L, "fr", ""))
      .toDF("id", "lang", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-perlang-").toString
    TextAnalysis.saveLmModel(train, "text", dir, order = 3,
      minCount = 2, langCol = Some("lang"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.toSeq).toMap
    assert(rows(TextAnalysis.ngramLmScoreWithModel(dir, score,
        "id", "text", langCol = Some("lang"))) ==
      rows(TextAnalysis.ngramLmScoreBackoff(train, score, "id", "text",
        order = 3, minCount = 2, langCol = Some("lang"))))
    // the sidecar marks the model per-language and carries one (n, v)
    // line per language — scoring reads the shape from disk
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "params.lm.txt")), "UTF-8")
    assert(meta.contains("perlang=true") &&
      meta.contains("lang=en n=") && meta.contains("lang=fr n="), meta)
    // shape mismatches fail closed BOTH ways: a per-lang model scored
    // without langCol would silently all-OOV every doc...
    val e1 = intercept[IllegalArgumentException] {
      TextAnalysis.ngramLmScoreWithModel(dir, score, "id", "text")
    }
    assert(e1.getMessage.contains("PER-LANGUAGE"))
    // ...and a single-lang model scored "per language" would silently
    // give every language the same model
    val dir2 = java.nio.file.Files
      .createTempDirectory("graft-lm-single-").toString
    TextAnalysis.saveLmModel(train, "text", dir2, order = 3)
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.ngramLmScoreWithModel(dir2, score, "id", "text",
        langCol = Some("lang"))
    }
    assert(e2.getMessage.contains("single-language"))
    // NUMERIC lang codes survive the round trip as STRINGS: without
    // the pinned read schema, partition type inference reads lang=01/
    // and lang=1/ both as int 1 and silently merges two languages'
    // models ("a" below must hit only in lang "01"'s model)
    val dirN = java.nio.file.Files
      .createTempDirectory("graft-lm-numlang-").toString
    TextAnalysis.saveLmModel(
      Seq((1L, "01", "a a"), (2L, "1", "b b"))
        .toDF("id", "lang", "text"),
      "text", dirN, order = 2, langCol = Some("lang"))
    val rN = TextAnalysis.ngramLmScoreWithModel(dirN,
        Seq((5L, "01", "a"), (6L, "1", "a")).toDF("id", "lang", "text"),
        "id", "text", langCol = Some("lang"))
      .collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("n_hit1")).toMap
    assert(rN == Map(5L -> 1L, 6L -> 0L),
      s"numeric lang partitions merged: $rN")
    // re-saving a PER-LANG dir as single-lang (and back) switches the
    // shape wholesale: overwrite replaces the whole counts table and
    // the sidecar re-pins the shape, so the stale-shape call fails
    // closed and the new-shape call works — no partition-layout ghosts
    TextAnalysis.saveLmModel(train, "text", dir, order = 3)
    intercept[IllegalArgumentException] {
      TextAnalysis.ngramLmScoreWithModel(dir, score, "id", "text",
        langCol = Some("lang"))
    }
    assert(TextAnalysis.ngramLmScoreWithModel(dir, score, "id", "text")
      .columns.head == "id")
    TextAnalysis.saveLmModel(train, "text", dir, order = 3,
      minCount = 2, langCol = Some("lang"))
    assert(rows(TextAnalysis.ngramLmScoreWithModel(dir, score,
        "id", "text", langCol = Some("lang"))) ==
      rows(TextAnalysis.ngramLmScoreBackoff(train, score, "id", "text",
        order = 3, minCount = 2, langCol = Some("lang"))),
      "per-lang re-save over a single-lang dir must be clean")
    // a lang value that is not a language code (spaces would corrupt
    // the sidecar line format; odd chars the partition dirs) refuses
    // at save time with the real cause
    val e3 = intercept[IllegalArgumentException] {
      TextAnalysis.saveLmModel(
        Seq((1L, "e n", "a b")).toDF("id", "lang", "text"), "text",
        java.nio.file.Files.createTempDirectory("graft-lm-bad-")
          .toString, langCol = Some("lang"))
    }
    assert(e3.getMessage.contains("language"))
  }

  test("addLmModelLanguages: append equals retrain-all bit-for-bit, " +
      "untouched languages' files are never rewritten, params come " +
      "from the sidecar, and the crash window (partitions landed, " +
      "sidecar rename didn't) fails closed to the no-model path") {
    val trainEnFr = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b c"), (3L, "en", "z b d"),
      (4L, "fr", "a b q"), (5L, "fr", "q q a"))
      .toDF("id", "lang", "text")
    val trainDe = Seq((6L, "de", "x y z"), (7L, "de", "x y z"))
      .toDF("id", "lang", "text")
    val score = Seq(
      (10L, "en", "a b c"), (11L, "fr", "a b c"),
      (12L, "de", "x y z"), (13L, "zz", "x y"))
      .toDF("id", "lang", "text")
    def tmp(p: String) =
      java.nio.file.Files.createTempDirectory(p).toString
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.toSeq).toMap
    // per-file (path -> md5) state of one language's count partitions
    def fileState(dir: String, lang: String): Map[String, String] = {
      val root = java.nio.file.Paths.get(s"$dir/counts/lang=$lang")
      val md = java.security.MessageDigest.getInstance("MD5")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.toString ->
          md.digest(java.nio.file.Files.readAllBytes(p))
            .map("%02x".format(_)).mkString)
        .toMap
    }
    // path A: retrain everything; path B: save en+fr, APPEND de
    val dirA = tmp("graft-lm-all-")
    TextAnalysis.saveLmModel(trainEnFr.unionByName(trainDe), "text",
      dirA, order = 3, minCount = 2, langCol = Some("lang"))
    val dirB = tmp("graft-lm-grow-")
    TextAnalysis.saveLmModel(trainEnFr, "text", dirB, order = 3,
      minCount = 2, langCol = Some("lang"))
    val beforeEn = fileState(dirB, "en")
    val beforeFr = fileState(dirB, "fr")
    TextAnalysis.addLmModelLanguages(trainDe, "text", dirB, "lang")
    assert(fileState(dirB, "en") == beforeEn &&
      fileState(dirB, "fr") == beforeFr,
      "append must never rewrite untouched languages' files")
    // scoring equality across all languages — the appended one, the
    // untouched ones, and an absent one (degenerate path) — all
    // columns, floats included
    assert(rows(TextAnalysis.ngramLmScoreWithModel(dirB, score, "id",
        "text", langCol = Some("lang"))) ==
      rows(TextAnalysis.ngramLmScoreWithModel(dirA, score, "id",
        "text", langCol = Some("lang"))),
      "add-lang model must score identically to retrain-all")
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dirB, "params.lm.txt")), "UTF-8")
    assert(meta.contains("lang=de n=") && meta.contains("lang=en n="),
      s"sidecar must carry old and new languages: $meta")
    // fail-closed: an already-saved language is immutable...
    val eDup = intercept[IllegalArgumentException] {
      TextAnalysis.addLmModelLanguages(trainEnFr, "text", dirB, "lang")
    }
    assert(eDup.getMessage.contains("immutable"), eDup.getMessage)
    // ...a single-language model cannot grow languages...
    val dirS = tmp("graft-lm-sing-")
    TextAnalysis.saveLmModel(trainEnFr, "text", dirS, order = 3)
    val eS = intercept[IllegalArgumentException] {
      TextAnalysis.addLmModelLanguages(trainDe, "text", dirS, "lang")
    }
    assert(eS.getMessage.contains("single-language"), eS.getMessage)
    // ...and a missing/incomplete model has nothing to append to
    val eM = intercept[IllegalArgumentException] {
      TextAnalysis.addLmModelLanguages(trainDe, "text",
        tmp("graft-lm-none-"), "lang")
    }
    assert(eM.getMessage.contains("no complete model"), eM.getMessage)
    // the crash window: new partitions on disk, sidecar NOT extended
    // (simulated by writing orphan lang=pt partitions directly).
    // Scoring prunes its count scan to the sidecar's language
    // manifest, so 'pt' docs take the documented no-model degenerate
    // path instead of hitting orphan tables with a zero event space
    spark.read.schema("h BIGINT, c BIGINT, k INT")
      .parquet(s"$dirB/counts/lang=de")
      .write.partitionBy("k").parquet(s"$dirB/counts/lang=pt")
    val pt = TextAnalysis.ngramLmScoreWithModel(dirB,
        Seq((14L, "pt", "x y z")).toDF("id", "lang", "text"),
        "id", "text", langCol = Some("lang"))
      .collect().head
    assert(pt.getAs[Long]("n_oov") == 3L &&
      pt.getAs[Long]("sum_num") == 0L &&
      pt.getAs[Long]("sum_den") == 0L,
      s"orphan partitions must be invisible until the sidecar lands: " +
        s"$pt")
  }

  test("addLmModelLanguages fails closed while the model dir's lock " +
      "is held: it names the holder and leaves the sidecar as it was") {
    val train = Seq((1L, "en", "a b c"), (2L, "fr", "a b q"))
      .toDF("id", "lang", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-locked-").toString
    TextAnalysis.saveLmModel(train, "text", dir, order = 2,
      langCol = Some("lang"))
    val meta = java.nio.file.Paths.get(dir, "params.lm.txt")
    val before = java.nio.file.Files.readAllBytes(meta).toSeq
    val lock = java.nio.file.Paths.get(dir, "lock")
    java.nio.file.Files.write(lock,
      "op=other-writer host=h pid=1 start=t".getBytes("UTF-8"))
    try {
      val e = intercept[IllegalStateException] {
        TextAnalysis.addLmModelLanguages(
          Seq((3L, "de", "x y z")).toDF("id", "lang", "text"), "text",
          dir, "lang")
      }
      assert(e.getMessage.contains("op=other-writer host=h pid=1"),
        e.getMessage)
      assert(java.nio.file.Files.readAllBytes(meta).toSeq == before)
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(dir, "counts", "lang=de")))
    } finally java.nio.file.Files.delete(lock)
  }

  test("broadcastModel=false (AQE picks join strategies) returns " +
      "rows identical to the broadcast default, single- and per-lang") {
    val train = Seq(
      (1L, "en", "a b c"), (2L, "en", "a b c"), (3L, "fr", "a b q"))
      .toDF("id", "lang", "text")
    // hits, backoff, OOV (c is unseen in fr), an empty doc, and an
    // unknown-lang doc — the AQE path must keep every position
    // AND every doc the broadcast path keeps
    val score = Seq((10L, "en", "a b c"), (11L, "fr", "a b c"),
      (12L, "zz", "q q"), (13L, "en", ""))
      .toDF("id", "lang", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("id") -> r.toSeq).toMap
    // join strategy is physical only — the knob exists for models past
    // the broadcast budget and must never change a single value
    assert(rows(TextAnalysis.ngramLmScoreBackoff(train, score, "id",
        "text", order = 3, broadcastModel = false)) ==
      rows(TextAnalysis.ngramLmScoreBackoff(train, score, "id",
        "text", order = 3)))
    assert(rows(TextAnalysis.ngramLmScoreBackoff(train, score, "id",
        "text", order = 3, langCol = Some("lang"),
        broadcastModel = false)) ==
      rows(TextAnalysis.ngramLmScoreBackoff(train, score, "id",
        "text", order = 3, langCol = Some("lang"))))
  }

  test("per-language saved model holds at a CCNet-sized language " +
      "count: 200 languages, one train pass, every doc scores " +
      "against its own model") {
    // CCNet ships ~174 per-language models; the one-pass save must
    // not hide a per-language driver bottleneck (the sidecar is one
    // line per language, the counts table one partition pair, the
    // (N, V) frame one broadcast row — all languages in ONE job)
    val langs = (0 until 200).map(i => f"lg$i%03d")
    val train = langs.zipWithIndex.flatMap { case (l, i) =>
      (0 until 2).map(d =>
        ((i * 10 + d).toLong, l, s"tok$l a$l b$l tok$l a$l"))
    }.toDF("id", "lang", "text")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-lm-200l-").toString
    TextAnalysis.saveLmModel(train, "text", dir, order = 2,
      langCol = Some("lang"))
    val meta = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(dir, "params.lm.txt")), "UTF-8")
    assert(meta.linesIterator.count(_.startsWith("lang=")) == 200)
    // one scored doc per language, lang-specific vocab: a hit proves
    // it joined ITS OWN model (any cross-language mixup is all-OOV)
    val score = langs.zipWithIndex.map { case (l, i) =>
      ((10000 + i).toLong, l, s"tok$l a$l") }.toDF("id", "lang", "text")
    val scored = TextAnalysis.ngramLmScoreWithModel(dir, score,
      "id", "text", langCol = Some("lang"))
    assert(scored.filter(col("n_hit2") === 1L && col("n_oov") === 0L)
      .count() == 200,
      "every language's doc must hit its own model's bigram table")
  }

  test("per-language LM composes with perplexityBuckets per language " +
      "(the CCNet chain: own-language model -> per-language buckets)") {
    val train = Seq(
      (1L, "en", "a b c d"), (2L, "en", "a b c d"), (3L, "en", "x y"),
      (4L, "fr", "u v w"), (5L, "fr", "u v w"))
      .toDF("id", "lang", "text")
    val score = Seq(
      (10L, "en", "a b c d"), (11L, "en", "a b x"), (12L, "en", "q q"),
      (13L, "fr", "u v w"), (14L, "fr", "u q"), (15L, "fr", "q q q"))
      .toDF("id", "lang", "text")
    val scored = TextAnalysis.ngramLmScoreBackoff(train, score, "id",
        "text", order = 3, langCol = Some("lang"))
      // integer surrogate (the p62 playbook): backoff distance per
      // token — floats never rank a gate
      .withColumn("ppl_proxy", expr(
        "(sum_steps * 1000000L) DIV greatest(n_tokens, 1L)"))
    val buckets = TextAnalysis.perplexityBuckets(scored, "id",
      "ppl_proxy", groupCols = Seq("lang"), k = 3)
    val byLang = buckets.collect()
      .groupBy(_.getAs[String]("lang"))
    assert(byLang.keySet == Set("en", "fr"))
    // each language ranks within ITS OWN group — 3 docs each, one per
    // bucket, and the fluent doc (own-language hit) heads its group
    for ((_, rs) <- byLang) {
      assert(rs.length == 3)
      assert(rs.map(_.getAs[Long]("rank_in_group")).sorted.toSeq ==
        Seq(1L, 2L, 3L))
    }
    val rank = buckets.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Long]("rank_in_group"))
      .toMap
    assert(rank(10L) == 1L && rank(13L) == 1L,
      "the own-language-fluent doc must head each language's ranking")
  }

  test("trainLinearClassifier: a failed GD stage does not leak the " +
      "feature cache") {
    val boom = udf((s: String) => {
      if (s == "kaboom") throw new RuntimeException("poisoned doc")
      s
    })
    val d = Seq((1L, "good text", true), (2L, "kaboom", false))
      .toDF("id", "raw", "y")
      .withColumn("text", boom(col("raw")))
    val before = spark.sparkContext.getPersistentRDDs.size
    intercept[Exception] {
      TextAnalysis.trainLinearClassifier(d, "id", "text", "y",
        buckets = 64, iters = 2)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "feature cache leaked after a failed GD stage")
  }

  test("linearScoreHashed rejects a weights frame trained at a " +
      "different bucket width (driver AIOOBE otherwise)") {
    val d = Seq((1L, "hello world", true)).toDF("id", "text", "y")
    val model = TextAnalysis.trainLinearClassifier(d, "id", "text", "y",
      buckets = 128, iters = 1)
    val e = intercept[IllegalArgumentException] {
      TextAnalysis.linearScoreHashed(d, "id", "text", model,
        buckets = 64)
    }
    assert(e.getMessage.contains("width"))
    // the other direction is just as wrong and previously SILENT:
    // scoring at a LARGER width than the model was trained at lands
    // tokens (pmod at a different modulus) in never-trained buckets
    val small = TextAnalysis.trainLinearClassifier(d, "id", "text", "y",
      buckets = 32, iters = 1)
    val e2 = intercept[IllegalArgumentException] {
      TextAnalysis.linearScoreHashed(d, "id", "text", small,
        buckets = 64)
    }
    assert(e2.getMessage.contains("width"))
  }

  test("scrubDuplicatedSpans removes viral spans, keeps unique text") {
    val boiler = "subscribe to our newsletter for updates today"  // 7 toks
    val d = Seq(
      (1L, s"alpha beta gamma $boiler delta epsilon"),
      (2L, s"$boiler zeta eta theta iota kappa"),
      (3L, s"unique words only in this document body $boiler"),
      (4L, "totally unrelated text with no shared spans at all")
    ).toDF("doc_id", "text")
    val out = Chunking.scrubDuplicatedSpans(d, "doc_id", "text",
        k = 7, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1).toSeq
    // the 7-token boilerplate span vanishes from every carrier
    assert(out(0) == ((1L, "alpha beta gamma delta epsilon", 7L)))
    assert(out(1) == ((2L, "zeta eta theta iota kappa", 7L)))
    assert(out(2) == ((3L, "unique words only in this document body", 7L)))
    // untouched doc passes through verbatim
    assert(out(3) == ((4L,
      "totally unrelated text with no shared spans at all", 0L)))
    // overlapping viral grams scrub the union of their spans, and
    // original CASE survives (only hashing lowercases)
    val e = Seq(
      (1L, "X Y Common One Two Three Four Tail1"),
      (2L, "Common One Two Three Four Other Words Here"),
      (3L, "Pre Common One Two Three Four Post Pad")
    ).toDF("doc_id", "text")
    val out2 = Chunking.scrubDuplicatedSpans(e, "doc_id", "text",
        k = 5, minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(out2(0) == ((1L, "X Y Tail1")))
    assert(out2(1) == ((2L, "Other Words Here")))
    assert(out2(2) == ((3L, "Pre Post Pad")))
  }

  test("temperatureMix rebalances toward rare domains, deterministic") {
    // 400 docs in the big domain, 25 in the rare one
    val d = ((0 until 400).map(i => (i.toLong, "big")) ++
      (400 until 425).map(i => (i.toLong, "rare")))
      .toDF("doc_id", "lang")
    val out = Curation.temperatureMix(d, "lang", "doc_id",
      temperature = 0.5, targetRows = 300, seed = 42)
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // T=0.5 weights: sqrt(400)=20 vs sqrt(25)=5 -> 240 vs 60 expected;
    // the rare domain is UP-sampled (60 > 25 natural => replication ran)
    assert(byLang("rare") > 25L && byLang("rare") < 90L)
    assert(byLang("big") > 200L && byLang("big") < 280L)
    // total lands near the target
    assert(math.abs(out.count() - 300L) < 45L)
    // replicas are dense 0..n-1 per doc
    val copies = out.filter(col("doc_id") === 400).select("copy")
      .as[Long].collect().sorted.toSeq
    assert(copies == copies.indices.map(_.toLong))
    // pure function of (id, seed, corpus): re-run is identical
    val again = Curation.temperatureMix(d, "lang", "doc_id",
      temperature = 0.5, targetRows = 300, seed = 42)
    assert(out.except(again).count() == 0 &&
      again.except(out).count() == 0)
    // T=1 keeps natural proportions (rates equal across domains)
    val nat = Curation.temperatureMix(d, "lang", "doc_id",
      temperature = 1.0, targetRows = 425, seed = 42)
    val natBy = nat.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(natBy("big") - 400L) <= 2L &&
      math.abs(natBy("rare") - 25L) <= 2L)
  }

  test("seeded shuffle is deterministic, seed-sensitive, dense per shard") {
    val d = Seq.tabulate(100)(i => Tuple1(i.toLong)).toDF("id")
    val a = Curation.seededShuffle(d, "id", shards = 4, seed = 1)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    val b = Curation.seededShuffle(d, "id", shards = 4, seed = 1)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq == b.toSeq) // reproducible
    val c = Curation.seededShuffle(d, "id", shards = 4, seed = 2)
      .select("id", "shard", "pos").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sortBy(_._1)
    assert(a.toSeq != c.toSeq) // the seed matters
    // positions are 1..n within every shard
    a.groupBy(_._2).values.foreach { s =>
      assert(s.map(_._3).sorted.toSeq == (1L to s.length).toSeq)
    }
  }

  test("pii redaction masks emails and digit runs, counts spans once") {
    val d = Seq(
      (1L, "mail bob.smith+x@example.co.uk now"),
      (2L, "call 0123456789 or 555-123-4567 ext 123"),
      (3L, "id a1b2c3 stays; 123 stays; 20245 goes"),
      (4L, "clean text only")
    ).toDF("id", "text")
    val out = d.select(col("id"),
        Curation.redactPii(col("text")).as("r"),
        Curation.piiCount(col("text")).as("n"))
      .orderBy("id").collect()
      .map(r => (r.getString(1), r.getLong(2)))
    assert(out(0) == ("mail <EMAIL> now", 1L))
    // 0123456789 and the 4567 tail of 555-123-4567 are >=4-digit runs
    assert(out(1)._1 == "call <NUM> or 555-123-<NUM> ext 123")
    assert(out(1)._2 == 2L)
    assert(out(2)._1.contains("<NUM> goes") && out(2)._1.contains("a1b2c3"))
    assert(out(3) == ("clean text only", 0L))
  }

  test("leakageSafeSplit keeps groups whole and is deterministic") {
    import spark.implicits._
    val docs = (1 to 300).map(i => (i.toLong, s"site${i % 30}"))
      .toDF("doc_id", "source")
    val split = graft.operators.Curation.leakageSafeSplit(
      docs, "source", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    // group atomicity: every source maps to exactly one split
    assert(split.groupBy("source")
      .agg(countDistinct("split").as("n"))
      .filter(col("n") > 1).count() == 0)
    val bySplit = split.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySplit.keySet.subsetOf(Set("train", "val", "test")))
    assert(bySplit("train") > bySplit.getOrElse("val", 0L) &&
      bySplit("train") > bySplit.getOrElse("test", 0L))
    // pure function of the group key: re-running reassigns nothing
    val again = graft.operators.Curation.leakageSafeSplit(
      docs, "source", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    assert(split.except(again).count() == 0)
  }

  test("chunk tiles documents; stride<window overlaps; empty doc survives") {
    import spark.implicits._
    val df = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c"),                                  // shorter than window
      (3L, "")                                        // empty
    ).toDF("doc_id", "text")

    val tiled = Chunking.chunk(df, "doc_id", "text", window = 4, stride = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2),
        r.getLong(3))).sortBy(t => (t._1, t._2))
    assert(tiled.filter(_._1 == 1L).map(_._3).toSeq ==
      Seq("w1 w2 w3 w4", "w5 w6 w7 w8", "w9 w10"))
    assert(tiled.filter(_._1 == 1L).map(_._4).toSeq == Seq(4L, 4L, 2L))
    assert(tiled.filter(_._1 == 2L).toSeq == Seq((2L, 0L, "a b c", 3L)))
    // empty text -> split yields [""] -> one 1-token empty chunk
    assert(tiled.filter(_._1 == 3L).toSeq == Seq((3L, 0L, "", 1L)))

    // overlapping windows: stride 2, window 4 -> starts 0,2,4,...
    val lap = Chunking.chunk(df.filter(col("doc_id") === 1L),
        "doc_id", "text", window = 4, stride = 2)
      .orderBy("chunk_id").collect().map(_.getString(2))
    assert(lap.take(3).toSeq ==
      Seq("w1 w2 w3 w4", "w3 w4 w5 w6", "w5 w6 w7 w8"))
    assert(lap.length == 5) // ceil(10/2) starts
  }

  test("duplicatedSpans finds verbatim k-gram overlap, caps viral spans") {
    import spark.implicits._
    val span = (1 to 8).map(i => s"s$i").mkString(" ") // 8-token span
    val df = Seq(
      (1L, s"alpha beta $span gamma"),
      (2L, s"$span delta epsilon"),          // shares the span with 1
      (3L, "unrelated words only here now"),
      (4L, s"zeta $span")                    // shares the span with 1,2
    ).toDF("doc_id", "text")
    val pairs = Chunking.duplicatedSpans(df, "doc_id", "text", k = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L), (1L, 4L), (2L, 4L)))

    // n_shared counts distinct shared grams: doc1/doc2 share the 8-gram
    // plus nothing else (context words differ)
    val n12 = Chunking.duplicatedSpans(df, "doc_id", "text", k = 8)
      .filter(col("id1") === 1L && col("id2") === 2L)
      .collect().head.getLong(2)
    assert(n12 == 1L)

    // a span present in more than maxDocs documents is dropped
    val viral = (1 to 10).map(i => (i.toLong, s"pre$i $span"))
      .toDF("doc_id", "text")
    assert(Chunking.duplicatedSpans(viral, "doc_id", "text", k = 8,
      maxDocs = 5).count() == 0)
  }

  test("semanticDedup keeps one representative per semantic cluster") {
    // two orthogonal centroid seeds (ids 0,1), two near-dups of each,
    // one diagonal vector similar to neither cluster-mate
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(0f, 1f, 0f, 0f)),
      (2L, Array(1f, 0.01f, 0f, 0f)),   // ~dup of 0
      (3L, Array(1f, 0.02f, 0f, 0f)),   // ~dup of 0 (and of 2)
      (4L, Array(0.01f, 1f, 0f, 0f)),   // ~dup of 1
      (5L, Array(0.7f, 0.7f, 0f, 0f))   // assigned somewhere, no dup
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.95, nCells = 2)
      .select("id", "kept").as[(Long, Boolean)].collect().toMap
    assert(out.size == 6)
    assert(out.filter(_._2).keySet == Set(0L, 1L, 5L))
  }

  test("semanticDedup cell cap keeps later members unexamined") {
    val vecs = Seq(
      (0L, Array(1f, 0f)), (1L, Array(1f, 0.001f)), (2L, Array(1f, 0.002f))
    ).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
        threshold = 0.9, nCells = 1, maxCellSize = 1)
      .select("id", "kept", "cell_capped")
      .as[(Long, Boolean, Boolean)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // only the lowest-id member is scorable; nothing pairs, so all keep,
    // and members beyond the cap are flagged
    assert(out.values.forall(_._1))
    assert(out(0L)._2 == false && out(1L)._2 && out(2L)._2)
  }

  test("semanticDedup auto-scales cells and reports the cap exposure") {
    // default nCells=0 derives cells from corpus size: small corpus ->
    // the 16-cell floor (clamp of n/10k)
    val vecs = (0L until 40L).map(i =>
        (i, Array((i % 4).toFloat + 1f, (i % 7).toFloat)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(vecs, "vec_id", "embedding",
      threshold = 0.999999)
    assert(out.select("cell_id").distinct().count() <= 16)
    // stats: the metric view of the cap (here: tiny cap on one cell)
    val capped = Dedup.semanticDedup(
      Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0.001f)),
          (2L, Array(1f, 0.002f)), (3L, Array(1f, 0.003f)))
        .toDF("vec_id", "embedding"),
      "vec_id", "embedding", threshold = 0.9, nCells = 1, maxCellSize = 2)
    val st = Dedup.semanticDedupStats(capped).collect()(0)
    assert(st.getLong(0) == 4L)                  // n_docs
    assert(st.getLong(1) == 2L)                  // n_capped (ids 2,3)
    assert(math.abs(st.getDouble(2) - 0.5) < 1e-9) // capped_fraction
    assert(st.getLong(3) == 1L)                  // n_cells
    assert(st.getLong(4) == 1L)                  // n_dropped (id 1)
  }

  test("semanticDedupGated composes dedup + alert in the curation flow") {
    // the p30-style composed path: gate passes -> surviving ids flow to
    // the next curation stage; gate trips -> the run aborts with the
    // measured exposure instead of handing an unexamined corpus on
    val vecs = Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0.001f)),
        (2L, Array(0f, 1f)))
      .toDF("vec_id", "embedding")
    val kept = Dedup.semanticDedupGated(vecs, "vec_id", "embedding",
      threshold = 0.9, nCells = 1)
    // near-dup 1 dropped; composition keeps the operator's id column
    // name so a downstream join (p30's decontaminate stage) lines up
    assert(kept.columns.toSeq == Seq("vec_id"))
    assert(kept.as[Long].collect().sorted.toSeq == Seq(0L, 2L))

    val crowded = Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0.001f)),
        (2L, Array(1f, 0.002f)), (3L, Array(1f, 0.003f)))
      .toDF("vec_id", "embedding")
    val e = intercept[IllegalStateException] {
      Dedup.semanticDedupGated(crowded, "vec_id", "embedding",
        threshold = 0.9, nCells = 1, maxCellSize = 2,
        maxCappedFraction = 0.25)
    }
    assert(e.getMessage.contains("cap exposure") &&
      e.getMessage.contains("0.5000"), e.getMessage)
  }

  test("composed curation DAG: exact dedup -> semantic GATE -> quality " +
      "-> decontaminate as one flow; tripped gate aborts the pipeline") {
    // the p30-style production composition WITH the semantic stage in
    // the middle (driver data keeps text and embeddings in separate
    // tables, so the full chain is gated here): every stage must drop
    // exactly its designed victim, and the gate's abort must stop the
    // whole run rather than ship an unexamined corpus downstream
    val all = Seq(
      (1L, "spark pipeline quality document with plenty of words here",
        Array(1f, 0f)),
      (2L, "spark pipeline quality document with plenty of words here",
        Array(0.8f, 0.2f)), // exact text dup of 1 -> exact stage drops
      (3L, "another completely different document about graphs and joins",
        Array(0f, 1f)),
      (4L, "spark pipeline quality document with many of words here also",
        Array(1f, 0.001f)), // cosine ~1 vs doc 1 -> semantic stage drops
      (5L, "!!! ??? ...",
        Array(0.7f, 0.7f)), // punctuation junk -> quality stage drops
      (6L, "evaluation heldout sentence appears verbatim in training " +
        "document six",
        Array(0.6f, -0.8f)), // 5-gram hit vs eval -> decontaminate drops
      (9L, "evaluation heldout sentence appears verbatim",
        Array(0.5f, 0.5f))) // the held-out eval doc
      .toDF("doc_id", "text", "embedding")
    val eval = all.filter(col("doc_id") >= 9)
    val corpus = all.filter(col("doc_id") < 9)
    def curate(maxCellSize: Int, maxCapped: Double): Seq[Long] = {
      val deduped = Dedup.exact(corpus, col("text"), col("doc_id"))
      val semKept = Dedup.semanticDedupGated(deduped, "doc_id",
        "embedding", threshold = 0.9, nCells = 1,
        maxCellSize = maxCellSize, maxCappedFraction = maxCapped)
      val sem = deduped.join(semKept, "doc_id")
      val kept = TextAnalysis.qualitySignals(sem, "text")
        .filter(col("quality_score") >= 0.5)
      graft.operators.Decontaminate
        .flag(kept, eval, "doc_id", "text", k = 5)
        .filter(!col("contaminated"))
        .select(col("id")).as[Long].collect().sorted.toSeq
    }
    assert(curate(100000, 0.05) == Seq(1L, 3L))
    // forced abort: cell cap 2 leaves 3 of 5 deduped docs unexamined
    // (capped_fraction 0.6 > 0.25) -> the gate throws during DAG
    // construction and NOTHING downstream runs
    val e = intercept[IllegalStateException](curate(2, 0.25))
    assert(e.getMessage.contains("cap exposure"), e.getMessage)
  }

  test("pinned intermediates release: flagBloom / semanticDedupGated " +
      "leave no persistent blocks once results are dropped") {
    // the operators pin multi-consumer intermediates with a LAZY
    // localCheckpoint instead of cache() exactly so repeated pipeline
    // calls can't accumulate registry entries: checkpoint blocks are
    // freed by the ContextCleaner when the result becomes unreachable
    // — including on the gated-abort throw. Run the operators, drop
    // every reference, then poll GC + cleaner until the persistent-RDD
    // set returns to its baseline.
    val sc = spark.sparkContext
    def runOnce(): Unit = {
      val train = Seq((1L, "a b c d e"), (2L, "p q r s t"))
        .toDF("doc_id", "text")
      val eval = Seq((9L, "c d e f g")).toDF("doc_id", "text")
      graft.operators.Decontaminate
        .flagBloom(train, eval, "doc_id", "text", k = 3).collect()
      val vecs = Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0.001f)),
          (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
      Dedup.semanticDedupGated(vecs, "vec_id", "embedding",
        threshold = 0.9, nCells = 1).collect()
      intercept[IllegalStateException] {
        Dedup.semanticDedupGated(
          Seq((0L, Array(1f, 0f)), (1L, Array(1f, 0.001f)),
              (2L, Array(1f, 0.002f)), (3L, Array(1f, 0.003f)))
            .toDF("vec_id", "embedding"),
          "vec_id", "embedding", threshold = 0.9, nCells = 1,
          maxCellSize = 2, maxCappedFraction = 0.25)
      }
    }
    val baseline = sc.getPersistentRDDs.size
    runOnce(); runOnce()
    var tries = 0
    while (sc.getPersistentRDDs.size > baseline && tries < 60) {
      System.gc(); Thread.sleep(500); tries += 1
    }
    assert(sc.getPersistentRDDs.size <= baseline,
      s"persistent RDDs grew ${baseline} -> ${sc.getPersistentRDDs.size}" +
        " after operator results were dropped")
  }

  test("overlapFraction reports per-doc contaminated gram share") {
    val train = Seq((1L, "a b c d"), (2L, "p q r"), (3L, "z"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, "x b c y")).toDF("doc_id", "text")
    val out = graft.operators.Decontaminate
      .overlapFraction(train, eval, "doc_id", "text", k = 2)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(1L) == ((3L, 1L, 1.0 / 3)))  // grams: ab bc cd; hit: bc
    assert(out(2L) == ((2L, 0L, 0.0)))
    assert(out(3L) == ((0L, 0L, 0.0)))      // gram-less short doc
  }

  test("normalizeText composes NFC, strips controls, collapses space") {
    val df = Seq(
      (1L, "cafe\u0301"),          // decomposed -> composed
      (2L, "a\u0007b\u0000c"),         // controls stripped
      (3L, "a  \t b\r\nc"),            // whitespace runs collapse
      (4L, "  x  "),                   // trim
      (5L, "caf\u00e9")            // already NFC: unchanged
    ).toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.normalizeText(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "caf\u00e9")
    assert(out(2L) == "abc")
    assert(out(3L) == "a b c")
    assert(out(4L) == "x")
    assert(out(5L) == "caf\u00e9")
  }

  test("pageRank matches the hand-computed power iteration") {
    // path 0-1-2 plus isolated 3: deg(0)=deg(2)=1, deg(1)=2
    val ids = Seq(0L, 1L, 2L, 3L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L)).toDF("id1", "id2")
    val r = GraphAnalytics.pageRank(ids, pairs, iterations = 2)
      .as[(Long, Double)].collect().toMap
    // it1: r0=r2=0.15+0.85*0.5=0.575, r1=0.15+0.85*2=1.85
    // it2: r0=r2=0.15+0.85*(1.85/2)=0.93625, r1=0.15+0.85*1.15=1.1275
    assert(math.abs(r(0L) - 0.93625) < 1e-12)
    assert(math.abs(r(1L) - 1.1275) < 1e-12)
    assert(math.abs(r(2L) - 0.93625) < 1e-12)
    // isolated: no in-edges ever; engine computes 1.0-0.85 (1 ulp off
    // the 0.15 literal)
    assert(math.abs(r(3L) - 0.15) < 1e-12)
  }

  test("pageRank is stationary on a regular graph") {
    // triangle: every node degree 2, contrib 1.0 -> rank stays 1.0
    val ids = Seq(0L, 1L, 2L).toDF("id")
    val pairs = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("id1", "id2")
    val r = GraphAnalytics.pageRank(ids, pairs, iterations = 4)
      .as[(Long, Double)].collect().toMap
    r.values.foreach(v => assert(math.abs(v - 1.0) < 1e-12))
  }

  test("randomProject of a basis vector reads off the plane column") {
    val dim = 8
    val planes = Similarity.hyperplanes(3, dim)
    // e_2: projection component i is planes(i)(2) exactly
    val basis = Array.fill(dim)(0f); basis(2) = 1f
    val df = Seq((7L, basis)).toDF("vec_id", "embedding")
    val proj = Similarity.randomProject(df, "vec_id", "embedding", dim, 3)
      .select("proj").as[Seq[Double]].collect().head
    assert(proj == planes.map(_(2)))
  }

  test("corpus overlap estimate: identical 1.0, disjoint ~0") {
    val a = Seq((0L, "alpha beta gamma delta epsilon zeta"),
      (2L, "eta theta iota kappa lambda")).toDF("doc_id", "text")
    val same = Dedup.corpusOverlapEstimate(a, a, "doc_id", "text",
      k = 3, h = 32).select("est_jaccard").as[Double].collect().head
    assert(same == 1.0)
    val b = Seq((1L, "one two three four five six seven"),
      (3L, "eight nine ten eleven twelve")).toDF("doc_id", "text")
    val diff = Dedup.corpusOverlapEstimate(a, b, "doc_id", "text",
      k = 3, h = 32).select("est_jaccard").as[Double].collect().head
    assert(diff < 0.5, s"disjoint corpora estimated at $diff")
  }

  test("stripMarkup drops payloads/tags and decodes entities once") {
    val df = Seq(
      (1L, "<b>bold</b> &amp; <i>x</i>"),
      (2L, "<script type=\"t\">var a = '<p>';</script>keep"),
      (3L, "a<!-- hidden -->b"),
      (4L, "one&amp;lt;two&nbsp;three"),  // double escape -> one level
      (5L, "<p>spaced</p><p>words</p>")
    ).toDF("id", "text")
    val out = df.select(col("id"),
        TextAnalysis.stripMarkup(col("text")).as("t"))
      .as[(Long, String)].collect().toMap
    assert(out(1L) == "bold & x")
    assert(out(2L) == "keep")
    assert(out(3L) == "a b")
    assert(out(4L) == "one&lt;two three")
    assert(out(5L) == "spaced words")
  }

  test("interleave cycles domains and matches the naive-rank order") {
    val df = (0L until 40L).map(i => (i, s"d${i % 3}"))
      .toDF("doc_id", "lang")
    val out = Curation.interleave(df, "lang", "doc_id", seed = 7)
      .orderBy("grp_rank", "ord_in_rank")
      .select("doc_id", "lang", "grp_rank").collect()
    assert(out.length == 40)
    // within any rank slice each domain appears at most once
    out.groupBy(_.getLong(2)).foreach { case (_, slice) =>
      val langs = slice.map(_.getString(1))
      assert(langs.distinct.length == langs.length)
    }
    // grp_rank equals the naive per-group seeded rank
    val naive = df.withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("lang")
          .orderBy(md5(concat(col("doc_id").cast("string"), lit(":7"))
            .cast("binary")))))
      .select("doc_id", "r").as[(Long, Int)].collect().toMap
    out.foreach(r => assert(r.getLong(2) == naive(r.getLong(0)).toLong))
  }

  test("decodeVideoMeta walks real ISO-BMFF boxes; bad magic and bad " +
      "sizes yield error rows") {
    import java.nio.ByteBuffer
    def box(typ: String, payload: Array[Byte]): Array[Byte] = {
      val b = ByteBuffer.allocate(8 + payload.length)
      b.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
        .put(payload)
      b.array()
    }
    val ftyp = box("ftyp",
      ByteBuffer.allocate(12).put("isom".getBytes("US-ASCII"))
        .putInt(512).put("mp41".getBytes("US-ASCII")).array())
    // mvhd v0: ver/flags, creation, modification, timescale=1000,
    // duration=30000 (30 s), then rate/volume/reserved/matrix/next
    val mvhd = box("mvhd", {
      val b = ByteBuffer.allocate(100)
      b.putInt(0).putInt(0).putInt(0).putInt(1000).putInt(30000)
      b.array() // rest zero-filled
    })
    // tkhd v0: width/height as 16.16 fixed at payload offsets 76/80
    def tkhd(w: Int, h: Int): Array[Byte] = box("tkhd", {
      val b = ByteBuffer.allocate(84)
      b.position(76); b.putInt(w << 16).putInt(h << 16)
      b.array()
    })
    val moov = box("moov",
      mvhd ++ box("trak", tkhd(640, 360)) ++ box("trak", tkhd(0, 0)))
    val mdat = box("mdat", Array.fill[Byte](64)(0x5A))
    val good = ftyp ++ moov ++ mdat
    // same file with moov AFTER mdat (progressive-download layout)
    val late = ftyp ++ mdat ++ moov
    // ftyp present but a child box lies about its size
    val bad = ftyp ++ {
      val b = ByteBuffer.allocate(8)
      b.putInt(9999).put("moov".getBytes("US-ASCII")); b.array()
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "video/mp4", good),
      Multimodal.MediaRow(2L, "video/mp4", late),
      Multimodal.MediaRow(3L, "video/mp4",
        "GIF89a this is not a movie".getBytes("UTF-8")),
      Multimodal.MediaRow(4L, "video/mp4", bad)).toDS()
    val out = Multimodal.decodeVideoMeta(media).collect()
      .map(d => d.media_id -> d).toMap
    for (id <- Seq(1L, 2L)) {
      val v = out(id)
      assert(v.brand == "isom" && v.timescale == 1000L &&
        math.abs(v.duration_sec - 30.0) < 1e-9 && v.track_count == 2 &&
        v.width == 640 && v.height == 360 && v.error == null, v)
    }
    assert(out(3L).error != null &&
      out(3L).error.contains("no ftyp") && out(3L).width == -1, out(3L))
    assert(out(4L).error != null &&
      out(4L).error.contains("malformed"), out(4L))
  }

  test("MediaDecoder boundary: a plugged decoder's failures become " +
      "ERROR ROWS, never job failures; good payloads decode") {
    // A fake implementation standing in for a real (FFmpeg-backed)
    // decoder: payloads starting 0xBAD fail via Left, payloads
    // starting 0xEE THROW (native-layer surprise), everything else
    // yields 4-byte "frames" — proves the boundary contract for any
    // implementation
    val fake = new Multimodal.MediaDecoder {
      override def decodeFrames(content: Array[Byte])
          : Either[String, Iterator[Array[Byte]]] =
        if (content.length >= 2 && content(0) == 0xBA.toByte &&
            content(1) == 0xD0.toByte) Left("unsupported codec")
        else if (content.nonEmpty && content(0) == 0xEE.toByte)
          throw new RuntimeException("segfault-adjacent")
        else Right(content.grouped(4))
    }
    val media = Seq(
      Multimodal.MediaRow(1L, "video/mp4", Array.tabulate(10)(_.toByte)),
      Multimodal.MediaRow(2L, "video/mp4",
        Array(0xBA.toByte, 0xD0.toByte, 1.toByte)),
      Multimodal.MediaRow(3L, "video/mp4",
        Array(0xEE.toByte, 1.toByte)),
      Multimodal.MediaRow(4L, "video/mp4", Array.tabulate(8)(_.toByte)))
      .toDS()
    val out = Multimodal.decodeFramesWith(media, fake, everyN = 2)
      .collect()
    val byId = out.groupBy(_.media_id)
    // good payloads: frames 0 and 2 of ceil(10/4)=3 survive everyN=2
    assert(byId(1L).forall(_.error == null) &&
      byId(1L).map(_.frame_no).sorted.toSeq == Seq(0, 2), byId(1L).toSeq)
    assert(byId(4L).map(_.frame_no).sorted.toSeq == Seq(0))
    // Left and THROW both become one classified error row each
    assert(byId(2L).length == 1 &&
      byId(2L).head.error.contains("unsupported codec"), byId(2L).toSeq)
    assert(byId(3L).length == 1 &&
      byId(3L).head.error.contains("decoder threw"), byId(3L).toSeq)
    // and the shipping fake drives the same boundary
    val frames = Multimodal.decodeFramesWith(
      Seq(Multimodal.MediaRow(9L, "video/mp4",
        Array.tabulate(1024)(_.toByte))).toDS(),
      new Multimodal.ChunkFrameDecoder(256), everyN = 2).collect()
    assert(frames.forall(_.error == null) &&
      frames.map(_.frame_no).sorted.toSeq == Seq(0, 2))
  }

  test("syntheticMp4 round-trips through decodeVideoMeta in both " +
      "mvhd layouts, at the documented byte sizes") {
    val a = Multimodal.syntheticMp4(durationS = 3661L, width = 1920,
      height = 1080, twoTracks = false, v1 = false)
    val b = Multimodal.syntheticMp4(durationS = 7L, width = 320,
      height = 180, twoTracks = true, v1 = true)
    assert(a.length == 176 && b.length == 288,
      s"${a.length} / ${b.length}")
    val media = Seq(
      Multimodal.MediaRow(1L, "video/mp4", a),
      Multimodal.MediaRow(2L, "video/mp4", b)).toDS()
    val out = Multimodal.decodeVideoMeta(media).collect()
      .map(d => d.media_id -> d).toMap
    val va = out(1L)
    assert(va.brand == "isom" && va.timescale == 1L &&
      va.duration_sec == 3661.0 && va.track_count == 1 &&
      va.width == 1920 && va.height == 1080 && va.error == null, va)
    val vb = out(2L)
    assert(vb.brand == "isom" && vb.timescale == 1L &&
      vb.duration_sec == 7.0 && vb.track_count == 2 &&
      vb.width == 320 && vb.height == 180 && vb.error == null, vb)
  }

  test("capPerGroup: at most N per group, exactly the first N in " +
      "seeded md5 order, deterministic") {
    val df = (1L to 100L).map(i => (i, s"g${i % 3}")).toDF("id", "grp")
    def md5hex(s: String) = java.security.MessageDigest
      .getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val expected = (1L to 100L).groupBy(_ % 3).values.flatMap(ids =>
      ids.sortBy(i => md5hex(s"$i:42")).take(5)).toSet
    val out = Curation.capPerGroup(df, "grp", "id", maxPerGroup = 5)
      .collect().map(_.getLong(0)).toSet
    assert(out == expected, s"$out vs $expected")
    val again = Curation.capPerGroup(df, "grp", "id", maxPerGroup = 5)
      .collect().map(_.getLong(0)).toSet
    assert(again == out)
  }

  test("winnowingFingerprints: w+k-1 shared-substring guarantee, " +
      "window-min subset property, short-doc edges") {
    val shared = "common run of exactly twelve tokens a b c d e f"
    // 12 shared tokens = exactly w+k-1 (k=5, w=8): the guarantee's
    // boundary — the two docs MUST share at least one fingerprint
    val df = Seq(
      (1L, s"q w e r t y u $shared"),
      (2L, s"z x c v b n m $shared"),
      (3L, "totally disjoint vocabulary here nothing matches either"),
      (4L, "one two"),                      // < k tokens: no grams
      (5L, "six little tokens right here now")) // grams < w: one window
      .toDF("doc_id", "text")
    val out = Dedup.winnowingFingerprints(df, "doc_id", "text",
        k = 5, w = 8)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSet).toMap
    assert((out(1L) intersect out(2L)).nonEmpty,
      s"shared 12-token run must share a fingerprint: ${out(1L)} ${out(2L)}")
    assert((out(1L) intersect out(3L)).isEmpty &&
      (out(2L) intersect out(3L)).isEmpty, "disjoint docs share fps")
    assert(out(4L).isEmpty, out(4L))
    assert(out(5L).size == 1, out(5L)) // 2 grams, both under one window
    // subset property: every fingerprint is one of the doc's own
    // (masked) gram hashes
    val grams = df.filter(col("doc_id") === 1L)
      .select(graft.functions.F.shinglePosHashes(col("text"), 5).as("hs"))
      .select(explode(col("hs"))).collect()
      .map(r => r.getLong(0) & Long.MaxValue).toSet
    assert(out(1L).subsetOf(grams), "fps must be selected gram hashes")
  }

  test("winnowingPairs surfaces the shared-substring pair and nothing " +
      "else") {
    val shared = "common run of exactly twelve tokens a b c d e f"
    val df = Seq(
      (1L, s"q w e r t y u $shared"),
      (2L, s"z x c v b n m $shared"),
      (3L, "totally disjoint vocabulary here nothing matches either"))
      .toDF("doc_id", "text")
    val pairs = Dedup.winnowingPairs(df, "doc_id", "text", k = 5, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(pairs.length == 1 && pairs(0)._1 == 1L && pairs(0)._2 == 2L &&
      pairs(0)._3 >= 1, pairs.toSeq)
  }

  test("winnowingSpans verifies the exact span: boundary w+k-1, " +
      "longer runs exact, multi-occurrence anchors") {
    val shared = "common run of exactly twelve tokens a b c d e f"
    val df = Seq(
      // pair (1,2): shared run of EXACTLY w+k-1 = 12 tokens, different
      // contexts — the winnowing guarantee's boundary; the verified
      // span must come back as exactly 12 (context tokens differ)
      (1L, s"q w e r t y u $shared"),
      (2L, s"z x c v b n m $shared"),
      (3L, "totally disjoint vocabulary here nothing matches either"),
      // pair (4,5): 21-token shared run ("s tok1..tok20"); the
      // verified span must be exactly 21
      (4L, "p q r " + ("s" + (1 to 20).map(i => s" tok$i").mkString) +
        " tail4 x"),
      (5L, "a b c d " + ("s" + (1 to 20).map(i => s" tok$i").mkString) +
        " other5 y"))
      .toDF("doc_id", "text")
    val spans = Dedup.winnowingSpans(df, "doc_id", "text", k = 5, w = 8)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    assert(spans.contains((1L, 2L)), spans)
    assert(spans((1L, 2L))._2 == 12L,
      s"boundary span must verify to exactly w+k-1: ${spans((1L, 2L))}")
    assert(spans.contains((4L, 5L)), spans)
    // 21 shared tokens: "s tok1 .. tok20"
    assert(spans((4L, 5L))._2 == 21L, spans((4L, 5L)))
    assert(!spans.keySet.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc must pair with nothing")
    // multi-occurrence: doc 6 repeats the run twice; the anchor scan
    // must still find the maximal single run (12), not get confused by
    // duplicate fingerprint occurrences
    val df2 = Seq(
      (6L, s"$shared filler one two three four five $shared"),
      (7L, s"start pad tokens $shared end pad here"))
      .toDF("doc_id", "text")
    val s2 = Dedup.winnowingSpans(df2, "doc_id", "text", k = 5, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    assert(s2.get((6L, 7L)).exists(_ == 12L), s2)
    // short-doc edge: fewer grams than one window (fps = [global min]):
    // two identical 7-token docs must verify to the full 7-token span
    val df3 = Seq(
      (10L, "seven little tokens sit right here now"),
      (11L, "seven little tokens sit right here now"))
      .toDF("doc_id", "text")
    val s3 = Dedup.winnowingSpans(df3, "doc_id", "text", k = 5, w = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3))
      .toMap
    assert(s3.get((10L, 11L)).exists(_ == 7L), s3)
  }

  test("URL canonicalization: adversarial shapes normalize exactly; " +
      "registrable host keys by eTLD+1") {
    val cases = Seq(
      // dot segments + uppercase + default port + tracking + fragment
      ("HTTP://WWW.Example.COM:80/a/b/../c/./d.html?utm_source=f&id=7#x",
        "http://www.example.com/a/c/d.html?id=7", "example.com"),
      // duplicate slashes, ccTLD, all-tracking query loses its '?'
      ("https://Sub.Host.co.uk:443/p//q/../r/?fbclid=z",
        "https://sub.host.co.uk/p/r/", "host.co.uk"),
      // empty path -> '/'
      ("http://example.org", "http://example.org/", "example.org"),
      // non-default port kept; IPv4 registrable = whole address
      ("http://192.168.1.9:8080/a/../b#frag",
        "http://192.168.1.9:8080/b", "192.168.1.9"),
      // leading ../ escapes clamp at root; lone /.. too
      ("http://h.net/../../a", "http://h.net/a", "h.net"),
      ("http://h.net/a/..", "http://h.net/", "h.net"),
      // dotted-but-not-dot segments are ordinary segments
      ("http://h.net/.well-known/../x/..hidden",
        "http://h.net/x/..hidden", "h.net"),
      // userinfo stripped from the host key, kept in the canon URL
      ("http://user:pw@deep.sub.example.co.jp/x",
        "http://user:pw@deep.sub.example.co.jp/x", "example.co.jp"),
      // non-URL passes through trimmed; no host
      ("  not a url at all 9  ", "not a url at all 9", ""),
      // bare host input: registrable works, canon passes through
      ("Sub.Domain.ORG", "Sub.Domain.ORG", "domain.org"),
      // userinfo is case-SENSITIVE (RFC 3986 §6.2.2.1): only the host
      // lowercases; the host key still strips userinfo
      ("https://UsEr:Pw@WWW.Example.COM/x",
        "https://UsEr:Pw@www.example.com/x", "example.com"))
    val df = cases.zipWithIndex
      .map { case ((u, _, _), i) => (i.toLong, u) }.toDF("i", "url")
    val out = df.select(col("i"),
        UrlOps.canonicalizeUrl(col("url")).as("c"),
        UrlOps.registrableHost(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2)))
      .toMap
    cases.zipWithIndex.foreach { case ((u, canon, host), i) =>
      assert(out(i.toLong)._1 == canon,
        s"canon[$u]: got ${out(i.toLong)._1}, want $canon")
      assert(out(i.toLong)._2 == host,
        s"host[$u]: got ${out(i.toLong)._2}, want $host")
    }
  }

  test("registrable host: full PSL semantics — multi-part national " +
      "registries, wildcard + exception rules, private suffixes") {
    val cases = Seq(
      // multi-part ccTLD registries the old 21-suffix subset missed
      ("loja.americanas.com.br", "americanas.com.br"),
      ("www.sub.shop.com.br", "shop.com.br"),
      ("news.haaretz.co.il", "haaretz.co.il"),
      ("www.u-tokyo.ac.jp", "u-tokyo.ac.jp"),
      ("handbook.unsw.edu.au", "unsw.edu.au"),
      ("allegro.com.pl", "allegro.com.pl"), // com.pl -> eTLD+1 is 3 labels
      ("sklep.allegro.com.pl", "allegro.com.pl"),
      // third-level registries (US k12 / AU state edu)
      ("www.lincoln.k12.ca.us", "lincoln.k12.ca.us"),
      ("library.det.nsw.edu.au", "det.nsw.edu.au"),
      // wildcard TLD: *.ck makes foo.ck a public suffix...
      ("shop.foo.ck", "shop.foo.ck"),
      // ...with the !www.ck exception: www.ck IS registrable
      ("www.ck", "www.ck"),
      ("sub.www.ck", "www.ck"),
      // JP city wildcard + its exception
      ("blog.aoba.kawasaki.jp", "blog.aoba.kawasaki.jp"),
      ("en.city.kawasaki.jp", "city.kawasaki.jp"),
      // PRIVATE-section policy: platform tenants are distinct domains
      ("docs.user1.github.io", "user1.github.io"),
      ("user2.github.io", "user2.github.io"),
      ("shard0.myapp.herokuapp.com", "myapp.herokuapp.com"),
      ("cdn.site.blogspot.com.br", "site.blogspot.com.br"),
      // unknown multi-label suffix falls back to last-two-labels
      ("deep.sub.example.zz", "example.zz"),
      // a host that IS a public suffix keys as itself (degenerate)
      ("co.uk", "co.uk"),
      ("github.io", "github.io"))
    val df = cases.zipWithIndex
      .map { case ((h, _), i) => (i.toLong, h) }.toDF("i", "url")
    val out = df.select(col("i"),
        UrlOps.registrableHost(col("url")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    cases.zipWithIndex.foreach { case ((h, want), i) =>
      assert(out(i.toLong) == want,
        s"reg[$h]: got ${out(i.toLong)}, want $want")
    }
  }

  test("scrubRepeatedLines keeps first occurrences in order (C4-style " +
      "boilerplate cleanup)") {
    val docs = Seq(
      (1L, "cookie banner\nreal content A\ncookie banner\nreal content B\ncookie banner"),
      (2L, "only\nunique\nlines"),
      (3L, "x\nx\nx")).toDF("doc_id", "text")
    val out = TextAnalysis.scrubRepeatedLines(docs, "text")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(out(1L) == "cookie banner\nreal content A\nreal content B")
    assert(out(2L) == "only\nunique\nlines")
    assert(out(3L) == "x")
    // custom separator (paragraph scrub)
    val p = TextAnalysis.scrubRepeatedLines(
      Seq((1L, "a||b||a||c")).toDF("doc_id", "text"),
      "text", sep = "||").collect()(0).getString(2)
    assert(p == "a||b||c")
  }

  test("table profile: null/distinct/min/max per column in one pass, " +
      "string-rendered across types") {
    val df = Seq(
      (1L, Some("b"), Some(10)),
      (2L, None, Some(30)),
      (3L, Some("a"), None),
      (4L, Some("a"), Some(20)))
      .toDF("k", "s", "v")
    val out = Profiling.profile(df, Seq("k", "s", "v"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toMap
    assert(out("k") == (0L, 4L, "1", "4"), out("k"))
    assert(out("s") == (1L, 2L, "a", "b"), out("s"))
    assert(out("v") == (1L, 3L, "10", "30"), out("v"))
  }

  test("nearDupFlag catches reworded eval leakage that exact-gram " +
      "decontamination misses") {
    val benchmark = "the quick brown fox jumps over the lazy dog " +
      "while seven wizards brew strong potions at midnight under pale " +
      "moonlight chanting secret spells with great delight tonight"
    // reworded: a word swapped every 7 tokens (words 5, 13, 21 of 27)
    // — no unchanged 8-word run survives, so every exact 8-gram
    // breaks; 16 of 25 3-shingles survive (J ≈ 0.47), so
    // shingle-level similarity stays high
    val reworded = "the quick brown fox leaps over the lazy dog " +
      "while seven wizards make strong potions at midnight under pale " +
      "moonlight whispering secret spells with great delight tonight"
    val train = Seq(
      (1L, reworded),
      (2L, "completely unrelated text about spark query planning and " +
        "shuffle partitions in distributed execution engines today"))
      .toDF("doc_id", "text")
    val eval = Seq((100L, benchmark)).toDF("doc_id", "text")
    val exact = Decontaminate.flag(train, eval, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(exact == Map(1L -> false, 2L -> false),
      s"exact 8-gram should MISS the reworded doc: $exact")
    // threshold 0.25 < true J ≈ 0.47: a 32-perm estimate sits within
    // ±~0.09 of truth, so the margin absorbs the fixed-seed estimate's
    // variance while the unrelated doc (J ≈ 0) stays far below
    val fuzzy = Decontaminate.nearDupFlag(train, eval, "doc_id", "text",
        threshold = 0.25, minBands = 1)
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(fuzzy == Map(1L -> true, 2L -> false),
      s"fuzzy should CATCH the reworded doc only: $fuzzy")
  }

  test("dedupLinesGlobal keeps exactly the globally-first occurrence " +
      "of each line (C4-style corpus dedup)") {
    val docs = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta\nalpha"),   // beta+alpha lost to doc 1
      (3L, "beta\nbeta\ndelta"))    // everything lost to docs 1-2
      .toDF("doc_id", "text")
    val out = Dedup.dedupLinesGlobal(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), r.getLong(3))).toMap
    assert(out(1L) == ("alpha\nbeta\ngamma", 3L), out(1L))
    assert(out(2L) == ("delta", 1L), out(2L))
    assert(out(3L) == ("", 0L), out(3L))
    // within-doc repeats: first position wins, later ones drop
    val one = Dedup.dedupLinesGlobal(
      Seq((9L, "x\ny\nx\nz")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0)
    assert(one.getString(2) == "x\ny\nz" && one.getLong(3) == 3L)
  }

  test("dropBlockedHosts blocks by eTLD+1 precision: a platform " +
      "tenant, not the platform; any subdomain of a blocked domain") {
    val urls = Seq(
      (1L, "https://www.evil.github.io/x"),    // blocked tenant
      (2L, "https://docs.good.github.io/y"),   // other tenant survives
      (3L, "https://cdn.assets.spam.com.br/z"),// blocked via subdomain
      (4L, "https://ham.com.br/w"),            // same registry, kept
      (5L, "not a url"))                       // no host -> kept
      .toDF("doc_id", "url")
    val kept = UrlOps.dropBlockedHosts(urls, "url",
        Seq("evil.github.io", "SPAM.com.br"))
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(kept == Seq(2L, 4L, 5L), kept)
  }

  test("registrable host composes as the group key for per-domain " +
      "capping (the crawl-curation front door)") {
    // 30 URLs over 2 registrable domains (many subdomains each);
    // capPerGroup keyed on the derived registrable_host must bind per
    // DOMAIN, not per subdomain
    val urls = (0 until 30).map { i =>
      val dom = if (i % 2 == 0) "alpha.com" else "beta.co.uk"
      (i.toLong, s"https://sub$i.$dom/page/$i?utm_source=x")
    }.toDF("doc_id", "url")
    val keyed = UrlOps.keyByDomain(urls, "url")
    val capped = Curation.capPerGroup(
      keyed.select("doc_id", "registrable_host"),
      "registrable_host", "doc_id", maxPerGroup = 5, seed = 1)
    val byDom = capped.collect().groupBy(_.getString(1))
    assert(byDom.keySet == Set("alpha.com", "beta.co.uk"), byDom.keySet)
    assert(byDom.values.forall(_.length == 5),
      byDom.view.mapValues(_.length).toMap)
  }

  test("gopherQuality: each rule fires on its adversarial doc, clean " +
      "doc passes") {
    val clean = ("the quick brown fox jumps over and over with that " +
      "lazy dog of ours to be sure ") * 3 // 54 words, all alpha, stops
    val docs = Seq(
      (0L, clean),                                  // passes everything
      (1L, "the of " + ("word " * 10)),             // 12 words: too few
      (2L, clean + ("#tag " * 12)),                 // hash ratio > 0.1
      (3L, clean + ("... " * 12)),                  // ellipsis ratio
      (4L, clean.replace("the ", "12345 ")
        .replace("that ", "9 ").replace("to ", "8 ")
        .replace("and ", "7 ").replace("of ", "6 ")
        .replace("with ", "5 ").replace("be ", "4 ")), // no stopwords
      (5L, ("the of be to " + "a " * 60)))          // mean word len < 3
      .toDF("doc_id", "text")
    val out = TextAnalysis.gopherQuality(docs, "text")
      .select("doc_id", "n_words", "sum_word_len", "n_stopwords",
        "gopher_pass")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
      .toMap
    assert(out(0L)._4, s"clean doc must pass: ${out(0L)}")
    assert(!out(1L)._4 && out(1L)._1 == 12L, out(1L))
    assert(!out(2L)._4, out(2L))
    assert(!out(3L)._4, out(3L))
    assert(!out(4L)._4 && out(4L)._3 < 2L, out(4L))
    assert(!out(5L)._4, out(5L))
    // integer stats spot-check on a tiny doc: "the be ##" ->
    // 3 words, sum len 3+2+2, 2 alpha words, 2 hashes, 2 stopwords
    val tiny = TextAnalysis.gopherQuality(
        Seq((9L, "the be ##")).toDF("doc_id", "text"), "text")
      .select("n_words", "sum_word_len", "n_alpha_words", "n_hash",
        "n_stopwords")
      .collect()(0)
    assert((tiny.getLong(0), tiny.getLong(1), tiny.getLong(2),
      tiny.getLong(3), tiny.getLong(4)) == ((3L, 7L, 2L, 2L, 2L)), tiny)
  }

  test("dsirImportance: hand-computed log importance weights and " +
      "integer sufficient statistics") {
    // target "a b a b": bigram occurrences {a b: 2, b a: 1}, T=3
    // raw doc1 "a b c" -> grams {a b, b c}; doc2 "x y" -> {x y}; R=3
    // guard: the four gram strings must land in distinct 4096-buckets,
    // else the hand numbers below are for the wrong collision pattern
    def bucket(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      var h = 0L; (0 until 8).foreach(i => h = (h << 8) | (d(i) & 0xFFL))
      ((h % 4096) + 4096) % 4096
    }
    val bs = Seq("a b", "b a", "b c", "x y").map(bucket)
    assert(bs.distinct.size == 4, s"bucket collision: $bs")
    val target = Seq((100L, "a b a b")).toDF("doc_id", "text")
    val raw = Seq((1L, "a b c"), (2L, "x y"), (3L, "solo"))
      .toDF("doc_id", "text")
    val out = TextAnalysis.dsirImportance(raw, target, "doc_id", "text",
        buckets = 4096, addK = 1.0)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
         r.getDouble(5))).toMap
    // doc1: tb(a b)=2, tb(b c)=0; rb(a b)=1, rb(b c)=1
    //   logw = [log(3/4099)-log(2/4099)] + [log(1/4099)-log(2/4099)]
    //        = log(3/2) + log(1/2) = log(3/4)
    assert(out(1L)._1 == 2 && out(1L)._2 == 2 && out(1L)._3 == 2 &&
      out(1L)._4 == 1, out(1L))
    assert(math.abs(out(1L)._5 - math.log(3.0 / 4.0)) < 1e-9, out(1L))
    // doc2: one gram, zero target mass -> logw = log(1/2)
    assert(out(2L)._1 == 1 && out(2L)._2 == 0 && out(2L)._3 == 1 &&
      out(2L)._4 == 1, out(2L))
    assert(math.abs(out(2L)._5 - math.log(1.0 / 2.0)) < 1e-9, out(2L))
    // doc3: a single token has no bigrams -> zeros, logw 0
    assert(out(3L) == ((0L, 0L, 0L, 0L, 0.0)), out(3L))
  }

  test("distributionShift: hand-computed total-variation vs reference") {
    // ref src0: tokens {a:2, b:1}, n=3. g1: {a:1, c:1}, n=2.
    // TV(g1, ref) = (|1/2-2/3| + |0-1/3| + |1/2-0|)/2 = 1/2.
    // Integer form: a |1*3-2*2|=1, c |1*3-0*2|=3; absent-ref part
    // n_g*(nr-overlap) = 2*(3-2) = 2; tv_num = 6, denom = 12 -> 0.5.
    val docs = Seq(
      (1L, "a b a", "src0"), (2L, "a c", "g1"))
      .toDF("doc_id", "text", "source")
    val out = TextAnalysis
      .distributionShift(docs, "source", "text", "src0")
      .collect().map(r => r.getString(0) -> r).toMap
    val g1 = out("g1")
    assert(g1.getLong(1) == 2L, "n_tokens")          // n_tokens
    assert(g1.getLong(2) == 2L, "n_words")           // a, c
    assert(g1.getLong(3) == 2L, "overlap_ref")       // cr(a)=2, cr(c)=0
    assert(g1.getDecimal(4).longValue == 6L, "tv_num")
    assert(math.abs(g1.getDouble(5) - 0.5) < 1e-12, "tv")
    val self = out("src0")
    assert(self.getDecimal(4).longValue == 0L)
    assert(self.getDouble(5) == 0.0)
  }

  test("corpusStats computes exact interpolated percentiles per group") {
    val df = Seq(
      ("en", "w"), ("en", "w w"), ("en", "w w w"), ("en", "w w w w"),
      ("de", "a b")
    ).toDF("lang", "text")
    val out = TextAnalysis.corpusStats(df, "lang", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    val en = out("en")
    assert(en.getLong(1) == 4L)           // n_docs
    assert(en.getLong(2) == 10L)          // total_tokens
    assert(en.getDouble(6) == 2.5)        // p50 of [1,2,3,4]
    assert(en.getDouble(7) == 1.0 + 0.9 * 3)  // p90 linear interpolation
    assert(out("de").getLong(2) == 2L)
  }

  test("perplexityBuckets: hand-ranked CCNet head/middle/tail with " +
      "integer boundary math, tie-break by id, quota sampling") {
    // group g7: 7 docs, keys engineered so ranks are known; ids 20/21
    // share key 5 -> tie breaks by id (20 before 21)
    val df = Seq(
      ("g7", 10L, 1L), ("g7", 20L, 5L), ("g7", 21L, 5L), ("g7", 30L, 7L),
      ("g7", 40L, 8L), ("g7", 50L, 9L), ("g7", 60L, 12L),
      // group g4: 4 docs -> bucket sizes 2/1/1
      ("g4", 1L, 100L), ("g4", 2L, 200L), ("g4", 3L, 300L),
      ("g4", 4L, 400L))
      .toDF("lang", "id", "key")
    val out = TextAnalysis.perplexityBuckets(df, "id", "key",
        groupCols = Seq("lang"), k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(3), r.getLong(5), r.getString(6), r.getLong(7)))
      .toMap
    // n=7: buckets (rn-1)*3 div 7 -> sizes 3/2/2; bucket_rank uses
    // ceil(b*7/3) = 0, 3, 5
    assert(out(("g7", 10L)) == (1L, 0L, "head", 1L))
    assert(out(("g7", 20L)) == (2L, 0L, "head", 2L))   // tie: id 20 first
    assert(out(("g7", 21L)) == (3L, 0L, "head", 3L))
    assert(out(("g7", 30L)) == (4L, 1L, "middle", 1L)) // head/middle edge
    assert(out(("g7", 40L)) == (5L, 1L, "middle", 2L))
    assert(out(("g7", 50L)) == (6L, 2L, "tail", 1L))   // middle/tail edge
    assert(out(("g7", 60L)) == (7L, 2L, "tail", 2L))
    // n=4: sizes 2/1/1 (rn2 -> (1*3) div 4 = 0 stays head)
    assert(out(("g4", 1L)) == (1L, 0L, "head", 1L))
    assert(out(("g4", 2L)) == (2L, 0L, "head", 2L))
    assert(out(("g4", 3L)) == (3L, 1L, "middle", 1L))
    assert(out(("g4", 4L)) == (4L, 2L, "tail", 1L))
    // quota 1: best-ranked doc of each (group, bucket) only
    val q = TextAnalysis.perplexityBuckets(df, "id", "key",
        groupCols = Seq("lang"), k = 3, quota = Some(1L))
      .select("lang", "id").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(q == Set(("g7", 10L), ("g7", 30L), ("g7", 50L),
      ("g4", 1L), ("g4", 3L), ("g4", 4L)), q)
    // n < k: a 2-doc group fills head and middle, tail stays empty
    val tiny = TextAnalysis.perplexityBuckets(
        Seq(("t", 1L, 1L), ("t", 2L, 2L)).toDF("lang", "id", "key"),
        "id", "key", groupCols = Seq("lang"), k = 3)
      .select("id", "bucket_name").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tiny == Map(1L -> "head", 2L -> "middle"), tiny)
    // guards: output-column collision and degenerate k fail closed
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityBuckets(
        df.withColumn("bucket", lit(0)), "id", "key", Seq("lang"))
    }
    intercept[IllegalArgumentException] {
      TextAnalysis.perplexityBuckets(df, "id", "key", Seq("lang"), k = 0)
    }
  }

  test("perplexityBuckets on the production float key: real ppl from " +
      "ngramLmScore ranks fluent docs into the head") {
    // train a tiny LM; the in-distribution doc must out-rank the
    // gibberish one under REAL float perplexity (the production key
    // the integer-surrogate gates stand in for)
    val train = Seq(
      (10L, "the cat sat on the mat"),
      (11L, "the dog sat on the mat"),
      (12L, "the cat ran to the dog")).toDF("doc_id", "text")
    val score = Seq(
      (1L, "the cat sat on the mat"),      // seen bigrams: low ppl
      (2L, "zq xv qqj wpt zzk lrm"),       // all-OOV: high ppl
      (3L, "the dog ran to the mat"))      // mixed
      .toDF("doc_id", "text")
    val scored = TextAnalysis.ngramLmScore(train, score,
      "doc_id", "text")
    val out = TextAnalysis.perplexityBuckets(
        scored.select(col("id"), col("ppl")), "id", "ppl", Nil, k = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getString(5))).toMap
    assert(out(1L) == (1L, "head"), out(1L))   // lowest ppl
    assert(out(3L) == (2L, "middle"), out(3L))
    assert(out(2L) == (3L, "tail"), out(2L))   // gibberish
  }

  test("perplexityBucketsApprox agrees with exact ranks on spread keys " +
      "and diverges (whole spike one side) on a cut-value spike") {
    // 9 distinct uniform keys, n divisible by k: approx_percentile
    // returns actual elements here, so the variants must agree exactly
    val spread = (1L to 9L).map(i => ("g", i, i * 10L))
      .toDF("lang", "id", "key")
    val exact = TextAnalysis.perplexityBuckets(spread, "id", "key",
        Seq("lang"), k = 3)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val approx = TextAnalysis.perplexityBucketsApprox(spread, "id", "key",
        Seq("lang"), k = 3)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == approx, s"exact $exact vs approx $approx")
    assert(exact.values.groupBy(identity).view.mapValues(_.size).toMap ==
      Map(0L -> 3, 1L -> 3, 2L -> 3))
    // value spike at the cut: exact ranking splits the five key=5 docs
    // across buckets by id tie-break; the approx path (no ranks) puts
    // the whole spike on one side of the boundary — the quantile-skew
    // caveat in the scaladoc, pinned as behavior
    val spike = Seq(("g", 1L, 1L), ("g", 2L, 5L), ("g", 3L, 5L),
      ("g", 4L, 5L), ("g", 5L, 5L), ("g", 6L, 5L), ("g", 7L, 9L))
      .toDF("lang", "id", "key")
    val exS = TextAnalysis.perplexityBuckets(spike, "id", "key",
        Seq("lang"), k = 3)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exS.view.filterKeys(Set(2L, 3L, 4L, 5L, 6L)).values.toSet.size > 1,
      s"exact must split the spike: $exS")
    val apS = TextAnalysis.perplexityBucketsApprox(spike, "id", "key",
        Seq("lang"), k = 3)
      .select("id", "bucket").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(apS.view.filterKeys(Set(2L, 3L, 4L, 5L, 6L)).values.toSet.size == 1,
      s"approx must keep the spike together: $apS")
  }

  test("repetitionSignals: hand-counted Gopher repetition battery " +
      "(dup lines/paras, top-2-gram chars, dup-5-gram coverage)") {
    // lines: [aa bb aa bb, aa bb aa bb, '', cc] -> 1 dup of 11 chars;
    // paras: [aa bb aa bb\naa bb aa bb, cc] -> no dup;
    // words: aa bb aa bb aa bb aa bb cc -> top 2-gram (aa,bb) x4,
    // len 5 -> top2 = 20; 5-grams g(0)=g(2), g(1)=g(3) duplicate ->
    // tokens 0..7 covered (16 chars), token cc not
    val doc = "aa bb aa bb\naa bb aa bb\n\ncc"
    val out = TextAnalysis.repetitionSignals(
        Seq((1L, doc)).toDF("doc_id", "text"), "text")
      .collect()(0)
    assert(out.getLong(2) == 4L, "n_lines")     // after doc_id, text
    assert(out.getLong(3) == 1L, "n_dup_lines")
    assert(out.getLong(4) == 11L, "chars_dup_lines")
    assert(out.getLong(5) == 2L, "n_paras")
    assert(out.getLong(6) == 0L, "n_dup_paras")
    assert(out.getLong(7) == 0L, "chars_dup_paras")
    assert(out.getLong(8) == 27L, "total_chars")
    assert(out.getLong(9) == 20L, "top2_chars")
    assert(out.getLong(10) == 16L, "dup5_chars")
    assert(!out.getBoolean(11),
      "boilerplate doc must FAIL the battery")
    // a long unrepetitive doc passes (note: top-2-gram char fraction
    // inherently fails VERY short docs — one 2-gram is >20% of a
    // 6-word doc; the battery is calibrated for real documents)
    val clean = (1 to 40).map(i => s"word$i").mkString(" ")
    val ok = TextAnalysis.repetitionSignals(
        Seq((2L, clean)).toDF("doc_id", "text"), "text")
      .collect()(0)
    assert(ok.getLong(3) == 0L && ok.getLong(6) == 0L &&
      ok.getLong(10) == 0L)
    assert(ok.getBoolean(11), "clean doc must pass")
  }

  test("curationReport: per-group battery pass counts and exact " +
      "volume counters") {
    val clean = ("the" +: (1 to 59).map(i => s"word$i")).mkString(" ")
    val boiler = (("spam line\n" * 10).trim)
    val df = Seq(
      ("a", 1L, clean),   // passes both batteries
      ("a", 2L, boiler),  // fails both: 20 words < 50; 9/10 dup lines
      ("b", 3L, clean))
      .toDF("src", "doc_id", "text")
    val out = TextAnalysis.curationReport(df, "src", "text",
        minStopwords = 1)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5))).toMap
    // (n_docs, n_gopher_pass, n_rep_pass, n_pass_both, total_words)
    assert(out("a") == (2L, 1L, 1L, 1L, 80L), out("a"))
    assert(out("b") == (1L, 1L, 1L, 1L, 60L), out("b"))
  }

  test("scrubBoilerplateLines: site-level template lines drop, " +
      "cross-domain and below-threshold shares survive") {
    val docs = Seq(
      // domain A: "nav bar" in 3 docs (>= minDocs 3) -> scrubbed;
      // "pair quote" in only 2 -> kept
      (1L, "a.com", "nav bar\nunique one\npair quote"),
      (2L, "a.com", "nav bar\nunique two\npair quote"),
      (3L, "a.com", "nav bar\nunique three"),
      // domain B carries the SAME "nav bar" text but only 2 docs:
      // (domain, line) cells are isolated, so it survives here
      (4L, "b.org", "nav bar\nunique four"),
      (5L, "b.org", "nav bar\nunique five"),
      // all-boilerplate doc in domain A -> scrubbed to ""
      (6L, "a.com", "nav bar"),
      // null text -> "" with ZERO dropped (not a NULL counter)
      (7L, "a.com", null))
      .toDF("doc_id", "domain", "text")
    val out = Dedup.scrubBoilerplateLines(docs, "doc_id", "domain",
        "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getString(3), r.getLong(4))).toMap
    assert(out(1L) == ("unique one\npair quote", 1L), out(1L))
    assert(out(2L) == ("unique two\npair quote", 1L), out(2L))
    assert(out(3L) == ("unique three", 1L), out(3L))
    assert(out(4L) == ("nav bar\nunique four", 0L), out(4L))
    assert(out(5L) == ("nav bar\nunique five", 0L), out(5L))
    assert(out(6L) == ("", 1L), out(6L))
    assert(out(7L) == ("", 0L), out(7L))
    intercept[IllegalArgumentException] {
      Dedup.scrubBoilerplateLines(docs, "doc_id", "domain", "text",
        minDocs = 1)
    }
    intercept[IllegalArgumentException] {
      Dedup.scrubBoilerplateLines(
        docs.withColumn("cleaned", lit("x")), "doc_id", "domain", "text")
    }
  }

  test("matchSpanFp nearest-first: boilerplate docs with >16 " +
      "occurrences anchor the true aligned run the first-16 rule missed") {
    val F = graft.functions.F
    val fp = 7L
    // 17 occurrences/side (289 pairs > the 256 budget): 16 boilerplate
    // echoes with mismatching neighbors (every cross pair extends to a
    // 1-gram run) + a 7-gram truly-duplicated run whose anchoring pair
    // aligns at |pa-pb| = 0, so nearest-first evaluates it in the
    // first handful of pairs; the r12 first-16-per-side rule never
    // scanned occurrence #17 and reported 1
    def side(noise: Int => Long): Seq[Long] =
      (0 until 32).map(i => if (i % 2 == 0) fp else noise(i)) ++
        Seq(100L, 101L, 102L, fp, 103L, 104L, 105L)
    val df = Seq((side(i => 1000L + i), side(i => 2000L + i)))
      .toDF("ha", "hb")
    val got = df.select(F.matchSpanFp(col("ha"), col("hb"), lit(fp)))
      .collect()(0).getInt(0)
    assert(got == 7, s"nearest-first must find the 7-gram run, got $got")
    // exactness domain is now occA*occB <= 256, not 16/side: the run
    // anchored at occurrence #20 of side a (20x1 = 20 pairs, all
    // evaluated) verifies exactly
    val a2 = (0 until 19).flatMap(i => Seq(fp, 1000L + i)) ++
      Seq(50L, 51L, fp, 52L)
    val b2 = Seq(9L, 50L, 51L, fp, 52L, 9L)
    val got2 = Seq((a2, b2)).toDF("ha", "hb")
      .select(F.matchSpanFp(col("ha"), col("hb"), lit(fp)))
      .collect()(0).getInt(0)
    assert(got2 == 4, s"occurrence #20 anchor must verify exactly, " +
      s"got $got2")
    // absent fingerprint still returns 0
    val got3 = Seq((Seq(1L, 2L), Seq(7L, 2L))).toDF("ha", "hb")
      .select(F.matchSpanFp(col("ha"), col("hb"), lit(fp)))
      .collect()(0).getInt(0)
    assert(got3 == 0)
  }

  test("profileApprox: same report schema as profile on the p61 gate " +
      "fixture, exact nulls/min/max, distinct within the rsd bound") {
    val orders = graft.core.Tables.t(spark, "/root/testdata/sf0.001",
      "orders")
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_orderpriority")
    val exact = Profiling.profile(orders, cols).collect()
      .map(r => r.getString(0) -> r).toMap
    val approxDf = Profiling.profileApprox(orders, cols, rsd = 0.05)
    assert(approxDf.schema == Profiling.profile(orders, cols).schema)
    // the sketch path must not plan the exact path's per-column Expand
    assert(!approxDf.queryExecution.executedPlan.toString
      .contains("Expand"))
    val approx = approxDf.collect().map(r => r.getString(0) -> r).toMap
    cols.foreach { c =>
      val (e, a) = (exact(c), approx(c))
      assert(a.getLong(1) == e.getLong(1), s"$c n_nulls")
      assert(a.getString(3) == e.getString(3), s"$c min_s")
      assert(a.getString(4) == e.getString(4), s"$c max_s")
      // rsd = relative STANDARD DEVIATION, not a hard bound: 4 sigma
      // (20% at rsd 0.05) is far outside HLL++'s realistic error here
      val (nd, ndA) = (e.getLong(2).toDouble, a.getLong(2).toDouble)
      assert(math.abs(ndA - nd) <= math.max(4 * 0.05 * nd, 1.0),
        s"$c n_distinct exact $nd approx $ndA")
    }
  }

  test("profile on an EMPTY table reports n_nulls = 0, not NULL") {
    val empty = Seq.empty[(Long, String)].toDF("k", "s")
    val out = Profiling.profile(empty, Seq("k", "s"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.isNullAt(3), r.isNullAt(4)))
      .toMap
    assert(out("k") == (0L, 0L, true, true), out("k"))
    assert(out("s") == (0L, 0L, true, true), out("s"))
  }

  test("nearDupFlag and minhashPairs fail closed when bands does not " +
      "divide the signature length") {
    val df = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Decontaminate.nearDupFlag(df, df, "doc_id", "text",
        h = 32, bands = 5)
    }
    intercept[IllegalArgumentException] {
      Decontaminate.nearDupFlag(df, df, "doc_id", "text",
        h = 32, bands = 64) // bands > h: every slice would be empty
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashPairs(df, "doc_id", "text", h = 32, bands = 7)
    }
  }

  test("dedupLinesGlobal fails closed on output-column collisions") {
    val df = Seq((1L, "a\nb", "x")).toDF("doc_id", "text", "deduped")
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesGlobal(df, "doc_id", "text")
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesGlobal(
        Seq((1L, "a", 2L)).toDF("doc_id", "text", "n_kept_lines"),
        "doc_id", "text")
    }
  }

  // --- incremental snapshot dedup (p68) ---

  private def p68TmpDir(): String = java.nio.file.Files
    .createTempDirectory("graft-p68-spec-").toString

  /** Snapshot 1 (ids 0-5, the shared fixture) + snapshot 2 (ids 10-14):
    * 10 = exact dup of 0; 11 = near-dup of 0 (one-word edit); 12 =
    * fresh; 13 = exact dup of 12 WITHIN snapshot 2; 14 = near-dup of
    * 12 within snapshot 2. Ids are ordered across snapshots, so the
    * two-call incremental run must match one all-at-once call. */
  private lazy val snap2 = Seq(
    (10L, base),
    (11L, base.replace("river", "creek")),
    (12L, "fresh snapshot two document with enough words to shingle"),
    (13L, "fresh snapshot two document with enough words to shingle"),
    (14L, "fresh snapshot two document with many words to shingle")
  ).toDF("doc_id", "text")

  test("dedupAgainstIndex: hand-reasoned verdicts through a real " +
      "on-disk index (exact beats near; intra- and cross-snapshot)") {
    val dir = p68TmpDir()
    val dec1 = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
      dir, "s1")
    val v1 = dec1.select("id", "verdict").as[(Long, String)]
      .collect().toMap
    // snapshot 1 alone: 4 is an exact dup of 0; 1/2 are near-dups of 0
    assert(v1(0L) == "keep" && v1(3L) == "keep" && v1(5L) == "keep")
    assert(v1(4L) == "drop_exact")
    assert(v1(1L) == "drop_near" && v1(2L) == "drop_near")
    val dec2 = Dedup.dedupAgainstIndex(snap2, "doc_id", "text",
      dir, "s2")
    val v2 = dec2.select("id", "verdict").as[(Long, String)]
      .collect().toMap
    assert(v2(10L) == "drop_exact") // exact vs INDEXED doc 0
    assert(v2(11L) == "drop_near")  // near vs indexed doc 0
    assert(v2(12L) == "keep")
    assert(v2(13L) == "drop_exact") // exact dup within its own snapshot
    assert(v2(14L) == "drop_near")  // near-dup within its own snapshot
  }

  test("dedupAgainstIndex: incremental == all-at-once (two probes in " +
      "id order are bit-identical to one call over the union)") {
    val dir = p68TmpDir()
    val incr = Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
      .unionByName(
        Dedup.dedupAgainstIndex(snap2, "doc_id", "text", dir, "s2"))
      .select("id", "fp", "verdict").as[(Long, String, String)]
      .collect().toSet
    val once = Dedup.dedupAgainstIndex(docs.unionByName(snap2),
        "doc_id", "text", p68TmpDir(), "all")
      .select("id", "fp", "verdict").as[(Long, String, String)]
      .collect().toSet
    assert(incr == once)
    // a chain across the cut: A~B and B~C share LSH buckets, A and C
    // share no 3-token shingle. Every probed doc enters the index,
    // dropped ones too, so C drops against B wherever the cut falls
    val ws = (1 to 40).map(i => s"w$i")
    val chain = Seq((1L, ws.slice(0, 20)), (2L, ws.slice(2, 38)),
        (3L, ws.slice(18, 40)))
      .map { case (id, w) => (id, w.mkString(" ")) }.toDF("doc_id", "text")
    def keptIds(parts: Seq[org.apache.spark.sql.DataFrame]): Seq[Long] = {
      val dir = p68TmpDir()
      parts.zipWithIndex.flatMap { case (p, i) =>
        Dedup.dedupAgainstIndex(p, "doc_id", "text", dir, s"s$i")
          .filter(col("verdict") === "keep").select("id").as[Long].collect()
      }.sorted
    }
    assert(keptIds(Seq(chain)) == Seq(1L))
    assert(keptIds(Seq(chain.filter(col("doc_id") < 3),
      chain.filter(col("doc_id") === 3))) == Seq(1L))
  }

  test("dedupAgainstIndex: re-probing the same snapshot is idempotent " +
      "(same verdicts, index partition overwritten not duplicated)") {
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    val first = Dedup.dedupAgainstIndex(snap2, "doc_id", "text",
        dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toSet
    val again = Dedup.dedupAgainstIndex(snap2, "doc_id", "text",
        dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toSet
    assert(first == again)
    // dynamic partition overwrite: one fp row per doc, no append growth
    val fpRows = spark.read.parquet(s"$dir/fp")
    assert(fpRows.count() == docs.count() + snap2.count())
    assert(fpRows.filter(col("snapshot") === "s2").count()
      == snap2.count())
    // the index carries only fixed-width probe keys — never the text
    assert(!fpRows.columns.contains("text"))
    assert(spark.read.parquet(s"$dir/bands").columns.toSet
      == Set("id", "band", "bucket", "snapshot"))
  }

  test("dedupAgainstIndex/dedupLinesAgainstIndex: re-probing an OLD " +
      "snapshot after later ones landed returns its original verdicts " +
      "(history = strictly-earlier partitions)") {
    // doc-level: s1 first contributes doc 3's content; s2 then carries
    // an exact copy. A replay of s1 must NOT see s2's copy as history
    val dir = p68TmpDir()
    val v1 = Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
      .select("id", "verdict").as[(Long, String)].collect().toSet
    Dedup.dedupAgainstIndex(
      Seq((10L, docs.filter(col("doc_id") === 3L)
        .select("text").as[String].collect().head))
        .toDF("doc_id", "text"),
      "doc_id", "text", dir, "s2")
    val v1again = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
        dir, "s1")
      .select("id", "verdict").as[(Long, String)].collect().toSet
    assert(v1again == v1) // pre-fix: doc 3 flipped keep -> drop_exact
    // line-level: the same contract
    val ldir = p68TmpDir()
    val l1 = Dedup.dedupLinesAgainstIndex(
      Seq((0L, "x\ny")).toDF("doc_id", "text"), "doc_id", "text",
      ldir, "s1").select("deduped").as[String].collect().head
    assert(l1 == "x\ny")
    Dedup.dedupLinesAgainstIndex(
      Seq((1L, "x\nz")).toDF("doc_id", "text"), "doc_id", "text",
      ldir, "s2")
    val l1again = Dedup.dedupLinesAgainstIndex(
      Seq((0L, "x\ny")).toDF("doc_id", "text"), "doc_id", "text",
      ldir, "s1").select("deduped").as[String].collect().head
    assert(l1again == "x\ny") // pre-fix: s2's x killed the replay's x
  }

  test("dedup indexes fail closed on mismatched probe parameters") {
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s2",
        bands = 8) // different banding would silently match nothing
    }
    val ldir = p68TmpDir()
    Dedup.dedupLinesAgainstIndex(
      Seq((0L, "a\nb")).toDF("doc_id", "text"), "doc_id", "text",
      ldir, "s1")
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesAgainstIndex(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text",
        ldir, "s2", sep = " ")
    }
  }

  test("dedup indexes and LM models keep their portable=true stamp " +
      "and still open; a portable=false (xxhash64) stamp is refused") {
    def sidecar(dir: String, name: String): java.nio.file.Path =
      java.nio.file.Paths.get(dir, name)
    def read(f: java.nio.file.Path) =
      new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
    // the index sidecar is byte-identical to the one MD5-hashed indexes
    // have always carried, and such an index keeps answering probes
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    assert(read(sidecar(dir, "params.fp.txt")) ==
      "fp=md5norm k=3 h=32 bands=16 portable=true")
    assert(Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s2")
      .select("verdict").as[String].collect().forall(_ == "drop_exact"))
    val xdir = p68TmpDir()
    java.nio.file.Files.write(sidecar(xdir, "params.fp.txt"),
      "fp=md5norm k=3 h=32 bands=16 portable=false".getBytes("UTF-8"))
    val staleIndex = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", xdir, "s1")
    }
    assert(staleIndex.getMessage.contains("portable=false"),
      staleIndex.getMessage)
    // same for the LM model sidecar head
    val train = Seq((1L, "a b c"), (2L, "a b c"), (3L, "z b d"))
      .toDF("id", "text")
    val mdir = java.nio.file.Files
      .createTempDirectory("graft-lm-stamp-").toString
    TextAnalysis.saveLmModel(train, "text", mdir, order = 3)
    val meta = sidecar(mdir, "params.lm.txt")
    assert(read(meta) == "order=3 minCount=1 portable=true n=9 v=5")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getAs[Long]("id") -> r.toSeq).toMap
    assert(rows(TextAnalysis.ngramLmScoreWithModel(mdir, train, "id",
        "text")) ==
      rows(TextAnalysis.ngramLmScoreBackoff(train, train, "id", "text",
        order = 3)))
    java.nio.file.Files.write(meta,
      read(meta).replace("portable=true", "portable=false")
        .getBytes("UTF-8"))
    val staleModel = intercept[IllegalStateException] {
      TextAnalysis.ngramLmScoreWithModel(mdir, train, "id", "text")
    }
    assert(staleModel.getMessage.contains("portable=false"),
      staleModel.getMessage)
  }

  test("dedup indexes are single-writer: a held lock fails closed, " +
      "releases on success AND failure, and a refused probe retried " +
      "after release matches the serialized run") {
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    // success path released the lock
    assert(!new java.io.File(s"$dir/lock").exists())
    // a held lock (crashed or concurrent writer) refuses every
    // index-mutating entry point with the holder's info — which for a
    // real writer names the HOST and process start-time beside the
    // pid (shared-storage recovery: a pid alone cannot be verified
    // dead from another machine)
    val holderInfo = Dedup.lockHolderInfo("test")
    assert(holderInfo.matches(
      "op=test host=\\S+ pid=\\d+ start=\\S+"), holderInfo)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "lock"),
      holderInfo.getBytes("UTF-8"))
    val e = intercept[IllegalStateException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s2")
    }
    val realHost =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    assert(e.getMessage.contains("locked") &&
      e.getMessage.contains("op=test") &&
      e.getMessage.contains(s"host=$realHost") &&
      e.getMessage.contains("named host"))
    intercept[IllegalStateException] {
      Dedup.compactDedupIndex(spark, dir)
    }
    // ...and leaves no partial delta: the refused snapshot is absent
    val snaps = spark.read.parquet(s"$dir/fp")
      .select("snapshot").distinct().as[String].collect().toSet
    assert(snaps == Set("s1"))
    // after release, the retried probe returns exactly the verdicts a
    // serialized run produces (the safe-concurrency story: distinct
    // snapshots commute, the lock only imposes an order)
    java.nio.file.Files.delete(java.nio.file.Paths.get(dir, "lock"))
    val retried = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
        dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    val serial = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", serial, "s1")
    val expect = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
        serial, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(retried == expect)
    // a FAILED entry releases the lock too (params mismatch throws
    // inside the locked section)
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s3",
        bands = 8)
    }
    assert(!new java.io.File(s"$dir/lock").exists(),
      "lock leaked after a failed probe")
  }

  test("a crashed compaction (orphaned .compact.old, missing live " +
      "table) fails probes closed until recovered") {
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    val before = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
        dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    // simulate a compaction dying between move(path -> .old) and
    // move(tmp -> path): live fp/ gone, backup present
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/fp"),
      java.nio.file.Paths.get(s"$dir/fp.compact.old"))
    val e = intercept[IllegalStateException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s3")
    }
    assert(e.getMessage.contains("compact.old"),
      s"wrong failure: ${e.getMessage}")
    intercept[IllegalStateException] { // compaction refuses too
      Dedup.compactDedupIndex(spark, dir)
    }
    // the documented recovery restores the index bit-for-bit: the
    // historical re-probe returns its original verdicts
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$dir/fp.compact.old"),
      java.nio.file.Paths.get(s"$dir/fp"))
    val after = Dedup.dedupAgainstIndex(docs, "doc_id", "text",
        dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(after == before)
    // same guard on the lines family
    val ldir = p68TmpDir()
    Dedup.dedupLinesAgainstIndex(
      Seq((0L, "a\nb")).toDF("doc_id", "text"), "doc_id", "text",
      ldir, "s1")
    java.nio.file.Files.move(
      java.nio.file.Paths.get(s"$ldir/lines"),
      java.nio.file.Paths.get(s"$ldir/lines.compact.old"))
    intercept[IllegalStateException] {
      Dedup.dedupLinesAgainstIndex(
        Seq((1L, "b\nc")).toDF("doc_id", "text"), "doc_id", "text",
        ldir, "s2")
    }
  }

  test("compactDedupIndex over a dataless table dir (_SUCCESS only) " +
      "is a clean no-op, not a schema-inference crash") {
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    // simulate recovery leftovers: a lines/ dir with marker files but
    // zero parquet data files
    val lines = java.nio.file.Paths.get(s"$dir/lines")
    java.nio.file.Files.createDirectories(lines)
    java.nio.file.Files.write(lines.resolve("_SUCCESS"),
      Array.empty[Byte])
    Dedup.compactDedupIndex(spark, dir) // must not throw
    // the real tables still compacted; the dataless one was skipped
    assert(spark.read.parquet(s"$dir/fp").count() > 0)
    assert(!java.nio.file.Files.exists(lines.resolve("lh=")),
      "dataless dir must be left untouched")
  }

  test("a probe crashed between its two delta writes (bands landed, " +
      "fp did not) fails later probes closed; empty-bands snapshots " +
      "stay legitimate") {
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    // simulate the crash window: bands/ has s1, fp/ does not
    def rmTree(p: java.nio.file.Path): Unit = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
    rmTree(java.nio.file.Paths.get(s"$dir/fp/snapshot=s1"))
    val e = intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(snap2, "doc_id", "text", dir, "s2")
    }
    assert(e.getMessage.contains("band rows but no fingerprint"),
      e.getMessage)
    // the documented recovery: re-probe the SAME id (not blocked by
    // its own orphan), then later probes proceed with full history
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    val v = Dedup.dedupAgainstIndex(snap2, "doc_id", "text", dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(v(10L) == "drop_exact") // exact dup of doc 0 across snapshots
    // a snapshot of sub-k-token docs writes fp rows but NO band rows —
    // fp-without-bands is the legitimate direction and must not trip
    val tiny = Seq((20L, "x"), (21L, "y z")).toDF("doc_id", "text")
    Dedup.dedupAgainstIndex(tiny, "doc_id", "text", dir, "s3")
    assert(!new java.io.File(s"$dir/bands/snapshot=s3").exists())
    val after = Dedup.dedupAgainstIndex(
        Seq((30L, "x")).toDF("doc_id", "text"),
        "doc_id", "text", dir, "s4")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(after(30L) == "drop_exact") // fp from the tiny snapshot hit
  }

  test("one indexDir hosts BOTH index families (per-family params " +
      "sidecars), and compaction treats them as one unit") {
    val dir = p68TmpDir()
    // doc-grain and line-grain probes share the dir without tripping
    // each other's parameter pinning (pre-fix: one shared params.txt
    // made the second family fail with a bogus mismatch)
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    Dedup.dedupLinesAgainstIndex(
      Seq((0L, "a\nb")).toDF("doc_id", "text"), "doc_id", "text",
      dir, "s1")
    // each family still pins ITS OWN parameters fail-closed
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s2",
        bands = 8)
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesAgainstIndex(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text",
        dir, "s2", sep = " ")
    }
    // one compaction pass covers fp + bands + lines, and both
    // families keep answering correctly afterwards
    Dedup.compactDedupIndex(spark, dir)
    val v = Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(v.values.forall(_ == "drop_exact")) // same docs as s1
    val l = Dedup.dedupLinesAgainstIndex(
        Seq((1L, "b\nc")).toDF("doc_id", "text"), "doc_id", "text",
        dir, "s2")
      .select("deduped").as[String].collect().head
    assert(l == "c") // a, b already indexed by s1
  }

  test("a pre-family params.txt sidecar is honored read-only, and " +
      "binds ONLY its own family") {
    val dir = p68TmpDir()
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "params.txt"),
      "fp=md5norm k=3 h=32 bands=16 portable=true".getBytes("UTF-8"))
    // matching parameters pass through the legacy sidecar
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    // mismatched parameters still fail closed against it
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s2",
        bands = 8)
    }
    // the OTHER family is not refused against the fp string: a legacy
    // fp dir gains its first lines probe by pinning a fresh per-family
    // sidecar (pre-fix: bogus cross-family 'mismatched parameters')
    val l = Dedup.dedupLinesAgainstIndex(
        Seq((0L, "a\nb")).toDF("doc_id", "text"), "doc_id", "text",
        dir, "s2")
      .select("deduped").as[String].collect().head
    assert(l == "a\nb")
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "params.lines.txt")))
    // and the new lines family pins fail-closed like any other
    intercept[IllegalArgumentException] {
      Dedup.dedupLinesAgainstIndex(
        Seq((1L, "a b")).toDF("doc_id", "text"), "doc_id", "text",
        dir, "s3", sep = " ")
    }
  }

  test("dedupAgainstIndex: null text always keeps and never poisons " +
      "the index (null fp matches nothing, no shingles)") {
    val dir = p68TmpDir()
    val withNulls = Seq((0L, Option(base)), (1L, None), (2L, None))
      .toDF("doc_id", "text")
    val v = Dedup.dedupAgainstIndex(withNulls, "doc_id", "text",
        dir, "s1")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(v(1L) == "keep" && v(2L) == "keep") // null != null
    val v2 = Dedup.dedupAgainstIndex(
        Seq((10L, None: Option[String])).toDF("doc_id", "text"),
        "doc_id", "text", dir, "s2")
      .select("id", "verdict").as[(Long, String)].collect().toMap
    assert(v2(10L) == "keep")
  }

  // --- incremental corpus-global line dedup (p70) ---

  test("dedupLinesAgainstIndex: hand-reasoned keeps/drops through a " +
      "real on-disk line index") {
    val dir = p68TmpDir()
    val snapA = Seq((0L, "alpha\nbeta\nalpha"), (1L, "beta\ngamma"))
      .toDF("doc_id", "text")
    val a = Dedup.dedupLinesAgainstIndex(snapA, "doc_id", "text",
        dir, "s1")
      .select("doc_id", "deduped", "n_kept_lines")
      .as[(Long, String, Long)].collect()
      .map { case (k, v, n) => k -> ((v, n)) }.toMap
    // global-first within the snapshot: doc 0 keeps alpha+beta (its
    // second alpha drops); doc 1's beta lost to doc 0, keeps gamma
    assert(a(0L) == ("alpha\nbeta", 2L), a)
    assert(a(1L) == ("gamma", 1L), a)
    val b = Dedup.dedupLinesAgainstIndex(
        Seq((10L, "beta\ndelta\ngamma\ndelta")).toDF("doc_id", "text"),
        "doc_id", "text", dir, "s2")
      .select("doc_id", "deduped", "n_kept_lines")
      .as[(Long, String, Long)].collect().head
    // beta/gamma are INDEXED from snapshot 1 -> drop; delta is fresh,
    // first occurrence kept, second (intra-doc) dropped
    assert(b == ((10L, "delta", 1L)), b)
  }

  test("dedupLinesAgainstIndex: incremental == dedupLinesGlobal over " +
      "the union, and re-probing is idempotent") {
    val snapA = docs.filter(col("doc_id") <= 3)
      .select(col("doc_id"), translate(col("text"), " ", "\n").as("text"))
    val snapB = docs.filter(col("doc_id") > 3)
      .select(col("doc_id"), translate(col("text"), " ", "\n").as("text"))
    val dir = p68TmpDir()
    val incr = Dedup.dedupLinesAgainstIndex(snapA, "doc_id", "text",
        dir, "s1")
      .unionByName(Dedup.dedupLinesAgainstIndex(snapB, "doc_id",
        "text", dir, "s2"))
      .select("doc_id", "deduped", "n_kept_lines")
      .as[(Long, String, Long)].collect().toSet
    val once = Dedup.dedupLinesGlobal(snapA.unionByName(snapB),
        "doc_id", "text")
      .select("doc_id", "deduped", "n_kept_lines")
      .as[(Long, String, Long)].collect().toSet
    assert(incr == once)
    // replay: same verdicts, index partition overwritten not appended
    val n1 = spark.read.parquet(s"$dir/lines").count()
    val again = Dedup.dedupLinesAgainstIndex(snapB, "doc_id", "text",
        dir, "s2")
      .select("doc_id", "deduped", "n_kept_lines")
      .as[(Long, String, Long)].collect().toSet
    assert(again == incr.filter(_._1 > 3))
    assert(spark.read.parquet(s"$dir/lines").count() == n1)
    // the index carries only digests, never line text
    assert(spark.read.parquet(s"$dir/lines").columns.toSet ==
      Set("lh", "snapshot"))
  }

  test("dedupLinesAgainstIndex: the blank-line caveat spans snapshots " +
      "(exactly one \"\" ever survives, history-wide)") {
    val dir = p68TmpDir()
    val a = Dedup.dedupLinesAgainstIndex(
        Seq((0L, "x\n\ny")).toDF("doc_id", "text"),
        "doc_id", "text", dir, "s1")
      .select("deduped").as[String].collect().head
    assert(a == "x\n\ny") // its "" is the corpus-first: kept
    val b = Dedup.dedupLinesAgainstIndex(
        Seq((10L, "p\n\nq")).toDF("doc_id", "text"),
        "doc_id", "text", dir, "s2")
      .select("deduped").as[String].collect().head
    assert(b == "p\nq") // the indexed "" kills this paragraph break
  }

  test("compactDedupIndex: one row per key, future probes and old-" +
      "snapshot re-probes decide identically pre/post compaction") {
    val dir = p68TmpDir()
    Dedup.dedupAgainstIndex(docs, "doc_id", "text", dir, "s1")
    Dedup.dedupAgainstIndex(snap2, "doc_id", "text", dir, "s2")
    val snap3 = Seq((20L, base), // exact dup of indexed doc 0
      (21L, "fresh third snapshot content with enough words here"))
      .toDF("doc_id", "text")
    def verdicts(s: String, df: org.apache.spark.sql.DataFrame) =
      Dedup.dedupAgainstIndex(df, "doc_id", "text", dir, s)
        .select("id", "verdict").as[(Long, String)].collect().toSet
    val future = verdicts("s3", snap3)
    val replay = verdicts("s2", snap2)
    val before = spark.read.parquet(s"$dir/bands").count()
    Dedup.compactDedupIndex(spark, dir)
    val after = spark.read.parquet(s"$dir/bands").count()
    assert(after < before, s"compaction must shrink: $before -> $after")
    // one row per (band, bucket) and per fp, earliest snapshot wins
    val bandDups = spark.read.parquet(s"$dir/bands")
      .groupBy("band", "bucket").count().filter(col("count") > 1).count()
    assert(bandDups == 0)
    // doc 0's fp row (shared with docs 4, 10, 20) must attribute to s1
    val fp0 = spark.read.parquet(s"$dir/fp")
      .filter(col("id") === 0L).select("snapshot").as[String].collect()
    assert(fp0.toSeq == Seq("s1"))
    // identical decisions after compaction: a future snapshot AND an
    // old snapshot's replay (the two contracts compaction must keep)
    assert(verdicts("s3", snap3) == future)
    assert(verdicts("s2", snap2) == replay)
    // line index compacts through the same entry point
    val ldir = p68TmpDir()
    Dedup.dedupLinesAgainstIndex(Seq((0L, "a\nb")).toDF("doc_id", "text"),
      "doc_id", "text", ldir, "s1")
    Dedup.dedupLinesAgainstIndex(Seq((1L, "b\nc")).toDF("doc_id", "text"),
      "doc_id", "text", ldir, "s2")
    Dedup.compactDedupIndex(spark, ldir)
    val lh = spark.read.parquet(s"$ldir/lines")
    assert(lh.count() == 3) // a, b, c — b's duplicate collapsed
    val out = Dedup.dedupLinesAgainstIndex(
        Seq((2L, "c\nd")).toDF("doc_id", "text"),
        "doc_id", "text", ldir, "s3")
      .select("deduped").as[String].collect().head
    assert(out == "d")
  }

  // --- WET/WARC record framing (p69) ---

  private def wetRec(uri: String, payload: String,
                     declaredLen: Option[Int] = None): String = {
    val len = declaredLen.getOrElse(
      payload.getBytes(java.nio.charset.StandardCharsets.UTF_8).length)
    s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-08-16T00:00:00Z\r\nContent-Length: $len" +
      s"\r\n\r\n$payload\r\n\r\n"
  }

  test("warc records: Content-Length-driven walk keeps an embedded " +
      "decoy record header inside the payload") {
    val decoyPayload = "real text\r\n\r\nWARC/1.0\r\nWARC-Type: " +
      "decoy\r\nContent-Length: 0\r\n\r\ntail"
    val raw = wetRec("urn:a", "plain doc") +
      wetRec("urn:b", decoyPayload) + wetRec("urn:c", "last doc")
    val recs = Seq(Tuple1(raw)).toDF("raw")
      .select(explode(graft.functions.F.warcRecords(col("raw")))
        .as("r"))
      .select("r.uri", "r.payload", "r.valid", "r.rec_type")
      .collect()
    assert(recs.length == 3, recs.mkString("|"))
    assert(recs.map(_.getString(0)).toSeq ==
      Seq("urn:a", "urn:b", "urn:c"))
    assert(recs(1).getString(1) == decoyPayload) // decoy NOT a frame
    assert(recs.forall(_.getBoolean(2)))
    assert(recs.forall(_.getString(3) == "conversion"))
  }

  test("warc records: Content-Length counts BYTES, so multi-byte " +
      "payloads frame exactly") {
    val raw = wetRec("urn:u", "héllo wörld") + // 13 bytes, 11 chars
      wetRec("urn:v", "ascii")
    val recs = Seq(Tuple1(raw)).toDF("raw")
      .select(explode(graft.functions.F.warcRecords(col("raw")))
        .as("r"))
      .select("r.uri", "r.payload", "r.content_length", "r.valid")
      .collect()
    assert(recs.length == 2)
    assert(recs(0).getString(1) == "héllo wörld")
    assert(recs(0).getLong(2) == 13L)
    assert(recs(1).getString(1) == "ascii" && recs(1).getBoolean(3))
  }

  test("warc records: malformed frames classify as one valid=false " +
      "record and never throw") {
    def parse(raw: String) = Seq(Tuple1(raw)).toDF("raw")
      .select(explode(graft.functions.F.warcRecords(col("raw")))
        .as("r"))
      .select("r.rec_type", "r.content_length", "r.payload", "r.valid")
      .collect()
    // declared length overruns the remaining bytes
    val over = parse(wetRec("urn:a", "ok") +
      "WARC/1.0\r\nContent-Length: 999\r\n\r\nshort")
    assert(over.length == 2 && over(0).getBoolean(3))
    assert(!over(1).getBoolean(3) && over(1).getLong(1) == 999L &&
      over(1).getString(2) == "short")
    // header block never terminates
    val unterminated = parse("WARC/1.0\r\nWARC-Type: conversion\r\n")
    assert(unterminated.length == 1 && !unterminated(0).getBoolean(3))
    // no parseable Content-Length
    val noLen = parse("WARC/1.0\r\nWARC-Type: x\r\n\r\npayload")
    assert(noLen.length == 1 && !noLen(0).getBoolean(3) &&
      noLen(0).isNullAt(1))
    // empty body -> empty array; NULL -> NULL
    val empty = Seq(Tuple1(""), Tuple1(null: String)).toDF("raw")
      .select(size(graft.functions.F.warcRecords(col("raw"))))
      .collect()
    assert(empty(0).getInt(0) == 0 && empty(1).isNullAt(0))
  }

  test("warc records: the WARC/ version magic gates framing — " +
      "garbage with a Content-Length block classifies, never frames") {
    def parse(raw: String) = Seq(Tuple1(raw)).toDF("raw")
      .select(explode(graft.functions.F.warcRecords(col("raw")))
        .as("r"))
      .select("r.rec_type", "r.content_length", "r.payload", "r.valid")
      .collect()
    // an arbitrary text blob that happens to carry a CRLFCRLF-
    // terminated Content-Length header block: without the magic check
    // this framed as a VALID record with payload "abc"
    val garbage = parse("Not-A-Warc: decoy\r\nContent-Length: 3" +
      "\r\n\r\nabc and more trailing text")
    assert(garbage.length == 1 && !garbage(0).getBoolean(3))
    assert(garbage(0).isNullAt(0) && garbage(0).isNullAt(1))
    assert(garbage(0).getString(2).startsWith("Not-A-Warc"))
    // a valid record followed by a non-WARC tail (e.g. an HTTP
    // response spliced in): the tail classifies as one invalid record
    val mixed = parse(wetRec("urn:a", "ok") +
      "HTTP/1.1 200 OK\r\nContent-Length: 5\r\n\r\nhello")
    assert(mixed.length == 2 && mixed(0).getBoolean(3))
    assert(!mixed(1).getBoolean(3) &&
      mixed(1).getString(2).startsWith("HTTP/1.1"))
  }

  test("wetDocuments ingests gzipped WET files end-to-end via " +
      "wholetext text reads (the CommonCrawl .warc.wet.gz recipe)") {
    // a real multi-record gzipped fixture, written as TWO concatenated
    // gzip members (gzip permits member concatenation and CommonCrawl
    // tooling produces it; Hadoop's codec must decompress BOTH)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-wetgz-").toFile
    val member1 = wetRec("urn:g1", "gz doc one") +
      wetRec("urn:g2", "gz doc twö") // multi-byte payload through gzip
    val member2 = wetRec("urn:g3", "gz doc three")
    def gz(s: String): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val g = new java.util.zip.GZIPOutputStream(bos)
      g.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      g.close(); bos.toByteArray
    }
    val f = new java.io.File(dir, "chunk.warc.wet.gz")
    val out = new java.io.FileOutputStream(f)
    out.write(gz(member1)); out.write(gz(member2)); out.close()
    // the documented ingest recipe: wholetext .text() decompresses
    // through Hadoop's gzip codec, one file = one row = one partition
    val raw = spark.read.option("wholetext", "true")
      .text(dir.getAbsolutePath)
      .withColumnRenamed("value", "raw")
    val docs = WarcIngest.wetDocuments(raw, "raw")
      .orderBy("rec_index").select("url", "text").collect()
    assert(docs.map(_.getString(0)).toSeq ==
      Seq("urn:g1", "urn:g2", "urn:g3"),
      "both concatenated gzip members must decompress")
    assert(docs.map(_.getString(1)).toSeq ==
      Seq("gz doc one", "gz doc twö", "gz doc three"))
    // and the audit path sees only valid conversion frames
    val recs = WarcIngest.records(raw, "raw")
    assert(recs.count() == 3 &&
      recs.filter(col("valid")).count() == 3)
    org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test("wetDocuments: raw WET bodies to a clean documents frame " +
      "(invalid and non-conversion records drop)") {
    val body = "WARC/1.0\r\nWARC-Type: warcinfo\r\nContent-Length: " +
      "4\r\n\r\ninfo\r\n\r\n" + wetRec("urn:d1", "doc one") +
      wetRec("urn:d2", "doc two") +
      "WARC/1.0\r\nContent-Length: 12345\r\n\r\ntruncated"
    val out = WarcIngest.wetDocuments(
        Seq(("f1", body)).toDF("file", "raw"), "raw")
      .orderBy("rec_index")
      .select("file", "url", "text").collect()
    assert(out.length == 2)
    assert(out.map(_.getString(1)).toSeq == Seq("urn:d1", "urn:d2"))
    assert(out.map(_.getString(2)).toSeq == Seq("doc one", "doc two"))
    assert(out.forall(_.getString(0) == "f1")) // pass-through column
  }

  test("dedupAgainstIndex fails closed on bad banding or empty " +
      "snapshot id") {
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", p68TmpDir(),
        "s1", h = 32, bands = 7)
    }
    intercept[IllegalArgumentException] {
      Dedup.dedupAgainstIndex(docs, "doc_id", "text", p68TmpDir(), "")
    }
  }

  test("RRF fuses ranked lists with fixed-order reciprocal " +
      "contributions and id tie-break") {
    val l1 = Seq((10L, 1), (20L, 2), (30L, 3), (5L, 4))
      .toDF("doc_id", "rank")
    val l2 = Seq((20L, 1), (40L, 2), (6L, 4)).toDF("doc_id", "rank")
    val out = Ranking.rrfFuse(Seq(l1, l2), "doc_id", "rank", k = 10)
      .collect()
    // 20: 1/62+1/61; 10: 1/61; 40: 1/62; 30: 1/63; then the 1/64 tie
    // (docs 5 and 6) breaks on ascending id
    assert(out.map(_.getLong(1)).toSeq == Seq(20L, 10L, 40L, 30L, 5L, 6L))
    val byDoc = out.map(r => r.getLong(1) -> r).toMap
    assert(byDoc(20L).getInt(2) == 2)         // n_lists
    assert(byDoc(30L).getInt(2) == 1)
    assert(byDoc(10L).isNullAt(4))            // absent in list 1
    assert(byDoc(40L).isNullAt(3))            // absent in list 0
    assert(byDoc(20L).getDouble(5) == 0.032522) // round(1/62+1/61, 6)
    assert(byDoc(30L).getDouble(5) == 0.015873) // round(1/63, 6)
    // fused rank is dense from 1
    assert(out.map(_.getInt(0)).toSeq == (1 to 6).toSeq)
  }

  test("PQ encode assigns each subspace its nearest codebook entry") {
    // codebook = items 0..7; subspace 0 sub-vectors (j,0,0,0) and
    // subspace 1 sub-vectors (7-j,0,0,0) are distinct per code, so
    // item 8 = (3.1 | 2.1) must land on codes (3, 5)
    val items = ((0 until 8).map { j =>
      val v = Array.fill(8)(0.0f)
      v(0) = j.toFloat; v(4) = (7 - j).toFloat
      (j.toLong, v)
    } :+ {
      val v = Array.fill(8)(0.0f); v(0) = 3.1f; v(4) = 2.1f; (8L, v)
    }).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(items, "vec_id", "embedding",
        dim = 8, m = 2)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2))))
      .toMap
    assert(codes(8L) == ((3, 5)))
    (0 until 8).foreach(j => assert(codes(j.toLong) == ((j, j)),
      s"codebook member $j must encode to itself"))
  }

  test("PQ encode ties break to the lowest code id") {
    val items = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(1.0f, 0.0f)), // identical codes
      (2L, Array(1.0f, 0.1f))).toDF("vec_id", "embedding")
    val codes = Similarity.pqEncode(items, "vec_id", "embedding",
        dim = 2, m = 1, nCodes = 2)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(codes.values.forall(_ == 0), codes.toString)
  }

  test("PQ ADC top-k recalls brute-force neighbors and never returns " +
      "the query itself") {
    val emb = graft.core.Tables.t(spark, "/root/testdata/sf0.001",
      "embeddings")
    val q = emb.filter(col("vec_id") < 3)
    val brute = Similarity.bruteForceTopK(emb, q, "vec_id", "embedding", 5)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    val pq = Similarity.pqTopK(emb, q, "vec_id", "embedding",
        k = 5, dim = 64, m = 8, nCodes = 16)
      .select("query_id", "item_id").as[(Long, Long)].collect().toSet
    assert(!pq.exists(p => p._1 == p._2), "query returned itself")
    assert(pq.groupBy(_._1).forall(_._2.size == 5))
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall > 0.15, s"PQ recall too low: $recall")
  }

  test("trained PQ codebook beats the default quantizer on data the " +
      "lowest-id default misrepresents") {
    // four tight clusters along distinct axes of an 8-dim space; ids
    // ordered so the DEFAULT codebook (lowest-id items) draws every
    // code from cluster 0 — the worst case for untrained PQ (the IVF
    // trained-centroids spec's shape, applied per subspace)
    def vec(cluster: Int, jitterSeed: Int): Array[Float] = {
      val v = Array.fill(8)(0.0f)
      v(cluster * 2) = 1.0f
      val r = new scala.util.Random(jitterSeed)
      (0 until 8).foreach(i => v(i) += (r.nextFloat() - 0.5f) * 0.1f)
      v
    }
    val items = (0 until 200).map { i =>
      (i.toLong, vec(i / 50, i))
    }.toDF("vec_id", "embedding")
    val q = items.filter(col("vec_id").isin(10L, 60L, 110L, 160L))
    // quantization collapses WITHIN-cluster ordering (one code tuple
    // per cluster, ties on id), so exact-neighbor recall@k is the
    // wrong metric for PQ — what a codebook must get right is the
    // CLUSTER: the retrieved items should come from the query's own
    // cluster, which the all-from-cluster-0 default codebook cannot
    // resolve for queries in clusters 1-3
    def sameClusterFrac(cb: Option[org.apache.spark.sql.DataFrame])
        : Double = {
      val got = Similarity.pqTopK(items, q, "vec_id", "embedding",
          k = 5, dim = 8, m = 2, nCodes = 4, codebook = cb)
        .select("query_id", "item_id").as[(Long, Long)].collect()
      got.count { case (qid, iid) => qid / 50 == iid / 50 }
        .toDouble / got.length
    }
    val trained = Similarity.trainPqCodebook(items, "vec_id",
      "embedding", dim = 8, m = 2, nCodes = 4, maxIter = 5)
    assert(trained.count() == 4)
    val fTrained = sameClusterFrac(Some(trained))
    val fDefault = sameClusterFrac(None)
    assert(fTrained >= fDefault,
      s"trained $fTrained < default $fDefault")
    assert(fTrained > 0.9, s"trained PQ must resolve the clusters: " +
      s"$fTrained")
  }

  test("tokenizerFertility: exact per-language totals and ratio") {
    val df = Seq(
      ("en", "abcd efgh"),      // 9 bytes; 2 pieces of 4 -> 2 tokens
      ("en", "abcdefgh"),       // 8 bytes; ceil(8/4) = 2 tokens
      ("fr", "an")              // 2 bytes; 1 token (short-word floor)
    ).toDF("lang", "text")
    val out = TextAnalysis.tokenizerFertility(df, "lang", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out("en") == ((2L, 17L, 4L, 17.0 / 4.0)))
    assert(out("fr") == ((1L, 2L, 1L, 2.0)))
  }

  test("urlLatestWins keeps the newest fetch per URL, ties to the " +
      "highest id") {
    val df = Seq(
      (1L, "u1", 3L), (2L, "u1", 5L), (3L, "u1", 5L), // v-tie: id 3 wins
      (4L, "u2", 9L),                                 // singleton kept
      (5L, "u3", 2L), (6L, "u3", 1L)                  // older id wins on v
    ).toDF("doc_id", "url", "version")
    val kept = Dedup.urlLatestWins(df, "doc_id", "url", "version")
      .filter(col("kept")).select("doc_id").as[Long].collect().sorted
    assert(kept.toSeq == Seq(3L, 4L, 5L))
    // NULL urls carry no recrawl identity: every such row keeps its
    // own verdict (kept=true) instead of vanishing through the join
    // or electing one winner among unrelated unknown-URL docs
    val withNulls = df.unionByName(Seq((7L, null: String, 1L),
      (8L, null: String, 2L)).toDF("doc_id", "url", "version"))
    val out = Dedup.urlLatestWins(withNulls, "doc_id", "url", "version")
    assert(out.count() == 8)
    val nullVerdicts = out.filter(col("url").isNull)
      .select("doc_id", "kept").as[(Long, Boolean)].collect().toMap
    assert(nullVerdicts == Map(7L -> true, 8L -> true))
  }

  test("topNgrams counts corpus trigrams with document reach") {
    val df = Seq(
      (0L, "a b c a b c"), // trigrams: a b c (x2), b c a, c a b
      (1L, "a b c"),
      (2L, "x y")          // too short for a trigram
    ).toDF("doc_id", "text")
    val out = TextAnalysis.topNgrams(df, "doc_id", "text", n = 3, k = 10)
      .collect()
    assert(out.map(_.getString(1)).toSeq == Seq("a b c", "b c a", "c a b"))
    val head = out.head
    assert(head.getInt(0) == 1 && head.getLong(2) == 2L &&
      head.getLong(3) == 3L) // rank, n_docs, total_count
    // the singleton tail ties on count and breaks on gram order
    assert(out.drop(1).forall(r => r.getLong(3) == 1L && r.getLong(2) == 1L))
  }
}
