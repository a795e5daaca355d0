package graft.functions

import graft.SparkTestBase

class GraftExtensionsSpec extends SparkTestBase {

  override def beforeAll(): Unit = {
    super.beforeAll()
    GraftFunctions.register(spark)
  }

  test("graft_stem matches the Column-API stemmer, per-language") {
    val got = spark.sql(
      """SELECT graft_stem('running'), graft_stem('queries'),
        |  graft_stem('laufenden', 'de')""".stripMargin).first()
    assert(got.getString(0) == "run")
    assert(got.getString(1) == "queri")
    assert(got.getString(2) == "laufend")
  }

  test("graft_dmetaphone returns reference codes") {
    val got = spark.sql("SELECT graft_dmetaphone('customer')").first()
      .getSeq[String](0)
    assert(got.contains("KSTM"))
  }

  test("hash kernels agree between SQL and Column API") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val df = Seq("the quick brown fox jumps").toDF("t")
    df.createOrReplaceTempView("gx_t")
    val sqlRow = spark.sql(
      """SELECT graft_shingle_hashes(t, 3) AS sh, graft_word_hashes(t) AS wh,
        |  graft_simhash(t) AS sim, graft_minhash_sig(t, 3, 8) AS mh
        |FROM gx_t""".stripMargin).first()
    val apiRow = df.select(
      F.shingleHashes(col("t"), 3).as("sh"),
      F.wordHashes(col("t")).as("wh"),
      F.simhash64(F.wordHashes(col("t"))).as("sim"),
      F.minhashSig(F.shingleHashes(col("t"), 3),
        graft.operators.Dedup.minhashSeeds(8),
        graft.operators.Dedup.minhashP).as("mh")).first()
    assert(sqlRow.getSeq[Long](0) == apiRow.getSeq[Long](0))
    assert(sqlRow.getSeq[Long](1) == apiRow.getSeq[Long](1))
    assert(sqlRow.getLong(2) == apiRow.getLong(2))
    assert(sqlRow.getSeq[Long](3) == apiRow.getSeq[Long](3))
  }

  test("SQL hash functions compute the gate hash: graft_word_hashes is " +
      "SQL md5 of each word, graft_minhash_sig is Dedup.minhashSignatures") {
    import spark.implicits._
    val md5Words = spark.sql(
      """SELECT transform(array('foo', 'bar'),
        |  w -> CAST(conv(substr(md5(w), 1, 16), 16, -10) AS BIGINT))"""
        .stripMargin).first().getSeq[Long](0)
    assert(spark.sql("SELECT graft_word_hashes('Foo bar')").first()
      .getSeq[Long](0) == md5Words)
    val docs = Seq((1L, "the quick brown fox jumps"),
      (2L, "a b c a b c d"), (3L, "jumps over the lazy dog"))
      .toDF("id", "t")
    docs.createOrReplaceTempView("gx_docs")
    val sqlSigs = spark.sql(
      "SELECT id, graft_minhash_sig(t, 3, 8) AS sig FROM gx_docs")
      .as[(Long, Seq[Long])].collect().toMap
    val opSigs = graft.operators.Dedup.minhashSignatures(docs, "id", "t",
        k = 3, h = 8)
      .as[(Long, Seq[Long])].collect().toMap
    assert(sqlSigs.size == 3 && sqlSigs == opSigs)
  }

  test("vector kernels work from SQL on float arrays") {
    val got = spark.sql(
      """SELECT graft_vec_dot(CAST(array(1.0, 2.0) AS ARRAY<FLOAT>),
        |                     CAST(array(3.0, 4.0) AS ARRAY<FLOAT>)),
        |  graft_vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |                   CAST(array(1.0, 0.0) AS ARRAY<FLOAT>))"""
        .stripMargin).first()
    assert(got.getDouble(0) == 11.0)
    assert(math.abs(got.getDouble(1) - 1.0) < 1e-12)
  }

  test("round-11 kernels work from SQL: lang id, URL, span, NT parse") {
    val got = spark.sql(
      """SELECT graft_lang_id('the cat and the dog are in the house'),
        |  graft_canonicalize_url(
        |    'HTTP://Ex.COM:80/a/b/../c?utm_source=x&id=1#f'),
        |  graft_registrable_host('https://sub.host.co.uk/x'),
        |  graft_match_span_fp(array(1L, 2L, 3L, 4L),
        |                      array(9L, 2L, 3L, 4L), 3L),
        |  graft_parse_nt_quad('<urn:s> <urn:p> "v"@en .')"""
        .stripMargin).first()
    assert(got.getString(0) == "en")
    assert(got.getString(1) == "http://ex.com/a/c?id=1")
    assert(got.getString(2) == "host.co.uk")
    assert(got.getInt(3) == 3) // run 2,3,4 through anchor fp=3
    val q = got.getStruct(4)
    assert(q.getAs[String]("sLex") == "urn:s" &&
      q.getAs[String]("pLex") == "urn:p" &&
      q.getAs[Int]("oKind") == 0 &&
      q.getAs[String]("oLex") == "v" &&
      q.getAs[String]("oLang") == "en", q.toString)
  }

  test("round-12 kernel works from SQL: gopher_stats struct") {
    val got = spark.sql(
      """SELECT graft_gopher_stats(
        |  'The cat... sat #1 on the mat with a DOG')"""
        .stripMargin).first().getStruct(0)
    // tokens: the cat... sat #1 on the mat with a dog (10 words)
    assert(got.getAs[Long]("n_words") == 10L, got)
    assert(got.getAs[Long]("n_hash") == 1L, got)
    assert(got.getAs[Long]("n_ellipsis") == 1L, got)
    // distinct stopwords present: the, with
    assert(got.getAs[Long]("n_stopwords") == 2L, got)
    // '#1' has no ascii letter -> 9 alpha words
    assert(got.getAs[Long]("n_alpha_words") == 9L, got)
  }

  test("round-13 kernel works from SQL: rep_stats struct") {
    val got = spark.sql(
      "SELECT graft_rep_stats('aa bb aa bb\naa bb aa bb\n\ncc')")
      .first().getStruct(0)
    // the hand-counted OperatorsSpec fixture, through the SQL surface
    assert(got.getAs[Long]("n_lines") == 4L, got)
    assert(got.getAs[Long]("n_dup_lines") == 1L, got)
    assert(got.getAs[Long]("chars_dup_lines") == 11L, got)
    assert(got.getAs[Long]("n_paras") == 2L, got)
    assert(got.getAs[Long]("total_chars") == 27L, got)
    assert(got.getAs[Long]("top2_chars") == 20L, got)
    assert(got.getAs[Long]("dup5_chars") == 16L, got)
  }

  test("round-14 kernel works from SQL: warc_records framing") {
    val got = spark.sql(
      "SELECT graft_warc_records('WARC/1.0\r\nWARC-Type: conversion" +
        "\r\nWARC-Target-URI: urn:x\r\nContent-Length: 5\r\n\r\n" +
        "hello\r\n\r\n')").first().getSeq[org.apache.spark.sql.Row](0)
    assert(got.length == 1, got)
    assert(got.head.getAs[String]("uri") == "urn:x")
    assert(got.head.getAs[String]("payload") == "hello")
    assert(got.head.getAs[Boolean]("valid"))
  }

  test("non-literal k is rejected with a clear message") {
    val e = intercept[Exception] {
      spark.sql("SELECT graft_shingle_hashes('a b c', length('xx'))")
        .collect()
    }
    assert(e.getMessage.contains("INTEGER literal"))
  }

  test("extension class injects the same function table") {
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions().apply(ext) // must not throw; table is shared
    assert(GraftFunctions.all.map(_._1.funcName).distinct.size ==
      GraftFunctions.all.size)
  }
}
