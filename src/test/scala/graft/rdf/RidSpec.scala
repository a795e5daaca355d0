package graft.rdf

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class RidSpec extends SparkTestBase {
  import spark.implicits._

  test("plan-side and column-side RID hashing agree") {
    val uris = Seq("urn:t:nation:1", "http://example.org/a", "")
    val df = uris.toDF("u").select(Rid.uriCol(col("u")).as("rid"))
    assert(df.collect().map(_.getLong(0)).toSeq == uris.map(Rid.uri))
  }

  test("literal RIDs are salted by datatype and language") {
    val a = Rid.literal("5", Xsd.int)
    val b = Rid.literal("5", Xsd.string)
    val c = Rid.literal("5", lang = "en")
    val d = Rid.literal("5")
    assert(Set(a, b, c).size == 3)
    assert(b == d) // xsd:string == plain (RDF 1.1)
  }

  test("column literal RID matches scala literal RID incl. attr salt") {
    val rows = Seq(("5", Xsd.int, ""), ("chat", "", "fr"), ("x", "", ""))
    val df = rows.toDF("lex", "dt", "lang")
      .select(Rid.literalCol(col("lex"),
        Rid.attrCol(col("dt"), col("lang"))).as("rid"))
    val expect = rows.map { case (l, d, g) => Rid.literal(l, d, g) }
    assert(df.collect().map(_.getLong(0)).toSeq == expect)
  }

  test("tag bits partition the space; type tests work on Longs") {
    val u = Rid.uri("urn:x"); val b = Rid.bnode("b1"); val l = Rid.literal("v")
    val df = Seq(u, b, l).toDF("rid").select(
      Rid.isUriCol(col("rid")).as("isu"),
      Rid.isBNodeCol(col("rid")).as("isb"),
      Rid.isLiteralCol(col("rid")).as("isl"),
      Rid.typeRankCol(col("rid")).as("rank"))
    val r = df.collect()
    assert(r(0).getBoolean(0) && !r(0).getBoolean(1) && !r(0).getBoolean(2))
    assert(!r(1).getBoolean(0) && r(1).getBoolean(1) && !r(1).getBoolean(2))
    assert(!r(2).getBoolean(0) && !r(2).getBoolean(1) && r(2).getBoolean(2))
    assert(r.map(_.getInt(3)).toSeq == Seq(2, 1, 3))
  }

  test("NTriples line parser handles the grammar subset") {
    val l1 = NTriples.parseLine(
      """<urn:s> <urn:p> "hi \"there\""@en .""")
    assert(l1.contains((Uri("urn:s"), Uri("urn:p"),
      Lit("hi \"there\"", lang = "en"), None)))
    val l2 = NTriples.parseLine(
      """_:b1 <urn:p> "5"^^<http://www.w3.org/2001/XMLSchema#int> <urn:g> .""")
    assert(l2.contains((BNode("b1"), Uri("urn:p"),
      Lit("5", dt = Xsd.int), Some(Uri("urn:g")))))
    assert(NTriples.parseLine("# comment").isEmpty)
    assert(NTriples.parseLine("").isEmpty)
    assert(NTriples.parseLine("garbage line").isEmpty)
  }

  test("quad store from terms: quads and dictionary round-trip") {
    val st = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri(Rdf.typ), Uri("urn:T")),
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice")),
      (Uri("urn:b"), Uri("urn:name"), Lit("Bob", lang = "en"))))
    assert(st.quads.count() == 3)
    // dictionary resolves the literal back
    val names = st.quads
      .filter(col("p") === Rid.uri("urn:name"))
      .join(st.resources, col("o") === col("rid"))
      .select("lex").as[String].collect().sorted.toSeq
    assert(names == Seq("Alice", "Bob"))
    // default graph rid present
    assert(st.quads.select("g").distinct().as[Long].head() ==
      WellKnown.defaultGraph)
  }

  test("flat import builds one dictionary entry per term; streamed " +
      "quads hash alike") {
    val xsdInt = "http://www.w3.org/2001/XMLSchema#integer"
    val flat = graft.streaming.StreamIngest.parseNtLines(
      spark.createDataset(Seq(
        """<urn:s1> <urn:p> <urn:o1> .""",
        """<urn:s1> <urn:q> "lit"@en .""",
        s"""_:b <urn:p> "5"^^<$xsdInt> <urn:g> .""",
        """<urn:s2> <urn:q> "plain" ."""))(
        org.apache.spark.sql.Encoders.STRING))
    val st = QuadStore.fromFlat(spark, flat)
    val dict = st.resources.select("rid", "lex", "dt", "lang")
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    def uri(u: String) = (Rid.uri(u), u, 0L, "")
    val expect = (Seq(uri("urn:s1"), uri("urn:s2"), uri("urn:p"),
      uri("urn:q"), uri("urn:o1"), uri("urn:g"), uri(xsdInt),
      uri(WellKnown.defaultGraphUri), (Rid.bnode("b"), "b", 0L, ""),
      (Rid.literal("lit", lang = "en"), "lit", Rid.attr("", "en"), "en"),
      (Rid.literal("5", xsdInt), "5", Rid.uri(xsdInt), ""),
      (Rid.literal("plain"), "plain", 0L, ""))).sortBy(_._1)
    assert(dict == expect, s"\ngot   : $dict\nexpect: $expect")
    val streamed = graft.streaming.StreamIngest.toQuads(flat)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(streamed.size == 4 &&
      streamed == st.quads.as[(Long, Long, Long, Long)].collect().toSet)
  }

  test("TriG: graph blocks, label-only blocks, default graph, nesting") {
    val doc =
      """@prefix : <urn:x:> .
        |:s0 :p0 "top" .
        |{ :s1 :p1 :o1 . :s1 :p1b :o1b }
        |GRAPH :g1 { :s2 :p2 :o2 . :s2 :p2 :o2b . }
        |:g2 { :s3 :p3 [ :inner "v" ] }
        |GRAPH _:gb { :s4 :p4 :o4 }
        |""".stripMargin
    val qs = Turtle.parseQuads(doc)
    def graphOf(s: String): Set[Option[String]] =
      qs.collect { case (Uri(u), _, _, g) if u == s"urn:x:$s" => g }.toSet
    assert(graphOf("s0") == Set(None))
    assert(graphOf("s1") == Set(None))
    assert(graphOf("s2") == Set(Some("urn:x:g1")))
    assert(graphOf("s3") == Set(Some("urn:x:g2")))
    assert(graphOf("s4") == Set(Some("_:gb")))
    // the nested [ :inner "v" ] bnode triples land in :g2 too
    val innerG = qs.collect {
      case (_, Uri("urn:x:inner"), _, g) => g }.toSet
    assert(innerG == Set(Some("urn:x:g2")))
    assert(qs.size == 8)

    // store construction: per-quad graphs override the default
    val st = QuadStore.fromQuadTerms(spark, qs)
    val gs = st.quads.select("g").distinct().as[Long].collect().toSet
    assert(gs == Set(WellKnown.defaultGraph, Rid.uri("urn:x:g1"),
      Rid.uri("urn:x:g2"), Rid.uri("_:gb")))
    assert(st.quads.filter(col("g") === Rid.uri("urn:x:g1")).count() == 2)
  }

  test("TriG: fromFile auto-detects .trig and keeps block graphs") {
    val f = java.nio.file.Files.createTempFile("graft", ".trig")
    java.nio.file.Files.writeString(f,
      """@prefix ex: <http://ex.org/> .
        |ex:d ex:p "default" .
        |GRAPH ex:g { ex:s ex:q 42 }
        |""".stripMargin)
    val st = QuadStore.fromFile(spark, f.toString)
    assert(st.quads.count() == 2)
    assert(st.quads.filter(col("g") === Rid.uri("http://ex.org/g"))
      .count() == 1)
    assert(st.quads.filter(col("g") === WellKnown.defaultGraph)
      .count() == 1)
  }

  test("dump to N-Quads and restore round-trips quads and values") {
    val st = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Ali\"ce\nX")),
      (Uri("urn:a"), Uri("urn:age"), Lit("42", dt = Xsd.integer)),
      (Uri("urn:b"), Uri("urn:name"), Lit("Bob", lang = "en")),
      (BNode("n1"), Uri("urn:p"), Uri("urn:o"))))
    val dir = java.nio.file.Files.createTempDirectory("dump").toString
    st.toNQuadLines.write.mode("overwrite").text(dir)
    val restored = QuadStore.fromNTriples(spark, dir)
    assert(restored.quads.count() == 4)
    // identical quad RID sets (term identity survives the round trip)
    val a = st.quads.select("g", "s", "p", "o")
    val b = restored.quads.select("g", "s", "p", "o")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    // typed literal restored with its datatype attr
    val age = restored.quads
      .filter(col("p") === Rid.uri("urn:age"))
      .join(restored.resources, col("o") === col("rid"))
      .select("lex", "dt").collect().head
    assert(age.getString(0) == "42")
    assert(age.getLong(1) == Rid.uri(Xsd.integer))
  }
}
