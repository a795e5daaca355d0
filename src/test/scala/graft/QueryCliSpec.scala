package graft

import graft.rdf._

/** QueryCli = the reference's `4s-query` surface: formats, batch
  * updates threading the store snapshot, `-O`-style explain. Closes the
  * ledger's "manual smoke" note with executable coverage of the CLI
  * core ([[QueryCli.run]]).
  */
class QueryCliSpec extends SparkTestBase {

  private def st = QuadStore.fromTerms(spark, Seq(
    (Uri("urn:a"), Uri("urn:name"), Lit("Alice")),
    (Uri("urn:b"), Uri("urn:name"), Lit("Bob")),
    (Uri("urn:a"), Uri("urn:age"), Lit("30", Xsd.integer))))

  private val q = "SELECT ?n WHERE { ?s <urn:name> ?n } ORDER BY ?n"

  test("text format emits the reference's output_text table") {
    val out = QueryCli.run(spark, st, "text", Seq(q))
    assert(out.head == "?n")
    assert(out.tail == Seq("\"Alice\"", "\"Bob\""))
  }

  test("csv and ascii formats render plain cells") {
    assert(QueryCli.run(spark, st, "csv", Seq(q)) ==
      Seq("n", "Alice", "Bob"))
    assert(QueryCli.run(spark, st, "ascii", Seq(q)) ==
      Seq("Alice", "Bob"))
  }

  test("json format types an IRI binding as a uri, a literal as a literal") {
    val out = QueryCli.run(spark, st, "json",
      Seq("SELECT ?s ?n WHERE { ?s <urn:name> ?n } ORDER BY ?n")).mkString
    assert(out.contains(""""s":{"type":"uri","value":"urn:a"}"""), out)
    assert(out.contains(""""type":"literal","value":"Alice""""), out)
  }

  test("xml format is a SPARQL results document") {
    val out = QueryCli.run(spark, st, "xml", Seq(q)).mkString("\n")
    assert(out.contains("<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">"))
    assert(out.contains("<literal>Alice</literal>"))
  }

  test("ask renders per format") {
    val ask = "ASK { <urn:a> <urn:name> \"Alice\" }"
    assert(QueryCli.run(spark, st, "text", Seq(ask)) == Seq("true"))
    val xml = QueryCli.run(spark, st, "xml", Seq(ask)).mkString
    assert(xml.contains("<boolean>true</boolean>"))
  }

  test("construct emits N-Triples lines") {
    val out = QueryCli.run(spark, st, "text",
      Seq("CONSTRUCT { ?s <urn:known> ?n } WHERE { ?s <urn:name> ?n }"))
    assert(out.size == 2)
    assert(out.forall(l => l.contains("<urn:known>") && l.endsWith(" .")))
  }

  test("batch updates thread the snapshot like 4s-update") {
    val out = QueryCli.run(spark, st, "ascii", Seq(
      "INSERT DATA { <urn:c> <urn:name> \"Cara\" }",
      q))
    assert(out == Seq("# ok", "Alice", "Bob", "Cara"))
  }

  test("explain prints a plan, not rows") {
    val out = QueryCli.run(spark, st, "explain", Seq(q))
    assert(out.exists(_.contains("Physical Plan")))
    assert(!out.exists(_.contains("Alice")))
  }
}
