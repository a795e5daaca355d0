package graft.sparql

import graft.SparkTestBase
import graft.rdf._

/** Engine semantics tests modeled on the reference's golden query corpus
  * (tests/query/scripts): foaf-knows-name (BGP join), null-optional,
  * foaf-minus, distinct-union, foaf-agg-filter, groupby-count-order,
  * foaf-disjunctive-filter. */
class SparqlSpec extends SparkTestBase {

  // FOAF-ish fixture (reference `data/` fixtures in miniature)
  lazy val store: QuadStore = QuadStore.fromTerms(spark, Seq(
    (Uri("urn:alice"), Uri(Rdf.typ), Uri("urn:Person")),
    (Uri("urn:alice"), Uri("urn:name"), Lit("Alice")),
    (Uri("urn:alice"), Uri("urn:age"), Lit("30", Xsd.integer)),
    (Uri("urn:alice"), Uri("urn:knows"), Uri("urn:bob")),
    (Uri("urn:alice"), Uri("urn:knows"), Uri("urn:carol")),
    (Uri("urn:bob"), Uri(Rdf.typ), Uri("urn:Person")),
    (Uri("urn:bob"), Uri("urn:name"), Lit("Bob")),
    (Uri("urn:bob"), Uri("urn:age"), Lit("25", Xsd.integer)),
    (Uri("urn:bob"), Uri("urn:knows"), Uri("urn:carol")),
    (Uri("urn:carol"), Uri(Rdf.typ), Uri("urn:Person")),
    (Uri("urn:carol"), Uri("urn:name"), Lit("Carol")),
    // carol has no age, knows nobody
    (Uri("urn:dave"), Uri(Rdf.typ), Uri("urn:Robot"))))

  private def run(q: String) = Sparql.run(store, spark, q)
  private def rows(q: String): Seq[Seq[String]] =
    run(q).collect().toSeq.map(r =>
      (0 until r.length).map(i => Option(r.get(i)).map(_.toString).orNull))

  test("BGP join on shared variable (foaf-knows-name)") {
    val r = rows("""SELECT ?n1 ?n2 WHERE {
      ?a <urn:knows> ?b . ?a <urn:name> ?n1 . ?b <urn:name> ?n2 }
      ORDER BY ?n1 ?n2""")
    assert(r == Seq(Seq("Alice", "Bob"), Seq("Alice", "Carol"),
      Seq("Bob", "Carol")))
  }

  test("OPTIONAL with unbound result (null-optional)") {
    val r = rows("""SELECT ?n ?age WHERE {
      ?p a <urn:Person> ; <urn:name> ?n .
      OPTIONAL { ?p <urn:age> ?age } } ORDER BY ?n""")
    assert(r == Seq(Seq("Alice", "30"), Seq("Bob", "25"),
      Seq("Carol", null)))
  }

  test("FILTER inside OPTIONAL applies before the left join") {
    val r = rows("""SELECT ?n ?age WHERE {
      ?p <urn:name> ?n .
      OPTIONAL { ?p <urn:age> ?age FILTER(?age > 27) } } ORDER BY ?n""")
    assert(r == Seq(Seq("Alice", "30"), Seq("Bob", null),
      Seq("Carol", null)))
  }

  test("OPTIONAL filter as LeftJoin condition sees both sides (deep)") {
    // E references ?n (left) and ?age (right): per §18.2.2.5 it is the
    // LEFT JOIN CONDITION over the merged row — Bob keeps his age via
    // the ?n disjunct even though 25*2 < 55; the deep arithmetic also
    // exercises the hoisted-helper compilation path
    val r = rows("""SELECT ?n ?age WHERE {
      ?p <urn:name> ?n .
      OPTIONAL { ?p <urn:age> ?age
                 FILTER(?age * 2 >= 55 || ?n = "Bob") } } ORDER BY ?n""")
    assert(r == Seq(Seq("Alice", "30"), Seq("Bob", "25"),
      Seq("Carol", null)))
  }

  test("UNION (distinct-union)") {
    val r = rows("""SELECT DISTINCT ?x WHERE {
      { ?x a <urn:Person> } UNION { ?x a <urn:Robot> } } ORDER BY ?x""")
    assert(r.map(_.head) ==
      Seq("urn:alice", "urn:bob", "urn:carol", "urn:dave"))
  }

  test("MINUS removes compatible rows (foaf-minus)") {
    val r = rows("""SELECT ?n WHERE {
      ?p a <urn:Person> ; <urn:name> ?n .
      MINUS { ?p <urn:knows> <urn:carol> } } ORDER BY ?n""")
    assert(r.map(_.head) == Seq("Carol"))
  }

  test("FILTER with numeric comparison and arithmetic") {
    val r = rows("""SELECT ?n WHERE {
      ?p <urn:name> ?n ; <urn:age> ?a . FILTER(?a * 2 >= 55) } ORDER BY ?n""")
    assert(r.map(_.head) == Seq("Alice"))
  }

  test("disjunctive filter (foaf-disjunctive-filter) and IN") {
    val r1 = rows("""SELECT ?n WHERE { ?p <urn:name> ?n .
      FILTER(?n = "Alice" || ?n = "Bob") } ORDER BY ?n""")
    assert(r1.map(_.head) == Seq("Alice", "Bob"))
    val r2 = rows("""SELECT ?n WHERE { ?p <urn:name> ?n .
      FILTER(?n IN ("Alice", "Carol")) } ORDER BY ?n""")
    assert(r2.map(_.head) == Seq("Alice", "Carol"))
  }

  test("aggregates with GROUP BY + HAVING (foaf-agg-filter)") {
    val r = rows("""SELECT ?a (COUNT(?b) AS ?cnt) WHERE {
      ?a <urn:knows> ?b } GROUP BY ?a HAVING (COUNT(?b) >= 1)
      ORDER BY DESC(?cnt) ?a""")
    assert(r == Seq(Seq("urn:alice", "2"), Seq("urn:bob", "1")))
  }

  test("implicit grouping yields one row; empty input yields one row") {
    val r = rows("""SELECT (COUNT(?p) AS ?c) (AVG(?age) AS ?avg)
      (MIN(?age) AS ?mn) (MAX(?age) AS ?mx) (SUM(?age) AS ?sm)
      WHERE { ?p <urn:age> ?age }""")
    // SUM of integers is integer-typed ("55", not double "55.0") per the
    // reference's numeric promotion
    assert(r == Seq(Seq("2", "27.5", "25", "30", "55")))
    val empty = rows(
      """SELECT (COUNT(?p) AS ?c) WHERE { ?p <urn:nothere> ?x }""")
    assert(empty == Seq(Seq("0")))
  }

  test("GROUP_CONCAT and SAMPLE") {
    val r = rows("""SELECT (GROUP_CONCAT(?n; SEPARATOR=",") AS ?all)
      WHERE { ?p a <urn:Person> ; <urn:name> ?n }""")
    assert(r == Seq(Seq("Alice,Bob,Carol")))
  }

  test("GROUP BY an expression, projected and HAVING-filtered") {
    val r = rows("""SELECT (STRLEN(?n) AS ?l) (COUNT(?p) AS ?c) WHERE {
      ?p <urn:name> ?n } GROUP BY STRLEN(?n)
      HAVING(COUNT(?p) > 1) ORDER BY ?l""")
    assert(r == Seq(Seq("5", "2"))) // Alice+Carol len 5; Bob len 3 filtered
  }

  test("ASK over UNION (union-ask)") {
    val yes = rows("""ASK { { <urn:alice> <urn:age> ?x }
      UNION { <urn:nobody> <urn:age> ?x } }""")
    assert(yes == Seq(Seq("true")))
    val no = rows("""ASK { { <urn:nobody1> <urn:age> ?x }
      UNION { <urn:nobody2> <urn:age> ?x } }""")
    assert(no == Seq(Seq("false")))
  }

  test("nested OPTIONAL keeps outer bindings intact") {
    val r = rows("""SELECT ?n ?fn ?fa WHERE {
      ?p <urn:name> ?n .
      OPTIONAL { ?p <urn:knows> ?f . ?f <urn:name> ?fn
                 OPTIONAL { ?f <urn:age> ?fa } } }
      ORDER BY ?n ?fn""")
    // carol knows nobody -> (Carol, null, null); bob knows carol who has
    // no age -> (Bob, Carol, null)
    assert(r.contains(Seq("Carol", null, null)))
    assert(r.contains(Seq("Bob", "Carol", null)))
    assert(r.contains(Seq("Alice", "Bob", "25")))
  }

  test("BIND creates a joinable computed var") {
    val r = rows("""SELECT ?n ?y WHERE { ?p <urn:age> ?a ;
      <urn:name> ?n . BIND(?a + 1 AS ?y) } ORDER BY ?n""")
    assert(r == Seq(Seq("Alice", "31"), Seq("Bob", "26")))
  }

  test("VALUES joins as an inline table") {
    val r = rows("""SELECT ?n WHERE { ?p <urn:name> ?n .
      VALUES ?n { "Alice" "Carol" } } ORDER BY ?n""")
    assert(r.map(_.head) == Seq("Alice", "Carol"))
  }

  test("string/functional builtins") {
    val r = rows("""SELECT ?u (STRLEN(?n) AS ?l) WHERE {
      <urn:alice> <urn:name> ?n . BIND(UCASE(?n) AS ?u) }""")
    assert(r == Seq(Seq("ALICE", "5")))
    val r2 = rows("""SELECT ?n WHERE { ?p <urn:name> ?n .
      FILTER(REGEX(?n, "^[AC]")) } ORDER BY ?n""")
    assert(r2.map(_.head) == Seq("Alice", "Carol"))
  }

  test("term tests: isIRI/isLiteral/BOUND/LANG/DATATYPE") {
    val r = rows("""SELECT ?n WHERE { ?p <urn:name> ?o .
      FILTER(ISLITERAL(?o)) BIND(STR(?o) AS ?n) } ORDER BY ?n""")
    assert(r.map(_.head) == Seq("Alice", "Bob", "Carol"))
    val r2 = rows("""SELECT ?dt WHERE { <urn:alice> <urn:age> ?a .
      BIND(DATATYPE(?a) AS ?dt) }""")
    assert(r2.map(_.head) == Seq(Xsd.integer))
  }

  test("decimal arithmetic is exact; int/0 is a type error") {
    val decStore = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:x"), Uri("urn:a"), Lit("0.1", Xsd.decimal)),
      (Uri("urn:x"), Uri("urn:b"), Lit("0.2", Xsd.decimal))))
    def rws(q: String) = Sparql.run(decStore, spark, q).collect().toSeq
      .map(r => (0 until r.length).map(i =>
        Option(r.get(i)).map(_.toString).orNull))
    // double would give 0.30000000000000004; fs_decimal gives 0.3
    val r = rws("""SELECT ?s WHERE { ?x <urn:a> ?a ; <urn:b> ?b .
      BIND(?a + ?b AS ?s) }""")
    assert(r == Seq(Seq("0.3")))
    // integer division is decimal; division by zero -> error -> unbound
    val d = rws("""SELECT ?q ?z WHERE { ?x <urn:a> ?a .
      BIND(1/2 AS ?q) BIND(1/0 AS ?z) }""")
    assert(d == Seq(Seq("0.5", null)))
    // double division by zero stays IEEE (Infinity), per XSD semantics
    val inf = rws("""SELECT ?i WHERE { ?x <urn:a> ?a .
      BIND(1.0e0/0 AS ?i) }""")
    assert(inf == Seq(Seq("Infinity")))
    // integer arithmetic is exact beyond 2^53 (computed in decimal, not
    // double), and >20-integer-digit overflow is an error, not a crash
    val big = rws("""SELECT ?x ?o WHERE { ?s <urn:a> ?a .
      BIND(9007199254740993 + 1 AS ?x)
      BIND(100000000000000000000 * 10 AS ?o) }""")
    assert(big == Seq(Seq("9007199254740994", null)))
  }

  test("FROM_UNIXTIME / TO_UNIXTIME (LAQRS extensions)") {
    val r = rows("""SELECT ?t ?u WHERE {
      ?p <urn:age> ?age .
      BIND(FROM_UNIXTIME(0) AS ?t)
      BIND(TO_UNIXTIME(FROM_UNIXTIME(86400)) AS ?u)
      FILTER(?age = 30) }""")
    assert(r == Seq(Seq("1970-01-01T00:00:00", "86400")))
  }

  test("EXISTS / NOT EXISTS filters") {
    val r = rows("""SELECT ?n WHERE { ?p a <urn:Person> ; <urn:name> ?n .
      FILTER NOT EXISTS { ?p <urn:knows> ?x } } ORDER BY ?n""")
    assert(r.map(_.head) == Seq("Carol"))
  }

  test("ORDER BY total order puts unbound first, DESC works") {
    val r = rows("""SELECT ?n ?age WHERE { ?p a <urn:Person> ;
      <urn:name> ?n . OPTIONAL { ?p <urn:age> ?age } }
      ORDER BY DESC(?age) ?n""")
    assert(r == Seq(Seq("Alice", "30"), Seq("Bob", "25"),
      Seq("Carol", null)))
  }

  test("LIMIT/OFFSET after ORDER BY") {
    val r = rows("""SELECT ?n WHERE { ?p <urn:name> ?n }
      ORDER BY ?n LIMIT 1 OFFSET 1""")
    assert(r.map(_.head) == Seq("Bob"))
  }

  test("ASK") {
    assert(run("""ASK { <urn:alice> <urn:knows> <urn:bob> }""")
      .collect()(0).getBoolean(0))
    assert(!run("""ASK { <urn:bob> <urn:knows> <urn:alice> }""")
      .collect()(0).getBoolean(0))
  }

  test("CONSTRUCT emits instantiated template triples") {
    val r = run("""CONSTRUCT { ?b <urn:knownBy> ?a } WHERE {
      ?a <urn:knows> ?b }""").collect()
    assert(r.length == 3)
    assert(r.forall(_.getString(1) == "<urn:knownBy>"))
  }

  test("CONSTRUCT template bnodes are fresh per solution row") {
    // one template bnode shared across the row's triples, distinct
    // across rows (SPARQL 1.1 §16.2.1)
    val r = run("""CONSTRUCT { _:x <urn:knew> ?a . _:x <urn:kn> ?b }
      WHERE { ?a <urn:knows> ?b }""").collect()
    assert(r.length == 6) // 3 solutions x 2 triples
    val bySubj = r.groupBy(_.getString(0))
    assert(bySubj.size == 3, s"expected 3 distinct bnodes: $bySubj")
    assert(bySubj.values.forall(_.length == 2))
    assert(r.forall(_.getString(0).startsWith("_:")))
  }

  test("GROUP_CONCAT DISTINCT collapses duplicate values") {
    val r = rows("""SELECT (GROUP_CONCAT(DISTINCT ?t ; SEPARATOR=",")
        AS ?ts) WHERE { ?p a ?t }""")
    assert(r == Seq(Seq("urn:Person,urn:Robot")))
  }

  test("DESCRIBE dumps subject triples") {
    val r = run("""DESCRIBE <urn:carol>""").collect()
    assert(r.length == 2) // type + name
  }

  test("GRAPH variable binds and scopes") {
    val s2 = QuadStore.fromTerms(spark,
      Seq((Uri("urn:x"), Uri("urn:p"), Lit("in-g2"))), graph = "urn:g2")
    val merged = store.union(s2)
    val r = Sparql.run(merged, spark,
      """SELECT ?g ?o WHERE { GRAPH ?g { ?s <urn:p> ?o } }""").collect()
    assert(r.length == 1 && r(0).getString(0) == "urn:g2" &&
      r(0).getString(1) == "in-g2")
  }

  test("PREFIX and 'a' keyword") {
    val r = rows("""PREFIX ex: <urn:>
      SELECT ?n WHERE { ex:alice ex:name ?n }""")
    assert(r.map(_.head) == Seq("Alice"))
  }

  // EXISTS in expression position (SPARQL 1.1 §17.4.1.4): not just a
  // top-level FILTER — inside ||, IF, and BIND

  test("EXISTS under || in a FILTER") {
    val r = rows("""SELECT ?n WHERE { ?p <urn:name> ?n .
      FILTER(EXISTS { ?p <urn:knows> <urn:bob> } || ?n = "Carol") }
      ORDER BY ?n""")
    assert(r.map(_.head) == Seq("Alice", "Carol"))
  }

  test("BIND(EXISTS AS ?flag) binds a boolean per solution") {
    val r = rows("""SELECT ?n ?f WHERE { ?p <urn:name> ?n .
      BIND(EXISTS { ?p <urn:knows> ?x } AS ?f) } ORDER BY ?n""")
    assert(r.map(x => (x(0), x(1))) ==
      Seq(("Alice", "true"), ("Bob", "true"), ("Carol", "false")))
  }

  test("IF(NOT EXISTS ...) selects per row") {
    val r = rows("""SELECT ?n ?tag WHERE { ?p <urn:name> ?n .
      BIND(IF(NOT EXISTS { ?p <urn:knows> ?x }, "loner", "social") AS ?tag) }
      ORDER BY ?n""")
    assert(r.map(x => (x(0), x(1))) == Seq(("Alice", "social"),
      ("Bob", "social"), ("Carol", "loner")))
  }

  test("SHA224 joins the hash family (results.c:367-369 dispatch)") {
    val r = rows("""SELECT (SHA224("abc") AS ?h) WHERE {}""")
    // NIST FIPS 180-2 test vector for SHA-224("abc")
    assert(r == Seq(Seq(
      "23097d223405d8228642a477bda255b32aadbce4bda0b3f7e36c9da7")))
  }

  test("CONCAT with zero args is the empty simple literal") {
    val r = rows("""SELECT (CONCAT() AS ?c) (CONCAT("a") AS ?one)
      WHERE {}""")
    assert(r == Seq(Seq("", "a")))
  }

  test("GROUP_CONCAT cap keeps the binary-smallest prefix, deterministically") {
    // spark.graft.groupConcat.max bounds per-group accumulation (scale
    // posture: a viral group must not OOM an executor); the capped
    // result is a prefix of the uncapped sorted result
    spark.conf.set("spark.graft.groupConcat.max", "1")
    try {
      val r = rows("""SELECT ?a (GROUP_CONCAT(?n; SEPARATOR=",") AS ?ns)
        WHERE { ?a <urn:knows> ?b . ?b <urn:name> ?n }
        GROUP BY ?a ORDER BY ?a""")
      // alice knows Bob+Carol -> capped to "Bob"; bob knows Carol
      assert(r.map(x => (x(0), x(1))) ==
        Seq(("urn:alice", "Bob"), ("urn:bob", "Carol")))
    } finally spark.conf.unset("spark.graft.groupConcat.max")
    // uncapped: full sorted list
    val full = rows("""SELECT ?a (GROUP_CONCAT(?n; SEPARATOR=",") AS ?ns)
      WHERE { ?a <urn:knows> ?b . ?b <urn:name> ?n }
      GROUP BY ?a ORDER BY ?a""")
    assert(full.map(x => (x(0), x(1))) ==
      Seq(("urn:alice", "Bob,Carol"), ("urn:bob", "Carol")))
  }

  test("optimizer levels (4s-query -O): same results at every level") {
    // -O0 runs patterns in textual order and -O<3 bypasses the query
    // cache (reference optimiser.c:214 / query-cache.c:270); semantics
    // must be level-invariant
    val q = """SELECT ?n1 ?n2 WHERE {
      ?a <urn:knows> ?b . ?a <urn:name> ?n1 . ?b <urn:name> ?n2 }
      ORDER BY ?n1 ?n2"""
    val expected = Seq(Seq("Alice", "Bob"), Seq("Alice", "Carol"),
      Seq("Bob", "Carol"))
    for (level <- Seq("0", "1", "2", "3")) {
      spark.conf.set("spark.graft.optLevel", level)
      try {
        assert(graft.sparql.Exec.optLevel == level.toInt)
        assert(rows(q) == expected, s"level $level")
      } finally spark.conf.unset("spark.graft.optLevel")
    }
  }

  test("wide compat join (4 maybe-null shared vars) keeps exact semantics") {
    // >3 maybe-null shared vars routes through compatBranchesObserved
    // (branch per OBSERVED null-mask pair). Value-level check with real
    // nulls: four subjects each binding a different optional var; every
    // group-pair is compatible except where ?v1 is bound to different
    // values on both sides.
    val s = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:s1"), Uri("urn:a"), Lit("1", Xsd.integer)),
      (Uri("urn:s1"), Uri("urn:b"), Lit("2", Xsd.integer)),
      (Uri("urn:s2"), Uri("urn:a"), Lit("1", Xsd.integer)),
      (Uri("urn:s2"), Uri("urn:c"), Lit("3", Xsd.integer)),
      (Uri("urn:s3"), Uri("urn:a"), Lit("2", Xsd.integer)),
      (Uri("urn:s3"), Uri("urn:d"), Lit("4", Xsd.integer)),
      (Uri("urn:s4"), Uri("urn:a"), Lit("3", Xsd.integer)),
      (Uri("urn:s4"), Uri("urn:b"), Lit("9", Xsd.integer))))
    val df = Sparql.run(s, spark,
      """SELECT ?x ?y ?v1 ?v2 ?v3 ?v4 WHERE {
           { ?x <urn:a> ?ka .
             OPTIONAL { ?x <urn:b> ?v1 } OPTIONAL { ?x <urn:c> ?v2 }
             OPTIONAL { ?x <urn:d> ?v3 } OPTIONAL { ?x <urn:e> ?v4 } }
           { ?y <urn:a> ?kb .
             OPTIONAL { ?y <urn:b> ?v1 } OPTIONAL { ?y <urn:c> ?v2 }
             OPTIONAL { ?y <urn:d> ?v3 } OPTIONAL { ?y <urn:e> ?v4 } }
         }""")
    val got = df.collect().map(r =>
      (r.get(0).toString, r.get(1).toString)).toSet
    // 4x4 pairs minus the two (s1,s4)/(s4,s1) v1-conflicts
    val all = for { a <- 1 to 4; b <- 1 to 4 } yield (s"urn:s$a", s"urn:s$b")
    assert(got === all.toSet -- Set(("urn:s1", "urn:s4"),
      ("urn:s4", "urn:s1")))
    assert(got.size === 14)
    // coalesced values survive the union of branches: the (s1,s2) row
    // carries v1 from the left group and v2 from the right group
    val r12 = df.filter("x = 'urn:s1' and y = 'urn:s2'").collect()(0)
    assert(r12.get(2).toString === "2" && r12.get(3).toString === "3")
  }

  test("zero-arg BNODE(): fresh per row and per site, rid/label in " +
      "sync, legal in aggregate contexts") {
    // fresh per (distinct) solution row: 3 persons -> 3 distinct nodes
    val c = rows("""SELECT (COUNT(DISTINCT ?b) AS ?c) WHERE {
      ?p a <urn:Person> . BIND(BNODE() AS ?b) }""")
    assert(c == Seq(Seq("3")))
    // two call SITES in one row must not collide; the node IS a blank
    // node (rid tag consistent with the generated label)
    val r = rows("""SELECT ?n WHERE {
      ?p a <urn:Person> ; <urn:name> ?n .
      BIND(BNODE() AS ?b1) BIND(BNODE() AS ?b2)
      FILTER(ISBLANK(?b1) && ISBLANK(?b2) && !SAMETERM(?b1, ?b2)) }
      ORDER BY ?n""")
    assert(r == Seq(Seq("Alice"), Seq("Bob"), Seq("Carol")))
    // the r9 AnalysisException case: BNODE() directly in a GROUP BY
    // key compiles into an Aggregate — the deterministic row salt
    // makes it legal; each row grounds its own group
    val g = rows("""SELECT (COUNT(*) AS ?c) WHERE {
      ?p a <urn:Person> } GROUP BY BNODE()""")
    assert(g.size == 3 && g.forall(_ == Seq("1")))
    // deterministic across re-execution of the same plan: two collects
    // of one DataFrame agree on labels (a desynced rid/label pair or a
    // per-run counter would not)
    val df = run("""SELECT ?b WHERE {
      ?p a <urn:Person> . BIND(BNODE() AS ?b) } ORDER BY ?p""")
    val l1 = df.collect().map(_.toString).toSeq
    val l2 = df.collect().map(_.toString).toSeq
    assert(l1 == l2)
  }

  test("zero-arg BNODE(): fresh per solution ROW, including duplicate " +
      "rows (§17.4.2.9), and legal as a join variable") {
    // the subquery projects 3 IDENTICAL rows (x=1 each); §17.4.2.9
    // wants a fresh node per row, not per distinct row — the r10
    // deterministic row-hash salt shared one node across all three
    val c = rows("""SELECT (COUNT(DISTINCT ?b) AS ?c) WHERE {
      { SELECT ?x WHERE { ?p a <urn:Person> . BIND(1 AS ?x) } }
      BIND(BNODE() AS ?b) }""")
    assert(c == Seq(Seq("3")))
    // BNODE() result used as a JOIN variable (the r9 AnalysisException
    // shape): fresh nodes join nothing in the store, but must compile
    // and keep the rows via OPTIONAL
    val j = rows("""SELECT ?n WHERE {
      ?p a <urn:Person> ; <urn:name> ?n .
      BIND(BNODE() AS ?b)
      OPTIONAL { ?b <urn:never> ?y } } ORDER BY ?n""")
    assert(j == Seq(Seq("Alice"), Seq("Bob"), Seq("Carol")))
    // SELECT-position BNODE() (compiles through compileStagedMany, not
    // BIND): fresh per row and a real blank node
    val s = rows("""SELECT (COUNT(DISTINCT ?b2) AS ?c) WHERE {
      { SELECT (BNODE() AS ?b2) WHERE { ?p a <urn:Person> } } }""")
    assert(s == Seq(Seq("3")))
  }

  test("zero-arg BNODE(): row-salt ids survive DOUBLE consumption of " +
      "the salted subtree (recompute pin, r12)") {
    // A salted projection consumed TWICE by the downstream plan (self
    // join) is the r11 documented edge: without the lazy-localCheckpoint
    // pin each side could recompute monotonically_increasing_id over an
    // unordered exchange and mint DIFFERENT ids for the same logical
    // row. The pin materializes ids once; both sides must read the
    // same values.
    import org.apache.spark.sql.functions._
    import graft.sparql.Ast.ECall
    val base = spark.range(0, 1000).toDF("k")
      .withColumn("v", col("k") * 7)
      .repartition(8, col("v")) // unordered exchange under the salt
    val salted = Compiler.saltInput(base, Seq(ECall("BNODE", Nil)))
    val l = salted.as("l")
    val r = salted.as("r")
    val joined = l.join(r, col("l.k") === col("r.k"))
      .select(col("l.k"),
        col(s"l.${Compiler.BnodeRowIdCol}").as("id_l"),
        col(s"r.${Compiler.BnodeRowIdCol}").as("id_r"))
      .collect()
    assert(joined.length == 1000)
    assert(joined.forall(row => row.getLong(1) == row.getLong(2)),
      "salted row ids diverged between two consumptions of one subtree")
    // and the ids are row-unique (the freshness half of the contract)
    assert(joined.map(_.getLong(1)).distinct.length == 1000)
  }

  // ---- volatile functions bypass the plan and answer caches: a cached
  // plan fixes their seeds and timestamp, so a repeat would return the
  // first run's values

  /** `q` run twice through [[Sparql.run]] and through the endpoint's
    * path ([[Sparql.runNt]] + a result writer) gives new values each
    * time; `pause` ms between the runs (NOW() has second precision). */
  private def freshEachRun(q: String, pause: Long = 0): Unit = {
    def nt(): String = {
      val w = new java.io.StringWriter()
      graft.sinks.Results.writeJson(Sparql.runNt(store, spark, q), w)
      w.toString
    }
    val (r1, n1) = (rows(q), nt())
    Thread.sleep(pause)
    val (r2, n2) = (rows(q), nt())
    assert(r1 != r2, s"Sparql.run repeated $r1")
    assert(n1 != n2, s"runNt repeated $n1")
    assert(PlanCache.volatile(Parser.parse(q)))
  }

  test("RAND() is fresh on every run") {
    freshEachRun(
      "SELECT ?p (RAND() AS ?r) WHERE { ?p a <urn:Person> } ORDER BY ?p")
    // a plain query still hits the cache: same frame
    val q = "SELECT ?p WHERE { ?p a <urn:Person> }"
    assert(run(q) eq run(q))
  }

  test("NOW() is fresh on every run, in SELECT and CONSTRUCT") {
    freshEachRun("SELECT (NOW() AS ?t) WHERE { }", pause = 1100)
    val c = """CONSTRUCT { ?p <urn:at> ?t } WHERE {
      ?p a <urn:Robot> . BIND(NOW() AS ?t) }"""
    val t1 = run(c).collect().toSeq
    Thread.sleep(1100)
    assert(run(c).collect().toSeq != t1)
  }

  test("UUID() is fresh on every run") {
    freshEachRun(
      "SELECT ?p (UUID() AS ?u) WHERE { ?p a <urn:Person> } ORDER BY ?p")
  }

  test("STRUUID() is fresh on every run") {
    freshEachRun("SELECT (STRUUID() AS ?u) WHERE { }")
  }

  test("zero-arg BNODE() is fresh on every run") {
    freshEachRun("""SELECT ?p ?b WHERE { ?p a <urn:Person> .
      BIND(BNODE() AS ?b) } ORDER BY ?p""")
    // BNODE(str) is a function of its argument: cacheable
    assert(!PlanCache.volatile(Parser.parse(
      "SELECT ?b WHERE { ?p a <urn:Person> . BIND(BNODE(STR(?p)) AS ?b) }")))
    // volatility is found in nested scopes too
    assert(PlanCache.volatile(Parser.parse("""ASK { ?p a <urn:Person>
      FILTER EXISTS { { SELECT ?q WHERE { ?q a ?t } ORDER BY RAND() } } }""")))
  }
}
