package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.rdf.{FullText, QuadStore}
import graft.sparql.{Sparql, Update}

/** SPARQL-engine coverage for the correctness gate: each entry rdfizes the
  * needed driver tables (direct-mapping, QuadStore.rdfize), runs a SPARQL
  * query through the full parse->algebra->DataFrame pipeline, and types the
  * output so a plain-SQL DuckDB oracle can hash-match it.
  */
object SparqlQueries {

  /** Per-JVM per-table store cache so Verify/Bench rdfize each table at
    * most once; multi-table queries union the cached single-table stores
    * (a cheap plan-level union of cached RDDs). Keyed by SESSION too
    * (the GraphGates.pairCache lesson, re-learned by the r12
    * local-cluster smoke run): a path-only key handed a RESTARTED
    * session the previous session's pinned plans, which die with
    * "SparkPlan.session is null". Dead-session entries are dropped on
    * sight. */
  private val cache = scala.collection.concurrent
    .TrieMap[(SparkSession, String, String), QuadStore]()

  private[graft] def store(s: SparkSession, dir: String,
                           tables: String*): QuadStore = {
    cache.keys.filter(_._1.sparkContext.isStopped)
      .foreach(cache.remove)
    // memoize the UNIONED store too: a stable instance per table set is
    // what lets Sparql's prepared-plan cache hit on repeated runs.
    // Single-table stores take the compact (one-segment) layout — see
    // [[arrange]]; multi-table stores keep each table's partitioning so a
    // small table joined against a big one can never drag the big side
    // into one partition (a SinglePartition child satisfies the join's
    // clustering requirement, forcing the OTHER side to co-locate).
    cache.getOrElseUpdate((s, dir, tables.mkString("+")), {
      val onePart = tables.size == 1
      tables.map(t => singleStore(s, dir, t, onePart)).reduce(_ union _)
    })
  }

  /** Below this quad count a store used ALONE by a query caches as ONE
    * partition. The reference sizes segment count to the KB
    * (`4s-backend-setup --segments`): a small KB runs few segments so
    * queries skip fan-out entirely. The Spark analog: a SinglePartition
    * cached relation satisfies every clustering requirement, so Catalyst
    * plans ZERO exchanges — tiny-store queries run as one stage instead
    * of paying per-stage scheduling on data that fits in one task. Above
    * ~half a million quads the arithmetic flips: one task scanning that
    * many wide rows costs more than the exchange it avoids (measured:
    * s07 over the 900k-quad orders store runs ~2× faster parallel). */
  private val onePartitionMaxQuads = 512L * 1000

  private def arrange(valued: DataFrame,
                      onePart: Boolean): (DataFrame, Boolean) = {
    // sorting within partitions by predicate clusters each predicate into
    // few cached batches, so the cache's per-batch min/max stats skip the
    // rest on constant-p scans — the in-memory analog of the per-predicate
    // ptree index. (Subject-hash partitioning the cache was measured and
    // NOT kept: at gate scale these queries are driver-latency-bound and
    // the extra scan partitions cost more than the avoided exchanges; the
    // durable bucketed store provides co-located subject joins where it
    // matters — see PlanSpec "bucketed store".)
    val small = onePart && valued.count() <= onePartitionMaxQuads
    // over the compact threshold, fan the cache out explicitly: the
    // upstream parquet is often ONE split (small files), and a cache
    // inherits it — a 900k-quad store would otherwise run every scan,
    // join, and sort of s07 in a single task no matter the cluster size.
    // ONLY for the single-table (onePart) case: fanning out the small
    // sides of multi-table stores costs two 32-task stages per join on
    // data one task scans faster (measured: s02/s04 +60%)
    val sized =
      if (small) valued.coalesce(1)
      else if (onePart && valued.rdd.getNumPartitions < 8)
        valued.repartition(32, col("s"))
      else valued
    (sized.sortWithinPartitions("p").cache(), small)
  }

  /** `st` cached for the gates: the VALUED (wide) form [[arrange]]d and
    * cached once, the narrow quads view a projection over the same cached
    * relation (columnar cache prunes the value columns for RID-only
    * scans), and the resources cached in one partition when the store is
    * small. */
  private def cached(st: QuadStore, onePart: Boolean): QuadStore = {
    val (v, small) = arrange(st.valued.get, onePart)
    val res = (if (small) st.resources.coalesce(1) else st.resources).cache()
    QuadStore(v.select(QuadStore.quadCols.map(col): _*),
      res, Some(v), st.predRids, st.graphRids)
  }

  private def singleStore(s: SparkSession, dir: String, t: String,
                          onePart: Boolean): QuadStore =
      cache.getOrElseUpdate((s, dir, t + (if (onePart) "@1" else "")),
        cached(QuadStore.rdfizeDir(s, dir, Seq(t)), onePart))

  private[graft] def sparql(s: SparkSession, dir: String,
                            tables: Seq[String], q: String): DataFrame =
    Sparql.run(store(s, dir, tables: _*), s, q)

  /** documents store with full-text derived quads (token/stem/phonetic),
    * cached per (dir) like the rdfize stores. */
  private def ftStore(s: SparkSession, dir: String): QuadStore =
    cache.getOrElseUpdate((s, dir, "__fulltext_documents"), {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val flat = Tables.t(s, dir, "documents").select(
        lit("urn:g:documents").as("gLex"),
        lit(1).as("sKind"),
        concat(lit("urn:t:documents:"), col("doc_id")).as("sLex"),
        lit("urn:p:documents:text").as("pLex"),
        lit(0).as("oKind"),
        col("text").as("oLex"),
        lit("").as("oDt"),
        lit("").as("oLang"))
      cached(FullText.withFullText(flat, Set("urn:p:documents:text")),
        onePart = true)
    })

  /** Location-hierarchy store for the property-path gate: customer and
    * nation rows share ONE predicate `urn:p:locIn` (customer->nation,
    * nation->region), so `locIn+` exercises genuine multi-level transitive
    * closure (SPARQL 1.1 §9 — extension; the reference has no paths). */
  private[graft] def locStore(s: SparkSession, dir: String): QuadStore =
    cache.getOrElseUpdate((s, dir, "__locin"), {
      def edge(df: DataFrame, sPfx: String, sCol: String,
               oPfx: String, oCol: String): DataFrame =
        df.select(
          lit("urn:g:loc").as("gLex"), lit(1).as("sKind"),
          concat(lit(sPfx), col(sCol)).as("sLex"),
          lit("urn:p:locIn").as("pLex"), lit(1).as("oKind"),
          concat(lit(oPfx), col(oCol)).as("oLex"),
          lit("").as("oDt"), lit("").as("oLang"))
      val flat = edge(Tables.t(s, dir, "customer"),
          "urn:t:customer:", "c_custkey", "urn:t:nation:", "c_nationkey")
        .unionByName(edge(Tables.t(s, dir, "nation"),
          "urn:t:nation:", "n_nationkey", "urn:t:region:", "n_regionkey"))
      cached(QuadStore.fromFlat(s, flat), onePart = true)
    })

  /** One gate: its name, the tables it rdfizes, its oracle, and its
    * program given those tables. */
  private def mk(name: String, tables: String*)(oracle: String)(
      f: (SparkSession, String, Seq[String]) => DataFrame): Gate =
    Gate(name, oracle)((s, d) => f(s, d, tables))

  private val xsdInt = "http://www.w3.org/2001/XMLSchema#integer"

  val gates: Seq[Gate] = Seq(
    // BGP chain join over two rdfized tables (fs_bind + fs_binding_merge)
    mk("s01_sparql_bgp_join", "nation", "region")(
      """SELECT n_name AS nname, r_name AS rname
        |FROM nation JOIN region ON n_regionkey = r_regionkey
        |ORDER BY nname, rname""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?nname ?rname WHERE {
             ?n <urn:p:nation:n_regionkey> ?rk ;
                <urn:p:nation:n_name> ?nname .
             ?r <urn:p:region:r_regionkey> ?rk ;
                <urn:p:region:r_name> ?rname }""")
        .orderBy("nname", "rname")
    },

    // OPTIONAL = left join with filter-first (fs_binding_join FS_LEFT)
    mk("s02_sparql_optional", "customer", "orders")(
      """SELECT c_name AS cname, o_totalprice AS tp
        |FROM customer LEFT JOIN orders
        |  ON o_custkey = c_custkey AND o_totalprice > 300000
        |ORDER BY cname, tp NULLS FIRST""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?cname ?tp WHERE {
             ?c <urn:p:customer:c_custkey> ?ck ;
                <urn:p:customer:c_name> ?cname .
             OPTIONAL { ?o <urn:p:orders:o_custkey> ?ck ;
                           <urn:p:orders:o_totalprice> ?tp .
                        FILTER(?tp > 300000) } }""")
        .select(col("cname"), col("tp").cast("double").as("tp"))
        .orderBy("cname", "tp")
    },

    // UNION (fs_binding_union)
    mk("s03_sparql_union", "customer", "supplier")(
      """SELECT name FROM (
        |  SELECT c_name AS name FROM customer
        |  UNION ALL SELECT s_name AS name FROM supplier)
        |ORDER BY name""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?name WHERE {
             { ?c <urn:p:customer:c_name> ?name }
             UNION { ?x <urn:p:supplier:s_name> ?name } }""")
        .orderBy("name")
    },

    // MINUS (fs_binding_minus with shared-var compat matching)
    mk("s04_sparql_minus", "customer", "orders")(
      """SELECT c_name AS cname FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 300000)
        |ORDER BY cname""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?cname WHERE {
             ?c <urn:p:customer:c_custkey> ?ck ;
                <urn:p:customer:c_name> ?cname .
             MINUS { ?o <urn:p:orders:o_custkey> ?ck ;
                        <urn:p:orders:o_totalprice> ?tp .
                     FILTER(?tp > 300000) } }""")
        .orderBy("cname")
    },

    // GROUP BY + COUNT/SUM with exact decimal summing (§2.4)
    mk("s05_sparql_agg", "customer")(
      """SELECT c_nationkey AS nk, COUNT(*) AS n,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(28,10))) AS DOUBLE) AS sumbal
        |FROM customer GROUP BY nk ORDER BY nk""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?nk (COUNT(?c) AS ?n) (SUM(?bal) AS ?sumbal) WHERE {
             ?c <urn:p:customer:c_nationkey> ?nk ;
                <urn:p:customer:c_acctbal> ?bal }
           GROUP BY ?nk""")
        .select(col("nk").cast("int").as("nk"),
          col("n").cast("long").as("n"),
          col("sumbal").cast("double").as("sumbal"))
        .orderBy("nk")
    },

    // FILTER with REGEX + STR functions (§2.8)
    mk("s06_sparql_filter_str", "part")(
      """SELECT p_name AS pname, UPPER(p_name) AS up FROM part
        |WHERE REGEXP_MATCHES(p_name, '^b') AND LENGTH(p_name) > 8
        |ORDER BY pname""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?pname (UCASE(?pname) AS ?up) WHERE {
             ?p <urn:p:part:p_name> ?pname .
             FILTER(REGEX(?pname, "^b") && STRLEN(?pname) > 8) }""")
        .orderBy("pname")
    },

    // ORDER BY DESC + LIMIT through the SPARQL total-order sort key
    mk("s07_sparql_order_limit", "orders")(
      """SELECT o_orderkey AS ok, o_totalprice AS tp FROM orders
        |ORDER BY tp DESC, ok LIMIT 10""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?ok ?tp WHERE {
             ?o <urn:p:orders:o_orderkey> ?ok ;
                <urn:p:orders:o_totalprice> ?tp }
           ORDER BY DESC(?tp) ?ok LIMIT 10""")
        .select(col("ok").cast("long").as("ok"),
          col("tp").cast("double").as("tp"))
    },

    // DISTINCT on projected terms (§2.6)
    mk("s08_sparql_distinct", "customer")(
      """SELECT DISTINCT c_mktsegment AS seg FROM customer
        |ORDER BY seg""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT DISTINCT ?seg WHERE {
             ?c <urn:p:customer:c_mktsegment> ?seg }""")
        .orderBy("seg")
    },

    // VALUES inline table join (§2.3 pre-bound cross product)
    mk("s09_sparql_values", "customer")(
      """SELECT c_mktsegment AS seg, COUNT(*) AS n FROM customer
        |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
        |GROUP BY seg ORDER BY seg""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?seg (COUNT(?c) AS ?n) WHERE {
             ?c <urn:p:customer:c_mktsegment> ?seg .
             VALUES ?seg { "BUILDING" "MACHINERY" } }
           GROUP BY ?seg""")
        .select(col("seg"), col("n").cast("long").as("n"))
        .orderBy("seg")
    },

    // BIND computed var (§2.2 BIND/LET)
    mk("s10_sparql_bind", "supplier")(
      """SELECT s_name AS sname, s_acctbal * 2 AS dbl FROM supplier
        |WHERE s_acctbal > 5000 ORDER BY sname""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?sname ?dbl WHERE {
             ?x <urn:p:supplier:s_name> ?sname ;
                <urn:p:supplier:s_acctbal> ?bal .
             BIND(?bal * 2 AS ?dbl) FILTER(?bal > 5000) }""")
        .select(col("sname"), col("dbl").cast("double").as("dbl"))
        .orderBy("sname")
    },

    // ASK (§2.2 EXISTS-style boolean)
    mk("s11_sparql_ask", "region")(
      """SELECT (COUNT(*) > 0) AS ask FROM region
        |WHERE r_name = 'REGION_0'""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """ASK { ?r <urn:p:region:r_name> "REGION_0" }""")
    },

    // CONSTRUCT template instantiation (§2.1 CONSTRUCT sink)
    mk("s12_sparql_construct", "region")(
      """SELECT '<urn:t:region:' || r_regionkey || '>' AS s,
        |  '<urn:knownAs>' AS p,
        |  '"' || r_name || '"' AS o
        |FROM region ORDER BY s, o""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """CONSTRUCT { ?r <urn:knownAs> ?name } WHERE {
             ?r <urn:p:region:r_name> ?name }""")
        .orderBy("s", "o")
    },

    // DESCRIBE (§2.1 DESCRIBE sink)
    mk("s13_sparql_describe", "region")(
      (s"""SELECT '<urn:t:region:0>' AS s, p, o FROM (
         |  SELECT '<urn:p:region:r_regionkey>' AS p,
         |    '"' || r_regionkey || '"^^<$xsdInt>' AS o
         |  FROM region WHERE r_regionkey = 0
         |  UNION ALL
         |  SELECT '<urn:p:region:r_name>' AS p, '"' || r_name || '"' AS o
         |  FROM region WHERE r_regionkey = 0)
         |ORDER BY p, o""".stripMargin)) { (s, d, ts) =>
      sparql(s, d, ts,
        """DESCRIBE <urn:t:region:0>""")
        .orderBy("p", "o")
    },

    // GRAPH scoping (named-graph scan, §2.1 graph scan fast path)
    mk("s14_sparql_graph", "region", "nation")(
      """SELECT 2 * COUNT(*) AS n FROM region""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT (COUNT(?s) AS ?n) WHERE {
             GRAPH <urn:g:region> { ?s ?p ?o } }""")
        .select(col("n").cast("long").as("n"))
    },

    // full-text token index (§2.1 full-text sink): derived fs:token quads
    // queried through the normal SPARQL path
    mk("s15_sparql_fulltext")(
      // the tokenizer is the reference's TOKEN_BOUNDARY character set
      // (import.c:50), not \W+ — apostrophes/tildes stay inside tokens
      """SELECT 'urn:t:documents:' || doc_id AS s FROM documents
        |WHERE list_contains(list_filter(
        |  regexp_split_to_array(lower(text),
        |    '[ \t\n\r!@$%^&*()=+\[\]{};:"\\|<>,./?#_-]'),
        |  x -> len(x) > 0), 'data')
        |ORDER BY s""".stripMargin) { (s, d, _) =>
      Sparql.run(ftStore(s, d), s,
        s"""SELECT ?s WHERE {
              ?s <${FullText.tokenPred}> "data" }""")
        .orderBy("s")
    },

    // SPARQL 1.1 Update (§2.11): INSERT..WHERE on an immutable store
    // snapshot, then query the updated store
    mk("s16_sparql_update", "region")(
      """SELECT r_name AS name FROM region WHERE r_regionkey >= 2
        |ORDER BY name""".stripMargin) { (s, d, ts) =>
      val updated = Update(store(s, d, ts: _*), s,
        """INSERT { ?r <urn:flag> "big" } WHERE {
             ?r <urn:p:region:r_regionkey> ?k . FILTER(?k >= 2) }""")
      Sparql.run(updated, s,
        """SELECT ?name WHERE {
             ?r <urn:flag> "big" ;
                <urn:p:region:r_name> ?name }""")
        .orderBy("name")
    },

    // SPARQL 1.1 property path: one-or-more transitive closure over a
    // shared hierarchy predicate (extension — Rasqal-era 4store has no
    // paths; executed as semi-naive iterative frontier joins)
    mk("s17_sparql_path")(
      """WITH RECURSIVE edges AS (
        |  SELECT 'urn:t:customer:' || c_custkey AS a,
        |         'urn:t:nation:' || c_nationkey AS b FROM customer
        |  UNION ALL
        |  SELECT 'urn:t:nation:' || n_nationkey,
        |         'urn:t:region:' || n_regionkey FROM nation
        |), closure AS (
        |  SELECT a, b FROM edges
        |  UNION
        |  SELECT c.a, e.b FROM closure c JOIN edges e ON c.b = e.a
        |)
        |SELECT a AS src, b AS dst FROM closure ORDER BY src, dst""".stripMargin) { (s, d, _) =>
      Sparql.run(locStore(s, d), s,
        """SELECT ?src ?dst WHERE { ?src <urn:p:locIn>+ ?dst }""")
        .orderBy("src", "dst")
    },

    // SPARQL 1.1 subquery (§12; extension — the reference rejects
    // subSELECT, `src/frontend/query.c:1388-1390`): aggregate-in-subquery
    // joined against the outer BGP
    mk("s18_sparql_subselect", "customer", "orders")(
      """SELECT c_name AS cname, CAST(n AS BIGINT) AS cnt
        |FROM customer JOIN (
        |  SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey
        |) t ON t.o_custkey = c_custkey
        |ORDER BY cname""".stripMargin) { (s, d, ts) =>
      sparql(s, d, ts,
        """SELECT ?cname ?cnt WHERE {
             ?c <urn:p:customer:c_name> ?cname ;
                <urn:p:customer:c_custkey> ?ck .
             { SELECT ?ck (COUNT(?o) AS ?cnt) WHERE {
                 ?o <urn:p:orders:o_custkey> ?ck } GROUP BY ?ck }
           }""")
        .select(col("cname"), col("cnt").cast("long").as("cnt"))
        .orderBy("cname")
    },

    // full-text STEM index: Snowball-english stem quads queried by stem
    // key ("queri" is the reference-verified stem of the corpus token
    // "query" — FullTextGoldenSpec pins the stemmer itself; this gate
    // pins the derivation pipeline against the DuckDB token oracle)
    // stem "queri" <- corpus form {query}; metaphone "KSTM" <-
    // {customer}: the preimages over the corpus vocabulary were
    // computed with the REFERENCE's compiled stemmer/metaphone, so the
    // oracle checks the derivation pipeline end-to-end in plain SQL
    mk("s19_sparql_stemsearch")(
      """SELECT 'urn:t:documents:' || doc_id AS s FROM documents
        |WHERE list_contains(list_filter(
        |  regexp_split_to_array(lower(text),
        |    '[ \t\n\r!@$%^&*()=+\[\]{};:"\\|<>,./?#_-]'),
        |  x -> len(x) > 0), 'query')
        |ORDER BY s""".stripMargin) { (s, d, _) =>
      Sparql.run(ftStore(s, d), s,
        s"""SELECT ?s WHERE {
              ?s <${FullText.stemPred}> "queri" }""")
        .orderBy("s")
    },

    // full-text PHONETIC index: double-metaphone quads queried by code
    // ("KSTM" is the reference-verified primary code of "customer")
    mk("s20_sparql_metaphone")(
      """SELECT 'urn:t:documents:' || doc_id AS s FROM documents
        |WHERE list_contains(list_filter(
        |  regexp_split_to_array(lower(text),
        |    '[ \t\n\r!@$%^&*()=+\[\]{};:"\\|<>,./?#_-]'),
        |  x -> len(x) > 0), 'customer')
        |ORDER BY s""".stripMargin) { (s, d, _) =>
      Sparql.run(ftStore(s, d), s,
        s"""SELECT ?s WHERE {
              ?s <${FullText.phoneticPred}> "KSTM" }""")
        .orderBy("s")
    }
  )
}
