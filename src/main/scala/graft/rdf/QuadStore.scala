package graft.rdf

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Well-known RIDs, precomputed once like the reference's global RID table
  * (`src/common/hash.c:72-111`). */
object WellKnown {
  val defaultGraphUri = "urn:graft:default"
  val defaultGraph: Long = Rid.uri(defaultGraphUri)
  val rdfType: Long = Rid.uri(Rdf.typ)

  val xsdAttr: Map[String, Long] =
    (Xsd.numeric + Xsd.string + Xsd.boolean + Xsd.dateTime + Xsd.date)
      .map(u => u -> Rid.uri(u)).toMap
  val numericAttrs: Seq[Long] = Xsd.numeric.toSeq.map(Rid.uri)
  val integerAttrs: Seq[Long] = Xsd.integerFamily.toSeq.map(Rid.uri)
  val doubleAttr: Long = Rid.uri(Xsd.double)
  val decimalAttr: Long = Rid.uri(Xsd.decimal)
  val floatAttr: Long = Rid.uri(Xsd.float)
  val booleanAttr: Long = Rid.uri(Xsd.boolean)
  val dateTimeAttr: Long = Rid.uri(Xsd.dateTime)
  val dateAttr: Long = Rid.uri(Xsd.date)
}

/** A quad statement in flat encoded form (kind: 0=literal, 1=uri, 2=bnode)
  * so Spark tuple/product encoders apply and RID hashing stays columnar. */
final case class FlatQuad(
    gLex: String,
    sKind: Int, sLex: String,
    pLex: String,
    oKind: Int, oLex: String, oDt: String, oLang: String)

/** The engine's storage substrate (SURVEY.md §1.5):
  *
  *   quads(g, s, p, o)                  all LongType RIDs
  *   resources(rid, lex, dt, lang)     the term dictionary
  *   valued (optional)                  quads + inline lexical columns
  *                                      (gLex,sLex,pLex,oLex,oDt,oLang)
  *
  * replacing the reference's per-segment ptree indexes + rhash dictionary
  * (`src/backend/ptree.c`, `src/backend/rhash.c`). Partitioning by subject
  * RID (the reference's segment routing, `src/frontend/import.c:510`) maps
  * to Spark shuffle/bucketing on `s`.
  *
  * `valued` is the Spark analog of the reference's LOCAL rhash lookup:
  * the backend resolves RIDs against a per-segment hash file with no
  * network hop (`src/backend/rhash.c`), and here a pattern scan picks the
  * term's lexical form off the very row it matched — no dictionary
  * shuffle-join. Columnar storage prunes the value columns away for scans
  * that only need RIDs, so the narrow fast path stays narrow. Update
  * operations drop `valued` (they splice in rows without value columns);
  * execution then falls back to dictionary-join resolution.
  */
final case class QuadStore(quads: DataFrame, resources: DataFrame,
                           valued: Option[DataFrame] = None,
                           predRids: Option[Set[Long]] = None,
                           graphRids: Option[Set[Long]] = None,
                           segments: Seq[QuadStore] = Nil) {

  /** set once an endpoint has replaced this snapshot: the plan cache
    * drops its entries and keeps no new ones
    * ([[graft.sparql.PlanCache.release]]) */
  @volatile private[graft] var released = false

  /** The scannable parts of this store. A union store keeps its input
    * stores as `segments`, each declaring (a superset of) the predicate
    * and graph RIDs it contains — the Spark analog of the reference's
    * per-predicate ptree index (`src/backend/ptree.c`: one ptree pair per
    * predicate, so a constant-predicate bind opens exactly one index).
    * A constant-p / constant-g pattern scan then plans only the matching
    * segment(s) instead of a Union over every part — at 100 TB this is
    * partition pruning; here it also keeps plans small enough that
    * Catalyst/AQE latency stays interactive. */
  def leaves: Seq[QuadStore] =
    if (segments.nonEmpty) segments else Seq(this)

  /** Attach dictionary values for the given RID columns: adds
    * `<c>__lex` (string), `<c>__dt` (attr rid), `<c>__lang` per column.
    * This is the reference's `need_val` lazy resolution
    * (`src/frontend/query-datatypes.h:23`): only columns that feed
    * filters/output pay the dictionary join.
    */
  def resolve(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (acc, c) =>
      val dict = resources.select(
        col("rid").as(s"${c}__rid"), col("lex").as(s"${c}__lex"),
        col("dt").as(s"${c}__dt"), col("lang").as(s"${c}__lang"))
      acc.join(dict, acc(c) === dict(s"${c}__rid"), "left_outer")
        .drop(s"${c}__rid")
    }

  /** Datatype attr-RID -> datatype URI for every datatype present in
    * the store (plus the XSD well-knowns) — the small driver-side map
    * term serializers need to render `^^<dt>`. Lazy and cached: a store
    * is an immutable snapshot, and real stores carry a handful of
    * datatypes. */
  lazy val dtUriMap: Map[Long, String] = {
    // broadcast the distinct-datatypes side (a handful of rows by
    // construction): the rid lookup stays a map-side join over the
    // dictionary — stats on a freshly-imported checkpointed store are
    // unknown, and an unhinted join here shuffled the whole dictionary
    // (measured inside a GSP PUT's 3.2s warm stage)
    val dts = resources.filter(col("dt") =!= 0L)
      .select(col("dt").as("dt_want")).distinct()
    val found = resources.join(broadcast(dts), col("dt_want") === col("rid"))
      .select(col("rid"), col("lex")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    WellKnown.xsdAttr.map(_.swap) ++ found
  }

  /** Eagerly materialize every form (localCheckpoint): cuts lineage to
    * the source (spool file, remote body) and keeps an in-memory store
    * RDD-backed, hence killable under a query deadline. `valued` is
    * checkpointed once and `quads` planned as a projection over the
    * same blocks — two materializations, not three. */
  def pinned(): QuadStore = {
    val v = valued.map(_.localCheckpoint())
    copy(
      quads = v.map(_.select(QuadStore.quadCols.map(col): _*))
        .getOrElse(quads.localCheckpoint()),
      resources = resources.localCheckpoint(),
      valued = v)
  }

  /** Visibility restriction to a graph set (graph-level ACL,
    * reference `fsp_acl_*` / `query-cache.c:375-423`): filters every
    * scannable part — segments included, so segment-pruned plans can't
    * leak disallowed graphs — and tightens the per-segment graph-RID
    * metadata so fully-hidden segments prune away entirely. */
  def restrictGraphs(rids: Seq[Long]): QuadStore = {
    val keep = col("g").isin(rids: _*)
    QuadStore(quads.filter(keep), resources, valued.map(_.filter(keep)),
      predRids, Some(graphRids.getOrElse(rids.toSet).intersect(rids.toSet)),
      segments.map(_.restrictGraphs(rids)))
  }

  def union(other: QuadStore): QuadStore =
    QuadStore(
      quads.unionByName(other.quads),
      resources.unionByName(other.resources).dropDuplicates("rid"),
      for (a <- valued; b <- other.valued) yield a.unionByName(b),
      for (a <- predRids; b <- other.predRids) yield a ++ b,
      for (a <- graphRids; b <- other.graphRids) yield a ++ b,
      leaves ++ other.leaves)

  /** Serialize the store as N-Quads lines (the reference's dump,
    * `src/frontend/dump.c` — TriX there, N-Quads here; `restore` =
    * [[QuadStore.fromNTriples]], which accepts the 4-term form). Terms
    * resolve through the dictionary; graph is omitted for the default
    * graph so a dump of default-graph data round-trips as N-Triples. */
  def toNQuadLines: DataFrame = {
    val r = resolve(quads, Seq("g", "s", "p", "o"))
    def term(c: String): Column = {
      val rid = col(c)
      val lex = col(s"${c}__lex"); val dt = col(s"${c}__dt")
      val lang = col(s"${c}__lang")
      val esc = regexp_replace(regexp_replace(regexp_replace(
        regexp_replace(regexp_replace(lex,
          "\\\\", "\\\\\\\\"), "\"", "\\\\\""),
        "\n", "\\\\n"), "\r", "\\\\r"), "\t", "\\\\t")
      when(Rid.isUriCol(rid), concat(lit("<"), lex, lit(">")))
        .when(Rid.isBNodeCol(rid), concat(lit("_:"), lex))
        .otherwise(concat(lit("\""), esc, lit("\""),
          when(coalesce(lang, lit("")) =!= "", concat(lit("@"), lang))
            .otherwise(lit(""))))
    }
    val dict = resources.select(col("rid").as("__dtRid"),
      col("lex").as("__dtUri"))
    val withDt = r.join(dict, col("o__dt") === col("__dtRid"), "left_outer")
    val objTerm =
      when(Rid.isLiteralCol(col("o")) && col("o__dt") =!= 0L &&
          coalesce(col("o__lang"), lit("")) === "" &&
          col("__dtUri").isNotNull,
        concat(term("o"), lit("^^<"), col("__dtUri"), lit(">")))
        .otherwise(term("o"))
    val gPart = when(col("g") === WellKnown.defaultGraph, lit(""))
      .otherwise(concat(lit(" "), term("g")))
    withDt.select(concat(term("s"), lit(" "), term("p"), lit(" "),
      objTerm, gPart, lit(" .")).as("line"))
  }

  /** Persist as bucketed tables (`<name>_quads` bucketed by subject,
    * `<name>_resources` bucketed by rid). The durable form of the
    * reference's subject-hash segmentation (`src/frontend/import.c:510`):
    * subject-keyed joins and dictionary resolves over saved stores run
    * without an Exchange, exactly like the reference's co-located
    * reverse-bind (`src/backend/query-backend.c:601-749`).
    */
  def saveBucketed(name: String, buckets: Int = 32): Unit = {
    // the two tables derive from the same cached parse and write to
    // independent locations: submit both jobs concurrently so neither
    // write's serial tail (bucket sort, file commit) idles the cluster
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val q = Future {
      quads.write.mode("overwrite")
        .bucketBy(buckets, "s").sortBy("s")
        .format("parquet").saveAsTable(s"${name}_quads")
    }
    val r = Future {
      resources.write.mode("overwrite")
        .bucketBy(buckets, "rid").sortBy("rid")
        .format("parquet").saveAsTable(s"${name}_resources")
    }
    Await.result(q, Duration.Inf)
    Await.result(r, Duration.Inf)
    // size-only stats (NOSCAN reads file footers, not data): after a
    // restart the loaded tables carry sizeInBytes, so the CBO can still
    // broadcast a small resources/quads side without AQE having to
    // discover it at the first shuffle
    val ss = quads.sparkSession
    ss.sql(s"ANALYZE TABLE ${name}_quads COMPUTE STATISTICS NOSCAN")
    ss.sql(s"ANALYZE TABLE ${name}_resources COMPUTE STATISTICS NOSCAN")
  }
}

object QuadStore {
  import WellKnown._

  val quadCols = Seq("g", "s", "p", "o")

  /** Load a store persisted by [[QuadStore.saveBucketed]]. */
  def loadBucketed(spark: SparkSession, name: String): QuadStore = {
    val raw = spark.table(s"${name}_quads")
    // durable deletes are tombstones (`graft.sparql.Update.durable`):
    // broadcast anti-join keeps the scan map-side and bucket-preserving;
    // compaction bounds the tombstone table at ~10% of the store
    val quads =
      if (spark.catalog.tableExists(s"${name}_dels"))
        raw.join(broadcast(spark.table(s"${name}_dels")),
          Seq("g", "s", "p", "o"), "left_anti")
      else raw
    QuadStore(quads, spark.table(s"${name}_resources"))
  }

  /** The flat-row→RID mapping (SURVEY §1.2), written once: every path
    * that turns flat import rows (the [[FlatQuad]] shape) into RIDs —
    * the valued projection, the dictionary and the streaming ingest —
    * hashes a term through these, so the same term gets the same RID
    * whichever path saw it. An empty or null `gLex` is the default
    * graph. */
  private val isDefaultG = col("gLex").isNull || col("gLex") === ""
  private[graft] val flatG: Column =
    when(isDefaultG, lit(defaultGraph)).otherwise(Rid.uriCol(col("gLex")))
  private[graft] val flatGLex: Column =
    when(isDefaultG, lit(defaultGraphUri)).otherwise(col("gLex"))
  private[graft] val flatS: Column =
    when(col("sKind") === 1, Rid.uriCol(col("sLex")))
      .otherwise(Rid.bnodeCol(col("sLex")))
  private[graft] val flatP: Column = Rid.uriCol(col("pLex"))
  private val flatOAttr = Rid.attrCol(col("oDt"), col("oLang"))
  private[graft] val flatO: Column =
    when(col("oKind") === 1, Rid.uriCol(col("oLex")))
      .when(col("oKind") === 2, Rid.bnodeCol(col("oLex")))
      .otherwise(Rid.literalCol(col("oLex"), flatOAttr))

  /** Flat import rows -> (g, s, p, o) RID columns. */
  private[graft] val flatQuadCols: Seq[Column] =
    Seq(flatG.as("g"), flatS.as("s"), flatP.as("p"), flatO.as("o"))

  /** Build a store from flat import rows (any Dataset of [[FlatQuad]]
    * rows — the distributed import path; reference pipeline
    * `src/frontend/import.c:425-542`), honoring any `<pred>
    * text:index text:{token,dmetaphone,stem}` statements found in the
    * stream — the reference importer reads the same statements from its
    * config graph and emits derived full-text quads on EVERY import
    * (`import.c:706-760`), so a file or LOAD that carries its own index
    * config gets its token/stem/phonetic quads without any programmatic
    * setup. One cheap filter+collect over the (cached) stream when no
    * config is present. */
  def fromFlat(spark: SparkSession, flat: DataFrame): QuadStore = {
    val f0 = flat.cache()
    val cfg = FullText.configFrom(f0)
    if (cfg.isEmpty) fromFlatRaw(f0)
    else fromFlatRaw(f0.unionByName(FullText.derivedQuads(f0, cfg)))
  }

  /** The wide valued projection of flat import rows: RID columns
    * g/s/p/o plus the lexical forms the inline-value scan and the term
    * serializers need. */
  private def valuedCols: Seq[Column] = flatQuadCols ++ Seq(
    flatGLex.as("gLex"),
    col("sLex").as("sLex"),
    col("pLex").as("pLex"),
    col("oLex").as("oLex"),
    when(col("oKind") === 0, flatOAttr).otherwise(lit(0L)).as("oDt"),
    when(col("oKind") === 0, coalesce(col("oLang"), lit("")))
      .otherwise(lit("")).as("oLang"))

  /** [[fromFlat]] without the text-index pass (used by FullText itself
    * to avoid re-deriving derived quads). The dictionary is five pruned
    * scans of the columnar parse cache — subjects, predicates, objects,
    * graphs, datatypes — unioned and deduplicated on `rid`. */
  private[graft] def fromFlatRaw(flat: DataFrame): QuadStore = {
    val f = flat.cache()
    val valued = f.select(valuedCols: _*)
    val quads = valued.select(quadCols.map(col): _*)

    val zero = lit(0L)
    val emptyS = lit("")
    def res(rid: Column, lex: Column, dt: Column, lang: Column) =
      Seq(rid.as("rid"), lex.as("lex"), dt.as("dt"), lang.as("lang"))

    val subjects = f.select(res(flatS, col("sLex"), zero, emptyS): _*)
    val preds = f.select(res(flatP, col("pLex"), zero, emptyS): _*)
    val objs = f.select(res(flatO, col("oLex"), flatOAttr,
      coalesce(col("oLang"), emptyS)): _*)
    val graphs = f.select(res(flatG, flatGLex, zero, emptyS): _*)
    val dts = f.filter(col("oDt") =!= "").select(res(
      Rid.uriCol(col("oDt")), col("oDt"), zero, emptyS): _*)
    val resources = subjects.unionByName(preds).unionByName(objs)
      .unionByName(graphs).unionByName(dts)
      .dropDuplicates("rid")
    QuadStore(quads, resources, Some(valued))
  }

  /** Eagerly-PINNED store from flat import rows — the streaming HTTP
    * import path (GSP PUT/POST and the durable delta commit behind
    * them). Same construction as [[fromFlat]] — columnar cache of the
    * parse, valued + dictionary derived from the cache — with the
    * import-path lifecycle handled here:
    *
    *   - the valued and dictionary localCheckpoints run CONCURRENTLY
    *     (saveBucketed's future pattern): neither pin's serial tail
    *     idles the other's cores;
    *   - the parse cache is UNPERSISTED once both pins land. fromFlat's
    *     cache is registered in the session CacheManager and never
    *     auto-released, so a long-lived endpoint accepting repeated
    *     imports would accumulate one dead parse cache per request;
    *   - the checkpointed forms cut lineage to the spool file (safe to
    *     delete after the response) and keep the union store
    *     RDD-backed, hence killable under a query deadline.
    *
    * A row-based alternative (checkpoint a wide valued+dtLex form once,
    * derive the dictionary from the checkpointed blocks) was measured
    * SLOWER (11.7s vs 4.4s for the dictionary stage at 400 MB): the
    * columnar cache's pruned, compressed scans beat re-reading
    * full-width checkpoint rows five times. */
  private[graft] def pinnedFromFlat(spark: SparkSession,
                                    flat: DataFrame): QuadStore = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val f0 = flat.cache()
    var withDerived: Option[DataFrame] = None
    try {
      val st = fromFlatRaw(f0)
      // the config probe runs FIRST and alone: its collect is the one
      // full parse pass that populates the cache every later job reads.
      // (Racing the probe and the pins concurrently was measured
      // pathological — three jobs contending on the same cache
      // partition locks turned a 2s populate into 60s.)
      val cfg = FullText.configFrom(f0)
      // the two pins DO run concurrently (saveBucketed's future
      // pattern): both only read the populated cache, and neither
      // pin's serial tail idles the other's cores
      val vF = Future(st.valued.map(_.localCheckpoint()))
      val rF = Future(st.resources.localCheckpoint())
      val v = Await.result(vF, Duration.Inf)
      val r = Await.result(rF, Duration.Inf)
      if (cfg.isEmpty)
        st.copy(
          quads = v.map(_.select(quadCols.map(col): _*))
            .getOrElse(st.quads.localCheckpoint()),
          resources = r,
          valued = v)
      else { // rare: the body configures its own full-text indexing
        withDerived = // fromFlatRaw caches ITS input too: track the
          // union plan so this branch unpersists both
          Some(f0.unionByName(FullText.derivedQuads(f0, cfg)))
        fromFlatRaw(withDerived.get).pinned()
      }
    } finally {
      f0.unpersist(false)
      withDerived.foreach(_.unpersist(false))
    }
  }

  /** Distributed N-Triples / N-Quads reader — the native codegen parse
    * ([[graft.streaming.StreamIngest.parseNtLines]]) with the default
    * graph and the per-document bnode scope applied as column
    * expressions, exactly like the GSP import path. */
  def fromNTriples(spark: SparkSession, path: String,
                   graph: String = "", scope: String = ""): QuadStore = {
    val flat0 = graft.streaming.StreamIngest
      .parseNtLines(spark.read.textFile(path))
      .withColumn("gLex",
        when(col("gLex") === "", lit(graph)).otherwise(col("gLex")))
    val flat =
      if (scope.isEmpty) flat0
      else {
        val suffix = Turtle.scopeSuffix(scope)
        flat0
          .withColumn("sLex", when(col("sKind") === 2,
            concat(col("sLex"), lit(suffix))).otherwise(col("sLex")))
          .withColumn("oLex", when(col("oKind") === 2,
            concat(col("oLex"), lit(suffix))).otherwise(col("oLex")))
      }
    fromFlat(spark, flat)
  }

  /** Import with format auto-detection (the reference's Raptor importer
    * guesses the syntax, `src/frontend/import.c:333-423`): RDF/XML,
    * Turtle and TriG parse driver-side ([[RdfXml]], [[Turtle]]) —
    * inherently sequential syntaxes; N-Triples/N-Quads stream
    * distributed. */
  def fromFile(spark: SparkSession, path: String, graph: String = "",
               scope: String = ""): QuadStore = {
    val lower = path.toLowerCase
    def sniff(): String = {
      val src = scala.io.Source.fromFile(path, "UTF-8")
      try src.take(4096).mkString finally src.close()
    }
    // bnode labels: a SINGLE document's labels are kept verbatim (no
    // intra-document collision is possible, and CLI/golden workflows
    // show the author's labels). Labels are document-scoped per RDF
    // 1.1 §3.4, so code that MERGES separately-parsed documents into
    // one store must rename them apart — pass `scope =
    // Turtle.scopeFor(doc)` at those seams (multi-file datasets, GSP
    // PUT/LOAD appends), like the reference's fresh-per-import bnode
    // ids. The dump/restore path preserves labels by design: a dump's
    // labels are store-unique and must unify across per-graph files.
    if (lower.endsWith(".rdf") || lower.endsWith(".xrdf") ||
        lower.endsWith(".owl") ||
        (!lower.endsWith(".nt") && !lower.endsWith(".nq") &&
          !lower.endsWith(".ttl") && sniff().contains("<rdf:RDF")))
      fromTerms(spark, RdfXml.parseFile(path,
        if (graph.nonEmpty) graph else s"file://$path", scope), graph)
    else if (lower.endsWith(".trig"))
      fromQuadTerms(spark, Turtle.parseQuadsFile(path, "", scope), graph)
    else if (lower.endsWith(".ttl") || lower.endsWith(".n3"))
      fromTerms(spark, Turtle.parseFile(path, "", scope), graph)
    else fromNTriples(spark, path, graph, scope)
  }

  /** In-memory statements (tests, INSERT DATA). */
  def fromTerms(spark: SparkSession,
                stmts: Seq[(Term, Term, Term)],
                graph: String = ""): QuadStore =
    fromQuadTerms(spark, stmts.map { case (s, p, o) => (s, p, o, None) },
      graph)

  /** In-memory quad statements (TriG import); per-statement graph
    * overrides `graph` (the unlabeled-block / top-level default). */
  def fromQuadTerms(spark: SparkSession,
                    stmts: Seq[(Term, Term, Term, Option[String])],
                    graph: String = ""): QuadStore = {
    import spark.implicits._
    val flat = stmts.map { case (s, p, o, g) =>
      val (sk, sl) = s match {
        case Uri(v) => (1, v); case BNode(b) => (2, b); case _ => (0, "")
      }
      val pl = p match { case Uri(v) => v; case _ => "" }
      val (ok, ol, od, og) = o match {
        case Uri(v) => (1, v, "", "")
        case BNode(b) => (2, b, "", "")
        case Lit(lex, dt, lang) => (0, lex, dt, lang)
      }
      FlatQuad(g.getOrElse(graph), sk, sl, pl, ok, ol, od, og)
    }.toDF()
    fromFlat(spark, flat)
  }

  /** Relational table -> RDF ("direct mapping" style): each row becomes a
    * subject `urn:t:<table>:<key>`, each column a predicate
    * `urn:p:<table>:<col>` with a typed literal object; the table is one
    * named graph `urn:g:<table>`. Lets every SPARQL operator be
    * oracle-checked against plain SQL on the original table.
    */
  def rdfize(table: String, df: DataFrame, keyCol: String): QuadStore = {
    val graphRid = Rid.uri(s"urn:g:$table")
    val subjPrefix = s"urn:t:$table:"

    // one struct per column: (predicate rid, lexical form, attr rid) —
    // predicate/datatype RIDs precomputed plan-side, zero per-row hashing
    val colStructs: Seq[Column] = df.schema.fields.toSeq.map { fld =>
      val pRid = Rid.uri(s"urn:p:$table:${fld.name}")
      val (lex, attr) = lexOf(col(fld.name), fld.dataType)
      struct(lit(pRid).as("p"), lex.as("lex"), lit(attr).as("attr"),
        lit(pUriOf(table, fld.name)).as("pLex"),
        lit(dtUriOf(fld.dataType)).as("dtLex"))
    }

    val subjUri = concat(lit(subjPrefix), col(keyCol).cast("string"))
    val exploded = df
      .select(subjUri.as("sLex"),
        explode(array(colStructs: _*)).as("c"))
      .select(col("sLex"), col("c.p").as("p"), col("c.lex").as("lex"),
        col("c.attr").as("attr"), col("c.pLex").as("pLex"),
        col("c.dtLex").as("dtLex"))
      .filter(col("lex").isNotNull)
      .cache()

    val valued = exploded.select(
      lit(graphRid).as("g"),
      Rid.uriCol(col("sLex")).as("s"),
      col("p"),
      Rid.literalCol(col("lex"), col("attr")).as("o"),
      lit(s"urn:g:$table").as("gLex"),
      col("sLex").as("sLex"),
      col("pLex").as("pLex"),
      col("lex").as("oLex"),
      col("attr").as("oDt"),
      lit("").as("oLang"))
    val quads = valued.select(quadCols.map(col): _*)

    val subjects = exploded.select(
      Rid.uriCol(col("sLex")).as("rid"), col("sLex").as("lex"),
      lit(0L).as("dt"), lit("").as("lang"))
    val objects = exploded.select(
      Rid.literalCol(col("lex"), col("attr")).as("rid"),
      col("lex"), col("attr").as("dt"), lit("").as("lang"))
    val preds = exploded.select(
      col("p").as("rid"), col("pLex").as("lex"),
      lit(0L).as("dt"), lit("").as("lang"))
    val consts = exploded.sparkSession.createDataFrame(Seq(
      (graphRid, s"urn:g:$table", 0L, "")) ++
      df.schema.fields.toSeq.flatMap(f => dtUriOf(f.dataType) match {
        case "" => None
        case u => Some((Rid.uri(u), u, 0L, ""))
      }).distinct).toDF("rid", "lex", "dt", "lang")

    val resources = subjects.unionByName(objects).unionByName(preds)
      .unionByName(consts).dropDuplicates("rid")
    // a direct-mapped table's predicate/graph sets are known statically —
    // they drive segment pruning for constant-slot patterns
    val pRids = df.schema.fields.toSeq
      .map(f => Rid.uri(s"urn:p:$table:${f.name}")).toSet
    QuadStore(quads, resources, Some(valued),
      Some(pRids), Some(Set(graphRid)))
  }

  private def dtUriOf(t: DataType): String = t match {
    case ByteType | ShortType | IntegerType | LongType => Xsd.integer
    case FloatType | DoubleType => Xsd.double
    case _: DecimalType => Xsd.decimal
    case BooleanType => Xsd.boolean
    case TimestampType => Xsd.dateTime
    case DateType => Xsd.date
    case _ => "" // string -> plain literal
  }

  private def pUriOf(table: String, c: String) = s"urn:p:$table:$c"

  /** (lexical form, attr rid) of a relational value. */
  private def lexOf(c: Column, t: DataType): (Column, Long) = {
    val dtUri = dtUriOf(t)
    val attr = if (dtUri.isEmpty) 0L else Rid.uri(dtUri)
    (c.cast("string"), attr)
  }

  /** rdfize every driver table under `dir` into one store. */
  def rdfizeDir(spark: SparkSession, dir: String,
                tables: Seq[String]): QuadStore = {
    import graft.core.Tables
    val keys = Map(
      "region" -> "r_regionkey", "nation" -> "n_nationkey",
      "customer" -> "c_custkey", "supplier" -> "s_suppkey",
      "part" -> "p_partkey", "orders" -> "o_orderkey",
      "events" -> "event_id", "documents" -> "doc_id",
      "embeddings" -> "vec_id")
    tables.map { t =>
      val df = Tables.t(spark, dir, t)
      val withKey = if (t == "lineitem")
        df.withColumn("l_lineid",
          concat_ws("_", col("l_orderkey"), col("l_linenumber")))
      else df
      rdfize(t, withKey, keys.getOrElse(t, withKey.columns.head))
    }.reduce(_ union _)
  }
}
