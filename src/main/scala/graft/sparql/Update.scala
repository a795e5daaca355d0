package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rdf._
import Ast._

/** SPARQL 1.1 Update (reference: `src/frontend/update.c`). Operations are
  * pure transforms QuadStore -> QuadStore (immutable snapshots; the Delta
  * MERGE of SURVEY §2.11 degrades gracefully to DataFrame set algebra +
  * parquet rewrite on plain Spark).
  */
object Update {

  /** Per-JVM LOAD counter: every LOAD is a fresh document read, so its
    * bnode scope must differ from every other import's (see the Load
    * case). Labels are store-internal; they need uniqueness, not
    * cross-run determinism. */
  private[sparql] val loadNonce =
    new java.util.concurrent.atomic.AtomicLong(0L)
  /** Per-BOOT unique component folded into every import-scope nonce: a
    * bare AtomicLong resets on JVM restart, so in a durable store a
    * re-LOAD (or GSP re-POST) landing at the same counter position as a
    * previous run reproduces the identical scope string and silently
    * unifies bnodes across imports — the exact cross-document leak the
    * scoping exists to prevent, resurfacing across restarts. */
  private[graft] val bootId: String =
    java.util.UUID.randomUUID().toString

  sealed trait Op
  /** quads with optional named graph (None = default graph) */
  final case class InsertData(quads: List[(Term, Term, Term, Option[Term])])
      extends Op
  final case class DeleteData(quads: List[(Term, Term, Term, Option[Term])])
      extends Op
  /** DELETE {tmpl} INSERT {tmpl} WHERE {p}; either template may be empty.
    * DELETE WHERE {p} = delete template := the WHERE pattern itself
    * (explicitly unsupported in the reference, `update.c:257-274`).
    * Template triples carry their `GRAPH <g>` box (None = default graph /
    * the WITH graph). `withGraph` (SPARQL 1.1 §3.1.3) scopes un-boxed
    * templates AND the WHERE pattern; `using`/`usingNamed` (§3.1.3.2)
    * override the WHERE dataset like FROM / FROM NAMED. */
  final case class Modify(deleteTmpl: List[(TriplePat, Option[String])],
                          insertTmpl: List[(TriplePat, Option[String])],
                          where: GP, withGraph: Option[String] = None,
                          using: List[String] = Nil,
                          usingNamed: List[String] = Nil) extends Op
  final case class Clear(graph: Option[String]) extends Op // None = ALL
  /** CLEAR/DROP NAMED: empty every named graph, keep the default */
  case object ClearNamed extends Op
  final case class GraphCopy(kind: String, from: Option[String],
                             to: Option[String]) extends Op // ADD/MOVE/COPY
  /** LOAD <doc> [INTO GRAPH <g>] (reference `fs_load`, `update.c:596`:
    * fetch + import; here `file:` URIs / local paths — the import side
    * is [[graft.rdf.QuadStore.fromFile]] with format auto-detection).
    * `silent`: SPARQL 1.1 LOAD SILENT — a failed load is a no-op. */
  final case class Load(source: String, graph: Option[String],
                        silent: Boolean = false) extends Op

  // ----------------------------------------------------------- parsing

  private class UParser extends Parser {

    // full IRI production from the query parser — `<...>` OR a prefixed
    // name resolved against the request's PREFIX prologue (the grammar
    // uses the same `iri` in WITH/USING/graph-management positions)
    private def iriU: Parser[String] = iri
    private def kwU(s: String): Parser[String] =
      ("""(?i)\Q""" + s + """\E\b""").r

    private def graphRef: Parser[Option[String]] =
      opt(kwU("GRAPH")) ~> iriU ^^ (Some(_)) |
      kwU("DEFAULT") ^^^ None | kwU("NAMED") ^^^ None | kwU("ALL") ^^^ None

    /** flatten a parsed group into triple templates; a `GRAPH <g>` box
      * annotates its triples with the target/source graph */
    private def tmplOf(g: GroupGP): List[(TriplePat, Option[String])] =
      g.elems.flatMap {
        case BGPat(ts) => ts.map((_, None))
        case inner: GroupGP => tmplOf(inner)
        case GraphGP(PConst(Uri(u)), inner: GroupGP) =>
          tmplOf(inner).map { case (t, _) => (t, Some(u)) }
        case GraphGP(_, inner: GroupGP) => tmplOf(inner)
        case other =>
          throw new IllegalArgumentException(s"bad template element: $other")
      }

    /** ground quads of a data block; GRAPH <g> { ... } carries the graph.
      * `allowBnodes=false` for DELETE DATA: SPARQL 1.1 §3.1.2 forbids
      * blank nodes there (a bnode can never co-denote a stored node). */
    private def groundOf(g: GroupGP, allowBnodes: Boolean = true)
        : List[(Term, Term, Term, Option[Term])] = {
      def ground(t: TriplePat, gr: Option[Term]) = t match {
        case TriplePat(PConst(s), PConst(p), PConst(o)) =>
          if (!allowBnodes && (s.isInstanceOf[BNode] || o.isInstanceOf[BNode]))
            throw new IllegalArgumentException(
              s"blank node in DELETE DATA: $t")
          (s, p, o, gr)
        case other =>
          throw new IllegalArgumentException(s"vars in ground data: $other")
      }
      g.elems.flatMap {
        case BGPat(ts) => ts.map(ground(_, None))
        case GraphGP(PConst(u), inner: GroupGP) =>
          tmplOf(inner).map { case (t, _) => ground(t, Some(u)) }
        case inner: GroupGP => groundOf(inner, allowBnodes)
        case other =>
          throw new IllegalArgumentException(s"bad data element: $other")
      }
    }

    /** §19.6: blank nodes are forbidden in DELETE templates (and in the
      * DELETE WHERE pattern, which doubles as one) — a template bnode
      * could never co-denote a stored node, so the request is rejected
      * at parse time like the official suite expects. */
    private def noBnodes(tmpl: List[(TriplePat, Option[String])])
        : List[(TriplePat, Option[String])] = {
      tmpl.foreach { case (t, _) =>
        val terms = List(t.s, t.p, t.o)
        if (terms.exists { case PConst(_: BNode) => true; case _ => false })
          throw new IllegalArgumentException(
            s"blank node in DELETE template: $t")
      }
      tmpl
    }

    /** `USING [NAMED] <iri>` clauses between templates and WHERE */
    private def usings: Parser[(List[String], List[String])] =
      rep(kwU("USING") ~> opt(kwU("NAMED")) ~ iriU) ^^ { us =>
        val (named, dflt) = us.partition(_._1.isDefined)
        (dflt.map(_._2), named.map(_._2))
      }

    def op: Parser[Op] =
      kwU("INSERT") ~> kwU("DATA") ~> groupGraphPattern ^^ (
        g => InsertData(groundOf(g))) |
      kwU("DELETE") ~> kwU("DATA") ~> groupGraphPattern ^^ (
        g => DeleteData(groundOf(g, allowBnodes = false))) |
      opt(kwU("WITH") ~> iriU) ~ (kwU("DELETE") ~> kwU("WHERE") ~>
        groupGraphPattern) ^^ { case wg ~ g =>
          Modify(noBnodes(tmplOf(g)), Nil, g, wg)
        } |
      opt(kwU("WITH") ~> iriU) ~ (kwU("DELETE") ~> groupGraphPattern) ~
        opt(kwU("INSERT") ~> groupGraphPattern) ~ usings ~
        (kwU("WHERE") ~> groupGraphPattern) ^^ { case wg ~ d ~ i ~ u ~ w =>
          Modify(noBnodes(tmplOf(d)), i.map(tmplOf).getOrElse(Nil), w, wg,
            u._1, u._2)
        } |
      opt(kwU("WITH") ~> iriU) ~ (kwU("INSERT") ~> groupGraphPattern) ~
        usings ~ (kwU("WHERE") ~> groupGraphPattern) ^^ {
          case wg ~ i ~ u ~ w => Modify(Nil, tmplOf(i), w, wg, u._1, u._2)
        } |
      // CLEAR/DROP scopes (SPARQL 1.1 §3.2.2-3.2.3; graphs with no quads
      // don't exist in this model, so DROP ≡ CLEAR): DEFAULT empties
      // exactly the default graph, NAMED empties every named graph
      (kwU("CLEAR") | kwU("DROP")) ~> opt(kwU("SILENT")) ~> (
        kwU("ALL") ^^^ (Clear(None): Op) |
        kwU("DEFAULT") ^^^ (Clear(Some(WellKnown.defaultGraphUri)): Op) |
        kwU("NAMED") ^^^ (ClearNamed: Op) |
        opt(kwU("GRAPH")) ~> iriU ^^ (u => Clear(Some(u)): Op)) |
      kwU("CREATE") ~> opt(kwU("SILENT")) ~> graphRef ^^ (
        _ => Clear(Some(""))) |
      (kwU("ADD") | kwU("MOVE") | kwU("COPY")) ~ (opt(kwU("SILENT")) ~>
        graphRef) ~ (kwU("TO") ~> graphRef) ^^ { case k ~ f ~ t =>
          GraphCopy(k.toUpperCase, f, t)
        } |
      kwU("LOAD") ~> opt(kwU("SILENT")) ~ iriU ~
        opt(kwU("INTO") ~> opt(kwU("GRAPH")) ~> iriU) ^^ {
          case sil ~ src ~ g => Load(src, g, silent = sil.isDefined)
        }

    def updateParse(text: String): List[Op] =
      parseAll(prologue ~> rep1sep(op, ";") <~ opt(";"), text) match {
        case Success(ops, _) => ops
        case other =>
          throw new IllegalArgumentException(s"update parse error: $other")
      }
  }

  def parse(text: String): List[Op] = {
    graft.sparql.Parser.checkNesting(text) // same pre-descent DoS guard
    new UParser().updateParse(text)
  }

  // ---------------------------------------------------------- execution

  private def quadKey = Seq("g", "s", "p", "o")

  private def constQuadsDF(spark: SparkSession,
      quads: List[(Term, Term, Term, Option[Term])]): DataFrame = {
    import spark.implicits._
    quads.map { case (s, p, o, g) =>
      (g.map(Rid.of).getOrElse(WellKnown.defaultGraph),
        Rid.of(s), Rid.of(p), Rid.of(o))
    }.toDF("g", "s", "p", "o")
  }

  /** valued-form rows (quads + inline lexical columns) for ground quads —
    * updates maintain the inline-value scan exactly like the reference
    * updates its per-segment rhash alongside the quad indexes. */
  private def constValuedDF(spark: SparkSession,
      quads: List[(Term, Term, Term, Option[Term])]): DataFrame = {
    import spark.implicits._
    def lexOf(t: Term): String = t match {
      case Uri(u) => u; case BNode(b) => b; case Lit(l, _, _) => l
    }
    quads.map { case (s, p, o, g) =>
      val gT: Term = g.getOrElse(Uri(WellKnown.defaultGraphUri))
      val (oDt, oLang) = o match {
        case Lit(_, dt, lang) => (Rid.attr(dt, lang), lang)
        case _ => (0L, "")
      }
      (Rid.of(gT), Rid.of(s), Rid.of(p), Rid.of(o),
        lexOf(gT), lexOf(s), lexOf(p), lexOf(o), oDt, oLang)
    }.toDF("g", "s", "p", "o", "gLex", "sLex", "pLex", "oLex",
      "oDt", "oLang")
  }

  private def resourcesOf(spark: SparkSession, terms: Seq[Term]): DataFrame = {
    import spark.implicits._
    terms.distinct.map {
      case Uri(u) => (Rid.uri(u), u, 0L, "")
      case BNode(b) => (Rid.bnode(b), b, 0L, "")
      case Lit(lex, dt, lang) =>
        (Rid.literal(lex, dt, lang), lex, Rid.attr(dt, lang), lang)
    }.toDF("rid", "lex", "dt", "lang")
  }

  def apply(store: QuadStore, spark: SparkSession, text: String): QuadStore =
    parse(text).foldLeft(store)((st, op) => applyOp(st, spark, op))

  def applyOp(store: QuadStore, spark: SparkSession, op: Op): QuadStore =
    op match {
      case InsertData(quads) =>
        val terms = quads.flatMap { case (s, p, o, g) =>
          Seq(s, p, o) ++ g.toSeq ++
            Seq(Uri(WellKnown.defaultGraphUri))
        }
        QuadStore(
          store.quads.unionByName(constQuadsDF(spark, quads))
            .dropDuplicates(quadKey),
          store.resources.unionByName(resourcesOf(spark, terms))
            .dropDuplicates("rid"),
          store.valued.map(_.unionByName(constValuedDF(spark, quads))
            .dropDuplicates(quadKey)))
      // mutations maintain the inline-value scan (`valued`) alongside the
      // RID quads — the reference likewise updates rhash + indexes
      // together. They drop `segments`: segment frames reference
      // pre-mutation quads (pred/graph RID sets stay valid as supersets)
      case DeleteData(quads) =>
        store.copy(
          quads = store.quads.join(constQuadsDF(spark, quads),
            quadKey, "left_anti"),
          valued = store.valued.map(_.join(constQuadsDF(spark, quads),
            quadKey, "left_anti")),
          segments = Nil)
      case Clear(None) =>
        store.copy(quads = store.quads.limit(0),
          valued = store.valued.map(_.limit(0)), segments = Nil)
      case Clear(Some("")) => store // CREATE: no-op (update.c:225-226)
      case Clear(Some(g)) =>
        store.copy(quads = store.quads.filter(col("g") =!= Rid.uri(g)),
          valued = store.valued.map(_.filter(col("g") =!= Rid.uri(g))),
          segments = Nil)
      case ClearNamed =>
        store.copy(
          quads = store.quads.filter(
            col("g") === WellKnown.defaultGraph),
          valued = store.valued.map(_.filter(
            col("g") === WellKnown.defaultGraph)),
          segments = Nil)
      case GraphCopy(kind, from, to) =>
        val fromRid = from.map(Rid.uri).getOrElse(WellKnown.defaultGraph)
        val toRid = to.map(Rid.uri).getOrElse(WellKnown.defaultGraph)
        val toLex = to.getOrElse(WellKnown.defaultGraphUri)
        def graphMove(df: DataFrame, withLex: Boolean): DataFrame = {
          var moved = df.filter(col("g") === fromRid)
            .withColumn("g", lit(toRid))
          if (withLex) moved = moved.withColumn("gLex", lit(toLex))
          val base = kind match {
            case "ADD" => df // keep target content
            case "COPY" => df.filter(col("g") =!= toRid)
            case "MOVE" => df.filter(col("g") =!= toRid &&
              col("g") =!= fromRid)
          }
          base.unionByName(moved).dropDuplicates(quadKey)
        }
        val gRes = resourcesOf(spark,
          to.map(Uri.apply).toSeq ++ from.map(Uri.apply).toSeq)
        QuadStore(graphMove(store.quads, withLex = false),
          store.resources.unionByName(gRes).dropDuplicates("rid"),
          store.valued.map(graphMove(_, withLex = true)))
      case Load(source, graph, silent) =>
        // file:///p, file:/p, or a bare path all resolve to the path
        val path =
          if (source.startsWith("file:"))
            try new java.net.URI(source).getPath
            catch { case _: Exception => source.stripPrefix("file://") }
          else source
        try {
          // LOAD appends an external document into a LIVE store: its
          // bnode labels are document-scoped (RDF 1.1 §3.4) and must
          // not unify with equal labels already in the store — and each
          // LOAD is a fresh READ of the document, so loading the same
          // file twice (or into two graphs) must mint DISTINCT bnodes
          // both times, like the reference's fresh-per-import internal
          // ids. Scope by path + a per-JVM import counter: a path-only
          // scope silently unified re-loads (r10 review finding).
          val loaded = QuadStore.fromFile(spark, path,
            graph.getOrElse(""), scope = graft.rdf.Turtle.scopeFor(
              s"$path#${Update.bootId}:${Update.loadNonce.incrementAndGet()}"))
          // merge; the loaded store keeps its valued form, so the union
          // store stays inline-value-scannable when both sides are
          store.union(loaded)
        } catch {
          // LOAD SILENT: failure is a no-op (SPARQL 1.1 §3.1.4)
          case e: Exception if silent => store
        }

      case Modify(delT, insT, where, withGraph, usingG, usingNamed) =>
        val exec = new Exec(store, spark)
        val tmplVars = (delT ++ insT).map(_._1).flatMap(t =>
          Seq(t.s, t.p, t.o)).collect { case PVar(v) => v }.toSet
        // WHERE dataset scope (SPARQL 1.1 §3.1.3): USING wins over WITH;
        // with neither, match the whole store (the reference's
        // model-agnostic bind)
        val gRids =
          if (usingG.nonEmpty) Some(usingG.map(Rid.uri))
          else withGraph.map(g => Seq(Rid.uri(g)))
        val namedGRids =
          if (usingNamed.nonEmpty) Some(usingNamed.map(Rid.uri)) else None
        // resolve template vars at the scan so inserted valued rows carry
        // their lexical forms without a dictionary join
        val withValues = store.valued.isDefined
        val b0 = exec.pattern(where, gRids = gRids, namedGRids = namedGRids,
          need = if (withValues) tmplVars else (_ => false))
        val b = if (withValues) exec.ensureValues(b0, tmplVars) else b0
        def instantiate(tmpl: List[(TriplePat, Option[String])],
                        valuedForm: Boolean): DataFrame = {
          val rows = tmpl.map { case (t, tGraph) =>
            // a template triple's target graph: its GRAPH box, else the
            // WITH graph, else the default graph
            val gUri = tGraph.orElse(withGraph)
            def rid(pt: PTerm): Column = pt match {
              case PVar(v) => col(v)
              case PConst(term) => lit(Rid.of(term))
            }
            def lex(pt: PTerm): Column = pt match {
              case PVar(v) => col(s"${v}__lex")
              case PConst(Uri(u)) => lit(u)
              case PConst(BNode(bn)) => lit(bn)
              case PConst(Lit(l, _, _)) => lit(l)
            }
            def oAttr(pt: PTerm): Column = pt match {
              case PVar(v) => coalesce(col(s"${v}__dt"), lit(0L))
              case PConst(Lit(_, dt, lang)) => lit(Rid.attr(dt, lang))
              case _ => lit(0L)
            }
            def oLang(pt: PTerm): Column = pt match {
              case PVar(v) => coalesce(col(s"${v}__lang"), lit(""))
              case PConst(Lit(_, _, lang)) => lit(lang)
              case _ => lit("")
            }
            val base = Seq(
              lit(gUri.map(Rid.uri).getOrElse(WellKnown.defaultGraph))
                .as("g"),
              rid(t.s).as("s"), rid(t.p).as("p"), rid(t.o).as("o"))
            val value =
              if (valuedForm) Seq(
                lit(gUri.getOrElse(WellKnown.defaultGraphUri)).as("gLex"),
                lex(t.s).as("sLex"), lex(t.p).as("pLex"),
                lex(t.o).as("oLex"), oAttr(t.o).as("oDt"),
                oLang(t.o).as("oLang"))
              else Nil
            struct(base ++ value: _*)
          }
          val cols = quadKey ++ (if (valuedForm)
            Seq("gLex", "sLex", "pLex", "oLex", "oDt", "oLang") else Nil)
          b.df.select(explode(array(rows: _*)).as("q"))
            .select(cols.map(c => col(s"q.$c").as(c)): _*)
            .filter(col("s").isNotNull && col("p").isNotNull &&
              col("o").isNotNull)
            // bad-slot rows dropped as in CONSTRUCT (literal subject /
            // non-IRI predicate)
            .filter(Rid.isUriCol(col("p")) && !Rid.isLiteralCol(col("s")))
            .distinct()
        }
        var quads = store.quads
        var valued = store.valued
        if (delT.nonEmpty) {
          // a GRAPH-boxed (or WITH-scoped) delete removes the exact quad;
          // a bare delete matches any graph (the reference batch-deletes
          // by (model=any, s, p, o), update.c:349-365 — a documented
          // divergence from SPARQL 1.1's default-graph-only rule, see
          // the DAWG excuses ledger)
          val (boxed, bare) = delT.partition {
            case (_, tg) => tg.orElse(withGraph).isDefined
          }
          if (boxed.nonEmpty) {
            val del = instantiate(boxed, valuedForm = false)
            quads = quads.join(del, quadKey, "left_anti")
            valued = valued.map(_.join(del, quadKey, "left_anti"))
          }
          if (bare.nonEmpty) {
            val del = instantiate(bare, valuedForm = false).drop("g")
            quads = quads.join(del, Seq("s", "p", "o"), "left_anti")
            valued = valued.map(_.join(del, Seq("s", "p", "o"),
              "left_anti"))
          }
        }
        var resources = store.resources
        if (insT.nonEmpty) {
          // one instantiation pass: the RID-only quads are a projection
          // of the valued rows when the store carries values
          val insRows = instantiate(insT, valuedForm = withValues)
          quads = quads.unionByName(
              insRows.select(quadKey.map(col): _*))
            .dropDuplicates(quadKey)
          valued = valued.map(_.unionByName(insRows)
            .dropDuplicates(quadKey))
          val consts = insT.flatMap { case (t, _) =>
            Seq(t.s, t.p, t.o).collect { case PConst(term) => term } } ++
            insT.flatMap(_._2).map(Uri.apply) ++ withGraph.map(Uri.apply) :+
            Uri(WellKnown.defaultGraphUri)
          resources = resources.unionByName(resourcesOf(spark, consts))
            .dropDuplicates("rid")
        }
        QuadStore(quads, resources, valued)
    }

  // ---------------------------------------------------- durable updates

  /** Apply a SPARQL Update to a store persisted by
    * [[graft.rdf.QuadStore.saveBucketed]] and write the result back —
    * the durable path of the reference's backend writes
    * (`src/backend/import-backend.c`: imports append to the ptree/rhash
    * indexes; deletes rewrite them).
    *
    *  - INSERT-only updates (INSERT DATA / LOAD) append ONLY the delta
    *    rows as new files in the bucketed tables — no rewrite, the
    *    parquet analog of the reference's incremental import. At 100 TB
    *    an insert costs O(delta), not O(store); compaction is left to
    *    the table format.
    *  - anything that deletes (DELETE DATA/WHERE, Modify, CLEAR, DROP,
    *    MOVE...) rewrites through a staging table and swaps it in with
    *    catalog renames, so a concurrent reader sees the old store or
    *    the new one, never a torn one.
    *
    * Returns the reloaded (post-update) store.
    */
  def durable(spark: SparkSession, name: String, text: String): QuadStore = {
    val ops = parse(text)
    val before = QuadStore.loadBucketed(spark, name)
    val after = ops.foldLeft(before)((st, op) => applyOp(st, spark, op))
    commitDelta(spark, name, before, after)
    reload(spark, name)
  }

  /** Transaction bracketing over a durable store (the reference's
    * `4s-transaction begin|rollback|commit`, `fsp_transaction_*`):
    * updates apply to an in-memory working snapshot; `commit` persists
    * ONE delta for the whole batch (the reference's bulk-import use
    * case — per-update commit overhead amortized away); `rollback`
    * discards the snapshot. Immutable snapshots make isolation free:
    * concurrent readers keep the pre-transaction store. */
  final class Transaction(spark: SparkSession, name: String) {
    private val base = QuadStore.loadBucketed(spark, name)
    private var work = base
    def store: QuadStore = work
    def update(text: String): Transaction = {
      work = Update(work, spark, text); this
    }
    def rollback(): Transaction = { work = base; this }
    def commit(): QuadStore = {
      commitDelta(spark, name, base, work)
      reload(spark, name)
    }
  }
  def begin(spark: SparkSession, name: String): Transaction =
    new Transaction(spark, name)

  // --------------------------------------------------- writer exclusion

  /** names whose write lock the CURRENT thread already holds — lets
    * commitDelta's internal maybeCompact -> compact chain re-enter */
  private val heldLocks = new ThreadLocal[Set[String]] {
    override def initialValue(): Set[String] = Set.empty
  }

  /** Single-writer guard for a durable store's commit/rewrite dance.
    * The staged renames in [[rewriteTables]]/[[commitDelta]] are atomic
    * for READERS, but two interleaved WRITERS could each stage against
    * the same base and silently drop the other's delta (or collide on
    * the `__stage`/`__old` table names). A lock file in the warehouse
    * directory (atomic CREATE_NEW, pid recorded) makes the second
    * writer fail fast with a clear error instead; a lock whose recorded
    * pid is no longer alive counts as stale from a crashed writer and
    * is taken over. Cross-HOST writers on shared storage must still be
    * serialized externally — same contract as the reference's
    * single-master backend.
    */
  private def withWriteLock[T](spark: SparkSession, name: String)
                              (body: => T): T = {
    if (heldLocks.get.contains(name)) return body
    val dir = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    java.nio.file.Files.createDirectories(dir)
    val lock = dir.resolve(s"$name.__writer_lock")
    val self = ProcessHandle.current().pid().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def tryAcquire(): Boolean =
      try {
        java.nio.file.Files.write(lock, self,
          java.nio.file.StandardOpenOption.CREATE_NEW)
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
    if (!tryAcquire()) {
      val holder =
        try new String(java.nio.file.Files.readAllBytes(lock),
          java.nio.charset.StandardCharsets.UTF_8).trim
        catch { case _: java.io.IOException => "" }
      val alive = holder.toLongOption
        .exists(p => ProcessHandle.of(p)
          .map[java.lang.Boolean](_.isAlive).orElse(false))
      if (alive)
        throw new IllegalStateException(
          s"durable store '$name' is being written by pid $holder " +
            s"($lock); a second concurrent writer would lose updates — " +
            "serialize writers or remove a stale lock")
      java.nio.file.Files.deleteIfExists(lock)
      if (!tryAcquire())
        throw new IllegalStateException(
          s"durable store '$name': lost the writer-lock race on $lock")
    }
    heldLocks.set(heldLocks.get + name)
    try body
    finally {
      heldLocks.set(heldLocks.get - name)
      java.nio.file.Files.deleteIfExists(lock)
    }
  }

  /** Persist the `before -> after` difference of a durable store:
    * inserts as O(delta) file appends, deletes as tombstones. */
  private[graft] def commitDelta(spark: SparkSession, name: String,
                          before: QuadStore, after: QuadStore): Unit =
    withWriteLock(spark, name) {
      commitDelta0(spark, name, before, after)
    }

  private def commitDelta0(spark: SparkSession, name: String,
                          before: QuadStore, after: QuadStore): Unit = {
    val raw = spark.table(s"${name}_quads")
    val delsT = s"${name}_dels"
    val hasDels = spark.catalog.tableExists(delsT)
    val oldDels =
      if (hasDels) spark.table(delsT)
      else raw.select(quadKey.map(col): _*).limit(0)

    // visible inserts (revivals of tombstoned quads included) and
    // visible deletes, as diffs of the op fold. For the common ground
    // ops these plans prune to the delta; a Modify costs one
    // distributed diff scan — never a store rewrite.
    val insAll = after.quads.join(before.quads, quadKey, "left_anti")
      .dropDuplicates(quadKey).localCheckpoint()
    val delsNew = before.quads.join(after.quads, quadKey, "left_anti")
      .dropDuplicates(quadKey).localCheckpoint()

    // 1. append genuinely-new rows (not present even tombstoned — a
    //    revived quad must not re-append or the tombstone drop below
    //    would make it visible twice) — O(delta) write, one anti scan
    insAll.join(raw, quadKey, "left_anti").write.mode("append")
      .format("parquet").bucketBy(32, "s").sortBy("s")
      .saveAsTable(s"${name}_quads")
    after.resources
      .join(spark.table(s"${name}_resources"), Seq("rid"), "left_anti")
      .dropDuplicates("rid").write.mode("append").format("parquet")
      .bucketBy(32, "rid").sortBy("rid")
      .saveAsTable(s"${name}_resources")
    // 2. tombstones: drop revived ones, add the new deletes — a rewrite
    //    of the SMALL dels table only (compaction bounds its size); the
    //    quads table itself is never rewritten on delete
    if (!delsNew.isEmpty || (hasDels && !insAll.isEmpty)) {
      val nextDels = oldDels.join(insAll, quadKey, "left_anti")
        .unionByName(delsNew).dropDuplicates(quadKey).localCheckpoint()
      if (hasDels) {
        nextDels.write.mode("overwrite").format("parquet")
          .saveAsTable(s"${delsT}__stage")
        spark.sql(s"DROP TABLE IF EXISTS ${delsT}__old")
        spark.sql(s"ALTER TABLE $delsT RENAME TO ${delsT}__old")
        spark.sql(s"ALTER TABLE ${delsT}__stage RENAME TO $delsT")
        spark.sql(s"DROP TABLE ${delsT}__old")
      } else nextDels.write.mode("overwrite").format("parquet")
        .saveAsTable(delsT)
      spark.catalog.refreshTable(delsT)
      maybeCompact(spark, name)
    }
  }

  /** Fold the tombstones back into the quads table when they exceed
    * `frac` of it (the parquet analog of the reference's periodic index
    * rewrite). Explicitly callable for ops-driven compaction. */
  def compact(spark: SparkSession, name: String): Unit =
    withWriteLock(spark, name) {
      val delsT = s"${name}_dels"
      if (spark.catalog.tableExists(delsT)) {
        val live = spark.table(s"${name}_quads")
          .join(broadcast(spark.table(delsT)), quadKey, "left_anti")
        rewriteTables(spark, name,
          QuadStore(live, spark.table(s"${name}_resources")),
          touchesResources = false)
        spark.sql(s"DROP TABLE $delsT")
      }
    }

  private[graft] def maybeCompact(spark: SparkSession, name: String,
                           frac: Double = 0.1): Unit = {
    val delsT = s"${name}_dels"
    if (!spark.catalog.tableExists(delsT)) return
    val nDels = spark.table(delsT).count()
    if (nDels > 0 &&
        nDels >= frac * spark.table(s"${name}_quads").count())
      compact(spark, name)
  }

  /** Rewrite the saved tables to `after`'s contents through a staging
    * table + catalog renames: a concurrent reader sees the old store or
    * the new one, never a torn one. */
  private[graft] def rewriteTables(spark: SparkSession, name: String,
                                   after: QuadStore,
                                   touchesResources: Boolean): Unit = {
    def swapIn(df: DataFrame, table: String, bucketCol: String): Unit = {
      // the staging write READS the live table — only the post-write
      // renames retire it
      df.write.mode("overwrite").format("parquet")
        .bucketBy(32, bucketCol).sortBy(bucketCol)
        .saveAsTable(s"${table}__stage")
      spark.sql(s"DROP TABLE IF EXISTS ${table}__old")
      spark.sql(s"ALTER TABLE $table RENAME TO ${table}__old")
      spark.sql(s"ALTER TABLE ${table}__stage RENAME TO $table")
      spark.sql(s"DROP TABLE ${table}__old")
    }
    swapIn(after.quads, s"${name}_quads", "s")
    if (touchesResources)
      swapIn(after.resources, s"${name}_resources", "rid")
  }

  private[graft] def reload(spark: SparkSession, name: String): QuadStore = {
    spark.catalog.refreshTable(s"${name}_quads")
    spark.catalog.refreshTable(s"${name}_resources")
    if (spark.catalog.tableExists(s"${name}_dels"))
      spark.catalog.refreshTable(s"${name}_dels")
    QuadStore.loadBucketed(spark, name)
  }
}
