package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.rdf._
import Ast._

/** A binding table: the Spark analog of the reference's columnar
  * `fs_binding` (`src/frontend/query-datatypes.h:12-28`). One RID column
  * per variable; optional resolved value columns `<v>__lex/__dt/__lang`
  * attached lazily (the `need_val` discipline). `certain` tracks vars that
  * cannot be NULL (not introduced under OPTIONAL/UNION), which decides
  * between plain equi-joins and SPARQL compatibility joins
  * (`fs_binding_merge`'s NULL-wildcard semantics,
  * `query-datatypes.c:476-529`).
  */
final case class Bindings(df: DataFrame, varsOrdered: Seq[String],
                          certain: Set[String], valued: Set[String]) {
  def vars: Set[String] = varsOrdered.toSet
}

object Exec {
  /** `4s-query -O 0..3` analog (`src/frontend/4s-query.c:105`): the
    * reference skips pattern reordering below level 1
    * (`optimiser.c:214`) and its bind-result cache below level 3
    * (`query-cache.c:270`). Level lives in the session conf so the CLI
    * can set it per invocation; default 3. */
  def optLevel: Int =
    org.apache.spark.sql.SparkSession.active.conf
      .getOption("spark.graft.optLevel").map(_.toInt).getOrElse(3)

  /** Inverse of `Results.writeTsv` cell escaping (single left-to-right
    * pass — chained String.replace would decode an escaped backslash's
    * successor twice). Here in the companion so the distributed SERVICE
    * parse closure doesn't capture the executor-unserializable Exec. */
  private[sparql] def tsvUnescape(s: String): String = {
    if (!s.contains('\\')) return s
    val b = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => b += '\t'; i += 2
          case 'n' => b += '\n'; i += 2
          case '\\' => b += '\\'; i += 2
          case o => b += c; b += o; i += 2
        }
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** One SERVICE TSV result line -> the 4-column-per-var valued row
    * (rid, lex, dt, lang — the same shape `valuesTable` builds).
    * Static so the spilled-result path can run it on executors. */
  private[sparql] def serviceRowValues(line: String, nVars: Int): Seq[Any] = {
    val cells = line.split("\t", -1).toSeq.padTo(nVars, "")
    cells.take(nVars).flatMap { c =>
      (if (c.trim.isEmpty) None
       else NTriples.parseTerm(tsvUnescape(c))) match {
        case Some(t) =>
          val (lex, dt, lang) = t match {
            case Uri(u) => (u, 0L, "")
            case BNode(bn) => (bn, 0L, "")
            case Lit(l, d, g) => (l, Rid.attr(d, g), g)
          }
          Seq(Rid.of(t), lex, dt, lang)
        case None if c.trim.isEmpty => Seq(null, null, null, null)
        case None =>
          // a cell that STARTS like an NT term but fails to parse is a
          // broken peer, not an unbound var — surface it (SILENT catches
          // on the local path) rather than silently dropping the binding
          throw new java.io.IOException(
            s"SERVICE returned malformed term: ${c.take(80)}")
      }
    }
  }
}

final class Exec(store: QuadStore, spark: SparkSession) {
  import WellKnown._

  private def valueCols(v: String) =
    Seq(s"${v}__lex", s"${v}__dt", s"${v}__lang")

  /** unit table: one empty solution */
  private def unit: Bindings =
    Bindings(spark.range(1).drop("id"), Nil, Set.empty, Set.empty)

  /** Attach dictionary values for vars that lack them (reference resolve
    * path `src/frontend/results.c:945-1011`). */
  def ensureValues(b: Bindings, needed: Set[String]): Bindings = {
    val missing = (needed intersect b.vars) diff b.valued
    if (missing.isEmpty) b
    else {
      val df = store.resolve(b.df, missing.toSeq)
      b.copy(df = df, valued = b.valued ++ missing)
    }
  }

  // ---------------------------------------------------------------- BGP

  /** Greedy selectivity ordering of triple patterns, following the
    * reference's tiering (`src/frontend/optimiser.c:212-399`): more
    * constant/bound slots bind first; subject > object > predicate
    * selectivity; bare rdf:type patterns deprioritized.
    */
  private def orderPatterns(pats: List[TriplePat]): List[TriplePat] = {
    // -O0: run patterns in textual order, as the reference's optimiser
    // bail-out does
    if (Exec.optLevel < 1) return pats
    def score(tp: TriplePat, bound: Set[String]): Int = {
      def slot(t: PTerm, w: Int): Int = t match {
        case PConst(_) => w
        case PVar(v) if bound(v) => w
        case _ => 0
      }
      val rdfTypePenalty = (tp.p, tp.o) match {
        case (PConst(Uri(Rdf.typ)), PConst(_)) => -1
        case _ => 0
      }
      slot(tp.s, 8) + slot(tp.o, 4) + slot(tp.p, 2) + rdfTypePenalty
    }
    var remaining = pats
    var bound = Set.empty[String]
    val out = List.newBuilder[TriplePat]
    while (remaining.nonEmpty) {
      val best = remaining.maxBy(score(_, bound))
      out += best
      remaining = remaining.filterNot(_ eq best)
      bound ++= Seq(best.s, best.p, best.o).collect { case PVar(v) => v }
    }
    out.result()
  }

  /** One quad-pattern match: the engine's `fs_bind`
    * (`src/backend/query-backend.c:155-599`) — constant slots become
    * pushed-down Long equality filters on the quads scan; variable slots
    * project out as binding columns; repeated variables add the
    * `FS_BIND_SAME_*` self-equality filter (`query-backend.c:82-137`).
    *
    * Vars the query will need VALUES for (`need`) resolve AT THE SCAN from
    * the store's inline value columns when available — the analog of the
    * reference backend's local rhash lookup (no network hop,
    * `src/backend/rhash.c`); Spark's columnar cache prunes those columns
    * for RID-only scans, so narrow patterns pay nothing.
    */
  private def triplePattern(tp: TriplePat, gvar: Option[String],
                            gRids: Option[Seq[Long]],
                            need: String => Boolean): Bindings = {
    val useValued = store.valued.isDefined &&
      (Seq(tp.s, tp.p, tp.o).collect { case PVar(v) => v } ++ gvar)
        .exists(need)
    val pConst = tp.p match {
      case PConst(t) => Some(Rid.of(t)); case _ => None
    }
    var df = prunedScan(pConst, gRids, useValued)
    // §13.3: GRAPH ?g ranges over the dataset's NAMED graphs only — with
    // no FROM NAMED restriction in scope, that is every graph EXCEPT the
    // default graph (which is addressable only without a GRAPH box)
    if (gvar.isDefined && gRids.isEmpty)
      df = df.filter(col("g") =!= WellKnown.defaultGraph)
    val slots = Seq("s" -> tp.s, "p" -> tp.p, "o" -> tp.o)
    // constant slots -> pushdown filters
    slots.foreach {
      case (c, PConst(t)) => df = df.filter(col(c) === Rid.of(t))
      case _ =>
    }
    // variable slots -> projection (dedup repeated vars w/ self-equality)
    val varSlots = slots.collect { case (c, PVar(v)) => (c, v) } ++
      gvar.map(v => ("g", v)).toSeq
    val seen = scala.collection.mutable.LinkedHashMap[String, String]()
    varSlots.foreach { case (c, v) =>
      seen.get(v) match {
        case Some(c0) => df = df.filter(col(c0) === col(c))
        case None => seen += v -> c
      }
    }
    val proj = seen.toSeq.flatMap { case (v, c) =>
      if (useValued && need(v)) {
        val (lexC, dtC, langC) = c match {
          case "o" => (col("oLex"), col("oDt"), col("oLang"))
          case "s" => (col("sLex"), lit(0L), lit(""))
          case "p" => (col("pLex"), lit(0L), lit(""))
          case "g" => (col("gLex"), lit(0L), lit(""))
        }
        Seq(col(c).as(v), lexC.as(s"${v}__lex"), dtC.as(s"${v}__dt"),
          langC.as(s"${v}__lang"))
      } else Seq(col(c).as(v))
    }
    val valued = seen.keys.filter(v => useValued && need(v)).toSet
    Bindings(df.select(proj: _*), seen.keys.toSeq, seen.keySet.toSet,
      valued)
  }

  // ---------------------------------------------------- property paths

  /** Pruned scan shared by [[triplePattern]] and path evaluation: a
    * constant predicate / graph selects only the store leaves that can
    * contain it (reference: per-predicate ptree index + model index,
    * `src/backend/ptree.c`, `query-backend.c:291`), then the FROM/GRAPH
    * restriction filter. `valued` scans the leaves' inline-value tables
    * instead of their RID quads. */
  private def prunedScan(pRid: Option[Long], gRids: Option[Seq[Long]],
                         valued: Boolean = false): DataFrame = {
    val live = store.leaves.filter { seg =>
      pRid.forall(r => seg.predRids.forall(_.contains(r))) &&
        gRids.forall(gs => seg.graphRids.forall(sg => gs.exists(sg)))
    }
    def table(st: QuadStore) = if (valued) st.valued.get else st.quads
    var df = live match {
      case Nil => table(store).limit(0) // no leaf can match
      case segs => segs.map(table).reduce(_ unionByName _)
    }
    gRids.foreach(rs => df =
      if (rs.isEmpty) df.filter(lit(false))
      else df.filter(col("g").isin(rs: _*)))
    df
  }

  /** Path pair evaluation (SPARQL 1.1 §9.3 — extension, no reference
    * counterpart). Returns `(g?, a, b)` pairs; `withG` keeps the graph
    * column so closures stay scoped per named graph under `GRAPH ?g`.
    * Non-closure operators keep bag semantics (spec: translation to
    * joins); closures are set-semantic (ALP). */
  private def pathEdges(p: Path, withG: Boolean,
                        gRids: Option[Seq[Long]]): DataFrame = {
    val keys = if (withG) Seq("g") else Nil
    def pairsOf(scan: DataFrame, inv: Boolean): DataFrame =
      scan.select((keys.map(col) ++ (
        if (inv) Seq(col("o").as("a"), col("s").as("b"))
        else Seq(col("s").as("a"), col("o").as("b")))): _*)
    p match {
      case PLink(u) =>
        val rid = Rid.of(Uri(u))
        pairsOf(prunedScan(Some(rid), gRids).filter(col("p") === rid),
          inv = false)
      case PNeg(fwd, inv) =>
        def excl(rids: Seq[Long], invDir: Boolean) = {
          var scan = prunedScan(None, gRids)
          if (rids.nonEmpty)
            scan = scan.filter(!col("p").isin(rids: _*))
          pairsOf(scan, invDir)
        }
        val parts =
          (if (fwd.nonEmpty || inv.isEmpty)
             Seq(excl(fwd.map(u => Rid.of(Uri(u))), invDir = false))
           else Nil) ++
          (if (inv.nonEmpty)
             Seq(excl(inv.map(u => Rid.of(Uri(u))), invDir = true))
           else Nil)
        parts.reduce(_ unionByName _)
      case PInv(inner) =>
        pathEdges(inner, withG, gRids).select(
          (keys.map(col) ++ Seq(col("b").as("a"), col("a").as("b"))): _*)
      case PSeq(l, r) =>
        val lf = pathEdges(l, withG, gRids)
          .select(keys.map(col) ++ Seq(col("a"), col("b").as("__m")): _*)
        val rf = pathEdges(r, withG, gRids)
          .select(keys.map(col) ++ Seq(col("a").as("__m"), col("b")): _*)
        lf.join(rf, keys :+ "__m")
          .select(keys.map(col) ++ Seq(col("a"), col("b")): _*)
      case PAlt(l, r) =>
        pathEdges(l, withG, gRids) unionByName pathEdges(r, withG, gRids)
      case PClosure(inner, minZero, many) =>
        val base = pathEdges(inner, withG, gRids).distinct()
        val closed = if (many) closure(base, None, keys) else base
        if (minZero) closed.unionByName(zeroPairs(withG, gRids)).distinct()
        else closed
    }
  }

  /** Zero-length path pairs: every term in the active graph relates to
    * itself (spec ZeroLengthPath over graph nodes, literals included). */
  private def zeroPairs(withG: Boolean,
                        gRids: Option[Seq[Long]]): DataFrame = {
    val keys = if (withG) Seq("g") else Nil
    val scan = prunedScan(None, gRids)
    val nodes = scan.select((keys.map(col) :+ col("s").as("n")): _*)
      .unionByName(scan.select((keys.map(col) :+ col("o").as("n")): _*))
      .distinct()
    nodes.select((keys.map(col) ++ Seq(col("n").as("a"), col("n").as("b"))): _*)
  }

  /** Semi-naive transitive closure of an edge set: the frontier joins the
    * (small, reusable) edge relation each round; `localCheckpoint`
    * truncates the growing lineage so round N doesn't replan rounds 1..N-1
    * (on a cluster this would be a reliable checkpoint). `seed` restricts
    * the start set — the directed-BFS fast path when the path's subject
    * side is already bound, so `<c> p+ ?x` never materializes the whole
    * graph's closure. */
  private def closure(edges0: DataFrame, seed: Option[Column],
                      keys: Seq[String]): DataFrame = {
    val cols = (keys :+ "a" :+ "b").map(col)
    val edges = edges0.select(cols: _*).localCheckpoint()
    var frontier = seed.map(edges.filter).getOrElse(edges)
    var acc = frontier
    var rounds = 0
    // Round structure: the first rounds are plain semi-naive BFS (frontier
    // joins the edge relation — one hop per round, cheap joins, converges
    // in diameter rounds for the hierarchy/clique graphs RDF stores
    // actually hold). If a pathological high-diameter graph (a long
    // chain) hasn't converged by then, switch the join's right side to
    // the ACCUMULATED pairs: the frontier then extends by up to its own
    // longest length per round ("smart doubling"), so 62 total rounds
    // cover diameters beyond 2^45 — a true bound, at the price of bigger
    // joins only on graphs that need it.
    while (rounds < 62 && !frontier.isEmpty) {
      rounds += 1
      if (seed.isDefined && rounds == 17) {
        // seeded walks can't double (accumulated pairs are all
        // seed-rooted); past BFS depth 16 the doubled FULL closure
        // filtered to the seed beats thousands of BFS rounds
        return closure(edges0, None, keys).filter(seed.get)
      }
      val rel = if (seed.isEmpty && rounds > 16) acc else edges
      val f = frontier.select(
        keys.map(col) ++ Seq(col("a"), col("b").as("__m")): _*)
      val e = rel.select(
        keys.map(col) ++ Seq(col("a").as("__m"), col("b")): _*)
      val stepped = f.join(e, keys :+ "__m")
        .select(cols: _*).distinct()
      frontier = stepped.join(acc, keys :+ "a" :+ "b", "left_anti")
        .localCheckpoint()
      if (!frontier.isEmpty) acc = acc.unionByName(frontier).localCheckpoint()
    }
    acc
  }

  /** Execute one `s path o` element to a binding table. */
  private def pathPattern(pg: PathGP, gvar: Option[String],
                          gRids: Option[Seq[Long]]): Bindings = {
    val withG = gvar.isDefined
    val keys = if (withG) Seq("g") else Nil
    // directed fast path: a one-or-more closure with a constant endpoint
    // seeds the BFS at that node instead of closing the whole relation
    val pairs = (pg.path, pg.s, pg.o) match {
      case (PClosure(inner, minZero, true), PConst(t), _) =>
        val base = pathEdges(inner, withG, gRids).distinct()
        val cl = closure(base, Some(col("a") === Rid.of(t)), keys)
        if (minZero) cl.unionByName(zeroPairs(withG, gRids)).distinct()
        else cl
      case (PClosure(inner, minZero, true), _, PConst(t)) =>
        val base = pathEdges(inner, withG, gRids).distinct()
          .select((keys.map(col) ++
            Seq(col("b").as("a"), col("a").as("b"))): _*)
        val cl = closure(base, Some(col("a") === Rid.of(t)), keys)
          .select((keys.map(col) ++
            Seq(col("b").as("a"), col("a").as("b"))): _*)
        if (minZero) cl.unionByName(zeroPairs(withG, gRids)).distinct()
        else cl
      case _ => pathEdges(pg.path, withG, gRids)
    }
    var df = pairs
    // same §13.3 named-graphs-only rule as triplePattern's gvar case
    if (withG && gRids.isEmpty)
      df = df.filter(col("g") =!= WellKnown.defaultGraph)
    val slots = Seq("a" -> pg.s, "b" -> pg.o)
    slots.foreach {
      case (c, PConst(t)) => df = df.filter(col(c) === Rid.of(t))
      case _ =>
    }
    val varSlots = slots.collect { case (c, PVar(v)) => (c, v) } ++
      gvar.map(v => ("g", v)).toSeq
    val seen = scala.collection.mutable.LinkedHashMap[String, String]()
    varSlots.foreach { case (c, v) =>
      seen.get(v) match {
        case Some(c0) => df = df.filter(col(c0) === col(c))
        case None => seen += v -> c
      }
    }
    val proj = seen.toSeq.map { case (v, c) => col(c).as(v) }
    val b0 = Bindings(df.select(proj: _*), seen.keys.toSeq,
      seen.keySet.toSet, Set.empty)
    // a zero-length-capable path relates a constant endpoint to itself
    // even when the term is absent from the graph (spec ZeroLengthPath):
    // the node-universe zero pairs can't cover it, and the dictionary has
    // no entry for it, so inject a fully-valued self row. Under GRAPH ?g
    // the self pair would need a graph binding — corner not applicable.
    val zeroConst = pg.path match {
      case PClosure(_, true, _) if keys.isEmpty =>
        (pg.s, pg.o) match {
          case (PConst(a), PConst(b)) =>
            if (Rid.of(a) == Rid.of(b)) Some(a) else None
          case (PConst(t), _) => Some(t)
          case (_, PConst(t)) => Some(t)
          case _ => None
        }
      case _ => None
    }
    zeroConst match {
      case Some(_) if b0.varsOrdered.isEmpty =>
        // both endpoints are the same constant: zero-length always
        // matches, and closure set semantics cap it at one solution
        b0.copy(df = spark.range(1).drop("id"))
      case Some(t) =>
        val rid = Rid.of(t)
        val bv = ensureValues(b0, b0.vars)
        val (lex, dt, lang) = t match {
          case Uri(u) => (u, 0L, "")
          case BNode(bn) => (bn, 0L, "")
          case Lit(l, d, g) => (l, Rid.attr(d, g), g)
        }
        val selfDf = spark.range(1).select(b0.varsOrdered.flatMap(v =>
          Seq(lit(rid).as(v), lit(lex).as(s"${v}__lex"),
            lit(dt).as(s"${v}__dt"), lit(lang).as(s"${v}__lang"))): _*)
        bv.copy(df = bv.df.unionByName(selfDf)
          .dropDuplicates(b0.varsOrdered))
      case None => b0
    }
  }

  // ------------------------------------------------------------- joins

  private def renamedRight(r: Bindings): (DataFrame, String => String) = {
    val ren = (c: String) => s"__r_$c"
    // one select, not a withColumnRenamed fold: every withColumn* call is a
    // full analysis pass over an ever-growing plan — with 4 value columns
    // per var the O(cols²) analysis cost dominated small-query latency
    val rdf = r.df.select(r.df.columns.map(c => col(c).as(ren(c))): _*)
    (rdf, ren)
  }

  /** All subsets of `vs` (2^|vs| of them) — the null-mask enumeration for
    * compatibility-join decomposition. */
  private def subsets(vs: Seq[String]): Seq[Set[String]] =
    vs.foldLeft(Seq(Set.empty[String]))((acc, v) => acc ++ acc.map(_ + v))

  /** Compatibility join decomposed into a union of EQUI-joins.
    *
    * SPARQL compatibility (`fs_binding_merge` NULL-wildcard,
    * `query-datatypes.c:476-529`) as a single join condition is
    * `l.v IS NULL OR r.v IS NULL OR l.v = r.v` — an OR with no equi-key,
    * which Spark can only plan as BroadcastNestedLoopJoin: O(n·m) at
    * scale. Instead, partition each side by its null-mask over the
    * maybe-null shared vars: within a (leftMask, rightMask) branch every
    * var outside the masks is bound on BOTH sides, so the branch condition
    * is a plain conjunction of equalities → hash join. Branches partition
    * the pair space disjointly, so the union is exact bag semantics.
    * A branch whose equi set is empty is a genuine wildcard×wildcard
    * cross product — required by the semantics, and bounded by the
    * (typically tiny) null-row subsets.
    */
  private def compatBranches(ldf0: DataFrame, rdf0: DataFrame,
                             ren: String => String, shared: Seq[String],
                             lMaybe: Seq[String], rMaybe: Seq[String],
                             extraCond: Option[Column],
                             joinType: String): DataFrame = {
    // PIN both operands (same discipline as compatBranchesObserved):
    // this path always emits >= 2 branches, and each branch filters the
    // input DIFFERENTLY before its join — so Catalyst's ReuseExchange
    // never fires across branches (the exchanges are not identical) and
    // an un-pinned operand would RE-EXECUTE its whole upstream plan per
    // branch (2^k times; at 100x data that is 2^k scans + shuffles of
    // the same intermediate). LAZY checkpoint (eager=false): the first
    // branch's tasks materialize the blocks inside the query's own
    // action and the remaining branches re-scan them — no extra
    // blocking job per query, which matters for sub-second gate
    // latency (an eager checkpoint is a synchronous Spark job BEFORE
    // the query even starts).
    val ldf = ldf0.localCheckpoint(eager = false)
    val rdf = rdf0.localCheckpoint(eager = false)
    maskBranches(ldf, rdf, ren, shared, lMaybe, rMaybe,
      subsets(lMaybe), subsets(rMaybe), extraCond, joinType)
  }

  /** [[compatBranches]] for WIDE maybe-null var sets: static enumeration
    * is 2^k branches, but the null-masks that actually occur are few —
    * each OPTIONAL block binds its vars all-or-nothing, so k vars from j
    * blocks yield ~j+1 observed masks, not 2^k. Read the observed masks
    * (two small distinct-collects over localCheckpoint-pinned inputs,
    * acceptable on this rare path) and emit one equi-join per observed
    * mask pair — a hash key at any width, never a nested loop.
    */
  private def compatBranchesObserved(ldf0: DataFrame, rdf0: DataFrame,
                                     ren: String => String,
                                     shared: Seq[String],
                                     lMaybe: Seq[String],
                                     rMaybe: Seq[String],
                                     extraCond: Option[Column],
                                     joinType: String): DataFrame = {
    // pin inputs: they are scanned once for masks, then per-branch
    val ldf = ldf0.localCheckpoint()
    val rdf = rdf0.localCheckpoint()
    def masksOf(df: DataFrame, vars: Seq[String],
                nm: String => String): Seq[Set[String]] =
      if (vars.isEmpty) Seq(Set.empty)
      else df.select(vars.map(v => col(nm(v)).isNull.as(v)): _*)
        .distinct().collect().toSeq
        .map(row => vars.zipWithIndex.collect {
          case (v, i) if row.getBoolean(i) => v
        }.toSet)
    val lMasks = masksOf(ldf, lMaybe, identity)
    val rMasks = masksOf(rdf, rMaybe, ren)
    if (lMasks.isEmpty || rMasks.isEmpty)
      // one side is empty; lit(false) folds to an empty relation of the
      // joined schema without enumerating branches
      return ldf.join(rdf, lit(false), joinType)
    maskBranches(ldf, rdf, ren, shared, lMaybe, rMaybe, lMasks, rMasks,
      extraCond, joinType)
  }

  /** The branches of a compatibility join, one per (left null-mask,
    * right null-mask) pair, unioned: a mask is the set of maybe-null
    * vars that are NULL in that branch, and every shared var outside
    * both masks joins by equality. */
  private def maskBranches(ldf: DataFrame, rdf: DataFrame,
                           ren: String => String, shared: Seq[String],
                           lMaybe: Seq[String], rMaybe: Seq[String],
                           lMasks: Seq[Set[String]],
                           rMasks: Seq[Set[String]],
                           extraCond: Option[Column],
                           joinType: String): DataFrame = {
    val branches = for {
      a <- lMasks
      b <- rMasks
    } yield {
      val lb =
        if (lMaybe.isEmpty) ldf
        else ldf.filter(lMaybe.map(v =>
          if (a(v)) col(v).isNull else col(v).isNotNull).reduce(_ && _))
      val rb =
        if (rMaybe.isEmpty) rdf
        else rdf.filter(rMaybe.map(v =>
          if (b(v)) col(ren(v)).isNull else col(ren(v)).isNotNull)
          .reduce(_ && _))
      val conds = shared.filterNot(v => a(v) || b(v))
        .map(v => col(v) === col(ren(v))) ++ extraCond.toSeq
      if (conds.isEmpty) {
        if (joinType == "inner") lb.crossJoin(rb)
        else lb.join(rb, lit(true), joinType)
      } else lb.join(rb, conds.reduce(_ && _), joinType)
    }
    branches.reduce(_ unionByName _)
  }

  /** SPARQL OPTIONAL with the §18.2.2.5 semantics: `OPTIONAL { P
    * FILTER(E) }` is LeftJoin(left, P, E) — E is the JOIN CONDITION,
    * evaluated over the MERGED solution, so left-side vars ARE visible
    * inside it (the famous algebra exception; DAWG
    * scope/optional-filter-1). When every filter var is either
    * certainly bound by the right side or absent from the left, the
    * condition reads only right-side columns and hoisting it INTO the
    * right side is equivalent — that filter-first path stays as the
    * fast default (it prunes before the join). EXISTS conditions also
    * take the filter-first path: their semi-join machinery needs a
    * Bindings, and an EXISTS referencing left-only vars inside an
    * OPTIONAL is not expressible as a join-condition Column here. */
  private def optionalJoin(left: Bindings, inner: GP, gvar: Option[String],
                           gRids: Option[Seq[Long]],
                           need: String => Boolean,
                           namedGRids: Option[Seq[Long]]): Bindings = {
    val (bodyGp, conds) = inner match {
      case GroupGP(elems, fs) if fs.nonEmpty => (GroupGP(elems, Nil), fs)
      case other => (other, Nil)
    }
    if (conds.isEmpty)
      return join(left, pattern(inner, gvar, gRids, need, namedGRids),
        "left_outer")
    val condVars = conds.flatMap(varsOf).toSet
    val right0 = pattern(bodyGp, gvar, gRids,
      v => need(v) || condVars(v), namedGRids)
    // §18.2.2.5: an EXISTS inside the OPTIONAL's filter also sees the
    // MERGED solution, but our semi-join machinery (resolveExists)
    // evaluates it over the right side alone on the filter-first path.
    // When the EXISTS pattern (or the host expression around it)
    // references a var the left binds that the right does not certainly
    // bind, filter-first is NOT spec-equivalent — fail loudly instead
    // of silently returning non-spec bindings.
    conds.foreach { f =>
      val exs = existsSubterms(f)
      if (exs.nonEmpty) {
        val reach = varsOf(f) ++
          exs.flatMap { case EExists(p, _) => gpVars(p) }.toSet
        val leftRef =
          reach.filter(v => left.vars(v) && !right0.certain(v))
        if (leftRef.nonEmpty)
          throw new UnsupportedOperationException(
            "EXISTS in an OPTIONAL filter referencing left-side " +
              s"variable(s) ${leftRef.toSeq.sorted.mkString("?", ", ?", "")}" +
              " is not supported (merged-solution EXISTS per SPARQL 1.1" +
              " §18.2.2.5); rewrite the EXISTS outside the OPTIONAL")
      }
    }
    val mergedNeeded =
      conds.forall(f => existsSubterms(f).isEmpty) &&
        condVars.exists(v => !right0.certain(v) && left.vars(v))
    if (!mergedNeeded) {
      // filter-first (today's path): equivalent because no condition var
      // can take its value from the left side
      val filtered =
        conds.foldLeft(right0)((b, f) => filter(b, f, gvar, gRids))
      join(left, filtered, "left_outer")
    } else {
      var lv = ensureValues(left, condVars intersect left.vars)
      var rv = ensureValues(right0, condVars intersect right0.vars)
      // HOIST one-sided subtrees of the condition as helper vars on
      // their own side (extend stages deep expressions internally):
      // the join condition would otherwise re-inline each subtree's
      // term-view per reference AND per compat branch — observed 52k
      // generated lines and a janino 64 KB overflow on a depth-2
      // condition. A subtree may move LEFT when every var it reads is
      // certain there (merged view = left view) and RIGHT when none of
      // its vars exist on the left (merged view = right view).
      val leftPure = (s: Set[String]) => s.nonEmpty && s.forall(lv.certain)
      val rightPure = (s: Set[String]) =>
        s.nonEmpty && s.forall(v => !lv.vars(v) && rv.vars(v))
      var helpers = List.empty[String]
      def hoist(e: Expr): Expr = e match {
        case _: EVar | _: EConst => e
        case _ if existsSubterms(e).nonEmpty => e
        case _ if leftPure(varsOf(e)) =>
          val n = s"__oc${helpers.size}"
          lv = extend(lv, n, e, gvar, gRids)
          helpers ::= n
          EVar(n)
        case _ if rightPure(varsOf(e)) =>
          val n = s"__oc${helpers.size}"
          rv = extend(rv, n, e, gvar, gRids)
          helpers ::= n
          EVar(n)
        case ECall(f2, args) => ECall(f2, args.map(hoist))
        case EIn(x, l2, n2) => EIn(hoist(x), l2.map(hoist), n2)
        case other => other
      }
      val residual = conds.map(hoist)
      // compile E against the join's intermediate namespace: left
      // columns keep their names, right columns carry renamedRight's
      // __r_ prefix; a shared maybe-null var merges via coalesce
      val ren = (c: String) => s"__r_$c"
      def rv_(v: String): V =
        V(col(ren(v)), col(ren(s"${v}__lex")), col(ren(s"${v}__dt")),
          col(ren(s"${v}__lang")))
      def lrMerged(v: String): V =
        V(coalesce(col(v), col(ren(v))),
          coalesce(col(s"${v}__lex"), col(ren(s"${v}__lex"))),
          coalesce(col(s"${v}__dt"), col(ren(s"${v}__dt"))),
          coalesce(col(s"${v}__lang"), col(ren(s"${v}__lang"))))
      val sub: Map[Expr, V] = residual.flatMap(varsOf).toSet.iterator
        .map { v: String =>
          val key: Expr = EVar(v)
          val view =
            if (lv.vars(v) && rv.vars(v)) {
              if (lv.certain(v)) V.ofVar(v) else lrMerged(v)
            } else if (lv.vars(v)) V.ofVar(v)
            else if (rv.vars(v)) rv_(v)
            else V.nul
          key -> view
        }.toMap
      val cond = residual
        .map(f => Compiler.compile(f, sub).ebv === true)
        .reduce(_ && _)
      val joined = join(lv, rv, "left_outer", Some(cond))
      if (helpers.isEmpty) joined
      else joined.copy(
        df = joined.df.drop(helpers.flatMap(h =>
          h +: valueCols(h)): _*),
        varsOrdered = joined.varsOrdered.filterNot(helpers.contains),
        certain = joined.certain -- helpers,
        valued = joined.valued -- helpers)
    }
  }

  /** SPARQL join: equi on certainly-bound shared vars, compatibility
    * (NULL = wildcard) on maybe-null shared vars (SURVEY §7.4 hard part 2;
    * reference row-compare `query-datatypes.c:476-529`). The compat case
    * is decomposed into a union of equi-joins (see [[compatBranches]]) so
    * OPTIONAL/UNION-introduced vars rejoining later patterns still hash
    * join instead of nested-looping.
    */
  def join(l: Bindings, r: Bindings, joinType: String = "inner",
           extraCond: Option[Column] = None): Bindings = {
    val shared = (l.vars intersect r.vars).toSeq.sorted
    val (rdf, ren) = renamedRight(r)
    val lMaybe = shared.filterNot(l.certain)
    val rMaybe = shared.filterNot(r.certain)
    // ≤3 maybe-null shared vars (8 branches): static mask enumeration,
    // no data scan. Wider: enumerate only the null-masks OBSERVED in the
    // data ([[compatBranchesObserved]]) — costs two small collects but
    // keeps a hash key at any var width. Either way, never a
    // BroadcastNestedLoopJoin (PlanSpec gates both shapes).
    val static = lMaybe.size + rMaybe.size <= 3
    def decompose(ldf: DataFrame, jt: String): DataFrame =
      if (static)
        compatBranches(ldf, rdf, ren, shared, lMaybe, rMaybe, extraCond, jt)
      else
        compatBranchesObserved(ldf, rdf, ren, shared, lMaybe, rMaybe,
          extraCond, jt)
    val joined =
      if (lMaybe.isEmpty && rMaybe.isEmpty) {
        val conds = shared.map(v => col(v) === col(ren(v))) ++
          extraCond.toSeq
        if (conds.isEmpty) {
          if (joinType == "inner") l.df.crossJoin(rdf)
          else l.df.join(rdf, lit(true), joinType)
        } else l.df.join(rdf, conds.reduce(_ && _), joinType)
      } else if (joinType == "inner" || (joinType == "left_outer" &&
          rMaybe.isEmpty)) {
        // inner: (leftMask × rightMask) branches partition the pair space.
        // left_outer with an all-certain right side: branches partition
        // the LEFT rows disjointly, so per-branch left-outer unions are
        // exact (each left row is preserved in exactly one branch).
        decompose(l.df, joinType)
      } else if (joinType == "left_outer") {
        // left_outer with a maybe-null right side: branches split the
        // right rows too, so per-branch outer joins would duplicate
        // unmatched left rows. Decompose the INNER match instead, then
        // add back left rows with no match in any branch via a row id.
        // localCheckpoint pins the ids (monotonically_increasing_id is
        // order-dependent) so both uses see identical values.
        val lw = l.df.withColumn("__lid", monotonically_increasing_id())
          .localCheckpoint()
        val inner = decompose(lw, "inner")
        val unmatched = lw.join(
          inner.select(col("__lid")).distinct(), Seq("__lid"), "left_anti")
        val nulled = unmatched.select(unmatched.columns.map(col) ++
          rdf.schema.fields.map(f =>
            lit(null).cast(f.dataType).as(f.name)): _*)
        inner.unionByName(nulled).drop("__lid")
      } else {
        // remaining join types (none currently reach here with maybe-null
        // shared vars) keep the single compat condition
        val conds = shared.map { v =>
          if (l.certain(v) && r.certain(v)) col(v) === col(ren(v))
          else col(v).isNull || col(ren(v)).isNull || col(v) === col(ren(v))
        } ++ extraCond.toSeq
        l.df.join(rdf, conds.reduce(_ && _), joinType)
      }

    // single output projection (NOT a withColumn/rename/drop churn loop —
    // each of those is a separate analysis pass and small-query latency
    // was dominated by Catalyst, not by data)
    val sharedSet = shared.toSet
    var valued = l.valued
    val rOnly = r.varsOrdered.filterNot(sharedSet)
    val proj = Seq.newBuilder[Column]
    l.varsOrdered.foreach { v =>
      if (sharedSet(v)) {
        // a certain left var is never NULL -> its rid is authoritative
        val rid = if (l.certain(v)) col(v) else coalesce(col(v), col(ren(v)))
        proj += rid.as(v)
        if (l.valued(v) && r.valued(v))
          valueCols(v).foreach(c =>
            proj += coalesce(col(c), col(ren(c))).as(c))
        else if (l.valued(v))
          valueCols(v).foreach(c => proj += col(c))
        else if (r.valued(v)) {
          if (joinType == "inner") {
            valueCols(v).foreach(c => proj += col(ren(c)).as(c))
            valued += v
          }
          // outer join: right-side values would be NULL on unmatched rows
          // while the rid is bound -> drop, re-resolve later if needed
        }
      } else {
        proj += col(v)
        if (l.valued(v)) valueCols(v).foreach(c => proj += col(c))
      }
    }
    rOnly.foreach { v =>
      proj += col(ren(v)).as(v)
      if (r.valued(v)) {
        valueCols(v).foreach(c => proj += col(ren(c)).as(c))
        valued += v
      }
    }
    val df = joined.select(proj.result(): _*)
    val certain =
      if (joinType == "inner") l.certain ++ r.certain
      else l.certain // outer join: right vars may be null
    Bindings(df, l.varsOrdered ++ rOnly, certain, valued)
  }

  /** Remove from `ldf` every row that has a compatible (and, for MINUS,
    * overlapping) row in `rdf` — the compat-anti counterpart of
    * [[compatBranches]]. Left rows are partitioned disjointly by their
    * null-mask; within a partition the right side is split by ITS
    * null-mask and the partition is anti-joined against each right branch
    * in sequence (a row survives only if no branch matches — exactly the
    * chained left_anti semantics). Every anti join keys on the vars bound
    * on both sides → hash anti join, no nested loop. An all-wildcard
    * branch (empty equi set) removes everything when the branch is
    * non-empty: `limit(1)` makes that probe O(1). */
  private def compatRemove(ldf: DataFrame, rdf: DataFrame,
                           ren: String => String, shared: Seq[String],
                           lMaybe: Seq[String], rMaybe: Seq[String],
                           requireOverlap: Boolean): DataFrame = {
    val parts = subsets(lMaybe).map { a =>
      val lb =
        if (lMaybe.isEmpty) ldf
        else ldf.filter(lMaybe.map(v =>
          if (a(v)) col(v).isNull else col(v).isNotNull).reduce(_ && _))
      subsets(rMaybe).foldLeft(lb) { (acc, b) =>
        val equi = shared.filterNot(v => a(v) || b(v))
        if (equi.isEmpty && requireOverlap) acc // MINUS: disjoint pairs keep
        else {
          val rb =
            if (rMaybe.isEmpty) rdf
            else rdf.filter(rMaybe.map(v =>
              if (b(v)) col(ren(v)).isNull else col(ren(v)).isNotNull)
              .reduce(_ && _))
          if (equi.isEmpty) acc.join(rb.limit(1), lit(true), "left_anti")
          else acc.join(rb,
            equi.map(v => col(v) === col(ren(v))).reduce(_ && _),
            "left_anti")
        }
      }
    }
    parts.reduce(_ unionByName _)
  }

  /** MINUS (`fs_binding_minus`, `query-datatypes.c:1120-1229`): remove LHS
    * rows compatible with some RHS row on shared vars; disjoint domains
    * keep everything (SPARQL MINUS rule). */
  def minus(l: Bindings, r: Bindings): Bindings = {
    val shared = (l.vars intersect r.vars).toSeq.sorted
    if (shared.isEmpty) return l
    val (rdf, ren) = renamedRight(r)
    val lMaybe = shared.filterNot(l.certain)
    val rMaybe = shared.filterNot(r.certain)
    val bothCertain = shared.filter(v => l.certain(v) && r.certain(v))
    if (bothCertain.nonEmpty) {
      // both-certain shared vars give the anti join a hash key; remaining
      // compat ORs ride along as a post-join condition (no nested loop)
      val cond = shared.map { v =>
        if (l.certain(v) && r.certain(v)) col(v) === col(ren(v))
        else col(v).isNull || col(ren(v)).isNull || col(v) === col(ren(v))
      }.reduce(_ && _)
      l.copy(df = l.df.join(rdf, cond, "left_anti"))
    } else if (lMaybe.size + rMaybe.size <= 3) {
      l.copy(df = compatRemove(l.df, rdf, ren, shared, lMaybe, rMaybe,
        requireOverlap = true))
    } else {
      val compat = shared.map(v =>
        col(v).isNull || col(ren(v)).isNull || col(v) === col(ren(v)))
        .reduce(_ && _)
      val overlap = shared.map(v =>
        col(v).isNotNull && col(ren(v)).isNotNull).reduce(_ || _)
      l.copy(df = l.df.join(rdf, compat && overlap, "left_anti"))
    }
  }

  /** UNION (`fs_binding_union`, `query-datatypes.c:646-667`): bag append,
    * missing vars -> NULL. */
  def union(bs: Seq[Bindings]): Bindings = {
    val allVars = bs.flatMap(_.varsOrdered).distinct
    val aligned = bs.map { b0 =>
      val b = ensureValues(b0, b0.vars) // full value parity across branches
      // one select per branch: present vars pass through, absent vars are
      // typed NULL literals (no per-column withColumn analysis passes)
      b.df.select(allVars.flatMap { v =>
        if (b.vars(v)) col(v) +: valueCols(v).map(col)
        else Seq(lit(null).cast("long").as(v),
          lit(null).cast("string").as(s"${v}__lex"),
          lit(null).cast("long").as(s"${v}__dt"),
          lit(null).cast("string").as(s"${v}__lang"))
      }: _*)
    }
    val certain = allVars.filter(v =>
      bs.forall(b => b.certain(v))).toSet
    Bindings(aligned.reduce(_ union _), allVars, certain, allVars.toSet)
  }

  // --------------------------------------------------------- patterns

  /** @param namedGRids the FROM NAMED set: the graphs GRAPH patterns
    *   range over (None = every named graph) */
  def pattern(gp: GP, gvar: Option[String] = None,
              gRids: Option[Seq[Long]] = None,
              need: String => Boolean = _ => false,
              namedGRids: Option[Seq[Long]] = None,
              /** earliest-binding filter hook (GroupGP passes its
                * filterEarly): applied to every intermediate BGP
                * binding so a single-pattern predicate prunes AT ITS
                * SCAN, before any join */
              early: Bindings => Bindings = identity): Bindings = gp match {
    case BGPat(pats0) =>
      // bnode labels in a query pattern are variables that cannot be
      // projected (SPARQL 1.1 §4.1.4; rasqal does the same rewrite for
      // the reference). The __bn_ prefix keeps them out of SELECT *.
      val pats = pats0.map { tp =>
        def rw(t: PTerm): PTerm = t match {
          case PConst(BNode(l)) => PVar(s"__bn_$l")
          case PBnodeConst(l) => PConst(BNode(l)) // `<bnode:L>`: concrete
          case other => other
        }
        TriplePat(rw(tp.s), tp.p, rw(tp.o))
      }
      val ordered = orderPatterns(pats)
      val joined = ordered.map(tp => early(triplePattern(tp, gvar, gRids,
          need)))
        .reduceLeft((a, b) => early(join(a, b)))
      // SELECT * expands vars in query-text appearance order (GRAPH var
      // first), not in the optimizer's execution order
      val appearance = (gvar.toSeq ++ pats.flatMap(tp =>
        Seq(tp.s, tp.p, tp.o).collect { case PVar(v) => v })).distinct
      joined.copy(varsOrdered = appearance.filter(joined.vars) ++
        joined.varsOrdered.filterNot(appearance.contains))
    case GroupGP(elems, filters) =>
      // this group's filters and BIND inputs consume values too — resolve
      // them at the scan along with whatever the caller needs
      val localVars = (filters.flatMap(varsOf) ++
        elems.collect { case BindGP(e, _) => varsOf(e) }.flatten).toSet
      val needHere: String => Boolean = v => need(v) || localVars(v)
      var acc: Option[Bindings] = None
      // EARLIEST-BINDING FILTER PLACEMENT (the reference's "reductive
      // filters first", `optimiser.c`; relational textbook selection
      // pushdown done in the ENGINE because the compiled predicates are
      // pinned against Catalyst pushdown — see `filter`): a group
      // filter applies as soon as every var it reads is CERTAINLY
      // bound. Equivalence: for vars certain in A, Filter(A) JOIN B ==
      // Filter(A JOIN B), and the same through a left join / MINUS
      // with A on the left — per-row predicates commute with joins
      // that cannot change the referenced values. EXISTS filters are
      // EXCLUDED (they read the whole group's solution, and varsOf
      // doesn't see into the subpattern); so are var-free filters
      // (constant conditions — cheap anywhere, keep group-end order).
      var pending = filters
      def placeable(f: Expr): Boolean =
        existsSubterms(f).isEmpty && varsOf(f).nonEmpty
      def filterEarly(b: Bindings): Bindings = {
        val (ready, rest) = pending.partition(f =>
          placeable(f) && varsOf(f).subsetOf(b.certain))
        pending = rest
        ready.foldLeft(b)((x, f) => filter(x, f, gvar, gRids))
      }
      def fold(b: Bindings): Unit = {
        acc = Some(acc.map(a => join(a, b)).getOrElse(b))
        acc = acc.map(filterEarly)
      }
      // the reference executes a group's mandatory patterns before a
      // LEADING OPTIONAL/MINUS (block scheduling in
      // `fs_query_process_pattern`; golden test foaf-optional-order:
      // `{ OPTIONAL {...} ?x foaf:knows ?p }` keeps knows-rows the
      // OPTIONAL doesn't cover). Only the leading run moves — an
      // OPTIONAL/MINUS after other elements stays in place so BIND/
      // VALUES that follow it still see its variables.
      val (lead, rest) = elems.span {
        case _: OptionalGP | _: MinusGP => true
        case _ => false
      }
      // the deferred leading run re-enters before any BIND/VALUES so
      // expressions that reference its variables still see them
      val (pats, tail) = rest.span {
        case _: BindGP | _: ValuesGP => false
        case _ => true
      }
      // a constant GRAPH outside the FROM NAMED set matches nothing
      def constGraph(t: Term): Seq[Long] = {
        val rid = Rid.of(t)
        if (namedGRids.forall(_.contains(rid))) Seq(rid) else Nil
      }
      (pats ++ lead ++ tail).foreach {
        case OptionalGP(inner) =>
          val left = acc.getOrElse(unit)
          acc = Some(filterEarly(optionalJoin(left, inner, gvar, gRids,
            needHere, namedGRids)))
        case MinusGP(inner) =>
          val left = acc.getOrElse(unit)
          acc = Some(filterEarly(minus(left,
            pattern(inner, gvar, gRids, namedGRids = namedGRids))))
        case GraphGP(PVar(v), inner) =>
          fold(filterEarly(
            pattern(inner, Some(v), namedGRids, needHere, namedGRids)))
        case GraphGP(PConst(t), inner) =>
          fold(filterEarly(pattern(inner, None, Some(constGraph(t)),
            needHere, namedGRids)))
        case BindGP(e, v) =>
          val left = acc.getOrElse(unit)
          acc = Some(filterEarly(extend(left, v, e, gvar, gRids)))
        case u: UnionGP =>
          fold(filterEarly(pattern(u, gvar, gRids, needHere, namedGRids)))
        case v: ValuesGP => fold(filterEarly(valuesTable(v)))
        case sv: ServiceGP =>
          // bound join: the already-accumulated left side constrains the
          // remote fetch (see serviceBindings)
          fold(serviceBindings(sv, acc))
        case other =>
          // single-pattern placement: a filter whose vars this pattern
          // certainly binds prunes AT ITS SCAN, before any join (the
          // `early` hook reaches inside the BGP's own join fold)
          fold(pattern(other, gvar, gRids, needHere, namedGRids,
            filterEarly))
      }
      val base = acc.getOrElse(unit)
      pending.foldLeft(base)((b, f) => filter(b, f, gvar, gRids))
    case UnionGP(alts) =>
      // union() aligns value columns across every branch var, so resolve
      // all of them at the scan (cheaper than per-var dictionary joins)
      union(alts.map(pattern(_, gvar, gRids, _ => true, namedGRids)))
    case OptionalGP(inner) => // top-level OPTIONAL: join with unit
      optionalJoin(unit, inner, gvar, gRids, need, namedGRids)
    case MinusGP(_) => unit
    case GraphGP(PVar(v), inner) =>
      pattern(inner, Some(v), namedGRids, need, namedGRids)
    case GraphGP(PConst(t), inner) =>
      val rid = Rid.of(t)
      val allowed =
        if (namedGRids.forall(_.contains(rid))) Seq(rid) else Nil
      pattern(inner, None, Some(allowed), need, namedGRids)
    case BindGP(e, v) => extend(unit, v, e)
    case v: ValuesGP => valuesTable(v)
    case p: PathGP => pathPattern(p, gvar, gRids)
    // subquery: evaluate bottom-up against the same dataset scope and
    // join its projected bindings into the outer pattern (SPARQL 1.1 §12)
    case s: SubSelectGP =>
      Sparql.selectBindings(store, spark, s.q, gRids, namedGRids)
    case sv: ServiceGP => serviceBindings(sv, None)
  }

  /** Variables a graph pattern MENTIONS (over-approximation is safe for
    * the bound-join clause builder: a clause for a var the remote never
    * binds passes every remote row via !BOUND). */
  def gpVars(gp: GP): Set[String] = gp match {
    case BGPat(ts) => ts.flatMap(t => Seq(t.s, t.p, t.o)).collect {
      case PVar(v) => v }.toSet
    case GroupGP(elems, filters) =>
      elems.flatMap(gpVars).toSet ++ filters.flatMap(varsOf)
    case OptionalGP(i) => gpVars(i)
    case UnionGP(alts) => alts.flatMap(gpVars).toSet
    case MinusGP(_) => Set.empty // MINUS vars don't escape
    case GraphGP(g, i) =>
      gpVars(i) ++ (g match { case PVar(v) => Set(v); case _ => Set.empty })
    case BindGP(e, v) => varsOf(e) + v
    case ValuesGP(vs, _) => vs.toSet
    case PathGP(s, _, o) =>
      Seq(s, o).collect { case PVar(v) => v }.toSet
    case SubSelectGP(q) => q.items.flatMap(i =>
      i.as.toSeq ++ (i.expr match { case EVar(v) => Seq(v); case _ => Nil })
    ).toSet
    case sv: ServiceGP => gpVars(sv.inner)
  }

  def extend(b: Bindings, v: String, e: Expr,
             gvar: Option[String] = None,
             gRids: Option[Seq[Long]] = None): Bindings = {
    val needed = varsOf(e)
    // BIND(EXISTS{..} AS ?f) and friends: flags first (§17.4.1.4)
    val (xb, exSub) = resolveExists(b, e, gvar, gRids)
    val eb = ensureValues(xb, needed)
    // a BIND input var the group never binds is the unbound value (so
    // e.g. COALESCE(?never, "x") binds "x", not an analysis error)
    val unboundSub: Map[Expr, V] = (needed diff eb.vars)
      .map(x => (EVar(x): Expr) -> V.nul).toMap
    // deep expressions compile STAGED (sub-expression sharing, see
    // Compiler.compileStaged) — a BIND is a projection, and
    // CollapseProject keeps the levels from re-inlining
    val sdf0 = Compiler.saltInput(eb.df, Seq(e))
    val (bdf, value, tmp) = Compiler.withRowSalt(sdf0) {
      if (Compiler.nestDepth(e) <= 1)
        (sdf0, Compiler.compile(e, unboundSub ++ exSub), Seq.empty[String])
      else Compiler.compileStaged(sdf0, e, unboundSub ++ exSub)
    }
    val keep = bdf.columns.filterNot(c =>
      c == "__eid" || c.startsWith("__ex_") || tmp.contains(c) ||
        c == Compiler.BnodeRowIdCol)
    val df = bdf.select(keep.map(col) ++ Seq(
      value.rid.as(v), value.lex.as(s"${v}__lex"),
      value.dt.as(s"${v}__dt"),
      coalesce(value.lang, lit("")).as(s"${v}__lang")): _*)
    Bindings(df, eb.varsOrdered :+ v, eb.certain, eb.valued + v)
  }

  def filter(b: Bindings, f: Expr, gvar: Option[String],
             gRids: Option[Seq[Long]]): Bindings = f match {
    case EExists(p, neg) =>
      val inner = pattern(p, gvar, gRids)
      val shared = (b.vars intersect inner.vars).toSeq.sorted
      val (rdf, ren) = renamedRight(inner)
      val jt = if (neg) "left_anti" else "left_semi"
      val lMaybe = shared.filterNot(b.certain)
      val rMaybe = shared.filterNot(inner.certain)
      val bothCertain = shared.filter(v => b.certain(v) && inner.certain(v))
      if (shared.isEmpty)
        // EXISTS over a disjoint pattern only probes non-emptiness:
        // limit(1) keeps the degenerate cross-probe O(1)
        b.copy(df = b.df.join(rdf.limit(1), lit(true), jt))
      else if (bothCertain.nonEmpty) {
        // equi keys on both-certain vars; compat ORs as join residual
        val cond = shared.map { v =>
          if (b.certain(v) && inner.certain(v)) col(v) === col(ren(v))
          else col(v).isNull || col(ren(v)).isNull || col(v) === col(ren(v))
        }.reduce(_ && _)
        b.copy(df = b.df.join(rdf, cond, jt))
      } else if (lMaybe.size + rMaybe.size <= 3) {
        if (neg)
          b.copy(df = compatRemove(b.df, rdf, ren, shared, lMaybe, rMaybe,
            requireOverlap = false))
        else {
          // EXISTS = NOT(NOT EXISTS): remove the non-matching rows via a
          // pinned row id (bag semantics preserved, every join keyed)
          val lw = b.df.withColumn("__lid", monotonically_increasing_id())
            .localCheckpoint()
          val nonMatching = compatRemove(lw, rdf, ren, shared, lMaybe,
            rMaybe, requireOverlap = false)
          b.copy(df = lw.join(nonMatching.select(col("__lid")),
            Seq("__lid"), "left_anti").drop("__lid"))
        }
      } else {
        val cond = shared.map(v => col(v).isNull || col(ren(v)).isNull ||
          col(v) === col(ren(v))).reduce(_ && _)
        b.copy(df = b.df.join(rdf, cond, jt))
      }
    case ECall("&&", List(a, c)) => // split conjunctions for EXISTS support
      filter(filter(b, a, gvar, gRids), c, gvar, gRids)
    case _ =>
      val (xb, exSub) = resolveExists(b, f, gvar, gRids)
      val eb = ensureValues(xb, varsOf(f))
      // a filter var the group never binds is the unbound value: the
      // expression becomes a type error and drops the row (reference
      // behavior — `fs_binding_apply_filters` passes FS_RID_NULL)
      val unboundSub: Map[Expr, V] = (varsOf(f) diff eb.vars)
        .map(v => (EVar(v): Expr) -> V.nul).toMap
      // deep expressions compile STAGED (sub-expression sharing), and
      // EVERY compiled filter is PINNED behind a nondeterministic
      // projection column: predicate pushdown has no duplication
      // cost-check, so pushing a compiled predicate through the staged
      // levels — or through an upstream BIND's materialized columns
      // (dataflow depth accumulates across BIND -> FILTER even when
      // this expression itself is shallow) — substitutes each
      // referenced column's whole definition per reference,
      // exponentially (observed: 142k-line generated files, janino
      // 64 KB overflow, interpreted fallback). The pin must be a
      // PROJECT FIELD (PushPredicateThroughNonJoin guards on the
      // project's fields being deterministic, not the condition), and
      // the filter must REFERENCE it so column pruning can't strip it.
      // Lost scan-pushdown is no loss: a compiled term-typed predicate
      // is a case-when tree no source can use for skipping.
      val sdf0 = Compiler.saltInput(eb.df, Seq(f))
      val (sdf, v, tmp) = Compiler.withRowSalt(sdf0) {
        if (Compiler.nestDepth(f) <= 1)
          (sdf0, Compiler.compile(f, unboundSub ++ exSub),
            Seq.empty[String])
        else Compiler.compileStaged(sdf0, f, unboundSub ++ exSub)
      }
      val out = sdf.withColumn("__pin", monotonically_increasing_id())
        .filter(v.ebv === true && col("__pin") >= 0)
        .drop(tmp :+ "__pin": _*)
      eb.copy(df = out.drop(out.columns.filter(c =>
        c == "__eid" || c.startsWith("__ex_") ||
          c == Compiler.BnodeRowIdCol): _*))
  }

  /** EXISTS nested inside a larger expression (`EXISTS{..} || ?p`,
    * `IF(EXISTS{..}, ..)`, BIND): SPARQL 1.1 §17.4.1.4 makes it a
    * per-solution boolean. Compute each one with the SAME semi-join
    * machinery as a top-level FILTER EXISTS — against a row id, so bag
    * semantics survive — and hand the compiler a node -> boolean-column
    * substitution. No correlated subquery, no per-row re-evaluation:
    * one distributed join per EXISTS whatever the row count. */
  private def existsSubterms(e: Expr): List[Expr] = e match {
    case x: EExists => List(x)
    case ECall(_, args) => args.flatMap(existsSubterms)
    case EIn(x, list, _) => (x :: list).flatMap(existsSubterms)
    case _ => Nil
  }

  private def resolveExists(b: Bindings, e: Expr, gvar: Option[String],
      gRids: Option[Seq[Long]]): (Bindings, Map[Expr, V]) = {
    val exs = existsSubterms(e).distinct
    if (exs.isEmpty) return (b, Map.empty)
    var cur = b.copy(df = b.df.withColumn("__eid",
      monotonically_increasing_id()).localCheckpoint())
    var sub = Map.empty[Expr, V]
    exs.zipWithIndex.foreach { case (ex, i) =>
      // the top-level-EExists branch of [[filter]] keeps exactly the
      // rows where `ex` holds; their ids become the true-flag set
      val kept = filter(cur, ex, gvar, gRids)
      val ids = kept.df.select(col("__eid")).distinct()
        .withColumn(s"__ex_$i", lit(true))
      cur = cur.copy(df = cur.df.join(ids, Seq("__eid"), "left"))
      sub += (ex -> V.ofBool(coalesce(col(s"__ex_$i"), lit(false))))
    }
    (cur, sub)
  }

  // ------------------------------------------------------------ SERVICE

  /** SPARQL 1.1 Federated Query (§2 — extension; the reference has no
    * federation): ship the sub-pattern to the remote endpoint as a
    * standalone `SELECT *`, parse the TSV result (NT-serialized cells)
    * back into terms, and expose them as an inline binding table — the
    * same shape VALUES takes, so compatibility-join semantics apply
    * unchanged. SILENT turns transport/remote errors into the empty
    * (unit) binding, per §4.
    *
    * Scale: the response streams to a spill file as it downloads, so
    * driver memory never holds the whole body. Small results (<=
    * `spark.graft.service.maxLocalBytes`, default 8 MiB) parse locally
    * into a LocalRelation (exact size stats -> guaranteed broadcast);
    * larger ones parse DISTRIBUTED from the spill file — written under
    * the warehouse dir so cluster executors can read it back. */
  /** FedX-style bound join, in its purely-REDUCTIVE form: when the
    * group's already-evaluated left side is in scope, ship per-variable
    * `FILTER(!BOUND(?v) || !isIRI(?v) || ?v IN (<u1>, ...))` clauses
    * with the remote query for every shared var whose left column is
    * certain (never NULL) and whose distinct IRI value set is small.
    * A filter can only REMOVE remote solutions that could not have
    * joined (a remote row dropped by the clause binds ?v to an IRI
    * outside the left side's complete IRI set), so multiplicity and
    * compatibility semantics are untouched — unlike VALUES injection,
    * which joins and can inflate multiplicity when the remote leaves a
    * shared var unbound. Unconstrainable vars (maybe-NULL, non-IRI
    * values, too many distinct IRIs, unrenderable IRIs) simply get no
    * clause.
    *
    * Caps: `spark.graft.service.boundJoinMax` distinct IRIs per IN
    * list (default 50); `-O 0` disables. Past `boundJoinMax` the
    * clause is NOT dropped immediately: up to
    * `spark.graft.service.boundJoinShipMax` total IRIs (default
    * 4×max; honored as configured — a shipMax BELOW max bounds the
    * single chunk rather than being clamped up) ship as
    * min(max, shipMax)-sized IN chunks OR'd INSIDE the one FILTER —
    * `FILTER(!BOUND(?v) || !isIRI(?v) || ?v IN (c1…) || ?v IN (c2…))`
    * — which is purely reductive by the same argument as a single IN
    * (the union of the chunks IS the left side's complete IRI set;
    * chunking only works around remote parsers that cap IN-list
    * length — separate ANDed FILTERs would instead intersect the
    * chunks and drop joinable rows). Measured in EndpointSpec's
    * capture test: at max+10 bindings the old shape degraded to the
    * FULL remote relation; the chunked clause fetches exactly the
    * joinable rows. Only past `boundJoinShipMax` does the var go
    * unconstrained (the query-size-vs-reduction tradeoff cap). */
  private def boundJoinClauses(sv: ServiceGP,
                               left: Option[Bindings]): String = {
    val l = left.getOrElse(return "")
    if (Exec.optLevel < 1) return ""
    val max = spark.conf.getOption("spark.graft.service.boundJoinMax")
      .map(_.toInt).getOrElse(50)
    if (max <= 0) return ""
    // the TOTAL cap is honored as configured — a shipMax BELOW max
    // simply bounds the single chunk (a fragile remote parser may
    // need a tighter total than the per-chunk default, and silently
    // clamping it back up would ignore the operator's cap)
    val ship = math.max(1, spark.conf
      .getOption("spark.graft.service.boundJoinShipMax")
      .map(_.toInt).getOrElse(4 * max))
    val chunk = math.min(max, ship)
    val shared = (gpVars(sv.inner) intersect l.certain).toSeq.sorted
    if (shared.isEmpty) return ""
    // ONE resolve pass for every shared var, cached: an expensive left
    // plan (e.g. a SERVICE after a big join) would otherwise re-run per
    // var at probe time and once more at execution
    val vb = ensureValues(l, shared.toSet)
    val cachedLeft = vb.df.cache()
    try {
      val clauses = shared.flatMap { v =>
        val rows = cachedLeft.filter(Rid.isUriCol(col(v)))
          .select(col(s"${v}__lex"))
          .distinct().limit(ship + 1)
          .collect()
        // a URI rid whose dictionary row is absent resolves to a null
        // lex: its IRI is UNKNOWN, so no IN list we could ship is a
        // superset of the left side's IRI set — emit no constraining
        // clause for this var at all (a clause missing just that IRI
        // would drop joinable remote rows). distinct() keeps null as a
        // value, so if any null exists it is either sampled here or the
        // sample already exceeds `ship` and falls to None below.
        if (rows.exists(_.isNullAt(0))) None
        else {
        val uris = rows.map(_.getString(0)).toSeq
        // renderability: an IRI with NT-delimiter bytes can't ship safely
        if (uris.size > ship ||
            uris.exists(u => u.exists(c => c == '>' || c == '<' ||
              c == '"' || c == ' ' || c < ' ')))
          None
        else if (uris.isEmpty)
          Some(s"FILTER(!BOUND(?$v) || !isIRI(?$v))")
        else {
          // max-sized IN chunks OR'd inside ONE filter — reductive
          // (union = complete IRI set); see the cap scaladoc above
          val ins = uris.grouped(chunk).map(c => c.map(u => s"<$u>")
            .mkString(s"?$v IN (", ", ", ")")).mkString(" || ")
          Some(s"FILTER(!BOUND(?$v) || !isIRI(?$v) || $ins)")
        }
        }
      }
      if (clauses.isEmpty) "" else clauses.mkString(" ", " ", " ")
    } finally cachedLeft.unpersist(blocking = false)
  }

  private def serviceBindings(sv: ServiceGP,
                              left: Option[Bindings]): Bindings =
    try {
      val url = sv.endpoint match {
        case PConst(Uri(u)) => u
        case _ => throw new IllegalArgumentException(
          "SERVICE endpoint must be a constant IRI")
      }
      // SSRF guard: the IRI comes from untrusted query text; the policy
      // in scope (Federation, set by the HTTP endpoint) decides whether
      // this server may originate a request to it
      if (!Federation.allowed(url))
        throw new SecurityException(
          s"SERVICE not permitted to $url by federation policy")
      val q = (if (sv.prologue.nonEmpty) sv.prologue + "\n" else "") +
        "SELECT * WHERE { " + sv.raw + boundJoinClauses(sv, left) + " }"
      val conn = new java.net.URI(url).toURL.openConnection()
        .asInstanceOf[java.net.HttpURLConnection]
      conn.setRequestMethod("POST")
      // configurable: a federation against flaky peers wants tighter
      // bounds than the defaults (10 s connect / 120 s read)
      conn.setConnectTimeout(spark.conf
        .getOption("spark.graft.service.connectTimeoutMs")
        .map(_.toInt).getOrElse(10000))
      conn.setReadTimeout(spark.conf
        .getOption("spark.graft.service.readTimeoutMs")
        .map(_.toInt).getOrElse(120000))
      conn.setRequestProperty("Content-Type",
        "application/x-www-form-urlencoded")
      conn.setRequestProperty("Accept", "text/tab-separated-values")
      conn.setDoOutput(true)
      conn.getOutputStream.write(("query=" +
        java.net.URLEncoder.encode(q, "UTF-8")).getBytes("UTF-8"))
      val code = conn.getResponseCode
      if (code >= 400)
        throw new java.io.IOException(s"SERVICE $url: HTTP $code")
      // stream the body to a spill file under the warehouse (shared
      // storage on a cluster) — the driver holds one buffer, not the
      // whole response
      val hconf = spark.sparkContext.hadoopConfiguration
      val spill = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"),
        s"_service_spill/${java.util.UUID.randomUUID()}.tsv")
      val fs = spill.getFileSystem(hconf)
      val in = conn.getInputStream
      val out = fs.create(spill, true)
      val buf = new Array[Byte](1 << 16)
      var total = 0L
      var n = in.read(buf)
      while (n >= 0) {
        if (n > 0) { out.write(buf, 0, n); total += n }
        n = in.read(buf)
      }
      out.close(); in.close()
      // a peer that died mid-response: with a Content-Length on the
      // wire, short payloads are detectable — fail rather than parse a
      // truncated row set as if it were complete
      val promised = conn.getContentLengthLong
      if (promised >= 0 && total != promised)
        throw new java.io.IOException(
          s"SERVICE $url: truncated response ($total of $promised bytes)")
      val maxLocal = spark.conf
        .getOption("spark.graft.service.maxLocalBytes")
        .map(_.toLong).getOrElse(8L << 20)
      val header = {
        val r = new java.io.BufferedReader(new java.io.InputStreamReader(
          fs.open(spill), java.nio.charset.StandardCharsets.UTF_8))
        try Option(r.readLine()).getOrElse("") finally r.close()
      }
      val vars = header.split("\t").toList
        .filter(_.nonEmpty).map(_.stripPrefix("?"))
      if (total <= maxLocal) {
        // small: parse on the driver into a LocalRelation (exact stats)
        val body = {
          val s = fs.open(spill)
          try new String(s.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8)
          finally s.close()
        }
        fs.delete(spill, false)
        val rows = body.split("\n", -1).toList.tail.filter(_.nonEmpty)
          .map { l =>
            val cells = l.split("\t", -1).toList.padTo(vars.size, "")
            cells.take(vars.size).map { c =>
              // whitespace-only cells are unbound, same as empty — they
              // must not reach parseTerm (which trims to empty → None →
              // a spurious "malformed term" raise)
              if (c.trim.isEmpty) None
              else NTriples.parseTerm(Exec.tsvUnescape(c)) match {
                case some @ Some(_) => some
                case None => // NT-marked but unparseable: broken peer
                  throw new java.io.IOException(
                    s"SERVICE returned malformed term: ${c.take(80)}")
              }
            }
          }
        valuesTable(ValuesGP(vars, rows))
      } else {
        // large: distributed parse straight off the spill file; the
        // first line of split 0 is the header. The file outlives this
        // method (the plan reads it lazily) — cleaned at JVM exit.
        fs.deleteOnExit(spill)
        val nv = vars.size
        val rdd = spark.read.textFile(spill.toString).rdd
          .mapPartitionsWithIndex((i, it) => if (i == 0) it.drop(1) else it)
          .filter(_.nonEmpty)
          .map(l => org.apache.spark.sql.Row
            .fromSeq(Exec.serviceRowValues(l, nv)))
        val schema = org.apache.spark.sql.types.StructType(vars.flatMap { vn =>
          import org.apache.spark.sql.types._
          Seq(StructField(vn, LongType), StructField(s"${vn}__lex", StringType),
            StructField(s"${vn}__dt", LongType),
            StructField(s"${vn}__lang", StringType))
        })
        // certainty unknown without a scan: every var stays maybe-null,
        // which keeps the compat-join semantics correct (just less
        // optimized than the LocalRelation path)
        Bindings(spark.createDataFrame(rdd, schema), vars,
          Set.empty, vars.toSet)
      }
    } catch {
      case e: Exception =>
        if (sv.silent) unit
        else throw new RuntimeException(s"SERVICE failed: ${e.getMessage}", e)
    }

  private def valuesTable(v: ValuesGP): Bindings = {
    val rows = v.rows.map { row =>
      org.apache.spark.sql.Row.fromSeq(row.flatMap {
        case Some(t) =>
          val (lex, dt, lang) = t match {
            case Uri(u) => (u, 0L, "")
            case BNode(bn) => (bn, 0L, "")
            case Lit(l, d, g) => (l, Rid.attr(d, g), g)
          }
          Seq(Rid.of(t), lex, dt, lang)
        case None => Seq(null, null, null, null)
      })
    }
    val schema = org.apache.spark.sql.types.StructType(v.vars.flatMap { n =>
      import org.apache.spark.sql.types._
      Seq(StructField(n, LongType), StructField(s"${n}__lex", StringType),
        StructField(s"${n}__dt", LongType), StructField(s"${n}__lang", StringType))
    })
    // LocalRelation, not parallelize: a local-collection DataFrame carries
    // exact size stats (guaranteed broadcast), costs no RDD job, and is
    // visible to constant folding — the inline-table analog of the
    // reference's pre-bound rid vectors (`fs_query_bind_first`)
    import scala.jdk.CollectionConverters._
    val df = spark.createDataFrame(rows.toList.asJava, schema)
    // a var bound in EVERY row is certain: only UNDEF introduces NULLs
    // (keeps joins against fully-bound VALUES on the plain equi-join path)
    val certain = v.vars.zipWithIndex.filter { case (_, i) =>
      v.rows.forall(_(i).isDefined)
    }.map(_._1).toSet
    Bindings(df, v.vars, certain, v.vars.toSet)
  }

  def varsOf(e: Expr): Set[String] = e match {
    case EVar(v) => Set(v)
    case ECall(_, args) => args.flatMap(varsOf).toSet
    case EIn(x, l, _) => varsOf(x) ++ l.flatMap(varsOf)
    case EAgg(_, _, arg, _) => arg.map(varsOf).getOrElse(Set.empty)
    case _ => Set.empty
  }
}
