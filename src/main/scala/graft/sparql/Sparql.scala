package graft.sparql

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.rdf._
import Ast._

/** The engine facade: SPARQL text -> DataFrame, mirroring the reference's
  * query lifecycle (`fs_query_execute`, `src/frontend/query.c:337-697`):
  * parse -> pattern execution (Exec) -> aggregation -> solution modifiers
  * -> projection/serialization.
  *
  * Output conventions:
  *  - SELECT: one string column per projected item (lexical form; URIs as
  *    plain strings). Callers cast to typed columns as needed.
  *  - ASK: single row, boolean column `ask`.
  *  - CONSTRUCT / DESCRIBE: columns `s`, `p`, `o` in N-Triples syntax.
  */
object Sparql {
  import WellKnown._

  /** Parse `text` once and build it through the plan cache
    * ([[PlanCache]]); `key` tags the output form. SPARQL 1.1 Protocol
    * §2.1.4: a protocol-supplied `dataset` (default-graph-uri= /
    * named-graph-uri=) OVERRIDES the query's own FROM / FROM NAMED
    * clause, and is part of the key. */
  private def prepare(store: QuadStore, key: String, text: String,
                      dataset: Option[(List[String], List[String])])(
      build: Query => DataFrame): PlanCache.Prepared =
    PlanCache(store, dataset.fold("")(d => s"ds[${d._1.mkString(",")}|${
        d._2.mkString(",")}]:") + key) {
      val parsed = Parser.parse(text)
      val q = dataset match {
        case Some((d, n)) => parsed match {
          case s: SelectQ =>
            s.copy(mods = s.mods.copy(dataset = d, datasetNamed = n))
          case a: AskQ => a.copy(dataset = d, datasetNamed = n)
          case c: ConstructQ =>
            c.copy(mods = c.mods.copy(dataset = d, datasetNamed = n))
          case dq: DescribeQ =>
            dq.copy(mods = dq.mods.copy(dataset = d, datasetNamed = n))
        }
        case None => parsed
      }
      (q, build(q))
    }

  private def build(store: QuadStore, spark: SparkSession,
                    terms: Boolean)(q: Query): DataFrame = q match {
    case s: SelectQ    => select(store, spark, s, terms)
    case a: AskQ       => ask(store, spark, a)
    case c: ConstructQ => construct(store, spark, c)
    case d: DescribeQ  => describe(store, spark, d)
  }

  def run(store: QuadStore, spark: SparkSession, text: String): DataFrame =
    prepare(store, "run:" + text, text, None)(
      build(store, spark, terms = false)).df

  /** Like [[run]], but SELECT projects each item as a full term struct
    * `(rid, lex, dt, lang)` instead of a lexical string — the form result
    * serializers need (term kind + datatype + language survive to the
    * sink, reference `fs_resource` rows reaching `output_*`,
    * `src/frontend/results.c:1468+`). DISTINCT in this mode is exact
    * term-distinct. ASK/CONSTRUCT/DESCRIBE are unchanged. */
  def runTerms(store: QuadStore, spark: SparkSession,
               text: String): DataFrame =
    prepare(store, "terms:" + text, text, None)(
      build(store, spark, terms = true)).df

  /** Like [[run]], but SELECT columns carry N-Triples-serialized term
    * strings (`<u>`, `"lit"@lang`, `"5"^^<dt>`, `_:b`) so term kind,
    * datatype and language survive the wire — what the HTTP result
    * serializers sniff ([[graft.sinks.Results]] `termJson`/`xmlBinding`)
    * and what SERVICE peers parse back. ASK/CONSTRUCT/DESCRIBE are
    * [[run]] unchanged. A repeat returns the cached frame itself, which
    * the result writers serve from its kept rows. */
  def runNt(store: QuadStore, spark: SparkSession, text: String): DataFrame =
    prepareNt(store, spark, text).df

  /** [[runNt]] with the query form, parsing `text` at most once (not at
    * all on a cache hit). `dsDefault` / `dsNamed`: the SPARQL 1.1
    * Protocol dataset override — when either list is non-empty,
    * (default-graph-uri list, named-graph-uri list) replaces the query's
    * FROM / FROM NAMED clause. */
  def prepareNt(store: QuadStore, spark: SparkSession, text: String,
                dsDefault: List[String] = Nil,
                dsNamed: List[String] = Nil): PlanCache.Prepared = {
    val ds = if (dsDefault.isEmpty && dsNamed.isEmpty) None
             else Some((dsDefault, dsNamed))
    prepare(store, "nt:" + text, text, ds) {
      case s: SelectQ =>
        val df = select(store, spark, s, terms = true)
        val dtm = store.dtUriMap
        df.select(df.columns.map { c =>
          val st = col(c)
          ntTermCol(V(st.getField("rid"), st.getField("lex"),
            st.getField("dt"), st.getField("lang")), dtm).as(c)
        }: _*)
      case q => build(store, spark, terms = false)(q)
    }
  }

  /** FROM / FROM NAMED -> (default-scope graph RIDs, named-scope graph
    * RIDs). A dataset clause defines BOTH scopes (SPARQL 1.1 §13.2):
    * FROM-only means GRAPH patterns range over an empty named set. */
  private def datasetRidsOf(ds: List[String], named: List[String])
      : (Option[Seq[Long]], Option[Seq[Long]]) =
    if (ds.isEmpty && named.isEmpty) (None, None)
    else (Some(ds.map(u => Rid.uri(u))), Some(named.map(u => Rid.uri(u))))

  private def datasetRids(m: Modifiers)
      : (Option[Seq[Long]], Option[Seq[Long]]) =
    datasetRidsOf(m.dataset, m.datasetNamed)

  // ------------------------------------------------------------- SELECT

  private def collectAggs(e: Expr): Seq[EAgg] = e match {
    case a: EAgg => Seq(a)
    case ECall(_, args) => args.flatMap(collectAggs)
    case EIn(x, l, _) => collectAggs(x) ++ l.flatMap(collectAggs)
    case _ => Nil
  }

  private def select(store: QuadStore, spark: SparkSession,
                     q: SelectQ, terms: Boolean = false): DataFrame = {
    val (dsRids, namedRids) = datasetRids(q.mods)
    val sb = selectBindings(store, spark, q, dsRids, namedRids)
    val cols = sb.varsOrdered.map { n =>
      val v = V.ofVar(n)
      (if (terms) struct(v.rid.as("rid"), v.lex.as("lex"), v.dt.as("dt"),
        coalesce(v.lang, lit("")).as("lang"))
       else v.anyLex).as(n)
    }
    sb.df.select(cols: _*)
  }

  /** SELECT to a binding table (rid + value columns per projected var):
    * the whole SELECT pipeline — pattern, aggregation, HAVING, projection,
    * DISTINCT (term identity, like the reference's RID sort+uniq), ORDER,
    * OFFSET/LIMIT — reusable both by [[select]] output formatting and as a
    * `{ SELECT ... }` subquery inside an outer pattern (SPARQL 1.1 §12,
    * which the reference rejects at `src/frontend/query.c:1388-1390`). */
  private[sparql] def selectBindings(
      store: QuadStore, spark: SparkSession, q: SelectQ,
      dsRids: Option[Seq[Long]], namedRids: Option[Seq[Long]]): Bindings = {
    val exec = new Exec(store, spark)
    // vars whose values any output expression needs — resolved at the
    // pattern scan when the store carries inline values (SELECT * needs
    // every var)
    val topNeeded =
      (q.items.map(_.expr) ++ q.mods.having ++ q.mods.groupBy ++
        q.mods.orderBy.map(_._1)).flatMap(e => varsOfExpr(e)).toSet
    val needFn: String => Boolean =
      if (q.items.isEmpty) _ => true else topNeeded
    var b = exec.pattern(q.where, gRids = dsRids, need = needFn,
      namedGRids = namedRids)
    val certainBefore = b.certain

    val items: List[SelectItem] =
      if (q.items.nonEmpty) q.items
      else b.varsOrdered.filterNot(_.startsWith("__bn_")) // query bnodes
        .map(v => SelectItem(EVar(v), None)).toList

    val allAggs = (items.map(_.expr) ++ q.mods.having)
      .flatMap(collectAggs).distinct
    val grouped = allAggs.nonEmpty || q.mods.groupBy.nonEmpty

    // vars whose values any expression needs
    val neededVars =
      (items.map(_.expr) ++ q.mods.having ++ q.mods.groupBy ++
        q.mods.orderBy.map(_._1)).flatMap(e => varsOfExpr(e)).toSet
    b = exec.ensureValues(b, neededVars ++
      (if (grouped) q.mods.groupBy.flatMap(varsOfExpr).toSet
       else Set.empty[String]))

    var aggSub = Map.empty[Expr, V]
    if (grouped) {
      // group keys: plain vars AND computed expressions keep their
      // 4-column term identity; expression keys get substituted back
      // into projection/HAVING/ORDER BY like aggregate results
      b = b.copy(df = Compiler.saltInput(b.df, q.mods.groupBy))
      val keyCols: Seq[Column] = q.mods.groupBy.zipWithIndex.flatMap {
        case (EVar(v), _) => Seq(col(v), col(s"${v}__lex"),
          col(s"${v}__dt"), col(s"${v}__lang"))
        case (e, i) =>
          val kv = Compiler.withRowSalt(b.df)(Compiler.compile(e))
          val kn = s"__k_$i"
          aggSub += (e: Expr) -> V(col(kn), col(s"${kn}__lex"),
            col(s"${kn}__dt"), col(s"${kn}__lang"))
          Seq(kv.rid.as(kn), kv.lex.as(s"${kn}__lex"),
            kv.dt.as(s"${kn}__dt"),
            coalesce(kv.lang, lit("")).as(s"${kn}__lang"))
      }
      val aggCols: Seq[Column] = allAggs.zipWithIndex.map {
        case (a, i) => aggColumn(a).as(s"__agg_$i")
      }
      val df =
        if (keyCols.isEmpty) b.df.agg(aggCols.head, aggCols.tail: _*)
        else b.df.groupBy(keyCols: _*).agg(aggCols.head, aggCols.tail: _*)
      aggSub ++= allAggs.zipWithIndex.map { case (a, i) =>
        (a: Expr) -> aggResultV(a, col(s"__agg_$i"))
      }
      val groupVars = q.mods.groupBy.collect { case EVar(v) => v }
      b = Bindings(df, groupVars, groupVars.toSet, groupVars.toSet)
      // HAVING (`apply_constraints` mask, `src/frontend/results.c`)
      q.mods.having.foreach { h =>
        b = b.copy(df = Compiler.saltInput(b.df, Seq(h)))
        b = b.copy(df = Compiler.withRowSalt(b.df) {
          if (Compiler.nestDepth(h) <= 1)
            b.df.filter(Compiler.compile(h, aggSub).ebv === true)
          else {
            // deep condition: staged compile + nondeterministic pin
            // COLUMN, same blowup defense as Exec.filter
            val (hdf, v, tmp) = Compiler.compileStaged(b.df, h, aggSub)
            hdf.withColumn("__pin", monotonically_increasing_id())
              .filter(v.ebv === true && col("__pin") >= 0)
              .drop(tmp :+ "__pin": _*)
          }
        })
        b = b.copy(df = b.df.drop(Compiler.BnodeRowIdCol))
      }
    }

    // projection values; a projected var the pattern never binds (legal
    // SPARQL, reference warns "selected but is unused") is the unbound V.
    // Deep item expressions compile STAGED (sub-expression sharing, see
    // Compiler.compileStagedMany): each nested operator's term view
    // materializes once as intermediate columns instead of re-inlining
    // per reference — without it a depth-2 arithmetic SELECT expression
    // overflows janino's 64 KB method limit.
    def isUnbound(e: Expr): Boolean = e match {
      case EVar(v) => !b.df.columns.contains(v) && !aggSub.contains(e)
      case _ => false
    }
    val stageRoots = items.map(_.expr).filterNot(isUnbound)
    val itemsDf = Compiler.saltInput(b.df, stageRoots)
    val (stagedDf, itemEnv, _) = Compiler.withRowSalt(itemsDf)(
      Compiler.compileStagedMany(itemsDf, stageRoots, aggSub))
    var bdf = stagedDf
    def compileOrNull(e: Expr): V =
      if (isUnbound(e)) V.nul else itemEnv(e)
    val named: Seq[(String, V)] = items.zipWithIndex.map {
      case (SelectItem(EVar(v), None), _) => v -> compileOrNull(EVar(v))
      case (SelectItem(e, Some(a)), _) => a -> compileOrNull(e)
      case (SelectItem(e, None), i) => s"expr$i" -> compileOrNull(e)
    }

    // one projection for outputs AND order keys (a withColumn per item
    // re-analyzes the whole plan; SPARQL bindings carry 4 columns per var
    // so small-query latency was all Catalyst)
    // ORDER BY keys use SPARQL total order (`src/frontend/order.c:194-270`)
    // SELECT aliases are in scope for ORDER BY (also inside expressions,
    // e.g. `ORDER BY DESC(xsd:integer(?c))` over alias ?c)
    val aliasSub: Map[Expr, V] = named.collect {
      case (n, v) if !b.vars.contains(n) => (EVar(n): Expr) -> v
    }.toMap
    // ORDER BY keys stage on top of the item stages (an order expr
    // identical to an item expr reuses its materialized columns)
    val ordExprs = q.mods.orderBy.map(_._1)
    val ordIn = Compiler.saltInput(bdf, ordExprs)
    val (ordDf, ordEnv, _) = Compiler.withRowSalt(ordIn)(
      Compiler.compileStagedMany(
        ordIn, ordExprs, aggSub ++ aliasSub ++ itemEnv))
    bdf = ordDf
    val explicitOrd = ordExprs.zipWithIndex.map { case (e, i) =>
      V.sortKey(ordEnv(e)).as(s"__ord_$i")
    }
    val ordNames = explicitOrd.indices.map(i => s"__ord_$i")
    var out = bdf.select(
      named.flatMap { case (n, v) =>
        Seq(v.rid.as(n), v.lex.as(s"${n}__lex"), v.dt.as(s"${n}__dt"),
          coalesce(v.lang, lit("")).as(s"${n}__lang"))
      } ++ explicitOrd: _*)

    // DISTINCT over term identity (the reference's RID-level sort+uniq,
    // `src/frontend/query.c:589-604`; value columns are functions of rid)
    if (q.mods.distinct || q.mods.reduced)
      out = out.dropDuplicates(named.map(_._1))
    if (explicitOrd.nonEmpty) {
      val sorts = q.mods.orderBy.map(_._2).zipWithIndex.map {
        case (asc, i) =>
          if (asc) col(s"__ord_$i").asc else col(s"__ord_$i").desc
      }
      out = out.orderBy(sorts: _*)
    }
    out = out.drop(ordNames: _*)
    // OFFSET with no ORDER BY: impose a deterministic row order (the
    // reference pages over its internally RID-sorted binding table;
    // since RID hashes are engine-specific we use the SPARQL total
    // order over the OUTPUT terms instead — applied AFTER distinct so
    // pagination dedups exactly like the unpaginated query, and it
    // reproduces the reference's golden foaf-pagination-filter)
    if (q.mods.orderBy.isEmpty && q.mods.offset.isDefined)
      out = out.orderBy(
        named.map { case (n, _) => V.sortKey(V.ofVar(n)).asc }: _*)
    q.mods.offset.foreach(o => out = out.offset(o.toInt))
    q.mods.limit.foreach(l => out = out.limit(l.toInt))

    val pvars = named.map(_._1)
    // plain projected vars keep their pre-aggregation certainty; computed
    // aliases may evaluate to error/NULL -> never certain
    val certain = items.collect {
      case SelectItem(EVar(v), None) if certainBefore(v) => v
    }.toSet
    Bindings(out, pvars, certain, pvars.toSet)
  }

  private def varsOfExpr(e: Expr): Set[String] = e match {
    case EVar(v) => Set(v)
    case ECall(_, args) => args.flatMap(varsOfExpr).toSet
    case EIn(x, l, _) => varsOfExpr(x) ++ l.flatMap(varsOfExpr)
    case EAgg(_, _, arg, _) => arg.map(varsOfExpr).getOrElse(Set.empty)
    case _ => Set.empty
  }

  /** Aggregate -> Spark aggregate column (SURVEY §2.4). Sums go through
    * DECIMAL for order-independent exactness at any partitioning, and
    * SUM/AVG carry the reference's numeric type promotion
    * (`fs_value_promote`): all-integer -> integer, +decimal -> decimal,
    * +float/double -> double. The aggregate emits a struct
    * `(d: exact decimal sum, f: double sum, t: promoted rank,
    *   n: value count)`; [[aggResultV]] finalizes lex/type (and the AVG
    * division) from it. */
  private def aggColumn(a: EAgg): Column = {
    val argV = a.arg.map(Compiler.compile(_))
    def numStruct(v: V): Column = {
      // ONE decimal accumulator for every rank: double inputs also sum
      // through DECIMAL(38,10) so the result is exact and independent of
      // partition/merge order (an IEEE running sum is neither); the rank
      // only decides the RESULT type/lexical form
      val exact = coalesce(v.dec, v.num.cast(DecimalType(38, 10)))
      // rank only over actual numeric values: unbound/error rows must
      // not poison an all-integer sum to double (max() skips NULL)
      val rank = when(v.isInt, 0)
        .when(v.dt === WellKnown.decimalAttr, 1)
        .when(v.num.isNotNull, 2)
      struct(
        (if (a.distinct) sum_distinct(exact) else sum(exact)).as("d"),
        max(rank).as("t"),
        (if (a.distinct) countDistinct(exact) else count(exact)).as("n"),
        // SPARQL 1.1 §18.5: an unbound/non-numeric value ERRORS the
        // whole SUM/AVG (unlike SQL's skip-NULLs) -> unbound result
        max(when(exact.isNull, 1).otherwise(0)).as("e"))
    }
    a.fn match {
      case "COUNT" => (a.arg, a.distinct) match {
        case (None, _) => count(lit(1))
        case (Some(EVar(v)), false) => count(col(v))
        case (Some(EVar(v)), true) => countDistinct(col(v))
        case (Some(_), false) => count(argV.get.anyLex)
        case (Some(_), true) => countDistinct(argV.get.anyLex)
      }
      case "SUM" | "AVG" => numStruct(argV.get)
      case "MIN" => min_by(termStruct(argV.get), V.sortKey(argV.get))
      case "MAX" => max_by(termStruct(argV.get), V.sortKey(argV.get))
      case "SAMPLE" => min_by(termStruct(argV.get), argV.get.rid)
      case "GROUP_CONCAT" =>
        // scale posture: collect_list is unbounded per group — one viral
        // group OOMs an executor at 100 TB. `spark.graft.groupConcat.max`
        // caps each group at the N binary-smallest elements (a prefix of
        // the uncapped sorted result, deterministic under any
        // partitioning) via a bounded typed aggregator.
        val cap = org.apache.spark.sql.SparkSession.active.conf
          .getOption("spark.graft.groupConcat.max")
          .map(_.toInt).filter(_ > 0)
        cap match {
          case Some(n) =>
            graft.functions.ColumnBridge.column(
              graft.functions.BoundedSortedConcat(
                graft.functions.ColumnBridge.expression(argV.get.anyLex),
                a.sep, n, a.distinct).toAggregateExpression())
          case None =>
            val vals =
              if (a.distinct) collect_set(argV.get.anyLex)
              else collect_list(argV.get.anyLex)
            array_join(array_sort(vals), a.sep)
        }
    }
  }

  private def termStruct(v: V): Column =
    struct(v.rid.as("rid"), v.lex.as("lex"), v.dt.as("dt"), v.lang.as("lang"))

  /** V view over an aggregate's output column. */
  private def aggResultV(a: EAgg, c: Column): V = a.fn match {
    case "COUNT" => V.ofNum(c.cast("double"), lit(true))
    case "SUM" | "AVG" =>
      val t = coalesce(c.getField("t"), lit(0)) // empty group -> integer
      val n = c.getField("n")
      val isAvg = a.fn == "AVG"
      // Sum({}) = 0 per SPARQL 1.1; Avg({}) is a type error (NULL);
      // any erroring element (unbound / non-numeric) errors the whole
      // aggregate -> NULL result (§18.5, unlike SQL's skip-NULLs).
      // try_divide: no ANSI divide-by-zero throw on the 0-count group
      val ok = coalesce(c.getField("e"), lit(0)) === 0
      val dec = when(ok,
        if (isAvg) try_divide(c.getField("d"), n)
        else coalesce(c.getField("d"),
          when(n === 0, lit(0).cast(DecimalType(38, 10)))))
      val decCanon = regexp_replace(regexp_replace(
        dec.cast("string"), "(\\.\\d*?)0+$", "$1"), "\\.$", "")
      // double-ranked results print through double (shortest IEEE form)
      val lex = when(t === 2, dec.cast("double").cast("string"))
        .otherwise(decCanon)
      // AVG of exact operands divides in decimal -> at least decimal rank
      val dt = when(t === 2, lit(WellKnown.doubleAttr))
        .when(t === 1 || lit(isAvg), lit(WellKnown.decimalAttr))
        .otherwise(lit(Rid.uri(Xsd.integer)))
      V(when(lex.isNotNull, Rid.literalCol(lex, dt)), lex,
        when(lex.isNotNull, dt), lit(""))
    case "GROUP_CONCAT" => V.ofStr(c)
    case _ => V(c.getField("rid"), c.getField("lex"), c.getField("dt"),
      c.getField("lang"))
  }

  // ---------------------------------------------------------------- ASK

  private def ask(store: QuadStore, spark: SparkSession,
                  q: AskQ): DataFrame = {
    val exec = new Exec(store, spark)
    val (dsRids, namedRids) = datasetRidsOf(q.dataset, q.datasetNamed)
    val b = exec.pattern(q.where, gRids = dsRids, namedGRids = namedRids)
    // ASK = any-rows test (`src/frontend/query.c:676-686`)
    val n = b.df.limit(1).count()
    import spark.implicits._
    Seq(n > 0).toDF("ask")
  }

  // -------------------------------------------------- CONSTRUCT/DESCRIBE

  /** N-Triples serialization of a bound term; `dtUris` maps datatype
    * attr-RIDs to datatype URIs (pass `store.dtUriMap` to cover stored
    * datatypes beyond the XSD well-knowns). NULL for an unbound term. */
  def ntTermCol(v: V, dtUris: Map[Long, String]): Column = {
    val esc = regexp_replace(regexp_replace(v.lex, "\\\\", "\\\\\\\\"),
      "\"", "\\\\\"")
    val dtUri = dtUris.foldLeft(lit(null).cast("string")) {
      case (acc, (rid, u)) => when(v.dt === rid, lit(u)).otherwise(acc)
    }
    when(v.rid.isNull && v.lex.isNull, lit(null).cast("string"))
      .when(Rid.isUriCol(v.rid), concat(lit("<"), v.lex, lit(">")))
      .when(Rid.isBNodeCol(v.rid), concat(lit("_:"), v.lex))
      .otherwise(concat(lit("\""), esc, lit("\""),
        when(coalesce(v.lang, lit("")) =!= "",
          concat(lit("@"), v.lang))
          .when(v.dt =!= 0L && dtUri.isNotNull,
            concat(lit("^^<"), dtUri, lit(">")))
          .otherwise(lit(""))))
  }

  private def ntCol(v: V): Column =
    ntTermCol(v, WellKnown.xsdAttr.map(_.swap))

  private def construct(store: QuadStore, spark: SparkSession,
                        q: ConstructQ): DataFrame = {
    val exec = new Exec(store, spark)
    val vars = q.template.flatMap(t => Seq(t.s, t.p, t.o))
      .collect { case PVar(v) => v }.toSet
    val (dsRids, namedRids) = datasetRids(q.mods)
    var b = exec.pattern(q.where, gRids = dsRids, need = vars,
      namedGRids = namedRids)
    b = exec.ensureValues(b, vars)
    // template instantiation (`src/frontend/results.c:1765-1898`).
    // A template bnode is scoped to ONE solution (SPARQL 1.1 §16.2.1):
    // every result row instantiates a fresh label, shared across the
    // row's template triples.
    val hasBnode = q.template.exists(t =>
      Seq(t.s, t.p, t.o).exists {
        case PConst(BNode(_)) => true; case _ => false })
    val df0 =
      if (hasBnode)
        b.df.select(b.df.columns.map(col) :+
          monotonically_increasing_id().as("__row"): _*)
      else b.df
    val rows = q.template.map { t =>
      def side(pt: PTerm): Column = pt match {
        case PVar(v) => ntCol(V.ofVar(v))
        case PConst(BNode(l)) =>
          concat(lit(s"_:${l}_r"), col("__row"))
        case PConst(term) => lit(term.nt)
      }
      struct(side(t.s).as("s"), side(t.p).as("p"), side(t.o).as("o"))
    }
    df0.select(explode(array(rows: _*)).as("t"))
      .select(col("t.s").as("s"), col("t.p").as("p"), col("t.o").as("o"))
      .filter(col("s").isNotNull && col("p").isNotNull && col("o").isNotNull)
      // bad-slot triples are dropped, as the reference does when a
      // template var binds a literal into the subject or a non-IRI into
      // the predicate slot (golden test badslot-construct: the swapped
      // CONSTRUCT { ?o ?s ?p } emits only resource-object rows)
      .filter(!col("s").startsWith("\"") && col("p").startsWith("<"))
      .distinct()
  }

  private def describe(store: QuadStore, spark: SparkSession,
                       q: DescribeQ): DataFrame = {
    val exec = new Exec(store, spark)
    // rid set to describe: constants + bindings of described vars
    val constRids = q.terms.collect { case PConst(t) => Rid.of(t) }
    import spark.implicits._
    var rids = constRids.toDF("__rid")
    q.whereOpt.foreach { w =>
      val (dsRids, namedRids) = datasetRids(q.mods)
      val b = exec.pattern(w, gRids = dsRids, namedGRids = namedRids)
      q.terms.collect { case PVar(v) if b.vars.contains(v) => v }
        .foreach { v =>
          rids = rids.unionByName(b.df.select(col(v).as("__rid")))
        }
    }
    val uniq = rids.distinct()
    // simple DESCRIBE: all triples with the resource as subject
    // (`src/frontend/results.c:1659-1763`)
    val matched = store.quads.join(uniq,
      store.quads("s") === uniq("__rid"), "left_semi")
    val resolved = store.resolve(matched, Seq("s", "p", "o"))
    resolved.select(
      ntCol(V.ofVar("s")).as("s"),
      ntCol(V.ofVar("p")).as("p"),
      ntCol(V.ofVar("o")).as("o")).distinct()
  }
}
