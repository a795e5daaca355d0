package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.rdf.QuadStore
import graft.sinks.{RefFormat, Results}
import graft.sparql.{Ast, Parser, Sparql, Update}

/** CLI query tool mirroring the reference's `4s-query`
  * (`src/frontend/4s-query.c:60-140`): run SPARQL against a KB from the
  * command line, choose an output format, and accept `#EOQ`-separated
  * batch input on stdin (the reference's programmatic batch mode).
  *
  * Usage:
  *   QueryCli <data> [-O level] [format] <query | ->
  *
  *   data    RDF file (N-Triples/N-Quads/Turtle/RDF-XML, auto-detected
  *           like the reference importer) or a directory of driver
  *           parquet tables (direct-mapped to RDF)
  *   -O      optimizer level 0-3 (default 3), as `4s-query -O`
  *           (`4s-query.c:105`): below 1 triple patterns run in textual
  *           order (no reorder, `optimiser.c:214`); below 3 the query
  *           cache is bypassed (`query-cache.c:270`)
  *   format  text (default; byte-compatible with 4s-query's output_text)
  *           | csv | json | xml (SPARQL results XML) | ascii
  *   query   SPARQL text, or "-" to read stdin queries separated by #EOQ
  *
  * SPARQL Update texts (INSERT/DELETE/LOAD/...) are detected and applied
  * to the in-session store snapshot, like `4s-update`.
  */
object QueryCli {

  def main(args: Array[String]): Unit = {
    // -O / --opt-level anywhere on the command line (4s-query getopt)
    var optLevel = 3
    val rest = {
      val b = Seq.newBuilder[String]
      var i = 0
      while (i < args.length) {
        args(i) match {
          case "-O" | "--opt-level" if i + 1 < args.length =>
            optLevel = args(i + 1).toInt; i += 2
          case o if o.startsWith("-O") && o.length > 2 =>
            optLevel = o.drop(2).toInt; i += 1
          case a => b += a; i += 1
        }
      }
      b.result()
    }
    if (rest.length < 2) {
      System.err.println(
        "usage: QueryCli <data> [-O level] [format] <query | ->")
      sys.exit(2)
    }
    val data = rest(0)
    // "explain" mirrors 4s-query --explain (prints the plan, no rows)
    val formats = Set("text", "csv", "json", "xml", "ascii", "explain")
    val (format, queryArg) =
      if (rest.length >= 3 && formats(rest(1))) (rest(1), rest(2))
      else ("text", rest(1))

    val spark = Session.cli()
    spark.conf.set("spark.graft.optLevel", optLevel.toString)

    val store =
      if (new java.io.File(data).isDirectory) {
        val dir = new java.io.File(data)
        val tables = graft.core.Tables.names.filter(t =>
          new java.io.File(dir, s"$t.parquet").exists())
        QuadStore.rdfizeDir(spark, data, tables)
      } else QuadStore.fromFile(spark, data)

    val queries: Seq[String] =
      if (queryArg == "-")
        scala.io.Source.stdin.mkString.split("(?m)^#EOQ\\s*$").toSeq
          .map(_.trim).filter(_.nonEmpty)
      else Seq(queryArg)
    run(spark, store, format, queries).foreach(println)
    spark.stop()
  }

  /** Run a batch of query/update texts against a store snapshot,
    * returning the output lines (the testable core of [[main]]; updates
    * thread through the in-session snapshot like 4s-update). */
  def run(spark: SparkSession, store0: QuadStore, format: String,
          queries: Seq[String]): Seq[String] = {
    var store = store0
    val out = Seq.newBuilder[String]
    def emit(text: String): Unit = out ++= text.linesIterator

    /** datatype rid -> URI for the text sink (custom datatypes resolve
      * through the dictionary; languages have no dictionary entry and
      * need none — the formatter prints them from the lang column).
      * Computed once per store snapshot, invalidated by updates. */
    var dtCache: Option[Map[Long, String]] = None
    def dtUris(): Map[Long, String] = dtCache.getOrElse {
      val dts = store.resources.filter(col("dt") =!= 0L)
        .select(col("dt")).distinct()
      val m = RefFormat.xsdDtUris ++ dts
        .join(store.resources, dts("dt") === store.resources("rid"))
        .select(col("rid"), col("lex")).collect()
        .map(r => r.getLong(0) -> r.getString(1))
      dtCache = Some(m)
      m
    }

    // an update verb must be the first token after the prologue
    // (PREFIX/BASE declarations) — a SELECT mentioning `load`/`add`
    // inside an IRI or variable name is NOT an update
    val updateRe =
      ("(?is)^\\s*(?:(?:PREFIX\\s+[^\\s<]*\\s*<[^>]*>|BASE\\s*<[^>]*>)\\s*)*" +
        "(INSERT|DELETE|CLEAR|DROP|CREATE|ADD|MOVE|COPY|LOAD)\\b").r
    def runOne(q: String): Unit =
      if (updateRe.findFirstIn(q).isDefined) {
        store = Update(store, spark, q)
        dtCache = None // new terms may carry new datatypes
        emit("# ok")
      } else if (format == "explain") {
        emit(Sparql.run(store, spark, q).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode))
      } else Parser.parse(q) match {
        case _: Ast.AskQ =>
          val r = Sparql.run(store, spark, q).collect()(0).getBoolean(0)
          format match {
            case "xml" => emit(RefFormat.askXml(r))
            case "json" => emit(Results.toAskJson(r))
            case "testcase" =>
              RefFormat.testcaseAskLines(r).foreach(emit)
            case _ => emit(r.toString)
          }
        case _: Ast.ConstructQ | _: Ast.DescribeQ =>
          RefFormat.ntLines(Sparql.run(store, spark, q)).foreach(emit)
        case sq: Ast.SelectQ => format match {
          case "testcase" =>
            // the reference's DAWG-harness format (`output_testcase`,
            // `results.c:2397`): rs:index only under an explicit order
            RefFormat.testcaseLines(Sparql.runTerms(store, spark, q),
              dtUris(), ordered = sq.mods.orderBy.nonEmpty)
              .foreach(emit)
          case "text" =>
            RefFormat.textLines(Sparql.runTerms(store, spark, q), dtUris())
              .foreach(emit)
          case "xml" =>
            emit(RefFormat.sparqlXml(Sparql.runTerms(store, spark, q),
              dtUris()))
          case "json" => emit(Results.toJson(Sparql.run(store, spark, q)))
          case "csv" =>
            Results.toCsvLines(Sparql.run(store, spark, q)).foreach(emit)
          case _ => // ascii: the reference test harness format
            Sparql.run(store, spark, q).collect().foreach(r =>
              emit((0 until r.length).map(i =>
                if (r.isNullAt(i)) "" else r.get(i).toString)
                .mkString(" ")))
        }
      }

    queries.foreach(runOne)
    out.result()
  }
}
