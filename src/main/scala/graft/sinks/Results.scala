package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Result serializers mirroring the reference's output formats
  * (`src/frontend/results.c`): TSV (`output_text`, :2014), CSV
  * (`output_csv`, :2143), SPARQL results JSON (`output_json`, :2248),
  * SPARQL results XML (`output_sparql`, :1900). TSV/CSV scale out via
  * df.write; JSON/XML build the (driver-side) response document exactly
  * like the reference's HTTP serializers.
  */
object Results {

  /** TSV with `?var` header, reference escaping (`results.c:1468-1527`). */
  def toTsvLines(df: DataFrame): DataFrame = {
    val header = df.columns.map("?" + _).mkString("\t")
    val rowCol = concat_ws("\t", df.columns.map { c =>
      regexp_replace(regexp_replace(regexp_replace(
        coalesce(col(c).cast("string"), lit("")),
        "\\\\", "\\\\\\\\"), "\t", "\\\\t"), "\n", "\\\\n")
    }: _*)
    val spark = df.sparkSession
    import spark.implicits._
    Seq(header).toDF("line").union(df.select(rowCol.as("line")))
  }

  def writeTsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("sep", "\t").option("header", "true")
      .csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** SPARQL 1.1 CSV results reduce a term to its plain form: IRIs bare
    * (no `<>`), bnodes as `_:label`, literals as the unescaped lexical —
    * unlike TSV, which keeps full NT syntax. Cells that don't look
    * NT-serialized pass through unchanged (relational results). */
  private def ntPlain(v: String): String =
    if (v == null) v
    else if (v.startsWith("<") && v.endsWith(">")) v.substring(1, v.length - 1)
    else if (v.startsWith("\"")) {
      val end = v.lastIndexOf('"')
      if (end <= 0) v
      else {
        // single left-to-right pass: chained String.replace would decode
        // an escaped backslash's successor twice ("a\\nb" -> backslash
        // then a REAL newline instead of the literal chars \ n)
        val s = v.substring(1, end)
        val b = new StringBuilder(s.length)
        var i = 0
        while (i < s.length) {
          val c = s.charAt(i)
          if (c == '\\' && i + 1 < s.length) {
            s.charAt(i + 1) match {
              case '"' => b += '"'; i += 2
              case 't' => b += '\t'; i += 2
              case 'n' => b += '\n'; i += 2
              case 'r' => b += '\r'; i += 2
              case '\\' => b += '\\'; i += 2
              case _ => b += c; i += 1
            }
          } else { b += c; i += 1 }
        }
        b.toString
      }
    } else v

  /** Driver-side CSV lines (header + rows) with RFC-4180 quoting — the
    * one shared implementation for the CLI and HTTP emitters
    * (`output_csv`, `results.c:2143`). */
  def toCsvLines(df: DataFrame): Seq[String] = {
    def cell(v: String): String =
      if (v == null) ""
      else if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    df.columns.mkString(",") +: df.collect().toSeq.map(r =>
      (0 until r.length).map(i =>
        cell(if (r.isNullAt(i)) null
             else ntPlain(r.get(i).toString)))
        .mkString(","))
  }

  // ------------------------------------------------- streaming writers
  //
  // The HTTP emitters below stream row-at-a-time over
  // `df.toLocalIterator` (one partition in driver memory at a time) —
  // the reference likewise serializes a row per fetch
  // (`results.c:2598+`). A CONSTRUCT dump of a big store then never
  // materializes on the driver; the response goes out chunked.

  /** CSV to a Writer: header + rows, RFC-4180 quoting. `warnings` go out
    * as `# …` lines after the header (`output_csv`, results.c:2184). */
  def writeCsv(df: DataFrame, out: java.io.Writer,
               warnings: Seq[String] = Nil): Unit = {
    def cell(v: String): String =
      if (v == null) ""
      else if (v.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + v.replace("\"", "\"\"") + "\""
      else v
    out.write(df.columns.mkString(","))
    warnings.foreach(w => out.write(s"\n# $w"))
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      out.write("\n")
      out.write((0 until r.length).map(i =>
        cell(if (r.isNullAt(i)) null else ntPlain(r.get(i).toString)))
        .mkString(","))
    }
  }

  /** TSV with `?var` header to a Writer (reference `output_text`).
    * `warnings` go out as `# …` lines (`output_text`, results.c:2129). */
  def writeTsv(df: DataFrame, out: java.io.Writer,
               warnings: Seq[String] = Nil): Unit = {
    def cell(v: String): String =
      if (v == null) ""
      else v.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")
    out.write(df.columns.map("?" + _).mkString("\t"))
    warnings.foreach(w => out.write(s"\n# $w"))
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      out.write("\n")
      out.write((0 until r.length).map(i =>
        cell(if (r.isNullAt(i)) null else r.get(i).toString))
        .mkString("\t"))
    }
  }

  /** SPARQL results JSON to a Writer (streamed `toJson`). */
  def writeJson(df: DataFrame, out: java.io.Writer,
                callback: String = ""): Unit = {
    val vars = df.columns
    if (callback.nonEmpty) out.write(callback + "(")
    out.write("""{"head":{"vars":""" +
      vars.map(v => "\"" + v + "\"").mkString("[", ",", "]") +
      """},"results":{"bindings":[""")
    val it = df.toLocalIterator()
    var first = true
    while (it.hasNext) {
      val r = it.next()
      if (!first) out.write(",")
      first = false
      out.write(vars.indices.flatMap { i =>
        Option(r.get(i)).map(v =>
          s""""${vars(i)}":${termJson(v.toString)}""")
      }.mkString("{", ",", "}"))
    }
    out.write("]}}")
    if (callback.nonEmpty) out.write(");")
  }

  /** SPARQL results XML to a Writer (streamed `toXml`). `warnings` are
    * emitted as XML comments after the head, exactly where the
    * reference's restricted-mode truncation notice lands
    * (`output_sparql`, results.c:1929-1943). */
  def writeXml(df: DataFrame, out: java.io.Writer,
               warnings: Seq[String] = Nil): Unit = {
    val vars = df.columns
    out.write("<?xml version=\"1.0\"?>\n")
    out.write("<sparql xmlns=\"http://www.w3.org/2005/sparql-results#\">\n")
    out.write("  <head>\n")
    vars.foreach(v => out.write(s"""    <variable name="$v"/>\n"""))
    out.write("  </head>\n")
    warnings.foreach(w => out.write(s"<!-- ${xmlEscape(w)} -->\n"))
    out.write("  <results>\n")
    val it = df.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      out.write("    <result>\n")
      vars.indices.foreach { i =>
        Option(r.get(i)).foreach { v =>
          out.write(s"""      <binding name="${vars(i)}">${
            xmlBinding(v.toString)}</binding>\n""")
        }
      }
      out.write("    </result>\n")
    }
    out.write("  </results>\n</sparql>\n")
  }

  /** JSON string-body escape: quote, backslash and every control char
    * (< 0x20). The one escaper for every JSON this engine writes. */
  def jsonEscape(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** term type from NT-serialized form (uri/bnode/literal) */
  private def termJson(v: String): String = {
    if (v == null) return null
    if (v.startsWith("<") && v.endsWith(">"))
      s"""{"type":"uri","value":"${jsonEscape(v.substring(1, v.length - 1))}"}"""
    else if (v.startsWith("_:"))
      s"""{"type":"bnode","value":"${jsonEscape(v.drop(2))}"}"""
    else {
      val (lex, suffix) =
        if (v.startsWith("\"")) {
          val end = v.lastIndexOf('"')
          (v.substring(1, end), v.substring(end + 1))
        } else (v, "")
      val base = s""""type":"literal","value":"${jsonEscape(lex)}""""
      if (suffix.startsWith("@")) s"""{$base,"xml:lang":"${suffix.drop(1)}"}"""
      else if (suffix.startsWith("^^<"))
        s"""{$base,"datatype":"${suffix.substring(3, suffix.length - 1)}"}"""
      else s"""{$base}"""
    }
  }

  /** SPARQL results JSON (`results.c:2248-2395`); `callback` wraps in
    * JSON-P like the reference's `callback=` parameter. */
  def toJson(df: DataFrame, callback: String = ""): String = {
    val w = new java.io.StringWriter()
    writeJson(df, w, callback)
    w.toString
  }

  def toAskJson(result: Boolean): String =
    s"""{"head":{},"boolean":$result}"""

  private def xmlEscape(s: String): String = s.flatMap {
    case '<' => "&lt;"; case '>' => "&gt;"; case '&' => "&amp;"
    case '"' => "&quot;"; case c => c.toString
  }

  /** one `<binding>` body from an NT-serialized term */
  private def xmlBinding(s: String): String =
    if (s.startsWith("<") && s.endsWith(">"))
      s"<uri>${xmlEscape(s.substring(1, s.length - 1))}</uri>"
    else if (s.startsWith("_:"))
      s"<bnode>${xmlEscape(s.drop(2))}</bnode>"
    else if (s.startsWith("\"")) {
      val end = s.lastIndexOf('"')
      val lex = xmlEscape(s.substring(1, end))
      val suffix = s.substring(end + 1)
      if (suffix.startsWith("@"))
        s"""<literal xml:lang="${suffix.drop(1)}">$lex</literal>"""
      else if (suffix.startsWith("^^<"))
        s"""<literal datatype="${
          suffix.substring(3, suffix.length - 1)}">$lex</literal>"""
      else s"<literal>$lex</literal>"
    } else s"<literal>${xmlEscape(s)}</literal>"

  /** SPARQL results XML (`results.c:1900-2012`). */
  def toXml(df: DataFrame): String = {
    val w = new java.io.StringWriter()
    writeXml(df, w)
    w.toString
  }
}
