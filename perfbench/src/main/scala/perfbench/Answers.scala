package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** An expected SPARQL answer: its rows as lexical values ("" = unbound),
  * in order when the query orders them. ASK answers are one row holding
  * "true" or "false". */
final case class Expected(rows: Seq[Seq[String]], ordered: Boolean = false)

object Answers {
  private val mapper = new ObjectMapper()

  /** Rows of a SPARQL JSON results document, one lexical value per
    * variable in head order. */
  def rows(body: String): Seq[Seq[String]] = {
    val root = mapper.readTree(body)
    val vars = root.path("head").path("vars").elements().asScala
      .map(_.asText()).toSeq
    if (root.has("boolean")) Seq(Seq(root.get("boolean").asText()))
    else root.path("results").path("bindings").elements().asScala.map { b =>
      vars.map(v => Option(b.get(v)).map(_.path("value").asText())
        .getOrElse(""))
    }.toSeq
  }

  private def sameValue(a: String, b: String): Boolean =
    a == b || ((a.toDoubleOption, b.toDoubleOption) match {
      case (Some(x), Some(y)) =>
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x),
          math.abs(y)))
      case _ => false
    })

  private def canon(v: String): String =
    v.toDoubleOption.map(d => f"$d%.6f").getOrElse(v)

  /** The error a streamed response reported after its 200 status line
    * (the endpoint's in-band `# ERROR:` marker), if any. */
  def streamError(body: String): Option[String] = {
    val i = body.indexOf("\n# ERROR:")
    if (i < 0) None else Some(body.substring(i + 1).take(500))
  }

  /** None when `body` answers `exp`; otherwise what differs. */
  def check(exp: Expected, body: String): Option[String] = {
    val got = try rows(body) catch {
      case e: Exception => return Some(s"unparseable results: ${
        e.getMessage}; body starts ${body.take(200)}")
    }
    val (g, x) =
      if (exp.ordered) (got, exp.rows)
      else (got.sortBy(_.map(canon).mkString("\u0001")),
        exp.rows.sortBy(_.map(canon).mkString("\u0001")))
    val ok = g.size == x.size && g.zip(x).forall { case (r1, r2) =>
      r1.size == r2.size && r1.zip(r2).forall { case (a, b) => sameValue(a, b) }
    }
    if (ok) None
    else Some(s"expected ${x.size} rows ${x.take(3)}, got ${g.size} rows ${
      g.take(3)}")
  }
}
