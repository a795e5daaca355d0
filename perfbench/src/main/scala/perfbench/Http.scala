package perfbench

import java.net.{HttpURLConnection, URI, URLEncoder}
import java.nio.charset.StandardCharsets.UTF_8

/** The benchmark's HTTP client: one request per call over a keep-alive
  * connection, body read fully. Non-2xx answers come back as their status
  * and body, never as an exception. */
object Http {
  final case class Resp(status: Int, body: String)

  /** POST `query` as a form to the endpoint's `/sparql/`, asking for
    * SPARQL JSON results. */
  def sparql(base: String, query: String): Resp = {
    val c = URI.create(s"$base/sparql/").toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    c.setRequestMethod("POST")
    c.setDoOutput(true)
    c.setConnectTimeout(10000)
    c.setReadTimeout(120000)
    c.setRequestProperty("Content-Type", "application/x-www-form-urlencoded")
    c.setRequestProperty("Accept", "application/sparql-results+json")
    val bytes = ("query=" + URLEncoder.encode(query, UTF_8)).getBytes(UTF_8)
    c.setFixedLengthStreamingMode(bytes.length)
    val os = c.getOutputStream
    try os.write(bytes) finally os.close()
    val status = c.getResponseCode
    val in = if (status >= 400) c.getErrorStream else c.getInputStream
    val text =
      if (in == null) ""
      else try new String(in.readAllBytes(), UTF_8) finally in.close()
    Resp(status, text)
  }
}
