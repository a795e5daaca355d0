package graft.http

import graft.SparkTestBase
import graft.rdf._
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8

class EndpointSpec extends SparkTestBase {

  /** RDD-BACKED store for the cancellation tests: a LocalRelation store
    * is UNKILLABLE — Catalyst's ConvertToLocalRelation folds filters
    * over LocalRelation into driver-side optimizer work, and
    * LocalTableScan-fed stages were observed to ignore task-kill until
    * partition end (the KillProbe at commit 61b514e: rdd-backed dies in
    * 30ms, local-relation runs 18 min to completion). Production stores
    * load from parquet = RDD-backed, so THIS is the representative shape. */
  private def rddStore(n: Int): QuadStore = {
    // small cache batches: the store caches its parsed triples, and a
    // killed task only notices the kill flag BETWEEN columnar batches —
    // with the default 10k-row batches a batch of expensive rows stalls
    // cancellation for its whole duration (same granularity law as the
    // vectorized parquet reader's 4k batches at 100 TB: keep per-batch
    // work bounded when rows are expensive)
    spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", "200")
    val nt = (0 until n).map(i => s"""<urn:s$i> <urn:p> "$i" .""")
    QuadStore.fromFlat(spark, graft.streaming.StreamIngest.parseNtLines(
      spark.createDataset(spark.sparkContext.parallelize(nt, 8))(
        org.apache.spark.sql.Encoders.STRING)))
  }

  // rddStore mutates a GLOBAL session conf; restore it so the change
  // doesn't leak into later suites sharing this JVM's SparkSession
  private val savedBatchSize =
    spark.conf.getOption("spark.sql.inMemoryColumnarStorage.batchSize")
  override def afterAll(): Unit = {
    savedBatchSize match {
      case Some(v) =>
        spark.conf.set("spark.sql.inMemoryColumnarStorage.batchSize", v)
      case None =>
        spark.conf.unset("spark.sql.inMemoryColumnarStorage.batchSize")
    }
    super.afterAll()
  }

  private def req(url: String, method: String = "GET",
                  body: String = null): (Int, String) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    conn.setRequestMethod(method)
    if (body != null) {
      conn.setDoOutput(true)
      conn.getOutputStream.write(body.getBytes(UTF_8))
    }
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(is.readAllBytes(), UTF_8)
    (code, text)
  }

  test("sparql/update/data/status routes round-trip") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"

      val (c1, b1) = req(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(
          "SELECT ?n WHERE { ?s <urn:name> ?n }", "UTF-8"))
      assert(c1 == 200 && b1.contains("Alice"))

      val (c2, _) = req(s"$base/update/", "POST",
        """INSERT DATA { <urn:b> <urn:name> "Bob" }""")
      assert(c2 == 200)
      val (_, b3) = req(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(
          "SELECT ?n WHERE { ?s <urn:name> ?n } ORDER BY ?n", "UTF-8") +
        "&output=tsv")
      assert(b3.contains("Alice") && b3.contains("Bob"))

      val (c4, _) = req(s"$base/data/?graph=urn:g9", "PUT",
        "<urn:c> <urn:name> \"Carol\" .")
      assert(c4 == 201)
      val (_, b5) = req(s"$base/status/")
      assert(b5.contains("\"quads\":3"))

      val (c6, b6) = req(s"$base/sparql/?query=bad+syntax")
      assert(c6 == 400 && b6.contains("error"))

      // property paths and subqueries flow through the same endpoint
      val (cP, bP) = req(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(
          "SELECT ?n WHERE { ?s (<urn:nope>|<urn:name>) ?n }", "UTF-8"))
      assert(cP == 200 && bP.contains("Alice"), bP)
      val (cS, bS) = req(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(
          "SELECT ?n WHERE { { SELECT ?n WHERE { ?s <urn:name> ?n } LIMIT 1 } }",
          "UTF-8"))
      assert(cS == 200 && bS.contains("Alice"), bS)

      // soft-limit caps the result rows (httpd.c:1133-1139)
      val q = java.net.URLEncoder.encode(
        "SELECT ?n WHERE { ?s <urn:name> ?n }", "UTF-8")
      val (_, b7) = req(s"$base/sparql/?query=$q&output=csv&soft-limit=1")
      assert(b7.linesIterator.size == 2) // header + 1 row

      // per-graph size report
      val (_, b8) = req(s"$base/status/size/")
      assert(b8.contains("urn:g9") && b8.contains("\"ok\":true"))

      // graph delete drops the graph's quads
      val (c9, _) = req(s"$base/data/?graph=urn:g9", "DELETE")
      assert(c9 == 200)
      val (_, b10) = req(s"$base/status/")
      assert(b10.contains("\"quads\":2"))
    } finally ep.stop()
  }

  test("an error message with a quote and a newline still answers a " +
      "parseable JSON body") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      // the parse failure quotes the offending line (with its literal)
      // under a caret on the next line
      val (code, body) = req(s"http://localhost:${ep.boundPort}/sparql/" +
        "?query=" + java.net.URLEncoder.encode(
          """SELECT ?s WHERE { ?s <urn:name> "Alice" . nonsense }""",
          "UTF-8"))
      assert(code == 400, body)
      val msg = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(body).get("error").asText()
      assert(msg.contains("\"") && msg.contains("\n"), msg)
    } finally ep.stop()
  }

  test("graph-level ACL by apikey hides disallowed graphs") {
    val store = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:a"), Uri("urn:name"), Lit("Public"))), graph = "urn:open")
      .union(QuadStore.fromTerms(spark, Seq(
        (Uri("urn:b"), Uri("urn:name"), Lit("Secret"))), graph = "urn:sec"))
    val ep = new Endpoint(spark, store, 0,
      acl = Map("k1" -> Seq("urn:open"), "k2" -> Seq("urn:open", "urn:sec")))
      .start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val q = java.net.URLEncoder.encode(
        "SELECT ?n WHERE { ?s <urn:name> ?n } ORDER BY ?n", "UTF-8")
      val (c0, _) = req(s"$base/sparql/?query=$q") // no key
      assert(c0 == 403)
      val (c1, b1) = req(s"$base/sparql/?query=$q&apikey=k1")
      assert(c1 == 200 && b1.contains("Public") && !b1.contains("Secret"))
      val (c2, b2) = req(s"$base/sparql/?query=$q&apikey=k2")
      assert(c2 == 200 && b2.contains("Public") && b2.contains("Secret"))
      val (c3, _) = req(s"$base/sparql/?query=$q&apikey=nope")
      assert(c3 == 403)
    } finally ep.stop()
  }

  test("SERVICE federation: remote pattern joins local bindings") {
    import graft.sparql.Sparql
    // remote endpoint holds ages (one typed, one lang-tagged label)
    val remote = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:age"), Lit("42", dt = Xsd.integer)),
      (Uri("urn:b"), Uri("urn:age"), Lit("35", dt = Xsd.integer)),
      (Uri("urn:b"), Uri("urn:label"), Lit("bê", lang = "fr"))))
    val ep = new Endpoint(spark, remote, 0).start()
    try {
      val url = s"http://localhost:${ep.boundPort}/sparql/"
      // local store holds names; Carol has no remote age row
      val local = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:a"), Uri("urn:name"), Lit("Alice")),
        (Uri("urn:b"), Uri("urn:name"), Lit("Bob")),
        (Uri("urn:c"), Uri("urn:name"), Lit("Carol"))))
      val rows = Sparql.run(local, spark,
        s"""PREFIX p: <urn:>
           |SELECT ?name ?age WHERE {
           |  ?s p:name ?name .
           |  SERVICE <$url> { ?s p:age ?age }
           |} ORDER BY ?name""".stripMargin).collect()
      assert(rows.map(r => (r.getString(0), r.getString(1))).toSeq ==
        Seq(("Alice", "42"), ("Bob", "35")))

      // term kinds survive the wire: lang literal stays lang-tagged
      val lbl = Sparql.runTerms(local, spark,
        s"""SELECT ?l WHERE {
           |  SERVICE <$url> { ?x <urn:label> ?l }
           |}""".stripMargin).collect()
      assert(lbl.length == 1)
      val st = lbl(0).getStruct(0)
      assert(st.getString(1) == "bê" && st.getString(3) == "fr")

      // SILENT: unreachable endpoint degrades to the empty binding
      val silent = Sparql.run(local, spark,
        """SELECT ?name WHERE {
          |  ?s <urn:name> ?name .
          |  SERVICE SILENT <http://localhost:9/sparql/> { ?s <urn:age> ?a }
          |} ORDER BY ?name""".stripMargin).collect()
      assert(silent.map(_.getString(0)).toSeq ==
        Seq("Alice", "Bob", "Carol"))

      // non-SILENT failure raises
      intercept[Exception] {
        Sparql.run(local, spark,
          """SELECT ?name WHERE {
            |  SERVICE <http://localhost:9/sparql/> { ?s <urn:age> ?a }
            |}""".stripMargin).collect()
      }

      // spilled-result path: maxLocalBytes=0 forces the distributed
      // parse off the warehouse spill file — identical results
      spark.conf.set("spark.graft.service.maxLocalBytes", "0")
      try {
        val spilled = Sparql.run(local, spark,
          s"""PREFIX p: <urn:>
             |SELECT ?name ?age WHERE {
             |  ?s p:name ?name .
             |  SERVICE <$url> { ?s p:age ?age }
             |} ORDER BY ?name""".stripMargin).collect()
        assert(spilled.map(r => (r.getString(0), r.getString(1))).toSeq ==
          Seq(("Alice", "42"), ("Bob", "35")))
      } finally spark.conf.unset("spark.graft.service.maxLocalBytes")
    } finally ep.stop()
  }

  test("SERVICE bound join ships reductive IRI filters, semantics intact") {
    import graft.sparql.Sparql
    // capturing stub endpoint: records the remote query, answers TSV
    val seen = new java.util.concurrent.atomic.AtomicReference[String]("")
    val hs = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    hs.createContext("/sparql/", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val q = body.split("&").collectFirst {
        case kv if kv.startsWith("query=") =>
          java.net.URLDecoder.decode(kv.drop(6), "UTF-8")
      }.getOrElse("")
      seen.set(q)
      val tsv = "?s\t?age\n<urn:a>\t\"42\"\n<urn:b>\t\"35\"\n"
      val out = tsv.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type",
        "text/tab-separated-values")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out); ex.close()
    })
    hs.start()
    try {
      val url = s"http://localhost:${hs.getAddress.getPort}/sparql/"
      val local = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
      // tag makes each run's text unique: the prepared-plan cache would
      // otherwise serve the first fetch (and its recorded query) again
      def run(tag: String): Seq[(String, String)] = Sparql.run(local, spark,
        s"""SELECT ?name ?age WHERE {
           |  ?s <urn:name> ?name . # $tag
           |  SERVICE <$url> { ?s <urn:age> ?age }
           |} ORDER BY ?name""".stripMargin).collect()
        .map(r => (r.getString(0), r.getString(1))).toSeq
      assert(run("bound") == Seq(("Alice", "42")))
      // the shipped query carries the reductive clause for the certain
      // shared var ?s, listing exactly the left side's IRIs
      val shipped = seen.get()
      assert(shipped.contains("?s IN (<urn:a>)"), shipped)
      assert(shipped.contains("!BOUND(?s)") && shipped.contains("!isIRI(?s)"))
      // disabled via conf: same results, no filter shipped
      spark.conf.set("spark.graft.service.boundJoinMax", "0")
      try {
        assert(run("plain") == Seq(("Alice", "42")))
        assert(!seen.get().contains("FILTER"), seen.get())
      } finally spark.conf.unset("spark.graft.service.boundJoinMax")
      // a maybe-NULL shared var (OPTIONAL-introduced) gets no clause
      val opt = Sparql.run(local, spark,
        s"""SELECT ?name ?age WHERE {
           |  ?n <urn:name> ?name .
           |  OPTIONAL { ?n <urn:missing> ?s }
           |  SERVICE <$url> { ?s <urn:age> ?age }
           |} ORDER BY ?age""".stripMargin).collect()
      assert(!seen.get().contains("FILTER"), seen.get())
      // unbound ?s on the left is compatible with every remote row
      assert(opt.length == 2)
    } finally hs.stop(0)
  }

  test("SERVICE bound join past boundJoinMax ships max-sized IN " +
      "chunks OR'd inside ONE filter (reductive: the union is the " +
      "complete left IRI set) instead of degrading to the full " +
      "relation; boundJoinShipMax bounds it") {
    import graft.sparql.Sparql
    // stub endpoint that APPLIES the shipped filter: it serves ages
    // for 70 subjects and, when the query carries a FILTER, answers
    // only the subjects named in it — so the rows-fetched counter
    // measures the clause's reduction, not just its shape
    val seen = new java.util.concurrent.atomic.AtomicReference[String]("")
    val sent = new java.util.concurrent.atomic.AtomicInteger(0)
    val hs = com.sun.net.httpserver.HttpServer.create(
      new java.net.InetSocketAddress("localhost", 0), 0)
    hs.createContext("/sparql/", ex => {
      val body = new String(ex.getRequestBody.readAllBytes(), "UTF-8")
      val q = body.split("&").collectFirst {
        case kv if kv.startsWith("query=") =>
          java.net.URLDecoder.decode(kv.drop(6), "UTF-8")
      }.getOrElse("")
      seen.set(q)
      val subjects = (0 until 70).filter { i =>
        !q.contains("FILTER") || q.contains(s"<urn:s$i>")
      }
      sent.set(subjects.length)
      val tsv = "?s\t?age\n" + subjects
        .map(i => s"<urn:s$i>\t" + "\"" + i + "\"\n").mkString
      val out = tsv.getBytes("UTF-8")
      ex.getResponseHeaders.set("Content-Type",
        "text/tab-separated-values")
      ex.sendResponseHeaders(200, out.length)
      ex.getResponseBody.write(out); ex.close()
    })
    hs.start()
    try {
      val url = s"http://localhost:${hs.getAddress.getPort}/sparql/"
      // left side: 60 certain subject IRIs — boundJoinMax(50) + 10,
      // exactly the band where the old cap dropped the clause
      val local = QuadStore.fromTerms(spark, (0 until 60).map(i =>
        (Uri(s"urn:s$i"), Uri("urn:name"), Lit(s"n$i"))))
      def run(tag: String) = Sparql.run(local, spark,
        s"""SELECT ?name ?age WHERE {
           |  ?s <urn:name> ?name . # $tag
           |  SERVICE <$url> { ?s <urn:age> ?age }
           |} ORDER BY ?name""".stripMargin).collect()
      // default shipMax (4×max = 200): the clause ships as 50+10 IN
      // chunks OR'd in ONE filter and the remote returns exactly the
      // joinable 60 rows
      assert(run("chunked").length == 60)
      val q = seen.get()
      assert("\\?s IN \\(".r.findAllIn(q).size == 2,
        s"expected two OR'd IN chunks: $q")
      assert("FILTER".r.findAllIn(q).size == 1,
        s"chunks must live inside ONE filter (separate ANDed " +
          s"filters would intersect the chunks): $q")
      assert((0 until 60).forall(i => q.contains(s"<urn:s$i>")),
        "the union of chunks must be the complete left IRI set")
      assert(sent.get == 60,
        s"remote should evaluate the reductive clause: ${sent.get}")
      // the r15 behavior (ship cap == max): clause dropped wholesale,
      // the remote degrades to the FULL relation — same results, 70
      // rows fetched instead of 60 (the measured win of chunking)
      spark.conf.set("spark.graft.service.boundJoinShipMax", "50")
      try {
        assert(run("legacy").length == 60)
        assert(!seen.get().contains("FILTER"), seen.get())
        assert(sent.get == 70)
      } finally
        spark.conf.unset("spark.graft.service.boundJoinShipMax")
      // past shipMax the var goes unconstrained too (query-size cap)
      spark.conf.set("spark.graft.service.boundJoinShipMax", "59")
      try {
        assert(run("overcap").length == 60)
        assert(!seen.get().contains("FILTER"), seen.get())
      } finally
        spark.conf.unset("spark.graft.service.boundJoinShipMax")
    } finally hs.stop(0)
  }

  test("query timeout cancels the Spark jobs and answers 503") {
    // a PER-ROW catastrophic-backtracking regex (~0.5-2ms per row over
    // 5*10^4 rows = tens of seconds of work, guaranteed still running at the 2s
    // deadline) instead of a giant cross join: the fused
    // scan-filter-count loop consults the interruptible input iterator
    // between rows, so a killed task dies within ~one row's work. A
    // filtered cross join's inner loop never checks the kill flag and
    // was observed to zombie 15s per task, holding all cores long past
    // the deadline.
    val big = rddStore(50000)
    val ep = new Endpoint(spark, big, 0, queryTimeoutSec = 2).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      // per row: digits -> 250 a's each (250-1000 chars), then an
      // O(n^2) BACKREFERENCE regex (~5-80ms/row; backrefs are exempt
      // from JDK9+'s loop memoization, unlike (a+)+b-style patterns
      // which modern JDKs match in linear time)
      val aRun = "a" * 50
      val slow = java.net.URLEncoder.encode(
        s"""SELECT (COUNT(*) AS ?n) WHERE {
          |  ?s <urn:p> ?o .
          |  FILTER(REGEX(REPLACE(STR(?o), "[0-9]", "$aRun"),
          |               "(a+)\\\\1+b")) }"""
          .stripMargin, "UTF-8")
      val t0 = System.nanoTime()
      // two honest outcomes: cancellation BEFORE the first byte -> a
      // clean 503; after streaming began -> the body carries the
      // in-band `# ERROR:` marker (the 200 status line is already on
      // the wire). A CLEAN completed 200 would require minutes of
      // backtracking regex to finish, which cancellation prevents.
      val outcome =
        try {
          val (code, body) = req(s"$base/sparql/?query=$slow")
          if (code == 503 && body.contains("timeout")) "503"
          else if (code == 200 && body.contains("# ERROR:")) "marked"
          else s"completed:$code:${body.take(60)}"
        } catch { case _: java.io.IOException => "truncated" }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(Set("503", "marked", "truncated")(outcome), outcome)
      assert(sec < 30, s"cancellation took ${sec}s")
      // the endpoint (and the shared SparkContext) stay serviceable:
      // cancellation is per-request job-id scoped, so nothing can touch
      // the follow-up — but a KILLED task only dies at its next
      // kill-flag check (one outer row ≈ 10ms here), so allow a short
      // physical core drain, then the FIRST (and only) follow-up
      // attempt must succeed — no retries.
      Thread.sleep(1000)
      val ok = java.net.URLEncoder.encode(
        """SELECT (COUNT(*) AS ?n) WHERE { ?s <urn:p> ?o }""", "UTF-8")
      val (cOk, bOk) = req(s"$base/sparql/?query=$ok&output=tsv")
      assert(cOk == 200 && bOk.contains("50000") && !bOk.contains("# ERROR"),
        s"endpoint not serviceable after timeout: $cOk ${bOk.take(120)}")
    } finally ep.stop()
  }

  test("oversized POST bodies answer 413, not an OOM or a 400") {
    val prev = System.getProperty("graft.ep.maxBodyBytes")
    System.setProperty("graft.ep.maxBodyBytes", "1024")
    try {
      val store = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:a"), Uri("urn:p"), Lit("x"))))
      val ep = new Endpoint(spark, store, 0).start()
      try {
        val base = s"http://localhost:${ep.boundPort}"
        val big = "INSERT DATA { " + (1 to 200).map(i =>
          s"""<urn:s$i> <urn:p> "v$i" .""").mkString(" ") + " }"
        assert(big.length > 1024)
        val (code, body) = req(s"$base/update/", "POST", big)
        assert(code == 413 && body.contains("too large"), s"$code $body")
        // under the cap still works
        val (c2, _) = req(s"$base/update/", "POST",
          """INSERT DATA { <urn:b> <urn:p> "y" }""")
        assert(c2 == 200)
      } finally ep.stop()
    } finally {
      if (prev == null) System.clearProperty("graft.ep.maxBodyBytes")
      else System.setProperty("graft.ep.maxBodyBytes", prev)
    }
  }

  test("GSP import streams past the body cap (spooled to disk, " +
      "distributed parse); /sparql/ + /update/ keep the 413") {
    val prev = System.getProperty("graft.ep.maxBodyBytes")
    System.setProperty("graft.ep.maxBodyBytes", "65536") // 64 KB cap
    try {
      val store = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:a"), Uri("urn:p"), Lit("x"))))
      val ep = new Endpoint(spark, store, 0).start()
      try {
        val base = s"http://localhost:${ep.boundPort}"
        // ~1 MB of N-Triples, 16x the cap, STREAMED in chunks so the
        // client side is heap-bounded too (the server spools to disk
        // and parses distributed — bodyOf never sees it)
        val n = 12000
        val conn = URI.create(s"$base/data/?graph=urn:big")
          .toURL.openConnection().asInstanceOf[HttpURLConnection]
        conn.setRequestMethod("PUT")
        conn.setDoOutput(true)
        conn.setChunkedStreamingMode(64 * 1024)
        val os = conn.getOutputStream
        (0 until n).foreach { i =>
          os.write(
            s"""<urn:big/s$i> <urn:p> "payload value $i xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx" .\n"""
              .getBytes(UTF_8))
        }
        os.close()
        assert(conn.getResponseCode == 201)
        // all rows landed and are queryable
        val (c2, b2) = req(s"$base/sparql/?query=" +
          java.net.URLEncoder.encode(
            "SELECT (COUNT(*) AS ?c) WHERE { ?s <urn:p> ?o }", "UTF-8") +
          "&output=tsv")
        assert(c2 == 200 && b2.contains((n + 1).toString), b2)
        // the cap still guards the in-heap routes
        val big = "INSERT DATA { " + (1 to 3000).map(i =>
          s"""<urn:s$i> <urn:p> "value$i" .""").mkString(" ") + " }"
        assert(big.length > 65536)
        val (c3, b3) = req(s"$base/update/", "POST", big)
        assert(c3 == 413 && b3.contains("too large"), s"$c3 $b3")
      } finally ep.stop()
    } finally {
      if (prev == null) System.clearProperty("graft.ep.maxBodyBytes")
      else System.setProperty("graft.ep.maxBodyBytes", prev)
    }
  }

  test("aborted mid-PUT deletes the partial spool file (no temp leak)") {
    def spoolCount: Int = {
      val dir = new java.io.File(System.getProperty("java.io.tmpdir"))
      val fs = dir.listFiles()
      if (fs == null) 0 else fs.count(_.getName.startsWith("graft_gsp"))
    }
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:p"), Lit("x"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val before = spoolCount
      // raw socket: promise a 10 MB body, send a fragment, slam the
      // connection — the server's spool read hits an IOException
      // mid-stream (neither 413 nor success), the path the catch-all
      // delete exists for; only deleteOnExit would otherwise reap it.
      val sock = new java.net.Socket("localhost", ep.boundPort)
      val os = sock.getOutputStream
      os.write(("PUT /data/?graph=urn:abort HTTP/1.1\r\n" +
        s"Host: localhost:${ep.boundPort}\r\n" +
        "Content-Type: application/n-triples\r\n" +
        "Content-Length: 10485760\r\n\r\n").getBytes(UTF_8))
      os.write("<urn:s1> <urn:p> \"partial".getBytes(UTF_8))
      os.flush()
      sock.close()
      // the handler runs async on the server pool; poll (generously —
      // under a fully loaded test JVM the server's blocking read can
      // take tens of seconds to hit its IOException; a REAL leak stays
      // forever, so a long deadline loses no detection power). Snapshot
      // the count ONCE per check: a prior flake asserted on one read
      // and interpolated a second into the message, which showed the
      // cleanup landing microseconds after the deadline.
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var now = spoolCount
      while (now > before && System.nanoTime() < deadline) {
        Thread.sleep(50); now = spoolCount
      }
      assert(now <= before,
        s"partial spool leaked: $now files (was $before)")
      // server is still healthy after the aborted request
      val (c, b) = req(s"http://localhost:${ep.boundPort}/sparql/?query=" +
        java.net.URLEncoder.encode("ASK { ?s ?p ?o }", "UTF-8") +
        "&output=text")
      assert(c == 200 && b.contains("true"), s"$c $b")
    } finally ep.stop()
  }

  test("GSP imports scope bnode labels per document: equal labels from " +
      "two PUTs stay distinct nodes") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:p"), Lit("x"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      // the same `_:x` label in two separately-imported documents is
      // two nodes (RDF 1.1 §3.4) — a cross-graph join on it is empty
      val (c1, _) = req(s"$base/data/?graph=urn:d1", "PUT",
        "_:x <urn:m> \"7\" .\n")
      val (c2, _) = req(s"$base/data/?graph=urn:d2", "PUT",
        "_:x <urn:m> \"7\" .\n")
      assert(c1 == 201 && c2 == 201)
      val q = "SELECT ?a WHERE { GRAPH <urn:d1> { ?a <urn:m> ?v } " +
        "GRAPH <urn:d2> { ?a <urn:m> ?v } }"
      val (c3, b3) = req(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(q, "UTF-8") + "&output=tsv")
      assert(c3 == 200 && !b3.contains("_:"), b3)
      // but re-PUTting the SAME body to the SAME graph is idempotent
      // (digest-seeded scope): labels identical across the two PUTs
      val (_, g1) = req(s"$base/data/?graph=urn:d1", "GET")
      val (c4, _) = req(s"$base/data/?graph=urn:d1", "PUT",
        "_:x <urn:m> \"7\" .\n")
      val (_, g2) = req(s"$base/data/?graph=urn:d1", "GET")
      assert(c4 == 201 && g1 == g2, s"$g1 vs $g2")
    } finally ep.stop()
  }

  test("GSP POST is an RDF merge: re-POSTing the same document mints " +
      "fresh bnodes; the import disk cap answers 413") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:p"), Lit("x"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      // two POSTs of the same anonymous observation = two observations
      // (GSP §5.5 merge; a digest-keyed scope silently unified them)
      val doc = "_:obs <urn:val> \"1\" .\n"
      val (c1, _) = req(s"$base/data/?graph=urn:g", "POST", doc)
      val (c2, _) = req(s"$base/data/?graph=urn:g", "POST", doc)
      assert(c1 == 201 && c2 == 201)
      val q = "SELECT (COUNT(?b) AS ?n) WHERE { " +
        "GRAPH <urn:g> { ?b <urn:val> ?v } }"
      val (c3, b3) = req(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(q, "UTF-8") + "&output=tsv")
      assert(c3 == 200 && b3.contains("2"), b3)
    } finally ep.stop()
    // the spooled-import route is disk-capped too (separately from the
    // in-heap cap): over graft.ep.maxImportBytes -> 413, spool deleted
    val prev = System.getProperty("graft.ep.maxImportBytes")
    System.setProperty("graft.ep.maxImportBytes", "4096")
    try {
      val ep2 = new Endpoint(spark, store, 0).start()
      try {
        val base = s"http://localhost:${ep2.boundPort}"
        val big = (0 until 200).map(i =>
          s"""<urn:s$i> <urn:p> "long enough payload line $i" .""")
          .mkString("\n")
        assert(big.length > 4096)
        val (c, b) = req(s"$base/data/?graph=urn:big", "PUT", big)
        assert(c == 413 && b.contains("too large"), s"$c $b")
      } finally ep2.stop()
    } finally {
      if (prev == null) System.clearProperty("graft.ep.maxImportBytes")
      else System.setProperty("graft.ep.maxImportBytes", prev)
    }
  }

  test("killability law: an in-memory fromTerms store still honors the " +
      "timeout (LocalRelation guard)") {
    // WITHOUT the construction-time guard this store is unkillable:
    // LocalRelation plans either fold into driver-side optimizer work
    // (ConvertToLocalRelation — no task to cancel) or feed
    // LocalTableScan stages that ignore task-kill until partition end
    // (the KillProbe at commit 61b514e: observed 18 min to completion).
    // The Endpoint must
    // convert such a store to RDD-backed plans BEFORE the first query,
    // so the same backtracking-regex monster dies at its deadline.
    val stmts = (0 until 50000).map(i =>
      (Uri(s"urn:s$i"): Term, Uri("urn:p"): Term, Lit(i.toString): Term))
    val mem = QuadStore.fromTerms(spark, stmts)
    val ep = new Endpoint(spark, mem, 0, queryTimeoutSec = 2).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val aRun = "a" * 50
      val slow = java.net.URLEncoder.encode(
        s"""SELECT (COUNT(*) AS ?n) WHERE {
          |  ?s <urn:p> ?o .
          |  FILTER(REGEX(REPLACE(STR(?o), "[0-9]", "$aRun"),
          |               "(a+)\\\\1+b")) }"""
          .stripMargin, "UTF-8")
      val t0 = System.nanoTime()
      val outcome =
        try {
          val (code, body) = req(s"$base/sparql/?query=$slow")
          if (code == 503 && body.contains("timeout")) "503"
          else if (code == 200 && body.contains("# ERROR:")) "marked"
          else s"completed:$code:${body.take(60)}"
        } catch { case _: java.io.IOException => "truncated" }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(Set("503", "marked", "truncated")(outcome), outcome)
      // 2x the 2s deadline plus kill-flag/core-drain granularity; far
      // below the minutes the un-guarded LocalRelation plan would take
      assert(sec < 10, s"cancellation took ${sec}s — store unkillable?")
    } finally ep.stop()
  }

  test("concurrent fast queries survive a peer request's deadline") {
    // the r7 flake: a fast request concurrent with a timed-out peer got
    // "spuriously cancelled" — root cause was its own deadline firing
    // while it starved behind the peer's tasks. With job-id-scoped
    // cancellation (nothing can cancel a peer's jobs), FAIR scheduling,
    // and a slow query whose killed tasks drain in ~10ms, every fast
    // query issued in and after the CANCELLATION WINDOW must succeed on
    // its FIRST attempt. (Probes before the deadline on a 4-core box
    // would measure raw task-slot contention, not cancellation — on a
    // cluster, slots exist; locally the monster rightly owns the cores
    // until its deadline.)
    val big = rddStore(50000)
    val ep = new Endpoint(spark, big, 0, queryTimeoutSec = 2,
      workerThreads = 8).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      // per row: digits -> 250 a's each (250-1000 chars), then an
      // O(n^2) BACKREFERENCE regex (~5-80ms/row; backrefs are exempt
      // from JDK9+'s loop memoization, unlike (a+)+b-style patterns
      // which modern JDKs match in linear time)
      val aRun = "a" * 50
      val slow = java.net.URLEncoder.encode(
        s"""SELECT (COUNT(*) AS ?n) WHERE {
          |  ?s <urn:p> ?o .
          |  FILTER(REGEX(REPLACE(STR(?o), "[0-9]", "$aRun"),
          |               "(a+)\\\\1+b")) }""".stripMargin, "UTF-8")
      val slowThread = new Thread(() =>
        try req(s"$base/sparql/?query=$slow")
        catch { case _: java.io.IOException => () })
      slowThread.start()
      val ok = java.net.URLEncoder.encode(
        "SELECT (COUNT(*) AS ?n) WHERE { ?s <urn:p> ?o }", "UTF-8")
      // probes start right at the deadline (t=2s) and span the
      // cancellation window and its aftermath
      Thread.sleep(2000)
      val failures = (1 to 6).flatMap { i =>
        val (c, b) = req(s"$base/sparql/?query=$ok&output=tsv&probe=$i")
        Thread.sleep(400)
        if (c == 200 && b.contains("50000") && !b.contains("# ERROR")) None
        else Some(s"probe $i: $c ${b.take(120)}")
      }
      slowThread.join(30000)
      assert(failures.isEmpty, failures.mkString("; "))
    } finally ep.stop()
  }

  test("GSP: GET reads a graph back as N-Triples; PUT replaces it") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val (c1, _) = req(s"$base/data/?graph=urn:g1", "PUT",
        "<urn:b> <urn:name> \"Bob\" .\n<urn:b> <urn:age> \"41\" .")
      assert(c1 == 201)
      // GET serializes exactly that graph, no graph term, NT syntax
      val (c2, b2) = req(s"$base/data/?graph=urn:g1", "GET")
      assert(c2 == 200)
      assert(b2.linesIterator.toSet == Set(
        "<urn:b> <urn:name> \"Bob\" .", "<urn:b> <urn:age> \"41\" ."), b2)
      // PUT again: REPLACES the graph (reference httpd.c:566 deletes the
      // model before import), it does not append
      val (c3, _) = req(s"$base/data/?graph=urn:g1", "PUT",
        "<urn:c> <urn:name> \"Carol\" .")
      assert(c3 == 201)
      val (_, b4) = req(s"$base/data/?graph=urn:g1", "GET")
      assert(b4.linesIterator.toSet ==
        Set("<urn:c> <urn:name> \"Carol\" ."), b4)
      // POST appends
      val (c5, _) = req(s"$base/data/?graph=urn:g1", "POST",
        "<urn:d> <urn:name> \"Dan\" .")
      assert(c5 == 201)
      val (_, b6) = req(s"$base/data/?graph=urn:g1", "GET")
      assert(b6.linesIterator.size == 2, b6)
      // the default graph stays untouched throughout
      val (_, st) = req(s"$base/status/")
      assert(st.contains("\"quads\":3"), st)
    } finally ep.stop()
  }

  test("GSP: no graph param addresses the default graph") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      // GET without graph= reads the default graph, not an empty
      // "empty-IRI" graph
      val (c1, b1) = req(s"$base/data/", "GET")
      assert(c1 == 200)
      assert(b1.linesIterator.toSet ==
        Set("<urn:a> <urn:name> \"Alice\" ."), b1)
      // POST without graph= appends to the default graph
      val (c2, _) = req(s"$base/data/", "POST",
        "<urn:b> <urn:name> \"Bob\" .")
      assert(c2 == 201)
      val (_, b3) = req(s"$base/data/", "GET")
      assert(b3.linesIterator.size == 2, b3)
    } finally ep.stop()
  }

  test("GSP GET honors the graph ACL (no unauthenticated read path)") {
    val store = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:a"), Uri("urn:name"), Lit("Public"))), graph = "urn:open")
      .union(QuadStore.fromTerms(spark, Seq(
        (Uri("urn:b"), Uri("urn:name"), Lit("Secret"))), graph = "urn:sec"))
    val ep = new Endpoint(spark, store, 0,
      acl = Map("k1" -> Seq("urn:open"))).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      // no key / bad key: 403 on every GSP verb
      val (c0, _) = req(s"$base/data/?graph=urn:sec", "GET")
      assert(c0 == 403)
      val (cW, _) = req(s"$base/data/?graph=urn:open&apikey=nope", "GET")
      assert(cW == 403)
      val (cP, _) = req(s"$base/data/?graph=urn:x&apikey=nope", "PUT",
        "<urn:z> <urn:p> \"v\" .")
      assert(cP == 403)
      // k1 reads its own graph…
      val (c1, b1) = req(s"$base/data/?graph=urn:open&apikey=k1", "GET")
      assert(c1 == 200 && b1.contains("Public"))
      // …but a disallowed graph serializes as empty, same as /sparql/
      val (c2, b2) = req(s"$base/data/?graph=urn:sec&apikey=k1", "GET")
      assert(c2 == 200 && !b2.contains("Secret"), b2)
    } finally ep.stop()
  }

  test("restricted mode caps rows and warns about truncation") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice")),
      (Uri("urn:b"), Uri("urn:name"), Lit("Bob")),
      (Uri("urn:c"), Uri("urn:name"), Lit("Carol"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val q = java.net.URLEncoder.encode(
        "SELECT ?n WHERE { ?s <urn:name> ?n } ORDER BY ?n", "UTF-8")
      // restricted + explicit soft-limit: cap applies AND the dropped-
      // results warning surfaces (query-datatypes.c:787-792) — as an XML
      // comment in the head (results.c:1929) and a # line in TSV
      val (cx, bx) = req(
        s"$base/sparql/?query=$q&restricted&soft-limit=2&output=xml")
      assert(cx == 200)
      assert(bx.linesIterator.count(_.contains("<result>")) == 2, bx)
      assert(bx.contains("<!-- some results have been dropped"), bx)
      val (ct, bt) = req(
        s"$base/sparql/?query=$q&restricted&soft-limit=2&output=tsv")
      assert(ct == 200 && bt.contains("# some results have been dropped"))
      // restricted under the default cap (998): no truncation, no warning
      val (cr, br) = req(s"$base/sparql/?query=$q&restricted&output=xml")
      assert(cr == 200)
      assert(br.linesIterator.count(_.contains("<result>")) == 3)
      assert(!br.contains("dropped"), br)
      // plain soft-limit (unrestricted): silent cap, as before
      val (cs, bs) = req(s"$base/sparql/?query=$q&soft-limit=2&output=xml")
      assert(cs == 200)
      assert(bs.linesIterator.count(_.contains("<result>")) == 2)
      assert(!bs.contains("dropped"), bs)
    } finally ep.stop()
  }

  test("default-graph-uri overrides the query dataset (protocol §2.1.4)") {
    val store = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:a"), Uri("urn:name"), Lit("Open"))), graph = "urn:open")
      .union(QuadStore.fromTerms(spark, Seq(
        (Uri("urn:b"), Uri("urn:name"), Lit("Sec"))), graph = "urn:sec"))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val q = java.net.URLEncoder.encode(
        "SELECT ?n WHERE { ?s <urn:name> ?n } ORDER BY ?n", "UTF-8")
      // no override: both graphs visible in the default union
      val (_, bAll) = req(s"$base/sparql/?query=$q&output=csv")
      assert(bAll.contains("Open") && bAll.contains("Sec"))
      // protocol dataset narrows to one graph
      val g = java.net.URLEncoder.encode("urn:open", "UTF-8")
      val (_, bOne) = req(
        s"$base/sparql/?query=$q&default-graph-uri=$g&output=csv")
      assert(bOne.contains("Open") && !bOne.contains("Sec"), bOne)
      // repeated values merge (both graphs again)
      val g2 = java.net.URLEncoder.encode("urn:sec", "UTF-8")
      val (_, bTwo) = req(s"$base/sparql/?query=$q" +
        s"&default-graph-uri=$g&default-graph-uri=$g2&output=csv")
      assert(bTwo.contains("Open") && bTwo.contains("Sec"), bTwo)
      // named-graph-uri scopes GRAPH patterns
      val qg = java.net.URLEncoder.encode(
        "SELECT ?n WHERE { GRAPH ?g { ?s <urn:name> ?n } } ORDER BY ?n",
        "UTF-8")
      val (_, bG) = req(
        s"$base/sparql/?query=$qg&named-graph-uri=$g2&output=csv")
      assert(bG.contains("Sec") && !bG.contains("Open"), bG)
    } finally ep.stop()
  }

  test("SERVICE from an HTTP query is denied unless opted in (SSRF)") {
    // a "victim" endpoint the attacker hopes to reach from the server
    val victim = new Endpoint(spark, QuadStore.fromTerms(spark, Seq(
      (Uri("urn:v"), Uri("urn:secret"), Lit("internal")))), 0).start()
    val front = new Endpoint(spark, QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice")))), 0).start()
    val opted = new Endpoint(spark, QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice")))), 0,
      serviceAllow = Some(_ => true)).start()
    try {
      val vUrl = s"http://localhost:${victim.boundPort}/sparql/"
      val q = java.net.URLEncoder.encode(
        s"""SELECT ?v WHERE { SERVICE <$vUrl> {
           | ?s <urn:secret> ?v } }""".stripMargin, "UTF-8")
      // default endpoint: federation denied, query errors
      val (c1, b1) = req(
        s"http://localhost:${front.boundPort}/sparql/?query=$q")
      assert(c1 == 400 && b1.contains("error"), s"$c1 $b1")
      assert(!b1.contains("internal"))
      // SILENT doesn't leak either — empty result, no request made
      val qs = java.net.URLEncoder.encode(
        s"""SELECT ?v WHERE { SERVICE SILENT <$vUrl> {
           | ?s <urn:secret> ?v } }""".stripMargin, "UTF-8")
      val (c2, b2) = req(
        s"http://localhost:${front.boundPort}/sparql/?query=$qs")
      assert(c2 == 200 && !b2.contains("internal"), b2)
      // an endpoint constructed with an allow policy federates
      val (c3, b3) = req(
        s"http://localhost:${opted.boundPort}/sparql/?query=$q")
      assert(c3 == 200 && b3.contains("internal"), s"$c3 $b3")
      // programmatic use keeps the permissive default
      import graft.sparql.Sparql
      val local = QuadStore.fromTerms(spark, Seq(
        (Uri("urn:x"), Uri("urn:p"), Lit("y"))))
      val direct = Sparql.run(local, spark,
        s"SELECT ?v WHERE { SERVICE <$vUrl> { ?s <urn:secret> ?v } }")
        .collect()
      assert(direct.map(_.getString(0)).toSeq == Seq("internal"))
    } finally { victim.stop(); front.stop(); opted.stop() }
  }

  test("multimodal stub plumbing: meta/resize/frames/features") {
    import spark.implicits._
    import graft.operators.Multimodal
    val docs = Seq((1L, "hello world of bytes"), (2L, "another payload"))
      .toDF("doc_id", "text")
    val media = Multimodal.asMedia(docs, "doc_id", "text", "image/fake")
    val meta = Multimodal.imageMeta(media).collect()
    assert(meta.length == 2 && meta.forall(m => m.width >= 64 && m.n_bytes > 0))
    // determinism
    val meta2 = Multimodal.imageMeta(media).collect()
    assert(meta.map(_.fp_prefix).toSet == meta2.map(_.fp_prefix).toSet)
    val resized = Multimodal.resize(media, 2).collect()
    assert(resized.forall(r => r.content.length <=
      media.collect().find(_.media_id == r.media_id).get.content.length))
    val frames = Multimodal.sampleFrames(media, frameBytes = 4, everyN = 2)
    assert(frames.count() > 0)
    val feats = Multimodal.features(media, dim = 8).collect()
    assert(feats.forall(_.getSeq[Float](1).length == 8))
  }
  // ---- round-5 surface: streaming serialization, content negotiation,
  // service description

  private def reqFull(url: String, accept: String = null)
      : (Int, String, java.util.Map[String, java.util.List[String]]) = {
    val conn = URI.create(url).toURL.openConnection()
      .asInstanceOf[HttpURLConnection]
    if (accept != null) conn.setRequestProperty("Accept", accept)
    val code = conn.getResponseCode
    val is = if (code < 400) conn.getInputStream else conn.getErrorStream
    val text = new String(is.readAllBytes(), UTF_8)
    (code, text, conn.getHeaderFields)
  }

  test("large results stream chunked, not collected") {
    val n = 100000
    val store = QuadStore.fromTerms(spark,
      Seq.tabulate(n)(i => (Uri(s"urn:s$i"), Uri("urn:p"), Lit(s"v$i"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val (code, bodyText, headers) = reqFull(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(
          "SELECT ?s ?v WHERE { ?s <urn:p> ?v }", "UTF-8") + "&output=tsv")
      assert(code == 200)
      // chunked transfer = rows left the driver incrementally
      // (toLocalIterator), with no Content-Length materialization
      assert(headers.containsKey("Transfer-encoding") &&
        headers.get("Transfer-encoding").get(0) == "chunked", headers)
      assert(bodyText.linesIterator.size == n + 1) // header + rows
    } finally ep.stop()
  }

  test("Accept header picks the format when output= is absent") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val sel = s"$base/sparql/?query=" + java.net.URLEncoder.encode(
        "SELECT ?n WHERE { ?s <urn:name> ?n }", "UTF-8")
      val (_, csvBody, csvHdr) = reqFull(sel, accept = "text/csv")
      assert(csvHdr.get("Content-type").get(0).startsWith("text/csv"))
      assert(csvBody.linesIterator.toSeq == Seq("n", "Alice"))
      val (_, xmlBody, _) = reqFull(sel,
        accept = "application/sparql-results+xml")
      assert(xmlBody.contains("<sparql xmlns"))
      // CONSTRUCT + text/turtle -> triples (N-Triples, valid Turtle)
      val cons = s"$base/sparql/?query=" + java.net.URLEncoder.encode(
        "CONSTRUCT { ?s <urn:label> ?n } WHERE { ?s <urn:name> ?n }",
        "UTF-8")
      val (_, ttlBody, ttlHdr) = reqFull(cons, accept = "text/turtle")
      assert(ttlHdr.get("Content-type").get(0).startsWith("text/turtle"))
      assert(ttlBody.trim ==
        "<urn:a> <urn:label> \"Alice\" .")
    } finally ep.stop()
  }

  test("/description/ serves the service document with live sizes") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val (code, body, hdr) = reqFull(s"$base/description/")
      assert(code == 200)
      assert(hdr.get("Content-type").get(0).startsWith("text/turtle"))
      assert(body.contains("a sd:Service"))
      assert(body.contains("sd:totalTriples 1"))
      assert(body.contains("saddle:mediaType \"application/sparql-results+json\""))
    } finally ep.stop()
  }

  test("/test/ serves the query widget; its form posts execute") {
    val store = QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice"))))
    val ep = new Endpoint(spark, store, 0).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val (c1, b1) = req(s"$base/test/")
      assert(c1 == 200 && b1.contains("<form action=\"../sparql/\"") &&
        b1.contains("soft-limit"))
      // what the widget's form submits: urlencoded query + output
      val (c2, b2) = req(s"$base/sparql/", "POST",
        "query=" + java.net.URLEncoder.encode(
          "SELECT * WHERE { ?s ?p ?o } LIMIT 10", "UTF-8") +
        "&output=text&soft-limit=5")
      assert(c2 == 200 && b2.contains("Alice"), b2)
    } finally ep.stop()
  }

  test("durable endpoint: updates survive a restart") {
    val name = "ep_dur1"
    val wh = java.nio.file.Paths.get(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    for (base <- Seq(s"${name}_quads", s"${name}_resources",
                     s"${name}_dels");
         t <- Seq(base, s"${base}__stage", s"${base}__old")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
      }
      rm(wh.resolve(t).toFile)
    }
    QuadStore.fromTerms(spark, Seq(
      (Uri("urn:a"), Uri("urn:name"), Lit("Alice")))).saveBucketed(name)

    val ep = new Endpoint(spark, QuadStore.loadBucketed(spark, name), 0,
      durableName = Some(name)).start()
    try {
      val base = s"http://localhost:${ep.boundPort}"
      val (c1, _) = req(s"$base/update/", "POST",
        """INSERT DATA { <urn:b> <urn:name> "Bob" }""")
      assert(c1 == 200)
      val (c2, _) = req(s"$base/data/?graph=urn:g1", "PUT",
        "<urn:x> <urn:name> \"Xavier\" .")
      assert(c2 == 201)
      // second PUT replaces g1 durably (tombstones + delta commit)
      val (c2b, _) = req(s"$base/data/?graph=urn:g1", "PUT",
        "<urn:c> <urn:name> \"Carol\" .")
      assert(c2b == 201)
      val (c3, _) = req(s"$base/update/", "POST",
        """DELETE DATA { <urn:a> <urn:name> "Alice" }""")
      assert(c3 == 200)
    } finally ep.stop()

    // "restart": a fresh endpoint over a fresh load of the saved tables
    val ep2 = new Endpoint(spark, QuadStore.loadBucketed(spark, name), 0,
      durableName = Some(name)).start()
    try {
      val base = s"http://localhost:${ep2.boundPort}"
      val (_, b) = req(s"$base/sparql/?query=" +
        java.net.URLEncoder.encode(
          "SELECT ?n WHERE { ?s <urn:name> ?n } ORDER BY ?n", "UTF-8") +
        "&output=tsv")
      assert(!b.contains("Alice") && b.contains("Bob") &&
        b.contains("Carol"), b)
      assert(!b.contains("Xavier"), s"PUT-replace did not survive: $b")
    } finally ep2.stop()
  }

}
