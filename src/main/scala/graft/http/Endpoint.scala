package graft.http

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.{InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.AtomicReference
import org.apache.spark.sql.SparkSession
import graft.rdf.QuadStore
import graft.sinks.Results
import graft.sparql.{Sparql, Update}
import graft.streaming.StreamIngest

/** HTTP SPARQL endpoint mirroring the reference's httpd routes
  * (`src/http/httpd.c:1102-1193`): GET/POST `/sparql/` (params `query`,
  * `output=`, `callback=`, `apikey=`), POST `/update/`, PUT/POST
  * `/data/?graph=g` (N-Triples payload, Graph Store protocol), GET
  * `/status/`. Built on the JDK's HttpServer — zero extra dependencies;
  * the heavy lifting stays in Spark.
  *
  * `acl`: graph-level access control by apikey (the reference's
  * `fsp_acl_*` surface, `src/common/4store.h:91-99`, enforced at results
  * time in `src/frontend/query-cache.c:375-423`). Empty map = ACL off
  * (every request sees everything). Non-empty: `/sparql/` requests must
  * carry a known `apikey=`; the query then runs against a store filtered
  * to that key's graphs (plus the default graph), so disallowed graphs
  * are invisible to BGPs, GRAPH patterns, and paths alike.
  */
final class Endpoint(spark: SparkSession, initial: QuadStore, port: Int = 0,
                     acl: Map[String, Seq[String]] = Map.empty,
                     /** when set, `/update/` and `/data/` mutations write
                       * through to the `saveBucketed` tables of this name
                       * (the reference's persistent backend,
                       * `import-backend.c`) — a restarted endpoint
                       * resumes from the last committed state via
                       * `QuadStore.loadBucketed` */
                     durableName: Option[String] = None,
                     /** SERVICE policy for queries arriving over HTTP:
                       * None (default) = federation DENIED — an untrusted
                       * query must not make this server originate
                       * requests (SSRF); Some(p) = only IRIs satisfying
                       * `p` may be contacted */
                     serviceAllow: Option[String => Boolean] = None,
                     /** cancel a request's Spark jobs after this many
                       * seconds and answer 503 (0 = no timeout) — the
                       * reference throttles complexity via soft limits;
                       * a Spark backend needs a wall-clock bound too */
                     queryTimeoutSec: Int = 0,
                     /** handler pool size: bounded so one slow request
                       * can't serialize the endpoint (the default
                       * HttpServer executor is single-threaded) */
                     workerThreads: Int = 8) {

  /** Killability law, ENFORCED: a LocalRelation-backed store is
    * effectively uncancellable — Catalyst's ConvertToLocalRelation
    * folds filters over LocalRelation into driver-side optimizer work
    * (no task to kill), and LocalTableScan-fed stages were observed to
    * ignore task-kill until partition end (the KillProbe at commit
    * 61b514e: rdd-backed dies in 30 ms, local-relation runs 18 min to
    * completion). A timed endpoint must never serve one, so any
    * LocalRelation leaf in the initial store's plans is converted to an
    * RDD-backed plan via an eager localCheckpoint at construction —
    * before the first query. In-memory stores are small by nature (they
    * were built from a driver-side Seq), so the one-off checkpoint cost
    * is trivial. */
  private def killable(st: QuadStore): QuadStore =
    if (queryTimeoutSec <= 0) st
    else {
      import org.apache.spark.sql.DataFrame
      import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
      def fix(df: DataFrame): DataFrame =
        if (df.queryExecution.analyzed.collectFirst {
              case _: LocalRelation => () }.isDefined)
          df.localCheckpoint()
        else df
      def fixStore(s: QuadStore): QuadStore = s.copy(
        quads = fix(s.quads),
        resources = fix(s.resources),
        valued = s.valued.map(fix),
        segments = s.segments.map(fixStore))
      fixStore(st)
    }

  private val storeRef = new AtomicReference[QuadStore](killable(initial))
  def store: QuadStore = storeRef.get()

  /** Force per-store lazily-cached infrastructure (the datatype map —
    * two small Spark jobs over the dictionary) so the FIRST query to
    * touch it doesn't pay it under ITS deadline. A cancelled lazy-val
    * initializer is retried — serialized on the instance monitor — by
    * every subsequent query, so letting a timed request be the
    * initializer poisons the whole endpoint's latency (observed: each
    * probe re-ran the cancelled dtUriMap jobs and blew its own budget).
    */
  private def warmed(st: QuadStore): QuadStore = {
    try st.dtUriMap
    catch {
      // a peer's deadline sweep misattributed the warm-up jobs: the
      // lazy val is NOT poisoned (a throwing initializer re-runs on
      // next access) and warming is best-effort — never fail the
      // REQUEST over it (an /update/ may have already committed, and
      // reporting that success as an error is worse than a cold map)
      case e: Exception if Endpoint.cancelledByPeerDeadline(e) => ()
    }
    st
  }

  private val server = HttpServer.create(new InetSocketAddress(port), 0)
  private val pool =
    java.util.concurrent.Executors.newFixedThreadPool(workerThreads)
  server.setExecutor(pool)

  /** Enforce the wall-clock bound on `body` by cancelling exactly the
    * Spark jobs THIS request submitted — never a tag, never a group.
    *
    * Mechanics: a request id goes into the submitting thread's local
    * properties around `body`; a per-context [[SparkListener]] (installed
    * once) attributes each started job to the id it carries, but only
    * while that id is registered as in-flight. At the deadline a shared
    * scheduler cancels the collected job ids by id
    * (`SparkContext.cancelJob`) and keeps sweeping every 500 ms so a
    * multi-stage query that submits further jobs AFTER the deadline is
    * bounded too (a one-shot cancel lets later stages run to completion).
    *
    * Why not job tags (SPARK-44194): Spark spawns SQL/AQE threads
    * lazily and a thread created during a tagged request inherits the
    * tag in its cloned local properties — a job a CONCURRENT request
    * submits through such a pooled thread near the deadline was observed
    * to be cancelled spuriously. Cancelling by collected job id removes
    * the blast radius: a stale inherited request-property can at worst
    * misattribute a job submitted DURING the timed-out request's own
    * window, and that case is absorbed below — a cancellation that
    * carries our reason marker while OUR deadline never fired is retried
    * in-process, so the client still sees a first-attempt success. */
  private def timed[A](body: => A): A =
    if (queryTimeoutSec <= 0) body
    else {
      val unsafe = Endpoint.beginRetryScope()
      try {
        var attempt = 0
        while (true) {
          attempt += 1
          try return timedOnce(body)
          catch {
            case e: Exception
                if attempt < 3 && !unsafe.get() &&
                  Endpoint.cancelledByPeerDeadline(e) =>
              // our jobs were killed by ANOTHER request's deadline sweep
              // (stale inherited request-property, see scaladoc) AND the
              // handler has neither written response bytes nor begun a
              // store mutation (the retryUnsafe latch) — re-running is
              // safe and invisible. Once bytes are out or an update has
              // started, the error propagates instead: a retried POST
              // would re-send headers on a live exchange or double-apply
              // the mutation.
          }
        }
        throw new IllegalStateException("unreachable")
      } finally Endpoint.endRetryScope()
    }

  private def timedOnce[A](body: => A): A = {
    val sc = spark.sparkContext
    Endpoint.ensureListener(sc)
    val rid = java.util.UUID.randomUUID().toString
    val jobs = Endpoint.register(rid)
    val timedOut = new java.util.concurrent.atomic.AtomicBoolean(false)
    sc.setLocalProperty(Endpoint.RequestProp, rid)
    val sweep = Endpoint.scheduler.scheduleWithFixedDelay(
      () => {
        timedOut.set(true)
        // idempotent: re-cancelling a finished job is a no-op; the
        // repeat sweeps exist for jobs submitted after the deadline
        // and for listener-bus delivery lag
        jobs.forEach(id =>
          sc.cancelJob(id, s"${Endpoint.CancelReason} $rid"))
      },
      queryTimeoutSec * 1000L, 500L,
      java.util.concurrent.TimeUnit.MILLISECONDS)
    try body
    catch {
      case e: Exception if timedOut.get() =>
        throw new java.util.concurrent.TimeoutException(
          "query timeout exceeded")
    } finally {
      sweep.cancel(false)
      sc.setLocalProperty(Endpoint.RequestProp, null)
      Endpoint.deregister(rid)
      // a cancellation interrupt must not poison this POOLED thread's
      // next request (a set interrupt status makes any blocking Spark
      // await throw immediately)
      Thread.interrupted()
    }
  }

  def boundPort: Int = server.getAddress.getPort

  /** ordered (key, value) pairs — keeps repeated params (the protocol's
    * default-graph-uri may appear many times) and valueless keys (the
    * reference's bare `restricted` flag, httpd.c:1131) */
  private def paramList(query: String): Seq[(String, String)] =
    Option(query).getOrElse("").split("&").toSeq.filter(_.nonEmpty)
      .map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => k -> URLDecoder.decode(v, "UTF-8")
          case Array(k)    => k -> ""
        }
      }

  private def params(query: String): Map[String, String] =
    paramList(query).filter(_._2.nonEmpty).toMap

  /** run `body` under this endpoint's federation policy: SERVICE in an
    * HTTP-arriving query is denied unless `serviceAllow` opted in.
    *
    * Each request also gets its own Spark scheduler pool (bounded name
    * set, so a long-lived server can't grow the scheduler's pool tree
    * without bound). Under `spark.scheduler.mode=FAIR` — which a
    * multi-tenant endpoint should run with — this stops a runaway query
    * from STARVING concurrent fast queries out of task slots until they
    * blow their own deadline (the root cause of the r7 cancellation
    * flake: under FIFO, a fast COUNT queued behind a 10^9-row cross
    * product exceeded its own 2 s budget without ever running a task).
    * Under FIFO mode the property is inert, so setting it is safe
    * regardless of the hosting session's configuration. */
  private def fedScoped[A](body: => A): A = {
    val sc = spark.sparkContext
    val pool = "graft-ep-" + (Endpoint.poolTicket.getAndIncrement() & 31)
    sc.setLocalProperty("spark.scheduler.pool", pool)
    try timed(serviceAllow match {
      case Some(p) =>
        graft.sparql.Federation.withPolicy("ep-allow", p)(body)
      case None => graft.sparql.Federation.denied(body)
    })
    finally sc.setLocalProperty("spark.scheduler.pool", null)
  }

  /** Per-EXCHANGE state. NOT HttpExchange.setAttribute — that map is
    * CONTEXT-scoped in the JDK server (shared by every exchange of the
    * route, JDK-8235786), so a flag set by one request would poison all
    * later ones. Weak keys: entries vanish with their exchange. */
  private val respondedEx = java.util.Collections.synchronizedSet(
    java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[HttpExchange, java.lang.Boolean]()))
  private val bufferedBodies = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[HttpExchange, String]())

  private def respond(ex: HttpExchange, code: Int, body: String,
                      ctype: String = "application/json"): Unit = {
    // a handler's catch may reach here after a streaming response
    // already sent the 200 headers — a second sendResponseHeaders
    // throws, so skip (the in-band `# ERROR:` marker already went out)
    if (!respondedEx.add(ex)) return
    Endpoint.markRetryUnsafe()
    val bytes = body.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(code, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** The error answer every handler shares. The message goes through
    * the JSON escaper: a quote or newline in it must not break the
    * body. */
  private def failed(ex: HttpExchange): PartialFunction[Throwable, Unit] = {
    case _: java.util.concurrent.TimeoutException =>
      respond(ex, 503, """{"error":"query timeout exceeded"}""")
    case _: Endpoint.BodyTooLarge =>
      respond(ex, 413, """{"error":"request body too large"}""")
    case e: Exception =>
      respond(ex, 400, s"""{"error":"${
        Results.jsonEscape(String.valueOf(e.getMessage))}"}""")
  }

  /** chunked streaming response — result rows go out as they arrive
    * from `toLocalIterator` (the reference serializes row-at-a-time,
    * `results.c:2598+`); a huge CONSTRUCT/SELECT never materializes in
    * driver memory */
  private def respondStream(ex: HttpExchange, ctype: String)(
      write: java.io.Writer => Unit): Unit = {
    respondedEx.add(ex)
    Endpoint.markRetryUnsafe()
    ex.getResponseHeaders.set("Content-Type", ctype)
    ex.sendResponseHeaders(200, 0) // length 0 = chunked transfer
    val w = new java.io.OutputStreamWriter(ex.getResponseBody, UTF_8)
    try { write(w); w.flush() }
    catch {
      case e: Throwable =>
        // the 200 status line is long gone; flush an in-band marker (the
        // reference's `# warning` comment convention) so a client can
        // tell a failed stream from a complete one, then rethrow for
        // the handler's logging path
        // newlines flattened: the marker must stay ONE comment line
        try {
          w.write(s"\n# ERROR: ${
            String.valueOf(e.getMessage).replaceAll("[\r\n]+", " ")}\n")
          w.flush()
        }
        catch { case _: Throwable => }
        throw e
    } finally ex.close()
  }

  /** request body, buffered ONCE per exchange: a peer-cancellation
    * retry re-enters the handler body, and a second readAllBytes on the
    * consumed stream would hand the retried POST an empty body.
    *
    * Size-capped: an unbounded readAllBytes lets one multi-GB POST OOM
    * the whole driver (the /data/ import path legitimately accepts
    * large N-Triples bodies, so the default cap is generous — 256 MB,
    * tunable via `graft.ep.maxBodyBytes`). Overflow raises
    * [[Endpoint.BodyTooLarge]], answered as HTTP 413. */
  private val maxBodyBytes: Long =
    sys.props.get("graft.ep.maxBodyBytes").map(_.toLong)
      .getOrElse(256L * 1024 * 1024)
  /** Disk cap for spooled GSP import bodies (default 16 GiB,
    * `graft.ep.maxImportBytes`): far above [[maxBodyBytes]]'s in-heap
    * cap — imports stream to disk, not heap — but still bounded, or one
    * client streaming an endless chunked body fills the server's disk
    * (which is also Spark's shuffle space) and takes down the host. */
  private val maxImportBytes: Long =
    sys.props.get("graft.ep.maxImportBytes").map(_.toLong)
      .getOrElse(16L * 1024 * 1024 * 1024)
  /** GSP import bodies spool to a TEMP FILE in streaming 64 KB chunks
    * (bounded heap) instead of [[bodyOf]]'s in-heap String: the
    * reference's `/data/` accepts arbitrarily large graph PUTs via
    * Raptor's streaming parse (`httpd.c:687-753`), and the 256 MB
    * in-heap cap would force anything bigger through the CLI. The
    * spooled file feeds the DISTRIBUTED N-Triples parse
    * (`spark.read.textFile`), so import scales with the cluster, not
    * the driver heap. Cached per exchange so the body is read once per
    * request; the content digest computed during spooling seeds the PUT
    * path's per-document bnode scope. Files are deleted when the
    * handler exits (success OR failure — a failed multi-GB import must
    * not leak its spool for the server's lifetime), with deleteOnExit
    * as the crash backstop. */
  private val spooledBodies = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[HttpExchange, (java.nio.file.Path, String)]())
  private def spoolBody(ex: HttpExchange): (java.nio.file.Path, String) = {
    val cached = spooledBodies.get(ex)
    if (cached != null) cached
    else {
      val tmp = java.nio.file.Files.createTempFile("graft_gsp", ".nt")
      tmp.toFile.deleteOnExit()
      val in = ex.getRequestBody
      val out = java.nio.file.Files.newOutputStream(tmp)
      var ok = false // ANY mid-spool failure (cap, client abort, disk
      // full) must delete the partial file NOW: the handler's
      // finally-dropSpool only sees bodies registered in the map, and
      // deleteOnExit is a crash backstop, not lifecycle management —
      // a long-lived server would otherwise accumulate partial spools.
      // Digest: block-chained XXH64 over FIXED 1 MB boundaries (so the
      // value is independent of how the transport fragments reads),
      // length folded in at the end. It seeds the PUT path's bnode
      // scope — a content fingerprint, not a cryptographic commitment —
      // and MD5 here capped the whole spool at ~250 MB/s single-thread
      // where XXH64 runs at transport/disk speed.
      var h = 42L
      var total = 0L
      val block = new Array[Byte](1 << 20)
      var fill = 0
      def foldBlock(len: Int): Unit =
        h = org.apache.spark.sql.catalyst.expressions.XXH64.hashLong(
          org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
            block, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
            len, 42L), h)
      try {
        var n = in.read(block, fill, block.length - fill)
        while (n >= 0) {
          total += n
          if (total > maxImportBytes)
            throw new Endpoint.BodyTooLarge(maxImportBytes)
          out.write(block, fill, n)
          fill += n
          if (fill == block.length) { foldBlock(fill); fill = 0 }
          n = in.read(block, fill, block.length - fill)
        }
        if (fill > 0) foldBlock(fill)
        h = org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(total, h)
        ok = true
      } finally {
        out.close()
        if (!ok) {
          try java.nio.file.Files.deleteIfExists(tmp)
          catch { case _: Exception => () }
        }
      }
      val v = (tmp, java.lang.Long.toHexString(h))
      spooledBodies.put(ex, v)
      v
    }
  }
  private def dropSpool(ex: HttpExchange): Unit = {
    val v = spooledBodies.remove(ex)
    if (v != null) { try java.nio.file.Files.deleteIfExists(v._1)
      catch { case _: Exception => () } }
  }

  private def bodyOf(ex: HttpExchange): String = {
    // An exchange is handled by exactly one thread, so per-key atomicity
    // isn't needed — and the read loop must NOT run inside the map's
    // mutex (computeIfAbsent would hold it), or one slow multi-MB upload
    // serializes every concurrent request's body read behind one client.
    // Locked get, read outside the lock, locked put.
    val cached = bufferedBodies.get(ex)
    if (cached != null) cached
    else {
      val in = ex.getRequestBody
      val buf = new java.io.ByteArrayOutputStream()
      val chunk = new Array[Byte](64 * 1024)
      var n = in.read(chunk)
      while (n >= 0) {
        buf.write(chunk, 0, n)
        if (buf.size() > maxBodyBytes)
          throw new Endpoint.BodyTooLarge(maxBodyBytes)
        n = in.read(chunk)
      }
      val s = new String(buf.toByteArray, UTF_8)
      bufferedBodies.put(ex, s)
      s
    }
  }

  server.createContext("/sparql/", new HttpHandler {
    def handle(ex: HttpExchange): Unit = try fedScoped {
      val pl =
        if (ex.getRequestMethod == "POST") {
          val b = bodyOf(ex)
          if (b.trim.startsWith("query=") || b.contains("&query="))
            paramList(b)
          else Seq("query" -> b)
        } else paramList(ex.getRequestURI.getRawQuery)
      val p = pl.filter(_._2.nonEmpty).toMap
      p.get("query") match {
        case None => respond(ex, 400, """{"error":"missing query"}""")
        case Some(_) if acl.nonEmpty &&
            !p.get("apikey").exists(acl.contains) =>
          respond(ex, 403, """{"error":"unknown or missing apikey"}""")
        case Some(q) =>
          val visible =
            if (acl.isEmpty) store
            else store.restrictGraphs(
              acl(p("apikey")).map(graft.rdf.Rid.uri) :+
                graft.rdf.WellKnown.defaultGraph)
          // SPARQL 1.1 Protocol dataset override (the reference parses
          // `default-graph-uri=`, httpd.c:1143-1145); repeatable
          val dsDefault =
            pl.collect { case ("default-graph-uri", v) if v.nonEmpty => v }
          val dsNamed =
            pl.collect { case ("named-graph-uri", v) if v.nonEmpty => v }
          // NT-serialized SELECT terms: kind/datatype/lang survive to
          // the XML/JSON/TSV serializers (and to SERVICE peers)
          var df = Sparql.runNt(visible, spark, q,
            dsDefault.toList, dsNamed.toList)
          // complexity throttle (httpd.c:1131-1139): explicit
          // `soft-limit=` caps result rows; bare `restricted` engages
          // the reference's default cap (FS_FANOUT_LIMIT 998,
          // query.c:374-377) plus a truncation warning
          val restricted = pl.exists(_._1 == "restricted")
          val softLimit = p.get("soft-limit").map(_.toInt).filter(_ > 0)
            .orElse(if (restricted) Some(998) else None)
          var warnings: Seq[String] = Nil
          softLimit.foreach { n =>
            if (restricted) {
              // bounded materialization (≤ n+1 rows) so the warning can
              // be decided before the head is serialized — the
              // reference's "dropped to prevent overrunning" notice
              // (query-datatypes.c:787-792)
              val taken = df.limit(n + 1).collect()
              if (taken.length > n) warnings = Seq("some results have " +
                "been dropped to prevent overunning time allocation")
              df = spark.createDataFrame(
                java.util.Arrays.asList(taken.take(n): _*), df.schema)
            } else df = df.limit(n)
          }
          // explicit `output=` wins; otherwise the Accept header picks
          // the format, in the reference's precedence order
          // (`http_answer_query`, httpd.c:404-444)
          val accept =
            Option(ex.getRequestHeaders.getFirst("Accept")).getOrElse("")
          val isGraph = graft.sparql.Parser.parse(q) match {
            case _: graft.sparql.Ast.ConstructQ |
                 _: graft.sparql.Ast.DescribeQ => true
            case _ => false
          }
          val fmt = p.get("output").getOrElse {
            if (isGraph && accept.contains("text/turtle")) "turtle"
            else if (isGraph && accept.contains("application/rdf+xml")) "xml"
            else if (accept.contains("application/sparql-results+xml")) "xml"
            else if (accept.contains("application/sparql-results+json"))
              "json"
            else if (accept.contains("application/json")) "json"
            else if (accept.contains("text/tab-separated-values")) "tsv"
            else if (accept.contains("application/n-triples")) "ntriples"
            else if (accept.contains("text/csv")) "csv"
            else if (accept.contains("text/plain")) "tsv"
            else "json"
          }
          def writeNt(w: java.io.Writer): Unit = {
            val it = df.toLocalIterator()
            while (it.hasNext) {
              val r = it.next()
              w.write(s"${r.getString(0)} ${r.getString(1)} ${
                r.getString(2)} .\n")
            }
          }
          fmt match {
            case "xml" => respondStream(ex,
              "application/sparql-results+xml")(
              Results.writeXml(df, _, warnings))
            case "tsv" | "text" => respondStream(ex,
              "text/tab-separated-values")(
              Results.writeTsv(df, _, warnings))
            case "csv" =>
              respondStream(ex, "text/csv")(
                Results.writeCsv(df, _, warnings))
            case "turtle" => // N-Triples is valid Turtle, as the
              respondStream(ex, "text/turtle")(writeNt) // reference emits
            case "ntriples" =>
              respondStream(ex, "application/n-triples")(writeNt)
            case _ => respondStream(ex, "application/sparql-results+json")(
              Results.writeJson(df, _, p.getOrElse("callback", "")))
          }
      }
    } catch failed(ex)
  })

  server.createContext("/update/", new HttpHandler {
    // fedScoped: DELETE/INSERT … WHERE can embed SERVICE — same SSRF
    // surface as /sparql/
    def handle(ex: HttpExchange): Unit = try fedScoped {
      val b = bodyOf(ex)
      val text = if (b.startsWith("update=")) params(b)("update") else b
      durableName match {
        case Some(n) => // write-through: commit, then serve the reload
          // disk writes begin inside durable(): from here a retried
          // body could double-apply the update — disable the
          // peer-cancellation retry before committing anything
          Endpoint.markRetryUnsafe()
          storeRef.set(Update.durable(spark, n, text))
        case None =>
          // the swap IS the commit point (a throw inside the lambda
          // leaves storeRef untouched, so retry stays safe up to here)
          storeRef.updateAndGet(st => Update(st, spark, text))
          Endpoint.markRetryUnsafe()
      }
      warmed(store)
      respond(ex, 200, """{"ok":true}""")
    } catch failed(ex)
  })

  server.createContext("/data/", new HttpHandler {
    def handle(ex: HttpExchange): Unit = try {
      import spark.implicits._
      import org.apache.spark.sql.functions.{col, lit}
      val p = params(ex.getRequestURI.getRawQuery)
      // same apikey gate as /sparql/: with an ACL configured, the graph
      // store protocol must not become an unauthenticated read (or
      // write) path around it
      if (acl.nonEmpty && !p.get("apikey").exists(acl.contains)) {
        respond(ex, 403, """{"error":"unknown or missing apikey"}""")
        return
      }
      // GSP default-graph addressing: no `graph=` (or explicit
      // `default`) means the store's default graph, not a graph named
      // by the empty IRI
      val graph = p.getOrElse("graph", "") match {
        case "" => graft.rdf.WellKnown.defaultGraphUri
        case g  => g
      }
      // streaming import: body spooled to disk (graft.ep.maxImportBytes
      // disk cap -> 413), parsed DISTRIBUTED (textFile -> parseNtLines).
      // Bnode labels scope per document (RDF 1.1 §3.4), same `_d<scope>`
      // scheme as Turtle.scopeLabel, applied as a column expression.
      // The scope SEED differs by verb: PUT replaces the graph, so a
      // digest-keyed scope makes re-PUTting the same body byte-for-byte
      // idempotent; POST is an RDF MERGE (GSP §5.5) where a second POST
      // of the same document must mint FRESH bnodes, not unify with the
      // first's — so POST folds in a per-request nonce.
      // Returns a PINNED store (every form localCheckpoint'ed off the
      // spool in ONE parse pass — QuadStore.pinnedFromFlat): after the
      // handler responds the store no longer references the spool file,
      // durable mode reloads from the delta tables, and the in-memory
      // union stays killable/RDD-backed.
      def parsedBody(seedNonce: String): QuadStore = {
        import org.apache.spark.sql.functions.{concat, when}
        val (f, digest) = spoolBody(ex)
        val scope =
          graft.rdf.Turtle.scopeFor(s"$graph:$digest$seedNonce")
        val suffix = graft.rdf.Turtle.scopeSuffix(scope)
        // the spool is ONE file: spark.read.textFile splits it by
        // spark.sql.files.maxPartitionBytes (128 MB) — a 400 MB body
        // would parse 4-wide on a 32-core box, and every downstream
        // scan of the cached parse inherits that width. Ask the Hadoop
        // text input for explicit splits instead: at least the
        // cluster's parallelism, at most ~16 MB each.
        val nSplits = math.max(spark.sparkContext.defaultParallelism,
          (java.nio.file.Files.size(f) >> 24).toInt + 1)
        val lines = spark.createDataset(
          spark.sparkContext.textFile(f.toString, nSplits))(
          org.apache.spark.sql.Encoders.STRING)
        val flat = StreamIngest.parseNtLines(lines)
          .withColumn("gLex", lit(graph))
          .withColumn("sLex", when(col("sKind") === 2,
            concat(col("sLex"), lit(suffix))).otherwise(col("sLex")))
          .withColumn("oLex", when(col("oKind") === 2,
            concat(col("oLex"), lit(suffix))).otherwise(col("oLex")))
        QuadStore.pinnedFromFlat(spark, flat)
      }
      ex.getRequestMethod match {
        case "GET" => // GSP read: the graph serialized as N-Triples
          val gRid = graft.rdf.Rid.uri(graph)
          val readable = // ACL'd keys read only their graphs
            if (acl.isEmpty) store
            else store.restrictGraphs(
              acl(p("apikey")).map(graft.rdf.Rid.uri) :+
                graft.rdf.WellKnown.defaultGraph)
          val one = readable.copy(quads = readable.quads
              .filter(col("g") === gRid)
              .withColumn("g", lit(graft.rdf.WellKnown.defaultGraph)),
            valued = None)
          respondStream(ex, "application/n-triples") { w =>
            val it = one.toNQuadLines.toLocalIterator()
            while (it.hasNext) { w.write(it.next().getString(0)); w.write("\n") }
          }
        case "POST" => // append (reference http_post_data, httpd.c:590)
          val add = parsedBody(
            s":post${graft.sparql.Update.bootId}:${
              Endpoint.postNonce.incrementAndGet()}")
          durableName match {
            case Some(n) => // graph-store import: append-only delta
              val before = store
              Update.appendDelta(spark, n, before, before.union(add))
              storeRef.set(Update.reload(spark, n))
            case None => // add is already pinned (parsedBody)
              storeRef.updateAndGet(_.union(add))
          }
          warmed(store)
          respond(ex, 201, """{"ok":true}""")
        case "PUT" => // REPLACE the graph (reference import start deletes
          // the model before streaming the body in, httpd.c:566)
          val add = parsedBody("")
          val gRid = graft.rdf.Rid.uri(graph)
          durableName match {
            case Some(n) =>
              val before = store
              val minus = before.copy(
                quads = before.quads.filter(col("g") =!= gRid),
                valued = None)
              Update.commitDelta(spark, n, before, minus.union(add))
              storeRef.set(Update.reload(spark, n))
            case None => // add is already pinned (parsedBody)
              storeRef.updateAndGet(st => st.copy(
                quads = st.quads.filter(col("g") =!= gRid),
                valued = None).union(add))
          }
          warmed(store)
          respond(ex, 201, """{"ok":true}""")
        case "DELETE" =>
          // drop the inline-value scan form too: it would retain the
          // deleted graph's rows
          storeRef.updateAndGet(st =>
            st.copy(quads = st.quads.filter(
              org.apache.spark.sql.functions.col("g") =!=
                graft.rdf.Rid.uri(graph)), valued = None))
          durableName.foreach { n =>
            // graph tombstones: O(graph) append, never a store rewrite
            spark.table(s"${n}_quads")
              .filter(org.apache.spark.sql.functions.col("g") ===
                graft.rdf.Rid.uri(graph))
              .write.mode("append").format("parquet")
              .saveAsTable(s"${n}_dels")
            spark.catalog.refreshTable(s"${n}_dels")
            Update.maybeCompact(spark, n)
            storeRef.set(Update.reload(spark, n))
          }
          warmed(store)
          respond(ex, 200, """{"ok":true}""")
        case _ => respond(ex, 405, """{"error":"method"}""")
      }
    } catch failed(ex)
    finally dropSpool(ex) // success AND failure: a failed multi-GB
      // import must not leak its spool for the server's lifetime
  })

  server.createContext("/status/", new HttpHandler {
    def handle(ex: HttpExchange): Unit = try {
      if (ex.getRequestURI.getPath.startsWith("/status/size")) {
        // per-graph quad counts (the reference's /status/size/ + 4s-size)
        import org.apache.spark.sql.functions._
        val rows = store.resolve(
            store.quads.groupBy("g").agg(count(lit(1)).as("n")), Seq("g"))
          .select(col("g__lex"), col("n")).collect()
          .map(r => s""""${r.getString(0)}":${r.getLong(1)}""")
          .mkString("{", ",", "}")
        respond(ex, 200, s"""{"graphs":$rows,"ok":true}""")
      } else {
        val n = store.quads.count()
        respond(ex, 200, s"""{"quads":$n,"engine":"graft","ok":true}""")
      }
    } catch failed(ex)
  })

  /** service description (`http_service_description`,
    * `src/http/httpd.c:1003-1070`): the reference's Turtle document —
    * query language, result formats, store size — with live counts. */
  server.createContext("/description/", new HttpHandler {
    def handle(ex: HttpExchange): Unit = try {
      val st = store
      val body =
        """@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
          |@prefix sd: <http://darq.sf.net/dose/0.1#> .
          |@prefix saddle: <http://www.w3.org/2005/03/saddle/#> .
          |@prefix void: <http://rdfs.org/ns/void#> .
          |[] a sd:Service ;
          |  saddle:queryLanguage [
          |    rdfs:label "SPARQL" ;
          |    saddle:spec <http://www.w3.org/TR/rdf-sparql-query/>
          |  ] ;
          |  saddle:resultFormat [
          |    rdfs:label "SPARQL Query Results XML" ;
          |    saddle:mediaType "application/sparql-results+xml" ;
          |    saddle:spec <http://www.w3.org/TR/rdf-sparql-XMLres/>
          |  ] ;
          |  saddle:resultFormat [
          |    rdfs:label "SPARQL Query Results JSON" ;
          |    saddle:mediaType "application/sparql-results+json" ;
          |    saddle:spec <http://www.w3.org/TR/rdf-sparql-json-res/>
          |  ] ;
          |  saddle:resultFormat [
          |    rdfs:label "SPARQL Query Results UTF-8 text" ;
          |    saddle:mediaType "text/plain" ;
          |    saddle:spec <http://example.org/sparql/text-format/>
          |  ] ;
          |""".stripMargin +
          s"""  rdfs:label "graft SPARQL Endpoint" ;
             |  sd:totalTriples ${st.quads.count()} ;
             |  sd:totalResources ${st.resources.count()} ;
             |.
             |""".stripMargin
      respond(ex, 200, body, "text/turtle; charset=utf-8")
    } catch failed(ex)
  })

  /** test-query widget (`http_query_widget`, `httpd.c:1070-1100`): a
    * plain HTML form posting to `/sparql/` — same textarea defaults,
    * soft-limit field, and output selector as the reference. */
  server.createContext("/test/", new HttpHandler {
    def handle(ex: HttpExchange): Unit =
      respond(ex, 200,
        """<!DOCTYPE html>
          |<html><head><title>SPARQL httpd test query</title></head>
          |<body><h1>graft SPARQL endpoint test query</h1>
          |<form action="../sparql/" method="post">
          |<textarea name="query" cols="80" rows="18">
          |PREFIX rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#>
          |PREFIX rdfs: <http://www.w3.org/2000/01/rdf-schema#>
          |
          |SELECT * WHERE {
          | ?s ?p ?o
          |} LIMIT 10
          |</textarea><br>
          |<em>Soft limit</em> <input type="text" name="soft-limit">
          |<select name="output">
          |<option>xml</option>
          |<option>json</option>
          |<option>text</option>
          |</select>
          |<input type="submit" value="Execute"><input type="reset">
          |</form>
          |</body></html>
          |""".stripMargin, "text/html; charset=UTF-8")
  })

  def start(): Endpoint = { warmed(store); server.start(); this }
  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}

/** Per-JVM request→job attribution for [[Endpoint.timed]]: one daemon
  * deadline scheduler, one [[org.apache.spark.scheduler.SparkListener]]
  * per SparkContext, and a registry of in-flight request ids. A job is
  * attributed to the request id in its start-event properties ONLY while
  * that id is registered — a stale id cloned into a lazily-spawned Spark
  * thread (the tag-inheritance hazard) attributes to nothing once its
  * request has finished. */
private[http] object Endpoint {
  /** request body exceeded the configured cap — answered as 413 */
  final class BodyTooLarge(max: Long) extends RuntimeException(
    s"request body exceeds $max bytes")

  val RequestProp = "graft.ep.request"
  val CancelReason = "graft-ep-timeout"
  /** Per-JVM GSP POST counter: POST is an RDF merge, so each request's
    * bnode scope must be fresh (see the /data/ handler). Combined with
    * [[graft.sparql.Update.bootId]] at the use site so scopes stay
    * unique across JVM restarts of a durable store, not just within
    * one boot — the counter alone resets and can collide. */
  val postNonce = new java.util.concurrent.atomic.AtomicLong(0L)
  val poolTicket = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Per-request "a retry would be visible" latch: tripped the moment a
    * handler writes response bytes or begins a store mutation. The
    * peer-cancellation retry in [[Endpoint.timed]] is only invisible to
    * the client while the request has neither responded nor mutated —
    * re-running a body after either risks a double-applied update or a
    * second sendResponseHeaders on a live exchange. ThreadLocal is
    * sound because a request's handler body runs entirely on the pool
    * thread that entered timed(). */
  private val retryUnsafe =
    new ThreadLocal[java.util.concurrent.atomic.AtomicBoolean]()
  def beginRetryScope(): java.util.concurrent.atomic.AtomicBoolean = {
    val f = new java.util.concurrent.atomic.AtomicBoolean(false)
    retryUnsafe.set(f)
    f
  }
  def endRetryScope(): Unit = retryUnsafe.remove()
  def markRetryUnsafe(): Unit = {
    val f = retryUnsafe.get(); if (f != null) f.set(true)
  }

  val scheduler: java.util.concurrent.ScheduledExecutorService =
    java.util.concurrent.Executors.newScheduledThreadPool(1, r => {
      val t = new Thread(r, "graft-ep-deadline"); t.setDaemon(true); t
    })

  private val active = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.Set[Integer]]()

  def register(rid: String): java.util.Set[Integer] = {
    val s = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
    active.put(rid, s)
    s
  }
  def deregister(rid: String): Unit = active.remove(rid)

  private val listenerInstalled =
    java.util.Collections.newSetFromMap(
      new java.util.concurrent.ConcurrentHashMap[
        org.apache.spark.SparkContext, java.lang.Boolean]())

  def ensureListener(sc: org.apache.spark.SparkContext): Unit =
    if (listenerInstalled.add(sc))
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          val rid =
            if (e.properties == null) null
            else e.properties.getProperty(RequestProp)
          if (rid != null) {
            val s = active.get(rid)
            if (s != null) s.add(e.jobId)
          }
        }
      })

  /** true when the exception chain says a job died to OUR cancel reason
    * — i.e. some request's deadline sweep — letting the catcher decide
    * (via its own timedOut flag) whether that deadline was its own or a
    * peer's misattributed sweep worth retrying through */
  def cancelledByPeerDeadline(e: Throwable): Boolean = {
    var c: Throwable = e
    var depth = 0
    while (c != null && depth < 12) {
      val m = c.getMessage
      if (m != null && m.contains(CancelReason)) return true
      c = c.getCause
      depth += 1
    }
    false
  }
}
