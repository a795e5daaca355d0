package graft

import graft.rdf._
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Randomized invariant tests over the pure kernels (fixed seed — the
  * sample set is deterministic, so failures reproduce). These cover the
  * input space the example-based specs can't enumerate: arbitrary
  * unicode, controls, quotes, backslashes, combining marks.
  */
class PropertySpec extends SparkTestBase {

  private val rnd = new scala.util.Random(42)
  private val pool: IndexedSeq[Char] =
    ('a' to 'z') ++ ('A' to 'Z') ++ ('0' to '9') ++
      Seq(' ', ' ', ' ', '\t', '\n', '\r', '"', '\\', '\'', '.', ',',
        '<', '>', '&', ';', '\u0007', '\u00a0', '\u00e9', '\u0301',
        '\u00df', '\u4e2d', '\u6587', '\u0440', '\u044f')

  private def randStr(maxLen: Int = 30): String =
    (0 until rnd.nextInt(maxLen + 1)).map(_ => pool(rnd.nextInt(pool.size)))
      .mkString

  private val samples: Seq[String] =
    Seq("", " ", "\\", "\"", "a\\nb", "caf\u00e9", "cafe\u0301") ++
      (1 to 300).map(_ => randStr())

  test("NT literal serialization round-trips through parseLine") {
    for (lex <- samples) {
      // plain literal
      val line = s"<urn:s> <urn:p> ${Lit(lex).nt} ."
      val parsed = NTriples.parseLine(line)
      assert(parsed.isDefined, s"unparseable: ${line.take(80)}")
      parsed.get match {
        case (_, _, Lit(l2, dt2, lang2), _) =>
          assert(l2 == lex, s"lex mangled for ${lex.map(_.toInt)}")
          assert(dt2 == "" && lang2 == "")
        case other => fail(s"object is not a literal: $other")
      }
      // language-tagged and typed forms
      val lt = NTriples.parseLine(s"<urn:s> <urn:p> ${Lit(lex, "", "en-gb").nt} .")
      assert(lt.exists { case (_, _, Lit(l, _, g), _) =>
        l == lex && g == "en-gb" })
      val dt = NTriples.parseLine(
        s"<urn:s> <urn:p> ${Lit(lex, "urn:my:dt").nt} .")
      assert(dt.exists { case (_, _, Lit(l, d, _), _) =>
        l == lex && d == "urn:my:dt" })
    }
  }

  test("nfc normalization is idempotent and agrees with the JDK") {
    for (s <- samples) {
      val once = functions.TextNorm.nfc(UTF8String.fromString(s)).toString
      val twice = functions.TextNorm.nfc(UTF8String.fromString(once)).toString
      assert(twice == once)
      assert(once ==
        java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    }
  }

  test("normalizeText matches an independent scala model on random input") {
    def model(s: String): String = {
      val nfc = java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC)
      nfc.replaceAll("[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
        .replaceAll("\\s+", " ").trim
    }
    import spark.implicits._
    val df = samples.zipWithIndex.map { case (s, i) => (i.toLong, s) }
      .toDF("id", "text")
    val got = df.select(col("id"),
        graft.operators.TextAnalysis.normalizeText(col("text")).as("n"))
      .as[(Long, String)].collect().toMap
    samples.zipWithIndex.foreach { case (s, i) =>
      assert(got(i.toLong) == model(s),
        s"mismatch on ${s.map(_.toInt).mkString(",")}")
    }
  }

  test("double-metaphone and snowball stemmers are total and deterministic") {
    for (s <- samples) {
      val a = functions.DoubleMetaphone.compute(s)
      val b = functions.DoubleMetaphone.compute(s)
      assert(a == b)
      assert(a._1 != null && a._2 != null)
      for (lang <- functions.Snowball.languages) {
        val tok = UTF8String.fromString(s.toLowerCase)
        val r1 = functions.Snowball.stem(tok, UTF8String.fromString(lang))
        val r2 = functions.Snowball.stem(tok, UTF8String.fromString(lang))
        assert((r1 == null && r2 == null) || r1.equals(r2))
      }
    }
  }

  test("shingle hashes: bounded count, empty below k, deterministic") {
    for (s <- samples; k <- Seq(1, 3, 8)) {
      val u = UTF8String.fromString(s)
      val words = functions.TextHash.words(u)
      assert(words.forall(_.nonEmpty))
      val hs = functions.TextHash.shingleHashes(u, k)
      val n = hs.numElements()
      if (words.length < k) assert(n == 0)
      else assert(n <= words.length - k + 1 && n >= 1)
      assert(hs.toLongArray.toSeq ==
        functions.TextHash.shingleHashes(u, k).toLongArray.toSeq)
    }
  }

  test("shinglePosHashesUpTo element k equals shinglePosHashes(k) on " +
      "random input (the LM kernel-fusion invariant)") {
    for (s <- samples) {
      val u = UTF8String.fromString(s)
      val multi = functions.TextHash.shinglePosHashesUpTo(u, 6)
      assert(multi.numElements() == 6)
      for (k <- 1 to 6) {
        val per = functions.TextHash.shinglePosHashes(u, k)
        assert(multi.getArray(k - 1).toLongArray.toSeq ==
          per.toLongArray.toSeq,
          s"order $k diverged on: ${s.take(60)}")
      }
    }
  }

  test("per-language LM equals the per-language-model loop on random " +
      "corpora (the langCol invariant), unknown langs degenerate") {
    import spark.implicits._
    val T = graft.operators.TextAnalysis
    val vocab = Vector("a", "b", "c", "d", "e", "f")
    def doc() = (0 until (1 + rnd.nextInt(8)))
      .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val langs = Vector("l0", "l1", "l2")
    for (trial <- 1 to 5) {
      val order = 2 + rnd.nextInt(3)
      val minCount = 1 + rnd.nextInt(2)
      val train = (0 until 30)
        .map(i => (i.toLong, langs(rnd.nextInt(3)), doc()))
        .toDF("id", "lang", "text")
      val score = (100 until 118)
        .map(i => (i.toLong,
          if (i % 9 == 0) "zz" else langs(rnd.nextInt(3)), doc()))
        .toDF("id", "lang", "text")
      val perDf = T.ngramLmScoreBackoff(train, score, "id", "text",
        order = order, minCount = minCount, langCol = Some("lang"))
      val per = perDf.collect()
        .map(r => r.getAs[Long]("id") -> r.toSeq).toMap
      // CCNet loop equality per language — all columns, floats
      // included (random sentences exercise hits, every backoff depth,
      // pruning, OOV, and empty/singleton language slices)
      for (l <- langs) {
        T.ngramLmScoreBackoff(train.filter(col("lang") === l),
            score.filter(col("lang") === l), "id", "text",
            order = order, minCount = minCount)
          .collect().foreach { r =>
            val spliced = (r.toSeq.take(1) :+ l) ++ r.toSeq.drop(1)
            assert(per(r.getAs[Long]("id")) == spliced,
              s"trial $trial lang $l order $order mc $minCount")
          }
      }
      // unknown lang: deterministically all-OOV vs the empty event
      // space, never null rows
      perDf.filter(col("lang") === "zz").collect().foreach { r =>
        assert(r.getAs[Long]("n_oov") == r.getAs[Long]("n_tokens") &&
          r.getAs[Long]("sum_num") == 0L &&
          r.getAs[Long]("sum_den") == 0L,
          s"trial $trial unknown-lang row: $r")
      }
    }
  }

  test("repStats invariants: dup counts bounded by unit counts, dup " +
      "chars bounded by total, scrubRepeatedLines zeroes dup lines") {
    val u8 = UTF8String.fromString _
    for (s <- samples) {
      val r = functions.TextHash.repStats(u8(s))
      val Seq(nl, dl, dlc, np, dp, dpc, tc, t2, d5) =
        (0 until 9).map(r.getLong)
      assert(dl < nl || (dl == 0 && nl >= 1),
        s"dup lines $dl vs lines $nl for ${s.take(40)}")
      assert(dp < np || dp == 0)
      assert(dlc <= tc && dpc <= tc,
        s"dup chars ($dlc, $dpc) exceed total $tc")
      assert(d5 <= tc && t2 >= 0 && d5 >= 0)
      // determinism
      val r2 = functions.TextHash.repStats(u8(s))
      assert((0 until 9).forall(i => r2.getLong(i) == r.getLong(i)))
      // after the intra-doc scrub, no duplicate lines remain (the
      // operators compose: scrub first, then the battery passes the
      // dup-line rule by construction)
      val parts = s.split(java.util.regex.Pattern.quote("\n"), -1)
      val scrubbed = parts.distinct.mkString("\n")
      val rs = functions.TextHash.repStats(u8(scrubbed))
      assert(rs.getLong(1) == 0L,
        s"scrubbed text still has dup lines: ${scrubbed.take(40)}")
    }
  }

  test("matchSpanFp equals a brute-force all-pairs model: the heap " +
      "enumeration's (diff, pa, pb) order and 256-pair budget exactly") {
    import org.apache.spark.sql.catalyst.util.ArrayData
    // independent model: materialize ALL occurrence pairs, sort by
    // (|pa-pb|, pa, pb), evaluate the first 256, max extension
    def model(ha: Array[Long], hb: Array[Long], fp: Long): Int = {
      val pas = ha.indices.filter(ha(_) == fp)
      val pbs = hb.indices.filter(hb(_) == fp)
      val pairs = (for (pa <- pas; pb <- pbs)
        yield (math.abs(pa - pb), pa, pb)).sorted.take(256)
      var best = 0
      for ((_, pa, pb) <- pairs) {
        var l = 0
        while (pa - l - 1 >= 0 && pb - l - 1 >= 0 &&
               ha(pa - l - 1) == hb(pb - l - 1)) l += 1
        var r = 0
        while (pa + r + 1 < ha.length && pb + r + 1 < hb.length &&
               ha(pa + r + 1) == hb(pb + r + 1)) r += 1
        best = math.max(best, l + 1 + r)
      }
      best
    }
    // small alphabet (0..3) makes fp occurrences dense: hundreds of
    // occurrences per side, so the budget binds and ties are common —
    // exactly the regime where a heap-order bug would diverge
    for (trial <- 1 to 200) {
      val na = 1 + rnd.nextInt(60); val nb = 1 + rnd.nextInt(60)
      val ha = Array.fill(na)(rnd.nextInt(4).toLong)
      val hb = Array.fill(nb)(rnd.nextInt(4).toLong)
      val fp = rnd.nextInt(4).toLong
      val got = functions.TextHash.matchSpanFp(
        ArrayData.toArrayData(ha), ArrayData.toArrayData(hb), fp)
      val want = model(ha, hb, fp)
      assert(got == want,
        s"trial $trial: kernel $got vs model $want for fp=$fp " +
          s"ha=${ha.mkString(",")} hb=${hb.mkString(",")}")
    }
    // and a dense long case where the budget definitely binds
    val big = Array.fill(400)(rnd.nextInt(3).toLong)
    val big2 = Array.fill(380)(rnd.nextInt(3).toLong)
    assert(functions.TextHash.matchSpanFp(
      ArrayData.toArrayData(big), ArrayData.toArrayData(big2), 1L) ==
      model(big, big2, 1L))
  }

  test("URL kernels: canonicalize is IDEMPOTENT; registrable host is a " +
      "label-aligned suffix containing its public suffix") {
    import graft.functions.UrlKernel
    def canon(s: String): String =
      UrlKernel.canonicalizeUrl(UTF8String.fromString(s)).toString
    def reg(s: String): String =
      UrlKernel.registrableHost(UTF8String.fromString(s)).toString
    val hostPool = Seq("com", "org", "co.uk", "com.br", "ac.jp",
      "github.io", "ck", "kawasaki.jp", "zz", "k12.ca.us")
    val labelPool = Seq("a", "www", "city", "x9", "long-label", "b2b")
    def randHost(): String = {
      val depth = rnd.nextInt(4)
      ((0 until depth).map(_ => labelPool(rnd.nextInt(labelPool.size))) :+
        hostPool(rnd.nextInt(hostPool.size))).mkString(".")
    }
    val urls = (1 to 300).map { _ =>
      val h = randHost()
      val path = "/" + Seq.fill(rnd.nextInt(4))(
        Seq("a", "..", ".", "b9")(rnd.nextInt(4))).mkString("/")
      val q = if (rnd.nextBoolean()) "?utm_x=1&id=2" else ""
      val f = if (rnd.nextBoolean()) "#frag" else ""
      s"HTTP://$h:80$path$q$f"
    } ++ samples // arbitrary junk must still be total + idempotent
    for (u <- urls) {
      val c1 = canon(u)
      assert(canon(c1) == c1, s"canonicalize not idempotent on [$u]: " +
        s"[$c1] -> [${canon(c1)}]")
      val r = reg(u)
      assert(reg(r) == r || r.isEmpty,
        s"registrable host not a fixpoint on [$u]: [$r] -> [${reg(r)}]")
      if (r.nonEmpty && !r.matches("[0-9.]+")) {
        // r must be a whole-label suffix of the (lowercased, stripped)
        // host it was derived from
        val host = {
          val m = java.util.regex.Pattern
            .compile("^([A-Za-z][A-Za-z0-9+.-]*)://([^/?#]*)").matcher(u.trim)
          val a = if (m.find()) m.group(2) else u.trim
          a.substring(a.lastIndexOf('@') + 1).toLowerCase
            .replaceAll(":[0-9]+$", "")
        }
        assert(host == r || host.endsWith("." + r),
          s"[$r] is not a label-aligned suffix of [$host] (url [$u])")
      }
    }
  }

  test("hyperplane components sit on the exact 1/1024 binary grid") {
    for (p <- graft.operators.Similarity.hyperplanes(8, 64); c <- p) {
      val scaled = c * 1024.0
      assert(scaled == math.rint(scaled), s"off-grid component $c")
      assert(scaled >= -1024 && scaled <= 1023)
    }
  }

  test("import parsers fail CLOSED: Turtle nesting guard, RdfXml depth " +
      "limit + IAE contract, NTriples totality") {
    // Turtle: deep collection / bnode-property nesting must reject
    // (pre-descent guard), not blow the combinator stack — fuzzing
    // found StackOverflowError at ~2000 levels before the guard
    intercept[IllegalArgumentException] {
      Turtle.parse("@prefix : <http://e/> .\n:a :p " +
        "( " * 3000 + ") " * 3000 + " .\n")
    }
    intercept[IllegalArgumentException] {
      Turtle.parse("@prefix : <http://e/> .\n:a :p " +
        "[ :q " * 3000 + "1" + " ]" * 3000 + " .\n")
    }
    // RdfXml: the JDK StAX reader's 1000-element depth cap covers the
    // same vector; the failure must surface as the uniform
    // IllegalArgumentException reject, not a raw StAX exception
    val deep = new StringBuilder()
      .append("""<?xml version="1.0"?><rdf:RDF xmlns:rdf=""")
      .append(""""http://www.w3.org/1999/02/22-rdf-syntax-ns#" """)
      .append("""xmlns:e="http://e/">""")
      .append("""<rdf:Description rdf:about="http://e/a">""")
    (1 to 3000).foreach(_ => deep.append("<e:p><rdf:Description>"))
    (1 to 3000).foreach(_ => deep.append("</rdf:Description></e:p>"))
    deep.append("</rdf:Description></rdf:RDF>")
    val tmp = java.io.File.createTempFile("deep", ".rdf")
    try {
      java.nio.file.Files.write(tmp.toPath,
        deep.toString.getBytes("UTF-8"))
      val e = intercept[IllegalArgumentException] {
        RdfXml.parseFile(tmp.getAbsolutePath, "http://e/")
      }
      assert(e.getMessage.contains("RDF/XML parse error"), e.getMessage)
    } finally tmp.delete()
    // Turtle + NTriples totality on garbage: reject (IAE) or parse,
    // and parseLine (Option-typed) never throws at all
    for (s <- samples ++ (1 to 200).map(_ => randStr(80))) {
      try { Turtle.parse(s); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"turtle escaped with ${e.getClass.getName} on " +
            s.take(60))
      }
      NTriples.parseLine(s) // must not throw
    }
  }

  test("query/update parsers fail CLOSED on arbitrary input: reject with " +
      "IllegalArgumentException, never crash") {
    // a public endpoint feeds Parser.parse untrusted bytes; any escape
    // hatch other than the documented reject (StackOverflow on deep
    // nesting, MatchError on an unhandled AST shape, NPE) is a DoS or
    // a 500 where a 400 belongs. Three input families: pure garbage,
    // mutated valid queries (realistic near-miss syntax), and
    // pathological nesting depth.
    val valid = Seq(
      "SELECT ?s WHERE { ?s ?p ?o }",
      "PREFIX : <http://e/> SELECT (COUNT(*) AS ?n) WHERE { ?s :p ?o " +
        "OPTIONAL { ?s :q ?v } FILTER(?v > 1 && REGEX(STR(?o), \"x\")) } " +
        "GROUP BY ?s HAVING (COUNT(*) > 1) ORDER BY ?s LIMIT 3",
      "CONSTRUCT { ?s ?p ?o } WHERE { ?s ?p ?o . VALUES ?s { <urn:a> } }",
      "ASK { ?x <urn:p>/<urn:q>* ?y }")
    def tryParse(q: String): Unit = {
      try { graft.sparql.Parser.parse(q); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"parser escaped with ${e.getClass.getName} on: " +
            s"${q.take(120)}")
      }
      try { graft.sparql.Update.parse(q); () }
      catch {
        case _: IllegalArgumentException => ()
        case e: Throwable =>
          fail(s"update parser escaped with ${e.getClass.getName} on: " +
            s"${q.take(120)}")
      }
    }
    // garbage
    (1 to 400).foreach(_ => tryParse(randStr(80)))
    // mutations: drop/flip/insert a char somewhere in a valid query
    for (q <- valid; _ <- 1 to 150) {
      val i = rnd.nextInt(q.length)
      val m = rnd.nextInt(3) match {
        case 0 => q.substring(0, i) + q.substring(math.min(i + 1, q.length))
        case 1 => q.updated(i, pool(rnd.nextInt(pool.size)))
        case 2 => q.substring(0, i) + pool(rnd.nextInt(pool.size)) +
          q.substring(i)
      }
      tryParse(m)
    }
    // pathological nesting: deep braces and parens must reject or parse,
    // not blow the stack
    tryParse("SELECT * WHERE " + "{ " * 2000 + "}" * 2000)
    tryParse("SELECT ?s WHERE { ?s ?p ?o . FILTER(" + "(" * 3000 +
      "1" + ")" * 3000 + " > 0) }")
  }

  test("nesting guard is comment-, IRI- and stray-closer-proof") {
    import graft.sparql.Parser.checkNesting
    // the r9 bypass: closers hidden in #-comments drove depth negative,
    // so 2000 real openers afterwards never exceeded the max
    intercept[IllegalArgumentException] {
      checkNesting("# )\n" * 2000 + "{" * 2000)
    }
    // stray closers outside comments clamp at 0, same bypass shape
    intercept[IllegalArgumentException] {
      checkNesting(")" * 2000 + "{" * 2000)
    }
    // the inverse bypass: '#' inside an IRI must NOT flip comment mode
    // and hide a real opener on the same line
    intercept[IllegalArgumentException] {
      checkNesting("<http://e/x#> {\n" * 2000)
    }
    // the r10-review bypass: an IRI LONGER than any lookahead bound
    // containing '#' must not flip comment mode either — the real
    // IRIREF regex is unbounded, so the real parser sees (and descends
    // into) the braces behind it
    intercept[IllegalArgumentException] {
      checkNesting("<http://e/" + "a" * 600 + "#> " + "{" * 2000)
    }
    // a paren-stuffed IRI is transient recursion in the real parser
    // (it explores "<((((…" as parenthesized expressions before
    // backtracking): counted against the limit, fail-closed
    intercept[IllegalArgumentException] {
      checkNesting("<" + "(" * 600 + "> { }")
    }
    // a PN_LOCAL PLX escape `\#` is part of a token, not a comment:
    // brackets after it are REAL and must count
    intercept[IllegalArgumentException] {
      checkNesting("p:a\\#b {\n" * 300)
    }
    // legitimate uses keep parsing: brackets inside comments are
    // whitespace to both grammars; parens are legal IRI chars; long
    // IRIs and escaped local names stay tokens
    checkNesting("SELECT ?s # {{{ (((\nWHERE { ?s ?p ?o } # )))")
    checkNesting("<http://e/a(((((b> " + "{" * 10 + "}" * 10)
    checkNesting("<http://e/" + "a" * 600 + "#x> { ?s ?p ?o }")
    checkNesting("{ ?s ?p p:a\\#b } # ((((")
    graft.sparql.Parser.parse(
      "SELECT ?s WHERE { ?s <http://e/x#p> ?o } # trailing ((((")
    // and the guard itself must not stack-overflow on the bypass input
    intercept[IllegalArgumentException] {
      graft.sparql.Parser.parse(
        "SELECT * WHERE " + "# )\n" * 2000 + "{ " * 2000 + "}" * 2000)
    }
  }
}
