package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native text-hashing kernels for the dedup family.
  *
  * The pure-DataFrame formulation of shingling
  * (`filter(split(lower(text))) -> transform(sequence, slice+concat_ws) ->
  * array_distinct`) is correct but slow: array higher-order-function
  * lambdas are interpreted, so every shingle pays an interpreter round trip
  * — measured ~1 ms/document, which at 100 TB is the whole job. These
  * expressions compute the same result in one tight JVM pass per row and
  * stay inside whole-stage codegen (doGenCode emits a static call), so the
  * shingle+hash step runs at scan speed.
  *
  * Semantics (kept bit-identical to the HOF pipeline so DuckDB oracles
  * still hash-match):
  *   - words   = split on `\s+` of the lower-cased text, empties dropped
  *     (same regex engine and UTF8String.toLowerCase as Spark's
  *     `lower`/`split`)
  *   - shingle = k consecutive words joined by a single space; documents
  *     with fewer than k words produce no shingles
  *   - hash    = [[TextHash.md5be64]], the first 8 MD5 digest bytes read
  *     big-endian — the one text hash, reproducible in any SQL engine
  *   - distinct (ShingleHashes only) = first-occurrence order, by hash —
  *     collision-approximate exactly like Dedup.ngramJaccardPairs
  *     documents.
  */
object TextHash {
  private val WS = java.util.regex.Pattern.compile("\\s+")

  /** All whitespace-delimited lower-cased words of `text`. */
  def words(text: UTF8String): Array[String] = {
    val s = text.toLowerCase.toString
    val parts = WS.split(s)
    // Pattern.split yields one leading "" for leading separators; drop
    var empties = 0
    var i = 0
    while (i < parts.length) { if (parts(i).isEmpty) empties += 1; i += 1 }
    if (empties == 0) parts
    else {
      val out = new Array[String](parts.length - empties)
      var j = 0; i = 0
      while (i < parts.length) {
        if (!parts(i).isEmpty) { out(j) = parts(i); j += 1 }
        i += 1
      }
      out
    }
  }

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** PORTABLE 64-bit hash: big-endian read of the first 8 MD5 digest
    * bytes. Reproducible in any SQL engine for cross-engine verification —
    * DuckDB: `('0x' || substr(md5(s), 1, 16))::UBIGINT` (same bit
    * pattern; signedness is irrelevant to bitwise use). */
  def md5be64(s: String): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var h = 0L
    var i = 0
    while (i < 8) { h = (h << 8) | (d(i) & 0xFFL); i += 1 }
    h
  }

  /** Distinct hashed k-word shingles of `text`, first-occurrence order. */
  def shingleHashes(text: UTF8String, k: Int): ArrayData = {
    val ws = words(text)
    val n = ws.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val seen = new java.util.HashSet[java.lang.Long]((n - k + 1) * 2)
    val out = new Array[Long](n - k + 1)
    var m = 0
    var i = 0
    while (i <= n - k) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      val h = md5be64(sb.toString)
      if (seen.add(h)) { out(m) = h; m += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, m))
  }

  /** POSITIONAL hashed k-word shingles: element i = hash of the gram
    * starting at token i (no distinct — alignment with token positions
    * is the point; [[ScrubSpans]] consumes the matched positions). */
  def shinglePosHashes(text: UTF8String, k: Int): ArrayData = {
    val ws = words(text)
    val n = ws.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var i = 0
    while (i <= n - k) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      out(i) = md5be64(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Winnowing fingerprints (Schleimer/Wilkerson/Aiken window minima)
    * in one native pass (r17): 63-bit-masked positional k-gram hashes,
    * sliding-window minimum over windows of `w` via a monotonic deque
    * (O(n), vs the interpreted HOF chain's O(n·w) slice-copy per
    * position), distinct, sorted ascending. Value-identical to
    * Dedup.winnowBase's previous
    * `array_sort(array_distinct(transform(sequence, array_min(slice))))`
    * formulation: fewer grams than one window → the single whole-doc
    * minimum; no grams → empty. */
  def winnowFps(text: UTF8String, k: Int, w: Int): ArrayData = {
    val hsData = shinglePosHashes(text, k)
    val n = hsData.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) { hs(i) = hsData.getLong(i) & Long.MaxValue; i += 1 }
    val seen = new java.util.HashSet[java.lang.Long]()
    if (n < w) {
      var m = Long.MaxValue
      i = 0
      while (i < n) { if (hs(i) < m) m = hs(i); i += 1 }
      return new GenericArrayData(Array(m))
    }
    // monotonic deque of indices; front = min of the current window
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    i = 0
    while (i < n) {
      while (tail > head && hs(dq(tail - 1)) >= hs(i)) tail -= 1
      dq(tail) = i; tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= w - 1) seen.add(hs(dq(head)))
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }

  /** ALL positional hashed k-shingle arrays for k = 1..maxK in ONE
    * tokenize pass: element k (1-based) of the result is exactly
    * [[shinglePosHashes]](text, k) — bit-identical, so every oracle
    * pinned to the per-order kernel transfers. The backoff LM needs
    * every order for every document on BOTH the count and score side;
    * calling the per-order kernel order(+1) times re-runs the regex
    * tokenize per call, which dominates the map side at scale. Here
    * words() runs once and each position's gram strings share their
    * prefix builds (the order-k gram at start i extends the order-k−1
    * gram at i by one token). */
  def shinglePosHashesUpTo(text: UTF8String, maxK: Int): ArrayData = {
    val ws = words(text)
    val n = ws.length
    val arrs = new Array[Array[Long]](maxK)
    var k = 0
    while (k < maxK) {
      arrs(k) =
        if (n < k + 1) Array.emptyLongArray else new Array[Long](n - k)
      k += 1
    }
    var i = 0
    while (i < n) {
      val sb = new java.lang.StringBuilder(48)
      var j = 0
      while (j < maxK && i + j < n) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        arrs(j)(i) = md5be64(sb.toString)
        j += 1
      }
      i += 1
    }
    new GenericArrayData(
      arrs.map(a => new GenericArrayData(a): AnyRef))
  }

  /** Drop every token covered by a k-token span starting at one of
    * `starts` (0-based token positions, sorted ascending, duplicates
    * fine). The original-case whitespace tokens are kept — only the
    * hashing side lowercases — and the survivors re-join with single
    * spaces. One merge pass over (tokens, starts): O(n + m). */
  def scrubSpans(text: UTF8String, starts: ArrayData, k: Int): UTF8String = {
    val parts = WS.split(text.toString)
    val m = starts.numElements()
    val sb = new java.lang.StringBuilder(text.numBytes())
    var coveredUntil = -1L
    var ptr = 0
    var i = 0L // token index over NON-EMPTY tokens (words() alignment)
    var p = 0
    while (p < parts.length) {
      if (!parts(p).isEmpty) {
        while (ptr < m && starts.getLong(ptr) <= i) {
          val end = starts.getLong(ptr) + k - 1
          if (end > coveredUntil) coveredUntil = end
          ptr += 1
        }
        if (i > coveredUntil) {
          if (sb.length() > 0) sb.append(' ')
          sb.append(parts(p))
        }
        i += 1
      }
      p += 1
    }
    UTF8String.fromString(sb.toString)
  }

  /** [[words]] as an ArrayData of UTF8Strings — the codegen'd kernel
    * behind [[graft.functions.F.wordsArray]] (r17): the DataFrame-side
    * `filter(split(lower(text), "\\s+"), length > 0)` tokenization is
    * an interpreted higher-order function (ArrayFilter is
    * CodegenFallback, evaluated per element outside whole-stage
    * codegen); this computes the identical token array in one native
    * pass. Same lowercasing (UTF8String.toLowerCase — what Spark's
    * `lower` calls) and the same "\\s+" regex, so the tokens are
    * bit-identical to the HOF formulation's on any input. */
  def wordsArray(text: UTF8String): ArrayData = {
    val ws = words(text)
    val out = new Array[AnyRef](ws.length)
    var i = 0
    while (i < ws.length) {
      out(i) = UTF8String.fromString(ws(i)); i += 1
    }
    new GenericArrayData(out)
  }

  /** Word n-gram STRINGS of `text`, positional (no distinct) — the
    * kernel form of topNgrams' interpreted
    * `transform(sequence, slice+concat_ws)` HOF chain (r17):
    * tokenize once, emit each n consecutive words joined by one
    * space. Returns an empty array for docs shorter than n words
    * (what the HOF's when/otherwise produced). */
  def ngramStrings(text: UTF8String, n: Int): ArrayData = {
    val ws = words(text)
    if (ws.length < n)
      return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](ws.length - n + 1)
    var i = 0
    while (i <= ws.length - n) {
      val sb = new java.lang.StringBuilder(32)
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(ws(i + j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  private lazy val enStopSet: java.util.HashSet[String] = {
    val s = new java.util.HashSet[String]()
    langProfiles("en").foreach(s.add)
    s
  }

  /** OCCURRENCE count of en-profile stopwords among [[words]] —
    * the kernel form of qualitySignals'
    * `size(filter(ws, w => array_contains(enStops, w)))` (r17): the
    * HOF filter is CodegenFallback and its interpreted subtree
    * re-evaluated the tokenizer outside codegen CSE. Same list
    * ([[langProfiles]]("en")), same tokens, occurrence semantics
    * (multiplicity kept — unlike gopherStats' DISTINCT count). */
  def enStopHits(text: UTF8String): Long = {
    val ws = words(text)
    var n = 0L
    var i = 0
    while (i < ws.length) {
      if (enStopSet.contains(ws(i))) n += 1
      i += 1
    }
    n
  }

  /** One-pass ASCII char-class counters (r17): code points matching
    * Java's `[\p{Punct}]` (the 32 ASCII punctuation chars), `[0-9]`,
    * and `[A-Z]` — the three counts qualitySignals previously derived
    * from three `regexp_replace` passes (each allocating a stripped
    * copy of the document). All three classes are pure ASCII, so one
    * byte scan suffices; multi-byte sequences can never match. */
  def charClassStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val b = text.getBytes
    var punct = 0L
    var digit = 0L
    var upper = 0L
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if (c >= '!' && c <= '~') {
        if (c >= '0' && c <= '9') digit += 1
        else if (c >= 'A' && c <= 'Z') upper += 1
        else if (!(c >= 'a' && c <= 'z')) punct += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](punct, digit, upper))
  }

  private val ALNUM = java.util.regex.Pattern.compile("[^a-z0-9]+")

  /** BPE-ish subword count estimate, one native pass (r17 kernel form
    * of TextAnalysis.subwordCountEstimate's interpreted
    * filter+aggregate HOF chain): split the lower-cased text on
    * non-alphanumeric runs, and charge each non-empty piece
    * max(ceil(len/4), 1) tokens. Bit-identical to the HOF: same
    * lowercasing, same regex, same per-piece arithmetic. */
  def subwordCount(text: UTF8String): Long = {
    val s = text.toLowerCase.toString
    val parts = ALNUM.split(s)
    var acc = 0L
    var i = 0
    while (i < parts.length) {
      val len = parts(i).length
      if (len > 0) acc += math.max((len + 3) / 4, 1).toLong
      i += 1
    }
    acc
  }

  /** Hash of every word occurrence of `text` (multiplicity kept —
    * SimHash's majority vote weighs repeated words). */
  def wordHashes(text: UTF8String): ArrayData = {
    val ws = words(text)
    val out = new Array[Long](ws.length)
    var i = 0
    while (i < ws.length) { out(i) = md5be64(ws(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** MinHash signature over a hash array: h mins of (a_i*x0+b_i) mod p
    * with x0 = (x & Long.MaxValue) mod p. Null for empty input (no
    * shingles -> no signature). One in-row pass — the whole signature
    * stage is map-only, no explode/groupBy shuffle. */
  def minhashSig(hs: ArrayData, seedsA: Array[Long], seedsB: Array[Long],
                 p: Long): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return null
    val h = seedsA.length
    val sig = new Array[Long](h)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var i = 0
    while (i < n) {
      val x0 = (hs.getLong(i) & Long.MaxValue) % p
      var j = 0
      while (j < h) {
        val v = (seedsA(j) * x0 + seedsB(j)) % p
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  /** 64-bit SimHash over a word-hash array: bit b set iff more than half
    * the words have bit b set. Null for empty input. One in-row pass. */
  def simhash64(hs: ArrayData): Any = {
    val n = hs.numElements()
    if (n == 0) return null
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      var x = hs.getLong(i)
      var b = 0
      while (x != 0L) {
        if ((x & 1L) != 0L) counts(b) += 1
        x >>>= 1
        b += 1
      }
      i += 1
    }
    var sim = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) * 2 > n) sim |= (1L << b)
      b += 1
    }
    sim
  }

  /** Stopword profiles for [[langId]], in the fold's sorted order.
    * Shared with TextAnalysis (qualitySignals' stopword ratio and the
    * p07 oracle replicate these lists verbatim). */
  val langNames: Array[String] = Array("de", "en", "es", "fr")
  val langProfiles: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "a", "in", "is", "that", "it",
      "for", "was", "on", "are", "with", "as"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein",
      "eine", "zu", "den", "von", "im", "auf", "für"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un", "une", "des", "du",
      "que", "pas", "pour", "dans", "qui", "sur"),
    "es" -> Seq("el", "la", "los", "las", "y", "es", "un", "una", "de",
      "que", "no", "en", "por", "para", "con"))
  private val langStopSets: Array[java.util.HashSet[String]] =
    langNames.map { l =>
      val s = new java.util.HashSet[String]()
      langProfiles(l).foreach(s.add)
      s
    }

  /** One-pass heuristic language ID (see the [[LangId]] scaladoc for
    * the semantics contract with the HOF formulation). */
  def langId(text: UTF8String): UTF8String = {
    val s = text.toString
    var cjk = 0
    var total = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      total += 1
      if (cp >= 0x4e00 && cp <= 0x9fff) cjk += 1
      i += Character.charCount(cp)
    }
    if (cjk.toDouble / math.max(total, 1) > 0.05)
      return UTF8String.fromString("zh")
    val ws = words(text)
    val n = math.max(ws.length, 1)
    var bestLang = "en"
    var bestScore = 0.04
    var li = 0
    while (li < langNames.length) {
      var hits = 0
      var wi = 0
      while (wi < ws.length) {
        if (langStopSets(li).contains(ws(wi))) hits += 1
        wi += 1
      }
      val sc = hits.toDouble / n
      if (sc > bestScore) { bestLang = langNames(li); bestScore = sc }
      li += 1
    }
    UTF8String.fromString(bestLang)
  }

  /** Stopword set of the Gopher quality battery (Rae et al. 2021 Table
    * A1), shared with TextAnalysis.gopherQuality's docs + oracle. */
  val GopherStops: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with")

  /** One-pass sufficient statistics for the Gopher document-quality
    * battery: n_words, sum_word_len, n_alpha_words (words containing
    * an ASCII letter after lowering), n_hash ('#' chars), n_ellipsis
    * (non-overlapping left-to-right "..." occurrences — the same count
    * as the replace-and-measure SQL formulation), n_stopwords (DISTINCT
    * members of [[GopherStops]] present as whole tokens). Tokenization
    * is [[words]] (the engine-wide lowered \s+ split); word lengths
    * are codepoint counts, matching Spark's `length`. */
  def gopherStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val raw = text.toString
    var nHash = 0L
    var nEll = 0L
    var i = 0
    while (i < raw.length) {
      val ch = raw.charAt(i)
      if (ch == '#') { nHash += 1; i += 1 }
      else if (ch == '.' && i + 2 < raw.length &&
               raw.charAt(i + 1) == '.' && raw.charAt(i + 2) == '.') {
        nEll += 1; i += 3
      }
      else i += 1
    }
    val ws = words(text)
    val nWords = ws.length.toLong
    var sumLen = 0L
    var nAlpha = 0L
    val stopSeen = new Array[Boolean](GopherStops.length)
    var wi = 0
    while (wi < ws.length) {
      val w = ws(wi)
      sumLen += w.codePointCount(0, w.length)
      var hasAlpha = false
      var ci = 0
      while (!hasAlpha && ci < w.length) {
        val c = w.charAt(ci)
        if (c >= 'a' && c <= 'z') hasAlpha = true
        ci += 1
      }
      if (hasAlpha) nAlpha += 1
      var si = 0
      while (si < GopherStops.length) {
        if (!stopSeen(si) && GopherStops(si) == w) stopSeen(si) = true
        si += 1
      }
      wi += 1
    }
    var nStop = 0L
    var si = 0
    while (si < stopSeen.length) { if (stopSeen(si)) nStop += 1; si += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, sumLen, nAlpha, nHash, nEll, nStop))
  }

  /** Gopher Table A1 REPETITION counters (Rae et al. 2021 — the other
    * half of the quality battery [[gopherStats]] covers) in one native
    * pass: per-document duplicate-unit and duplicate-character
    * statistics for lines and paragraphs, plus the two n-gram
    * character-coverage signals, all exact integers so a SQL oracle
    * replays them bit-for-bit.
    *
    *   - lines = literal '\n' split of the RAW text, paragraphs =
    *     literal "\n\n" split — trailing/consecutive separators yield
    *     empty units, and an empty unit is a unit like any other (the
    *     p56/p58 blank-line discipline; mirrored by the oracle's
    *     string_split);
    *   - a DUPLICATE unit is any occurrence after the first of an
    *     equal unit (exact string identity, case preserved);
    *     `chars_dup_*` sums the codepoint lengths of those duplicate
    *     occurrences;
    *   - `top2_chars` = max over distinct word-2-grams of
    *     count · (len(w1)+len(w2)+1) — the characters contained in
    *     the most common 2-gram (words = the engine-wide lowered \s+
    *     split; gram length counts the joining space);
    *   - `dup5_chars` = codepoint sum of TOKENS covered by at least
    *     one word-5-gram occurring ≥ 2 times, each token counted once
    *     (the paper's "characters inside duplicate n-grams, not
    *     counting overlaps twice", restricted to token characters —
    *     inter-word whitespace is not attributed).
    *
    * The paper's battery spans n = 2..4 (top n-gram) and n = 5..10
    * (duplicate n-gram); this kernel computes the two ENDPOINT
    * representatives (top-2-gram, dup-5-gram) — the other n are the
    * same computation with different constants and thresholds. */
  def repStats(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val raw = text.toString
    val totalChars = raw.codePointCount(0, raw.length).toLong
    def unitStats(sep: String): (Long, Long, Long) = {
      // limit -1: keep trailing empties, matching SQL string_split
      val parts = raw.split(java.util.regex.Pattern.quote(sep), -1)
      val seen = new java.util.HashSet[String]()
      var n = 0L; var dup = 0L; var dupChars = 0L
      var i = 0
      while (i < parts.length) {
        val u = parts(i); n += 1
        if (!seen.add(u)) {
          dup += 1; dupChars += u.codePointCount(0, u.length)
        }
        i += 1
      }
      (n, dup, dupChars)
    }
    val (nl, dl, dlc) = unitStats("\n")
    val (np, dp, dpc) = unitStats("\n\n")
    val ws = words(text)
    var top2 = 0L
    if (ws.length >= 2) {
      val counts = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < ws.length - 1) {
        val g = ws(i) + " " + ws(i + 1)
        val c = counts.get(g)
        counts.put(g, if (c == null) 1 else c + 1)
        i += 1
      }
      val it = counts.entrySet().iterator()
      while (it.hasNext) {
        val en = it.next()
        val k = en.getKey
        val chars = k.codePointCount(0, k.length).toLong * en.getValue
        if (chars > top2) top2 = chars
      }
    }
    var dup5 = 0L
    if (ws.length >= 5) {
      val grams = new Array[String](ws.length - 4)
      val counts = new java.util.HashMap[String, Integer]()
      var i = 0
      while (i < grams.length) {
        val sb = new java.lang.StringBuilder(ws(i))
        var j = 1
        while (j < 5) { sb.append(' ').append(ws(i + j)); j += 1 }
        grams(i) = sb.toString
        val c = counts.get(grams(i))
        counts.put(grams(i), if (c == null) 1 else c + 1)
        i += 1
      }
      val covered = new Array[Boolean](ws.length)
      i = 0
      while (i < grams.length) {
        if (counts.get(grams(i)) >= 2) {
          var j = 0
          while (j < 5) { covered(i + j) = true; j += 1 }
        }
        i += 1
      }
      i = 0
      while (i < ws.length) {
        if (covered(i))
          dup5 += ws(i).codePointCount(0, ws(i).length)
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nl, dl, dlc, np, dp, dpc, totalChars, top2, dup5))
  }

  /** Maximal matched gram run (in grams) through the shared fingerprint
    * `fp`: enumerate occurrence-position pairs (pa in side a, pb in
    * side b) NEAREST-FIRST — ordered by (|pa−pb|, pa, pb) ascending —
    * evaluate at most [[MatchOccCap]]² = 256 of them (mirrored EXACTLY
    * by the DuckDB oracle: all-pairs struct sort + slice 256), extend
    * each left and right while the gram hashes stay equal, and return
    * the longest run found. 0 if `fp` is absent from either side. A
    * run of g grams is a common substring of g+k-1 tokens (modulo hash
    * collision) — the exact-substring verification of Lee et al. 2021
    * anchored at winnowing fingerprints instead of a distributed
    * suffix array.
    *
    * Why nearest-first (r12 verdict task 6): the r12 kernel took the
    * FIRST 16 occurrences per side, so on boilerplate-heavy documents
    * (one fingerprint repeating dozens of times) the occurrence pair
    * anchoring the true longest run could fall outside the scanned
    * prefix entirely. Near-duplicate documents share structure, so
    * the aligning pair has small |pa−pb| while boilerplate echoes
    * scatter — proximity order puts the true anchor in the first few
    * pairs. The budget is PAIRS, not occurrences: the kernel is EXACT
    * whenever occ_a·occ_b ≤ 256 (the old rule was exact only when
    * both sides had ≤ 16), and proximity-biased beyond. Enumeration
    * is a ca-way merge: per pa a two-pointer walk outward from the
    * binary-search insertion point in the (sorted) pb list yields that
    * pa's pairs in increasing |pa−pb| (left pointer first on ties —
    * smaller pb); a binary heap keyed (diff, ai, bi) merges the walks
    * globally. (pa, pb) order equals (ai, bi) order because positions
    * are strictly increasing, so the heap key matches the oracle's
    * (d, pa, pb) struct sort. Cost: O(occ·log occ) heap work + 256
    * bounded extensions — still no O(occ²) blowup. */
  val MatchOccCap = 16
  val MatchPairCap: Int = MatchOccCap * MatchOccCap
  def matchSpanFp(ha: ArrayData, hb: ArrayData, fp: Long): Int = {
    val na = ha.numElements(); val nb = hb.numElements()
    var ca = 0; var i = 0
    while (i < na) { if (ha.getLong(i) == fp) ca += 1; i += 1 }
    if (ca == 0) return 0
    var cb = 0; i = 0
    while (i < nb) { if (hb.getLong(i) == fp) cb += 1; i += 1 }
    if (cb == 0) return 0
    val pas = new Array[Int](ca); var j = 0; i = 0
    while (i < na) { if (ha.getLong(i) == fp) { pas(j) = i; j += 1 }
      i += 1 }
    val pbs = new Array[Int](cb); j = 0; i = 0
    while (i < nb) { if (hb.getLong(i) == fp) { pbs(j) = i; j += 1 }
      i += 1 }

    // per-ai outward walk state: next unvisited left/right pbs index
    val lp = new Array[Int](ca); val rp = new Array[Int](ca)
    // binary heap of one outstanding candidate per ai, keyed
    // (diff, ai, bi) lexicographic — parallel arrays, manual sift
    val hd = new Array[Int](ca); val hai = new Array[Int](ca)
    val hbi = new Array[Int](ca); var hn = 0
    def less(x: Int, y: Int): Boolean =
      hd(x) < hd(y) || (hd(x) == hd(y) && (hai(x) < hai(y) ||
        (hai(x) == hai(y) && hbi(x) < hbi(y))))
    def swap(x: Int, y: Int): Unit = {
      var t = hd(x); hd(x) = hd(y); hd(y) = t
      t = hai(x); hai(x) = hai(y); hai(y) = t
      t = hbi(x); hbi(x) = hbi(y); hbi(y) = t
    }
    def push(d: Int, ai: Int, bi: Int): Unit = {
      hd(hn) = d; hai(hn) = ai; hbi(hn) = bi
      var c = hn; hn += 1
      while (c > 0 && less(c, (c - 1) >> 1)) { swap(c, (c - 1) >> 1)
        c = (c - 1) >> 1 }
    }
    def popToTail(): Unit = { // min moves to index hn; heap shrinks
      hn -= 1; swap(0, hn)
      var c = 0
      var go = true
      while (go) {
        val l = 2 * c + 1; val r = l + 1
        var m = c
        if (l < hn && less(l, m)) m = l
        if (r < hn && less(r, m)) m = r
        if (m == c) go = false else { swap(c, m); c = m }
      }
    }
    // nearest pb for a given pa: two-pointer walk outward from the
    // insertion point; on equal diff the LEFT (smaller pb) comes first
    def nextFor(ai: Int): Unit = {
      val pa = pas(ai)
      val li = lp(ai); val ri = rp(ai)
      if (li >= 0 && ri < cb) {
        val dl = pa - pbs(li); val dr = pbs(ri) - pa
        if (dl <= dr) { lp(ai) = li - 1; push(dl, ai, li) }
        else { rp(ai) = ri + 1; push(dr, ai, ri) }
      } else if (li >= 0) { lp(ai) = li - 1; push(pa - pbs(li), ai, li) }
      else if (ri < cb) { rp(ai) = ri + 1; push(pbs(ri) - pa, ai, ri) }
    }
    var ai = 0
    while (ai < ca) {
      // first pbs index with pbs(idx) >= pa
      val pa = pas(ai)
      var lo = 0; var hi = cb
      while (lo < hi) { val m = (lo + hi) >>> 1
        if (pbs(m) < pa) lo = m + 1 else hi = m }
      lp(ai) = lo - 1; rp(ai) = lo
      nextFor(ai)
      ai += 1
    }
    var best = 0
    var budget = MatchPairCap
    while (budget > 0 && hn > 0) {
      popToTail()
      val a = hai(hn); val bi = hbi(hn)
      val pa = pas(a); val pb = pbs(bi)
      var l = 0
      while (pa - l - 1 >= 0 && pb - l - 1 >= 0 &&
             ha.getLong(pa - l - 1) == hb.getLong(pb - l - 1)) l += 1
      var r = 0
      while (pa + r + 1 < na && pb + r + 1 < nb &&
             ha.getLong(pa + r + 1) == hb.getLong(pb + r + 1)) r += 1
      val run = l + 1 + r
      if (run > best) best = run
      nextFor(a)
      budget -= 1
    }
    best
  }
}

/** `lang_id(text)`: heuristic language ID in one pass — CJK codepoint
  * share first (>5% → "zh"), else the language whose stopword hit
  * ratio strictly exceeds the running best (languages in sorted order,
  * 4% floor), default "en". Bit-identical to the HOF formulation it
  * replaces in TextAnalysis.langId (same tokenization, same
  * strict-greater fold over the same profiles), which evaluated the
  * tokenize+membership chain once per language AND duplicated every
  * score subtree through the argmax fold — interpreted lambdas, no
  * CSE: measured ~1 ms/doc vs this kernel's scan speed. One contract
  * difference: this is a standard NULL-in/NULL-out UnaryExpression,
  * where the HOF chain fell through to "en" on null text —
  * TextAnalysis.langId coalesces to "en" to preserve that behavior. */
final case class LangId(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StringType
  override def prettyName: String = "lang_id"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.langId(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.langId($c)")
  override protected def withNewChildInternal(newChild: Expression): LangId =
    copy(child = newChild)
}

/** `gopher_stats(text)`: the six integer sufficient statistics of the
  * Gopher quality battery as one struct, computed in a single native
  * pass (see [[TextHash.gopherStats]]). Replaces the interpreted
  * array-HOF formulation (aggregate/filter/array_intersect — the same
  * no-codegen shape the LangId kernel retired): codegen'd static call;
  * the six struct-field extractions in gopherQuality's projection are
  * de-duplicated by codegen subexpression elimination, so the text is
  * scanned once per row. */
final case class GopherStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_words", LongType, nullable = false),
    StructField("sum_word_len", LongType, nullable = false),
    StructField("n_alpha_words", LongType, nullable = false),
    StructField("n_hash", LongType, nullable = false),
    StructField("n_ellipsis", LongType, nullable = false),
    StructField("n_stopwords", LongType, nullable = false)))
  override def prettyName: String = "gopher_stats"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.gopherStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.gopherStats($c)")
  override protected def withNewChildInternal(newChild: Expression): GopherStats =
    copy(child = newChild)
}

/** `rep_stats(text)`: the nine integer repetition counters of the
  * Gopher Table A1 repetition battery as one struct, computed in a
  * single native pass (see [[TextHash.repStats]]) — same codegen shape
  * as [[GopherStats]]: struct-field extractions in the consuming
  * projection de-duplicate via codegen subexpression elimination. */
final case class RepStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_lines", LongType, nullable = false),
    StructField("n_dup_lines", LongType, nullable = false),
    StructField("chars_dup_lines", LongType, nullable = false),
    StructField("n_paras", LongType, nullable = false),
    StructField("n_dup_paras", LongType, nullable = false),
    StructField("chars_dup_paras", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false),
    StructField("top2_chars", LongType, nullable = false),
    StructField("dup5_chars", LongType, nullable = false)))
  override def prettyName: String = "rep_stats"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.repStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.repStats($c)")
  override protected def withNewChildInternal(newChild: Expression): RepStats =
    copy(child = newChild)
}

/** `shingle_hashes(text, k)`: array<long> of distinct hashed k-shingles. */
final case class ShingleHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.shingleHashes(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.shingleHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
    copy(child = newChild)
}

/** `shingle_pos_hashes(text, k)`: array<long> of POSITIONAL hashed
  * k-shingles — element i is the gram starting at token i, duplicates
  * kept so positions align with the token stream. */
final case class ShinglePosHashes(child: Expression, k: Int)
    extends UnaryExpression {
  require(k >= 1, s"shingle size must be >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "shingle_pos_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.shinglePosHashes(input.asInstanceOf[UTF8String], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.shinglePosHashes($c, $k)")
  override protected def withNewChildInternal(newChild: Expression)
      : ShinglePosHashes = copy(child = newChild)
}

/** `shingle_pos_hashes_upto(text, maxK)`: array<array<long>> — element
  * k (1-based) is [[TextHash.shinglePosHashes]](text, k); one
  * tokenize pass serves every order (see
  * [[TextHash.shinglePosHashesUpTo]]). */
final case class ShinglePosHashesUpTo(child: Expression, maxK: Int)
    extends UnaryExpression {
  require(maxK >= 1 && maxK <= 16,
    s"maxK must be in [1,16], got $maxK")
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType =
    ArrayType(ArrayType(LongType, containsNull = false),
      containsNull = false)
  override def prettyName: String = "shingle_pos_hashes_upto"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.shinglePosHashesUpTo(input.asInstanceOf[UTF8String], maxK)
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.shinglePosHashesUpTo($c, $maxK)")
  override protected def withNewChildInternal(newChild: Expression)
      : ShinglePosHashesUpTo = copy(child = newChild)
}

/** `match_span_fp(ha, hb, fp)`: longest matched gram run through the
  * shared winnowing fingerprint `fp` over two POSITIONAL gram-hash
  * arrays (see [[TextHash.matchSpanFp]]) — the map-side verification
  * step of the winnowing candidate-pair pipeline. */
final case class MatchSpanFp(first: Expression, second: Expression,
                             third: Expression)
    extends TernaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = {
    def isLongArray(dt: DataType): Boolean = dt match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (isLongArray(first.dataType) && isLongArray(second.dataType) &&
        third.dataType.isInstanceOf[LongType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (array<long>, array<long>, long), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType})")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "match_span_fp"
  override protected def nullSafeEval(ha: Any, hb: Any, fp: Any): Any =
    TextHash.matchSpanFp(ha.asInstanceOf[ArrayData],
      hb.asInstanceOf[ArrayData], fp.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext,
                                   ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, f) =>
      s"graft.functions.TextHash.matchSpanFp($a, $b, $f)")
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): MatchSpanFp =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `scrub_spans(text, starts)`: text with every token covered by a
  * k-token span starting at one of `starts` removed (starts sorted
  * ascending, 0-based over the whitespace token stream). */
final case class ScrubSpans(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {
  require(k >= 1, s"span size must be >= 1, got $k")
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType.isInstanceOf[StringType] &&
        right.dataType.isInstanceOf[ArrayType])
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, array<long>) arguments")
  override def dataType: DataType = StringType
  override def prettyName: String = "scrub_spans"
  override protected def nullSafeEval(text: Any, starts: Any): Any =
    TextHash.scrubSpans(text.asInstanceOf[UTF8String],
      starts.asInstanceOf[ArrayData], k)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (t, s) =>
      s"graft.functions.TextHash.scrubSpans($t, $s, $k)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ScrubSpans =
    copy(left = newLeft, right = newRight)
}

/** `minhash_sig(hashArray)`: h-length MinHash signature (null if the
  * input array is empty). Seeds/modulus are constructor constants. */
final case class MinHashSig(child: Expression, seeds: Seq[(Long, Long)],
                            p: Long)
    extends UnaryExpression {
  private lazy val sa: Array[Long] = seeds.map(_._1).toArray
  private lazy val sb: Array[Long] = seeds.map(_._2).toArray
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long>, got $t")
  }
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.minhashSig(input.asInstanceOf[ArrayData], sa, sb, p)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ra = ctx.addReferenceObj("seedsA", sa, "long[]")
    val rb = ctx.addReferenceObj("seedsB", sb, "long[]")
    val code = nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.TextHash.minhashSig($c, $ra, $rb, ${p}L);
      if (${ev.value} == null) { ${ev.isNull} = true; }""")
    code
  }
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** `simhash64(hashArray)`: 64-bit majority-vote SimHash (null if empty). */
final case class SimHash64(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<long>, got $t")
  }
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash64"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.simhash64(input.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      Object r = graft.functions.TextHash.simhash64($c);
      if (r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((Long) r).longValue(); }""")
  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** `words_array(text)`: array<string> of whitespace-delimited
  * lower-cased words — the codegen'd tokenizer (see
  * [[TextHash.wordsArray]]). */
final case class WordsArray(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "words_array"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.wordsArray(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.wordsArray($c)")
  override protected def withNewChildInternal(newChild: Expression): WordsArray =
    copy(child = newChild)
}

/** `winnow_fps(text, k, w)`: sorted-distinct winnowing window minima
  * over 63-bit-masked positional k-gram hashes
  * (see [[TextHash.winnowFps]]). */
final case class WinnowFps(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${child.dataType}")
    else if (k < 1 || w < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k,w >= 1")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.winnowFps(input.asInstanceOf[UTF8String], k, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.winnowFps($c, $k, $w)")
  override protected def withNewChildInternal(newChild: Expression): WinnowFps =
    copy(child = newChild)
}

/** `ngram_strings(text, n)`: array<string> of positional word n-grams
  * (see [[TextHash.ngramStrings]]). */
final case class NgramStrings(child: Expression, n: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (!child.dataType.isInstanceOf[StringType])
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string argument, got ${child.dataType}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1")
    else TypeCheckResult.TypeCheckSuccess
  override def dataType: DataType =
    ArrayType(StringType, containsNull = false)
  override def prettyName: String = "ngram_strings"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.ngramStrings(input.asInstanceOf[UTF8String], n)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.ngramStrings($c, $n)")
  override protected def withNewChildInternal(newChild: Expression): NgramStrings =
    copy(child = newChild)
}

/** `en_stop_hits(text)`: occurrence count of en-profile stopwords
  * (see [[TextHash.enStopHits]]). */
final case class EnStopHits(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "en_stop_hits"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.enStopHits(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.enStopHits($c)")
  override protected def withNewChildInternal(newChild: Expression): EnStopHits =
    copy(child = newChild)
}

/** `char_class_stats(text)`: struct of ASCII punct/digit/upper code
  * point counts in one byte scan (see [[TextHash.charClassStats]]). */
final case class CharClassStats(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = StructType(Seq(
    StructField("n_punct", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_upper", LongType, nullable = false)))
  override def prettyName: String = "char_class_stats"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.charClassStats(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.charClassStats($c)")
  override protected def withNewChildInternal(newChild: Expression): CharClassStats =
    copy(child = newChild)
}

/** `subword_count(text)`: BPE-ish subword count estimate, one native
  * pass (see [[TextHash.subwordCount]]). */
final case class SubwordCount(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = LongType
  override def prettyName: String = "subword_count"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.subwordCount(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TextHash.subwordCount($c)")
  override protected def withNewChildInternal(newChild: Expression): SubwordCount =
    copy(child = newChild)
}

/** `word_hashes(text)`: array<long> of hashed word occurrences. */
final case class WordHashes(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "word_hashes"
  override protected def nullSafeEval(input: Any): Any =
    TextHash.wordHashes(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.TextHash.wordHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): WordHashes =
    copy(child = newChild)
}
