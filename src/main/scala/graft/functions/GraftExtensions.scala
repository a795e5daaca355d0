package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.IntegerType

/** SQL surface for the graft native kernels: registers every custom
  * Catalyst expression under a `graft_*` function name so plain
  * `spark.sql(...)` (and any SQL-speaking client of a shared session)
  * can call them — the library equivalent of the reference exposing its
  * text kernels through the query language (`fs:stem` / `fs:dmetaphone`
  * derived predicates, `src/frontend/import.c:603-708`).
  *
  * Two entry points, same function table:
  *  - config `spark.sql.extensions=graft.functions.GraftExtensions`
  *    (or `.withExtensions(new GraftExtensions)`) at session build;
  *  - [[GraftFunctions.register]] on an existing session.
  *
  * All functions resolve to native codegen'd expressions — a SQL query
  * using them stays inside whole-stage codegen exactly like the Column
  * API path through [[F]].
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}

object GraftFunctions {

  private def litInt(e: Expression, fn: String, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$fn: $arg must be an INTEGER literal, got $other")
  }

  private def fn(name: String, usage: String)(
      build: PartialFunction[Seq[Expression], Expression])
      : (FunctionIdentifier, ExpressionInfo,
         Seq[Expression] => Expression) = {
    val total: Seq[Expression] => Expression = args =>
      build.applyOrElse(args, (bad: Seq[Expression]) =>
        throw new IllegalArgumentException(
          s"$name: unsupported argument count ${bad.size} — $usage"))
    (FunctionIdentifier(name),
      new ExpressionInfo(getClass.getName, name),
      total)
  }

  /** (identifier, info, builder) for every graft SQL function. */
  val all: Seq[(FunctionIdentifier, ExpressionInfo,
                Seq[Expression] => Expression)] = Seq(
    fn("graft_stem",
      "graft_stem(text[, langTag]) — Snowball stem (reference-exact)") {
      case Seq(t) => SnowballStemEn(t)
      case Seq(t, lang) => SnowballStem(t, lang)
    },
    fn("graft_dmetaphone",
      "graft_dmetaphone(text) — Double Metaphone codes (primary + " +
        "secondary when distinct)") {
      case Seq(t) => DMetaphoneCodes(t)
    },
    fn("graft_shingle_hashes",
      "graft_shingle_hashes(text, k) — distinct 64-bit MD5-prefix " +
        "hashes of word k-shingles") {
      case Seq(t, k) =>
        ShingleHashes(t, litInt(k, "graft_shingle_hashes", "k"))
    },
    fn("graft_word_hashes",
      "graft_word_hashes(text) — per-word 64-bit MD5-prefix hashes in " +
        "order") {
      case Seq(t) => WordHashes(t)
    },
    fn("graft_simhash",
      "graft_simhash(text) — 64-bit SimHash over word hashes") {
      case Seq(t) => SimHash64(WordHashes(t))
    },
    fn("graft_minhash_sig",
      "graft_minhash_sig(text, k, h) — h-permutation MinHash signature " +
        "over word k-shingles") {
      case Seq(t, k, h) =>
        MinHashSig(
          ShingleHashes(t, litInt(k, "graft_minhash_sig", "k")),
          graft.operators.Dedup.minhashSeeds(
            litInt(h, "graft_minhash_sig", "h")),
          graft.operators.Dedup.minhashP)
    },
    fn("graft_vec_dot",
      "graft_vec_dot(a, b) — left-to-right double dot product of " +
        "float/double arrays") {
      case Seq(a, b) => VecDot(a, b)
    },
    fn("graft_vec_cosine",
      "graft_vec_cosine(a, b) — cosine similarity of float/double " +
        "arrays") {
      case Seq(a, b) => VecCosine(a, b)
    },
    fn("graft_lang_id",
      "graft_lang_id(text) — heuristic language id (CJK share + " +
        "stopword profiles); NULL in, NULL out") {
      case Seq(t) => LangId(t)
    },
    fn("graft_gopher_stats",
      "graft_gopher_stats(text) — Gopher quality-battery sufficient " +
        "statistics struct (n_words, sum_word_len, n_alpha_words, " +
        "n_hash, n_ellipsis, n_stopwords) in one native pass") {
      case Seq(t) => GopherStats(t)
    },
    fn("graft_rep_stats",
      "graft_rep_stats(text) — Gopher repetition-battery sufficient " +
        "statistics struct (n_lines, n_dup_lines, chars_dup_lines, " +
        "n_paras, n_dup_paras, chars_dup_paras, total_chars, " +
        "top2_chars, dup5_chars) in one native pass") {
      case Seq(t) => RepStats(t)
    },
    fn("graft_canonicalize_url",
      "graft_canonicalize_url(url) — RFC 3986-style canonical form " +
        "(case, default ports, dot segments, tracking params, " +
        "fragment); non-URLs pass through trimmed") {
      case Seq(u) => CanonicalizeUrl(u)
    },
    fn("graft_registrable_host",
      "graft_registrable_host(url_or_host) — eTLD+1 registrable " +
        "domain; '' for non-URLs") {
      case Seq(u) => RegistrableHost(u)
    },
    fn("graft_match_span_fp",
      "graft_match_span_fp(ha, hb, fp) — longest matched gram run " +
        "through shared fingerprint fp over two positional gram-hash " +
        "arrays") {
      case Seq(a, b, f) => MatchSpanFp(a, b, f)
    },
    fn("graft_parse_nt_quad",
      "graft_parse_nt_quad(line) — N-Triples/N-Quads line as a flat " +
        "import struct; NULL for comments/blank/dirty lines") {
      case Seq(l) => ParseNtQuad(l)
    },
    fn("graft_warc_records",
      "graft_warc_records(raw) — WET/WARC record frames via the " +
        "Content-Length-driven byte walk: array of (rec_type, uri, " +
        "date, content_length, payload, valid); malformed tails " +
        "classify as one valid=false record, never throw") {
      case Seq(r) => WarcRecords(r)
    }
  )

  /** Register the function table on an existing session. */
  def register(spark: SparkSession): Unit = {
    val reg = RegistryBridge.registry(spark)
    all.foreach { case (id, info, builder) =>
      reg.registerFunction(id, info, builder)
    }
  }
}
