package graft.rdf

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{ColumnBridge, DMetaphoneCodes, SnowballStem,
  SnowballStemEn}

/** Full-text index sink: at import time, literals of configured predicates
  * additionally emit derived (token / phonetic / stem) quads, mirroring
  * the reference's text-index pipeline (`src/frontend/import.c:603-708`;
  * predicates `fs:token`, `fs:dmetaphone`, `fs:stem`).
  *
  * Reference-exact semantics (verified against the reference's own
  * compiled kernels in FullTextGoldenSpec):
  *   - tokenizer: split on the exact `TOKEN_BOUNDARY` character set
  *     (`import.c:50`) — apostrophes, backticks, tildes and all
  *     non-ASCII stay inside tokens; empties dropped.
  *   - token quads: Unicode-lowercased token as a plain literal.
  *   - phonetic quads: Double Metaphone of the RAW (case-preserved)
  *     token — primary code, plus the secondary when it differs
  *     (`import.c:645-656`). Byte-level UTF-8 contract, see
  *     [[graft.functions.DoubleMetaphone]].
  *   - stem quads: Snowball stem of the lowercased token. The stemmer
  *     language comes from the literal's language tag lowercased and
  *     truncated at the first non-[a-z] ("en-GB" -> "en"), default "en"
  *     (`import.c:668-681`); literals whose language has no registered
  *     stemmer emit no stem quads, exactly as `sb_stemmer_new` returning
  *     NULL skips them. Registered stemmers: english, german, russian,
  *     italian ([[graft.functions.Snowball]]).
  *
  * Which predicates are indexed, and how, is configuration: the
  * reference reads `<pred> text:index text:token|text:dmetaphone|
  * text:stem` statements from the system config graph
  * (`import.c:706-760`); [[FullText.configFrom]] reads the same
  * statements from the import stream.
  */
object FullText {
  val tokenPred = "http://4store.org/fulltext#token"
  val stemPred = "http://4store.org/fulltext#stem"
  val phoneticPred = "http://4store.org/fulltext#dmetaphone"
  val indexPred = "http://4store.org/fulltext#index"

  val tokenPredRid: Long = Rid.uri(tokenPred)
  val stemPredRid: Long = Rid.uri(stemPred)
  val phoneticPredRid: Long = Rid.uri(phoneticPred)

  /** Per-derivation predicate sets, as the reference's token_set /
    * metaphone_set / stem_set (`import.c:712-714`). */
  final case class Config(token: Set[String], metaphone: Set[String],
                          stem: Set[String]) {
    def all: Set[String] = token ++ metaphone ++ stem
    def isEmpty: Boolean = all.isEmpty
  }
  object Config {
    /** index one predicate set every way — the common programmatic case */
    def allKinds(preds: Set[String]): Config = Config(preds, preds, preds)
  }

  /** Read `<pred> text:index text:{token,dmetaphone,stem}` statements
    * from flat import rows, as the reference reads its config graph. */
  def configFrom(flat: DataFrame): Config = {
    val rows = flat
      .filter(col("pLex") === indexPred && col("oKind") === 1)
      .select("sLex", "oLex").collect()
    def kind(k: String) =
      rows.filter(_.getString(1) == s"http://4store.org/fulltext#$k")
        .map(_.getString(0)).toSet
    Config(kind("token"), kind("dmetaphone"), kind("stem"))
  }

  /** the reference's TOKEN_BOUNDARY (`import.c:50`) as a regex class:
    * space \n \t \r ! @ $ % ^ & * ( ) - _ = + [ ] { } ; : " \ | < > , . / ? # */
  private val boundaryRe = """[ \n\t\r!@$%^&*()\-_=+\[\]{};:"\\|<>,./?#]"""

  /** raw (case-preserved) tokens of a literal */
  private def tokens(lex: Column): Column =
    filter(split(lex, boundaryRe), t => length(t) > 0)

  def stemCol(lowerTok: Column): Column =
    ColumnBridge.column(SnowballStemEn(ColumnBridge.expression(lowerTok)))
  def stemLangCol(lowerTok: Column, lang: Column): Column =
    ColumnBridge.column(SnowballStem(ColumnBridge.expression(lowerTok),
      ColumnBridge.expression(lang)))
  def dmetaphoneCol(rawTok: Column): Column =
    ColumnBridge.column(DMetaphoneCodes(ColumnBridge.expression(rawTok)))

  /** stemmer key for a literal's language tag: lowercase, truncate at
    * the first non-letter; empty/absent tag means "en" */
  private def stemLang(oLang: Column): Column =
    when(oLang === "", "en")
      .otherwise(regexp_extract(lower(oLang), "^[a-z]*", 0))

  /** Given flat import rows (gLex/sKind/sLex/pLex/oKind/oLex/oDt/oLang)
    * and the index config, emit the derived token/stem/phonetic quads
    * (subject keeps the original subject, object is the derived plain
    * literal). */
  def derivedQuads(flat: DataFrame, cfg: Config): DataFrame = {
    val lit0 = flat.filter(col("oKind") === 0 &&
      col("pLex").isin(cfg.all.toSeq: _*))
    val tok = lit0.select(col("gLex"), col("sKind"), col("sLex"),
      col("pLex"), col("oLang"),
      explode(tokens(col("oLex"))).as("tok"))

    def part(preds: Set[String], pred: String, derived: Column,
             extra: Column = lit(true)): Option[DataFrame] =
      if (preds.isEmpty) None
      else Some(tok
        .filter(col("pLex").isin(preds.toSeq: _*) && extra)
        .select(col("gLex"), col("sKind"), col("sLex"),
          lit(pred).as("pLex"), lit(0).as("oKind"), derived.as("oLex"),
          lit("").as("oDt"), lit("").as("oLang")))

    val tokenPart = part(cfg.token, tokenPred, lower(col("tok")))
    val phoneticPart =
      if (cfg.metaphone.isEmpty) None
      else Some(tok
        .filter(col("pLex").isin(cfg.metaphone.toSeq: _*))
        .select(col("gLex"), col("sKind"), col("sLex"),
          explode(dmetaphoneCol(col("tok"))).as("code"))
        .select(col("gLex"), col("sKind"), col("sLex"),
          lit(phoneticPred).as("pLex"), lit(0).as("oKind"),
          col("code").as("oLex"), lit("").as("oDt"), lit("").as("oLang"))
        .filter(length(col("oLex")) > 0))
    // the per-language stemmer returns NULL for unregistered languages;
    // those rows drop, matching the reference's sb_stemmer_new == NULL
    val stemPart = part(cfg.stem, stemPred,
      stemLangCol(lower(col("tok")), stemLang(col("oLang"))),
      stemLang(col("oLang")).isin(
        graft.functions.Snowball.languages.toSeq: _*))

    (tokenPart.toSeq ++ phoneticPart.toSeq ++ stemPart.toSeq)
      .reduce(_.unionByName(_)).distinct()
  }

  /** Build a store whose quads include the full-text derivations for
    * `indexedPredicates`, indexed every way. */
  def withFullText(flat: DataFrame,
                   indexedPredicates: Set[String]): QuadStore =
    withFullText(flat, Config.allKinds(indexedPredicates))

  /** Build a store whose quads include the full-text derivations. */
  def withFullText(flat: DataFrame, cfg: Config): QuadStore = {
    // fromFlatRaw: the derivation happens HERE with the programmatic
    // config; the raw path skips fromFlat's own config scan so derived
    // quads are never re-derived
    if (cfg.isEmpty) QuadStore.fromFlatRaw(flat)
    else QuadStore.fromFlatRaw(flat.unionByName(derivedQuads(flat, cfg)))
  }

  /** Search: subjects whose indexed text contains the token. */
  def searchToken(store: QuadStore, token: String): DataFrame =
    store.quads
      .filter(col("p") === tokenPredRid &&
        col("o") === Rid.literal(token.toLowerCase))
      .select(col("s")).distinct()
}
