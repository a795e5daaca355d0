package graft.queries

/** DuckDB oracle prologues that several gate families open with. Each is
  * a finished CTE text ending in `,\n`, so an oracle continues it with
  * `+` and its next CTE. */
private[queries] object DuckSql {

  /** `WITH ws`: each document's lowercased words split on whitespace
    * runs, empties dropped (the engine's portable word tokenizer). */
  val withWs: String =
    """WITH ws AS (SELECT doc_id,
      |    list_filter(regexp_split_to_array(lower(text), '\s+'),
      |      x -> len(x) > 0) AS ws
      |  FROM documents),
      |""".stripMargin

  /** `sh0`: each document's distinct word trigrams over `ws`. */
  val sh0Cte: String =
    """sh0 AS (SELECT doc_id, list_distinct(list_transform(
      |    range(1, len(ws)-1), i -> ws[i]||' '||ws[i+1]||' '||ws[i+2]))
      |    AS shingles FROM ws),
      |""".stripMargin
}
