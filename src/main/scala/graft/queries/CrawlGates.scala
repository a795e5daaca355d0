package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables.t
import graft.operators.{Curation, Dedup, TextAnalysis, UrlOps}

/** Crawl front-door gates: URL canonicalization and registrable-host
  * keying over adversarial crawl URLs, domain blocklists, per-domain
  * boilerplate scrub, the Gopher quality and repetition batteries, and
  * their compositions, each with its DuckDB oracle. */
object CrawlGates {

  /** Adversarial crawl-URL template derived deterministically from
    * doc_id — shared by the p53 gate, the p55 composition, and (CASE
    * for CASE) their DuckDB oracles: uppercase schemes/hosts, default
    * and non-default ports, duplicate slashes, ./ and ../ segments,
    * tracking params, fragments, multi-part ccTLDs (co.uk, com.au,
    * com.br), a PRIVATE-section suffix (github.io), mixed-case
    * userinfo (must survive verbatim), an IPv4 literal, and a
    * non-URL. */
  private def crawlUrl: org.apache.spark.sql.Column = {
    val m5 = (col("doc_id") % 5).cast("string")
    val ids = col("doc_id").cast("string")
    val t10 = col("doc_id") % 10
    when(t10 === 0, concat(lit("HTTP://WWW.Example"), m5,
        lit(".COM:80/a/b/../c/./d.html?utm_source=feed&id="), ids,
        lit("#frag")))
      .when(t10 === 1, concat(lit("https://Sub.Host"), m5,
        lit(".co.uk:443/path//to/../x/?fbclid=abc"), ids))
      .when(t10 === 2, concat(lit("http://example"), m5, lit(".org")))
      .when(t10 === 3, concat(lit("https://www.site"), m5,
        lit(".com.au/deep/./../a/b/c?id="), ids,
        lit("&utm_campaign=x&gclid=g")))
      .when(t10 === 4, concat(lit("http://192.168.1."), m5,
        lit(":8080/a/../b#x")))
      .when(t10 === 5, concat(lit("https://blog.example"), m5,
        lit(".net/a/b/c/")))
      .when(t10 === 6, concat(lit("HTTPS://X"), m5,
        lit(".IO:443/~user/../home?x=1&y=2")))
      .when(t10 === 7, concat(lit("HTTPS://Leitor:PW"), m5,
        lit("@News.Portal"), m5, lit(".COM.BR:443/artigo//"), ids,
        lit("?gclid=x")))
      .when(t10 === 8, concat(lit("http://Pages.Fan"), m5,
        lit(".GitHub.IO/p/"), ids, lit("?utm_medium=x")))
      .otherwise(concat(lit("not a url at all "), ids))
  }

  /** The crawlUrl CASE, SQL-side (CASE for CASE with the Column above;
    * plain string — no interpolation, so '$'/'\' need no doubling). */
  private val crawlUrlCaseSql: String =
    """CASE doc_id % 10
      |      WHEN 0 THEN 'HTTP://WWW.Example' || (doc_id % 5) || '.COM:80/a/b/../c/./d.html?utm_source=feed&id=' || doc_id || '#frag'
      |      WHEN 1 THEN 'https://Sub.Host' || (doc_id % 5) || '.co.uk:443/path//to/../x/?fbclid=abc' || doc_id
      |      WHEN 2 THEN 'http://example' || (doc_id % 5) || '.org'
      |      WHEN 3 THEN 'https://www.site' || (doc_id % 5) || '.com.au/deep/./../a/b/c?id=' || doc_id || '&utm_campaign=x&gclid=g'
      |      WHEN 4 THEN 'http://192.168.1.' || (doc_id % 5) || ':8080/a/../b#x'
      |      WHEN 5 THEN 'https://blog.example' || (doc_id % 5) || '.net/a/b/c/'
      |      WHEN 6 THEN 'HTTPS://X' || (doc_id % 5) || '.IO:443/~user/../home?x=1&y=2'
      |      WHEN 7 THEN 'HTTPS://Leitor:PW' || (doc_id % 5) || '@News.Portal' || (doc_id % 5) || '.COM.BR:443/artigo//' || doc_id || '?gclid=x'
      |      WHEN 8 THEN 'http://Pages.Fan' || (doc_id % 5) || '.GitHub.IO/p/' || doc_id || '?utm_medium=x'
      |      ELSE 'not a url at all ' || doc_id END""".stripMargin

  /** PSL snapshot inlined as a VALUES table — generated from the SAME
    * classpath resource the kernel loads (functions.UrlKernel.Psl), so
    * Spark and DuckDB key eTLD+1 against one rule set by construction.
    * kind: 'n' normal, 'w' wildcard base, 'e' exception base. */
  private lazy val pslCteSql: String =
    "psl AS (SELECT * FROM (VALUES " +
      graft.functions.UrlKernel.Psl.rules.map { r =>
        if (r.startsWith("!")) "('e','" + r.substring(1) + "')"
        else if (r.startsWith("*.")) "('w','" + r.substring(2) + "')"
        else "('n','" + r + "')"
      }.mkString(",") + ") AS v(kind, base))"

  /** Full PSL lookup, hb(doc_id, host) -> reg(doc_id, reg_host): the
    * prevailing rule is an exception if one matches, else the longest
    * (leftmost-start) normal/wildcard match, else the default rule
    * (the bare TLD); registrable = public suffix + one label, and a
    * host that IS a public suffix keys as itself (same contract as
    * UrlKernel.registrableHost, branch for branch). */
  private val regHostCtesSql: String =
    """hl AS (SELECT doc_id, host, string_split(host, '.') AS labs,
      |    len(string_split(host, '.')) AS n FROM hb),
      |sfe AS (SELECT doc_id, i,
      |    array_to_string(labs[i:n], '.') AS si,
      |    CASE WHEN i < n THEN array_to_string(labs[i+1:n], '.') END AS si1
      |  FROM (SELECT doc_id, labs, n, unnest(range(1, n + 1)) AS i
      |        FROM hl)),
      |mt AS (SELECT s.doc_id,
      |    min(CASE WHEN e.base IS NOT NULL THEN s.i END) AS exc_i,
      |    min(CASE WHEN nr.base IS NOT NULL THEN s.i END) AS norm_i,
      |    min(CASE WHEN w.base IS NOT NULL THEN s.i END) AS wild_i
      |  FROM sfe s
      |  LEFT JOIN psl e ON e.kind = 'e' AND e.base = s.si
      |  LEFT JOIN psl nr ON nr.kind = 'n' AND nr.base = s.si
      |  LEFT JOIN psl w ON w.kind = 'w' AND w.base = s.si1
      |  GROUP BY s.doc_id),
      |reg AS (SELECT h.doc_id, CASE
      |    WHEN h.host IS NULL THEN ''
      |    WHEN regexp_matches(h.host,
      |      '^[0-9]+\.[0-9]+\.[0-9]+\.[0-9]+$') THEN h.host
      |    ELSE array_to_string(h.labs[(greatest(1,
      |      (CASE WHEN m.exc_i IS NOT NULL THEN m.exc_i + 1
      |            WHEN least(coalesce(m.norm_i, 9999),
      |                       coalesce(m.wild_i, 9999)) <= h.n
      |              THEN least(coalesce(m.norm_i, 9999),
      |                         coalesce(m.wild_i, 9999))
      |            ELSE h.n END) - 1)):h.n], '.')
      |    END AS reg_host
      |  FROM hl h LEFT JOIN mt m USING (doc_id))""".stripMargin

  /** Shared WITH prefix of the URL-pipeline oracles (the p53 gate and
    * the p75 composed crawl pipeline): the crawlUrl template -> trim /
    * fragment strip -> authority parse + lowering -> default-port drop
    * -> path dot-segment FIX POINT (a recursive CTE iterating the
    * IDENTICAL ordered regexp_replace composition
    * functions.UrlKernel.pathStep applies) -> tracking-param filter ->
    * canonical URL (CTE `canon`) -> bare host (CTE `hb`) -> inlined
    * PSL rules -> registrable host (CTE `reg`). Rewrite for rewrite
    * with the kernel, so cross-engine agreement is by construction. */
  private lazy val urlPipeCtesSql: String = {
      // one ordered rewrite pass (UrlKernel.pathStep), nested innermost
      // -> outermost: // ; /./ ; trailing /. ; /seg/../ ; trailing
      // /seg/.. ; leading /../ ; lone /.. — plain-string template with
      // @P@ substitution (no interpolation: '$'/'\' stay single)
      def step(p: String): String =
        """regexp_replace(regexp_replace(regexp_replace(regexp_replace(
          |regexp_replace(regexp_replace(regexp_replace(@P@,
          |  '//', '/', 'g'),
          |  '/\./', '/', 'g'),
          |  '/\.$', '/'),
          |  '/(\.[^/.][^/]*|\.\.[^/]+|[^/.][^/]*)/\.\./', '/', 'g'),
          |  '/(\.[^/.][^/]*|\.\.[^/]+|[^/.][^/]*)/\.\.$', '/'),
          |  '^/\.\./', '/'),
          |  '^/\.\.$', '/')""".stripMargin.replace("@P@", p)
      """WITH RECURSIVE src AS (SELECT doc_id, @URL@ AS url
        |  FROM documents),
        |t AS (SELECT doc_id, trim(url) AS s0 FROM src),
        |nf AS (SELECT doc_id, s0,
        |    CASE WHEN strpos(s0, '#') > 0
        |      THEN substr(s0, 1, strpos(s0, '#') - 1) ELSE s0 END AS s
        |  FROM t),
        |m AS (SELECT doc_id, s0, s,
        |    regexp_matches(s, '^[A-Za-z][A-Za-z0-9+.-]*://') AS isurl,
        |    lower(regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?]*)(.*)$', 1)) AS sch,
        |    regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?]*)(.*)$', 2) AS rauth,
        |    regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?]*)(.*)$', 3) AS rest
        |  FROM nf),
        |lc AS (SELECT doc_id, s0, s, isurl, sch, rauth, rest,
        |    CASE WHEN strpos(rauth, '@') > 0
        |      THEN regexp_replace(rauth, '[^@]*$', '') ||
        |           lower(regexp_replace(rauth, '^.*@', ''))
        |      ELSE lower(rauth) END AS auth0
        |  FROM m),
        |a AS (SELECT doc_id, s0, isurl, sch, rauth,
        |    CASE WHEN sch = 'http' AND auth0 LIKE '%:80'
        |           THEN substr(auth0, 1, len(auth0) - 3)
        |         WHEN sch = 'https' AND auth0 LIKE '%:443'
        |           THEN substr(auth0, 1, len(auth0) - 4)
        |         ELSE auth0 END AS auth,
        |    CASE WHEN strpos(rest, '?') > 0
        |      THEN substr(rest, 1, strpos(rest, '?') - 1)
        |      ELSE rest END AS path0,
        |    CASE WHEN strpos(rest, '?') > 0
        |      THEN substr(rest, strpos(rest, '?') + 1)
        |      ELSE NULL END AS qry
        |  FROM lc),
        |fx AS (
        |  SELECT doc_id, CASE WHEN path0 = '' THEN '/' ELSE path0 END
        |    AS p, 0 AS it FROM a WHERE isurl
        |  UNION ALL
        |  SELECT doc_id, @STEP@, it + 1 FROM fx
        |  WHERE @STEP@ <> p),
        |pf AS (SELECT doc_id, p FROM (
        |    SELECT doc_id, p, row_number() OVER (PARTITION BY doc_id
        |      ORDER BY it DESC) AS rn FROM fx) WHERE rn = 1),
        |qf AS (SELECT doc_id, CASE WHEN qry IS NULL THEN ''
        |    ELSE coalesce('?' || nullif(array_to_string(list_filter(
        |      string_split(qry, '&'),
        |      x -> len(x) > 0
        |        AND NOT starts_with(split_part(x, '=', 1), 'utm_')
        |        AND split_part(x, '=', 1) NOT IN
        |          ('gclid','fbclid','msclkid','mc_eid','igshid','ref_src')),
        |      '&'), ''), '') END AS q2
        |  FROM a),
        |hb AS (SELECT doc_id, CASE
        |    WHEN isurl THEN lower(regexp_replace(regexp_replace(rauth,
        |      '^.*@', ''), ':[0-9]+$', ''))
        |    WHEN regexp_matches(s0, '^[A-Za-z0-9.-]+$')
        |      THEN lower(regexp_replace(s0, ':[0-9]+$', ''))
        |    ELSE NULL END AS host
        |  FROM a),
        |@PSL@,
        |@REGHOST@,
        |canon AS (SELECT a.doc_id,
        |    CASE WHEN NOT isurl THEN s0
        |         ELSE sch || '://' || auth || pf.p || qf.q2 END
        |      AS url_canon
        |  FROM a LEFT JOIN pf USING (doc_id)
        |    JOIN qf USING (doc_id))""".stripMargin
        .replace("@URL@", crawlUrlCaseSql)
        .replace("@STEP@", step("p"))
        .replace("@PSL@", pslCteSql)
        .replace("@REGHOST@", regHostCtesSql)
  }

  /** The host-keying prefix of the p57/p63 oracles: the crawlUrl
    * template -> trim / fragment strip -> authority -> bare host (CTE
    * `hb`) -> inlined PSL rules -> registrable host (CTE `reg`). */
  private lazy val hostCtesSql: String =
    """WITH src AS (SELECT doc_id, @URL@ AS url FROM documents),
      |t AS (SELECT doc_id, trim(url) AS s0 FROM src),
      |nf AS (SELECT doc_id, s0,
      |    CASE WHEN strpos(s0, '#') > 0
      |      THEN substr(s0, 1, strpos(s0, '#') - 1) ELSE s0 END AS s
      |  FROM t),
      |m AS (SELECT doc_id, s0,
      |    regexp_matches(s, '^[A-Za-z][A-Za-z0-9+.-]*://') AS isurl,
      |    regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?]*)(.*)$', 2) AS rauth
      |  FROM nf),
      |hb AS (SELECT doc_id, CASE
      |    WHEN isurl THEN lower(regexp_replace(regexp_replace(rauth,
      |      '^.*@', ''), ':[0-9]+$', ''))
      |    WHEN regexp_matches(s0, '^[A-Za-z0-9.-]+$')
      |      THEN lower(regexp_replace(s0, ':[0-9]+$', ''))
      |    ELSE NULL END AS host
      |  FROM m),
      |@PSL@,
      |@REGHOST@""".stripMargin
      .replace("@URL@", crawlUrlCaseSql)
      .replace("@PSL@", pslCteSql)
      .replace("@REGHOST@", regHostCtesSql)

  val gates: Seq[Gate] = Seq(
    // URL canonicalization + registrable-host keying over adversarial
    // URLs derived deterministically from doc_id (uppercase scheme and
    // host, default and non-default ports, duplicate slashes, ./ and
    // ../ segments, tracking params, fragments, multi-part ccTLDs, an
    // IPv4 literal, and a non-URL) — every rewrite mirrored verbatim
    // in the DuckDB oracle, so cross-engine agreement is by
    // construction (see functions.UrlKernel)
    // oracle: the same trim/fragment/scheme/port/path-fixpoint/tracking-param
    // pipeline as functions.UrlKernel, rewrite for rewrite; the path
    // dot-segment resolution is the recursive-CTE fixpoint of the IDENTICAL
    // ordered regexp_replace composition the kernel iterates
    Gate("p53_url_canonicalize", urlPipeCtesSql + "\n" +
      """SELECT c.doc_id, c.url_canon, r.reg_host
        |FROM canon c JOIN reg r USING (doc_id)
        |ORDER BY doc_id""".stripMargin) { (s, d) =>
      t(s, d, "documents").select(col("doc_id"), crawlUrl.as("url"))
        .select(col("doc_id"),
          UrlOps.canonicalizeUrl(col("url")).as("url_canon"),
          UrlOps.registrableHost(col("url")).as("reg_host"))
        .orderBy("doc_id")
    },

    // Gopher doc-quality rule battery (Rae et al. 2021 Table A1):
    // exact integer sufficient statistics + an integer-only pass
    // verdict. minStopwords = 1 AT THE GATE (like p55): this synthetic
    // corpus carries only "the" from the required-stopword set, so the
    // paper default of 2 would make gopher_pass constant-false and the
    // oracle could never catch a broken verdict — at 1 the hashed
    // output carries BOTH verdict values (word floor still rejects
    // ~45%), so the gate bifurcates on its own corpus
    // oracle: same lowered whitespace tokens; every stat an exact integer, the
    // verdict integer comparisons only (mean-word-length bounds as 3n <= sum <=
    // 10n)
    Gate("p54_gopher_quality",
      """WITH ws AS (SELECT doc_id, text,
        |    list_filter(regexp_split_to_array(lower(text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM documents),
        |m AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |      AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((len(text) - len(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(list_intersect(list_distinct(ws),
        |      ['the','be','to','of','and','that','have','with']))
        |      AS BIGINT) AS n_stopwords
        |  FROM ws)
        |SELECT doc_id, n_words, sum_word_len, n_alpha_words, n_hash,
        |  n_ellipsis, n_stopwords,
        |  (n_words >= 50 AND n_words <= 100000
        |   AND sum_word_len >= n_words * 3
        |   AND sum_word_len <= n_words * 10
        |   AND n_hash * 10 <= n_words AND n_ellipsis * 10 <= n_words
        |   AND n_alpha_words * 5 >= n_words * 4
        |   AND n_stopwords >= 1) AS gopher_pass
        |FROM m ORDER BY doc_id""".stripMargin) { (s, d) =>
      TextAnalysis.gopherQuality(
          t(s, d, "documents").select("doc_id", "text"), "text",
          minStopwords = 1)
        .select(col("doc_id"), col("n_words"),
          col("sum_word_len"), col("n_alpha_words"), col("n_hash"),
          col("n_ellipsis"), col("n_stopwords"), col("gopher_pass"))
        .orderBy("doc_id")
    },

    // the crawl-curation front door COMPOSED: doc_id-derived URLs ->
    // registrable-host keying -> Gopher quality filter -> per-domain
    // frequency cap (the p53 + p54 + p50 operators in one DAG).
    // minStopwords = 1: the corpus carries only "the" from the
    // required set, so the paper default of 2 would pass NOTHING —
    // thresholds are corpus-tuned (as in the paper itself), and 1
    // keeps every other rule binding (the word floor rejects ~45%,
    // the host filter drops the non-URL template)
    // oracle: p53's authority/registrable-host CTEs + p54's verdict (with the
    // composition's minStopwords=1) + p50's seeded cumulative cap, composed;
    // the path/query CTEs are not needed — only the host key survives into the
    // cap
    Gate("p55_crawl_curate",
      """WITH src AS (SELECT doc_id, text, @URL@ AS url
        |  FROM documents),
        |t AS (SELECT doc_id, text, trim(url) AS s0 FROM src),
        |nf AS (SELECT doc_id, text, s0,
        |    CASE WHEN strpos(s0, '#') > 0
        |      THEN substr(s0, 1, strpos(s0, '#') - 1) ELSE s0 END AS s
        |  FROM t),
        |m AS (SELECT doc_id, text, s0,
        |    regexp_matches(s, '^[A-Za-z][A-Za-z0-9+.-]*://') AS isurl,
        |    regexp_extract(s, '^([A-Za-z][A-Za-z0-9+.-]*)://([^/?]*)(.*)$', 2) AS rauth
        |  FROM nf),
        |hb AS (SELECT doc_id, text, CASE
        |    WHEN isurl THEN lower(regexp_replace(regexp_replace(rauth,
        |      '^.*@', ''), ':[0-9]+$', ''))
        |    WHEN regexp_matches(s0, '^[A-Za-z0-9.-]+$')
        |      THEN lower(regexp_replace(s0, ':[0-9]+$', ''))
        |    ELSE NULL END AS host
        |  FROM m),
        |@PSL@,
        |@REGHOST@,
        |tok AS (SELECT h.doc_id, rg.reg_host, h.text,
        |    list_filter(regexp_split_to_array(lower(h.text), '\s+'),
        |      x -> len(x) > 0) AS ws
        |  FROM hb h JOIN reg rg USING (doc_id)),
        |gq AS (SELECT doc_id, reg_host,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |      AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(text) - len(replace(text, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((len(text) - len(replace(text, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(list_intersect(list_distinct(ws),
        |      ['the','be','to','of','and','that','have','with']))
        |      AS BIGINT) AS n_stopwords
        |  FROM tok),
        |good AS (SELECT doc_id, reg_host FROM gq
        |  WHERE n_words >= 50 AND n_words <= 100000
        |    AND sum_word_len >= n_words * 3
        |    AND sum_word_len <= n_words * 10
        |    AND n_hash * 10 <= n_words AND n_ellipsis * 10 <= n_words
        |    AND n_alpha_words * 5 >= n_words * 4
        |    AND n_stopwords >= 1 AND reg_host <> ''),
        |r AS (SELECT doc_id, reg_host,
        |    CAST(COUNT(*) OVER (PARTITION BY reg_host
        |      ORDER BY md5(doc_id::VARCHAR || ':7')
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS rn
        |  FROM good)
        |SELECT doc_id, reg_host FROM r WHERE rn <= 5
        |ORDER BY doc_id""".stripMargin
        .replace("@URL@", crawlUrlCaseSql)
        .replace("@PSL@", pslCteSql)
        .replace("@REGHOST@", regHostCtesSql)) { (s, d) =>
      val keyed = t(s, d, "documents")
        .select(col("doc_id"), col("text"), crawlUrl.as("url"))
        .withColumn("reg_host", UrlOps.registrableHost(col("url")))
      val good = TextAnalysis.gopherQuality(keyed, "text",
          minStopwords = 1)
        .filter(col("gopher_pass") && col("reg_host") =!= "")
        .select("doc_id", "reg_host")
      Curation.capPerGroup(good, "reg_host", "doc_id",
          maxPerGroup = 5, seed = 7)
        .orderBy("doc_id")
    },

    // crawl domain blocklist: drop docs whose eTLD+1 is blocked —
    // exercises registrable-host precision (a github.io TENANT is
    // blocked without touching the platform; a com.au domain
    // regardless of subdomain; an IPv4 literal). Each blocked host
    // kills one whole corpus arm (~10%)
    // oracle: the same host chain + PSL lookup as p53/p55, then a NOT IN over
    // the blocklist ('' non-URL hosts pass: filter what is provably blocked)
    Gate("p57_domain_blocklist", hostCtesSql + """
        |SELECT r.doc_id, r.reg_host FROM reg r
        |WHERE r.reg_host NOT IN
        |  ('site3.com.au', 'fan3.github.io', '192.168.1.4')
        |ORDER BY r.doc_id""".stripMargin) { (s, d) =>
      UrlOps.dropBlockedHosts(
          t(s, d, "documents").select(col("doc_id"), crawlUrl.as("url")),
          "url", Seq("site3.com.au", "fan3.github.io", "192.168.1.4"))
        .select(col("doc_id"),
          UrlOps.registrableHost(col("url")).as("reg_host"))
        .orderBy("doc_id")
    },

    // per-DOMAIN boilerplate line scrub: each doc is wrapped with a
    // site banner (same line for all ~50 docs of its registrable
    // host -> scrubbed at minDocs=3), its own unique text (kept), and
    // a "buddy" line shared by exactly 2 docs of the same domain
    // (kept: 2 < 3 — the threshold boundary is exercised on BOTH
    // sides; buddy keys repeat across domains, proving (domain, line)
    // cell isolation)
    // oracle: p53's host chain + PSL lookup for the domain key, then the
    // boilerplate election replayed: count(DISTINCT doc_id) per (reg_host,
    // line), drop cells >= 3, rejoin survivors in order
    Gate("p63_boilerplate_lines", hostCtesSql + """,
        |lined AS (SELECT d.doc_id, r.reg_host,
        |    'welcome to ' || r.reg_host || chr(10) || d.text ||
        |      chr(10) || 'buddy ' || (d.doc_id // 20) AS text2
        |  FROM documents d JOIN reg r USING (doc_id)),
        |l AS (SELECT doc_id, reg_host, unnest(ls) AS line,
        |    generate_subscripts(ls, 1) AS i
        |  FROM (SELECT doc_id, reg_host,
        |    string_split(text2, chr(10)) AS ls FROM lined)),
        |b AS (SELECT reg_host, line FROM (
        |    SELECT reg_host, line, count(DISTINCT doc_id) AS nd
        |    FROM l GROUP BY 1, 2) WHERE nd >= 3),
        |kept AS (SELECT l.doc_id, l.line, l.i FROM l
        |  LEFT JOIN b ON l.reg_host = b.reg_host AND l.line = b.line
        |  WHERE b.line IS NULL),
        |r2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |    md5(string_agg(line, chr(10) ORDER BY i)) AS cleaned_md5
        |  FROM kept GROUP BY doc_id),
        |tot AS (SELECT doc_id, reg_host,
        |    len(string_split(text2, chr(10))) AS n_lines FROM lined)
        |SELECT d.doc_id, t2.reg_host,
        |  CAST(t2.n_lines - coalesce(r2.n_kept, 0) AS BIGINT)
        |    AS n_dropped_lines,
        |  coalesce(r2.cleaned_md5, md5('')) AS cleaned_md5
        |FROM documents d JOIN tot t2 USING (doc_id)
        |LEFT JOIN r2 USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
        .select(col("doc_id"), col("text"), crawlUrl.as("url"))
        .withColumn("reg_host", UrlOps.registrableHost(col("url")))
      val lined = docs.select(col("doc_id"), col("reg_host"),
        concat(lit("welcome to "), col("reg_host"), lit("\n"),
          col("text"), lit("\nbuddy "),
          expr("doc_id DIV 20").cast("string")).as("text"))
      Dedup.scrubBoilerplateLines(lined, "doc_id", "reg_host", "text",
          minDocs = 3)
        .select(col("doc_id"), col("reg_host"),
          col("n_dropped_lines"), md5(col("cleaned")).as("cleaned_md5"))
        .orderBy("doc_id")
    },

    // Gopher Table A1 REPETITION battery: every doc is wrapped so the
    // signals bind — doc_id%3==0 gets a repeated line ("repeat me"x2),
    // a repeated paragraph (the doc's first 50 chars twice), and the
    // blank-line dup the "\n\n" wrapping creates (verdict fails);
    // other docs get unique tails (verdict passes unless natural word
    // repetition trips the n-gram signals) — both verdicts in the hash
    // oracle: the repetition kernel replayed relationally: min-subscript dup
    // detection for lines ('\n') and paragraphs ('\n\n'), grouped 2-gram
    // count-x-length max, and the p31-style coverage union for duplicated
    // 5-grams; verdict = the same integer comparisons
    Gate("p64_repetition_signals",
      """WITH base AS (SELECT doc_id,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) ||
        |      'repeat me' || chr(10) || 'repeat me' || chr(10) ||
        |      chr(10) || substr(text, 1, 50) || chr(10) || chr(10) ||
        |      substr(text, 1, 50)
        |    ELSE text || chr(10) || 'uq' || doc_id || chr(10) ||
        |      chr(10) || 'uq2' || doc_id END AS t2
        |  FROM documents),
        |lu AS (SELECT doc_id, t2,
        |    string_split(t2, chr(10)) AS ls,
        |    string_split(t2, chr(10) || chr(10)) AS ps,
        |    list_filter(regexp_split_to_array(lower(t2), '\s+'),
        |      x -> len(x) > 0) AS ws,
        |    len(t2) AS total_chars
        |  FROM base),
        |lx AS (SELECT doc_id, unnest(ls) AS u,
        |    generate_subscripts(ls, 1) AS i FROM lu),
        |lw AS (SELECT doc_id, u, min(i) AS wi FROM lx GROUP BY 1, 2),
        |ld AS (SELECT x.doc_id, count(*) AS n_lines,
        |    count(*) FILTER (x.i > w.wi) AS n_dup_lines,
        |    coalesce(sum(len(x.u)) FILTER (x.i > w.wi), 0)
        |      AS chars_dup_lines
        |  FROM lx x JOIN lw w ON x.doc_id = w.doc_id AND x.u = w.u
        |  GROUP BY 1),
        |px AS (SELECT doc_id, unnest(ps) AS u,
        |    generate_subscripts(ps, 1) AS i FROM lu),
        |pw AS (SELECT doc_id, u, min(i) AS wi FROM px GROUP BY 1, 2),
        |pd AS (SELECT x.doc_id, count(*) AS n_paras,
        |    count(*) FILTER (x.i > w.wi) AS n_dup_paras,
        |    coalesce(sum(len(x.u)) FILTER (x.i > w.wi), 0)
        |      AS chars_dup_paras
        |  FROM px x JOIN pw w ON x.doc_id = w.doc_id AND x.u = w.u
        |  GROUP BY 1),
        |w2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g,
        |    len(ws[i]) + len(ws[i+1]) + 1 AS gl
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        |        FROM lu)),
        |t2a AS (SELECT doc_id, max(cnt * gl) AS top2_chars FROM (
        |    SELECT doc_id, g, gl, count(*) AS cnt FROM w2
        |    GROUP BY 1, 2, 3) GROUP BY 1),
        |g5 AS (SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS g
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i
        |        FROM lu)),
        |d5 AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |st AS (SELECT DISTINCT g5.doc_id, g5.i FROM g5
        |  JOIN d5 USING (doc_id, g)),
        |cov AS (SELECT doc_id, list_sort(list(i)) AS starts FROM st
        |  GROUP BY 1),
        |d5c AS (SELECT l.doc_id,
        |    coalesce(list_sum(list_transform(
        |      list_filter(range(1, len(l.ws) + 1),
        |        p -> len(list_filter(coalesce(c.starts,
        |          CAST([] AS BIGINT[])),
        |          s -> s <= p AND p <= s + 4)) > 0),
        |      p -> len(l.ws[p]))), 0) AS dup5_chars
        |  FROM lu l LEFT JOIN cov c USING (doc_id)),
        |fin AS (SELECT l.doc_id,
        |    ld.n_lines, ld.n_dup_lines, ld.chars_dup_lines,
        |    pd.n_paras, pd.n_dup_paras, pd.chars_dup_paras,
        |    l.total_chars,
        |    coalesce(t2a.top2_chars, 0) AS top2_chars,
        |    d5c.dup5_chars
        |  FROM lu l JOIN ld USING (doc_id) JOIN pd USING (doc_id)
        |  LEFT JOIN t2a USING (doc_id) JOIN d5c USING (doc_id))
        |SELECT doc_id,
        |  CAST(n_lines AS BIGINT) AS n_lines,
        |  CAST(n_dup_lines AS BIGINT) AS n_dup_lines,
        |  CAST(chars_dup_lines AS BIGINT) AS chars_dup_lines,
        |  CAST(n_paras AS BIGINT) AS n_paras,
        |  CAST(n_dup_paras AS BIGINT) AS n_dup_paras,
        |  CAST(chars_dup_paras AS BIGINT) AS chars_dup_paras,
        |  CAST(total_chars AS BIGINT) AS total_chars,
        |  CAST(top2_chars AS BIGINT) AS top2_chars,
        |  CAST(dup5_chars AS BIGINT) AS dup5_chars,
        |  (n_dup_lines * 10 <= n_lines * 3 AND
        |   n_dup_paras * 10 <= n_paras * 3 AND
        |   chars_dup_lines * 5 <= total_chars AND
        |   chars_dup_paras * 5 <= total_chars AND
        |   top2_chars * 5 <= total_chars AND
        |   dup5_chars * 20 <= total_chars * 3) AS rep_pass
        |FROM fin ORDER BY doc_id""".stripMargin) { (s, d) =>
      val wrapped = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nrepeat me\nrepeat me\n\n"),
          substring(col("text"), 1, 50), lit("\n\n"),
          substring(col("text"), 1, 50)))
        .otherwise(concat(col("text"), lit("\nuq"), col("doc_id"),
          lit("\n\nuq2"), col("doc_id")))
      TextAnalysis.repetitionSignals(
          t(s, d, "documents").select(col("doc_id"),
            wrapped.as("text")), "text")
        .select(col("doc_id"), col("n_lines"), col("n_dup_lines"),
          col("chars_dup_lines"), col("n_paras"), col("n_dup_paras"),
          col("chars_dup_paras"), col("total_chars"),
          col("top2_chars"), col("dup5_chars"), col("rep_pass"))
        .orderBy("doc_id")
    },

    // corpus curation report: per-source pass counts for BOTH rule
    // batteries + exact volume/repetition mass counters, on the same
    // wrapped corpus as p64 (so the repetition verdict bifurcates) at
    // the same corpus-tuned thresholds as p54 (minStopwords = 1)
    // oracle: the p54 gopher CTEs + the p64 repetition chain on the SAME
    // wrapped corpus, aggregated per source — verdict counts and the integer
    // volume/repetition-mass sums, all exact
    Gate("p65_curation_report",
      """WITH base AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 3 = 0 THEN text || chr(10) ||
        |      'repeat me' || chr(10) || 'repeat me' || chr(10) ||
        |      chr(10) || substr(text, 1, 50) || chr(10) || chr(10) ||
        |      substr(text, 1, 50)
        |    ELSE text || chr(10) || 'uq' || doc_id || chr(10) ||
        |      chr(10) || 'uq2' || doc_id END AS t2
        |  FROM documents),
        |lu AS (SELECT doc_id, t2,
        |    string_split(t2, chr(10)) AS ls,
        |    string_split(t2, chr(10) || chr(10)) AS ps,
        |    list_filter(regexp_split_to_array(lower(t2), '\s+'),
        |      x -> len(x) > 0) AS ws,
        |    len(t2) AS total_chars
        |  FROM base),
        |g AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |      AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(t2) - len(replace(t2, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((len(t2) - len(replace(t2, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(list_intersect(list_distinct(ws),
        |      ['the','be','to','of','and','that','have','with']))
        |      AS BIGINT) AS n_stopwords
        |  FROM lu),
        |gp AS (SELECT doc_id, n_words,
        |    (n_words >= 50 AND n_words <= 100000
        |     AND sum_word_len >= n_words * 3
        |     AND sum_word_len <= n_words * 10
        |     AND n_hash * 10 <= n_words AND n_ellipsis * 10 <= n_words
        |     AND n_alpha_words * 5 >= n_words * 4
        |     AND n_stopwords >= 1) AS gopher_pass
        |  FROM g),
        |lx AS (SELECT doc_id, unnest(ls) AS u,
        |    generate_subscripts(ls, 1) AS i FROM lu),
        |lw AS (SELECT doc_id, u, min(i) AS wi FROM lx GROUP BY 1, 2),
        |ld AS (SELECT x.doc_id, count(*) AS n_lines,
        |    count(*) FILTER (x.i > w.wi) AS n_dup_lines,
        |    coalesce(sum(len(x.u)) FILTER (x.i > w.wi), 0)
        |      AS chars_dup_lines
        |  FROM lx x JOIN lw w ON x.doc_id = w.doc_id AND x.u = w.u
        |  GROUP BY 1),
        |px AS (SELECT doc_id, unnest(ps) AS u,
        |    generate_subscripts(ps, 1) AS i FROM lu),
        |pw AS (SELECT doc_id, u, min(i) AS wi FROM px GROUP BY 1, 2),
        |pd AS (SELECT x.doc_id, count(*) AS n_paras,
        |    count(*) FILTER (x.i > w.wi) AS n_dup_paras,
        |    coalesce(sum(len(x.u)) FILTER (x.i > w.wi), 0)
        |      AS chars_dup_paras
        |  FROM px x JOIN pw w ON x.doc_id = w.doc_id AND x.u = w.u
        |  GROUP BY 1),
        |w2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS gm,
        |    len(ws[i]) + len(ws[i+1]) + 1 AS gl
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        |        FROM lu)),
        |t2a AS (SELECT doc_id, max(cnt * gl) AS top2_chars FROM (
        |    SELECT doc_id, gm, gl, count(*) AS cnt FROM w2
        |    GROUP BY 1, 2, 3) GROUP BY 1),
        |g5 AS (SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS gm
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i
        |        FROM lu)),
        |d5 AS (SELECT doc_id, gm FROM g5 GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |st AS (SELECT DISTINCT g5.doc_id, g5.i FROM g5
        |  JOIN d5 USING (doc_id, gm)),
        |cov AS (SELECT doc_id, list_sort(list(i)) AS starts FROM st
        |  GROUP BY 1),
        |d5c AS (SELECT l.doc_id,
        |    coalesce(list_sum(list_transform(
        |      list_filter(range(1, len(l.ws) + 1),
        |        p -> len(list_filter(coalesce(c.starts,
        |          CAST([] AS BIGINT[])),
        |          s -> s <= p AND p <= s + 4)) > 0),
        |      p -> len(l.ws[p]))), 0) AS dup5_chars
        |  FROM lu l LEFT JOIN cov c USING (doc_id)),
        |rp AS (SELECT l.doc_id, ld.n_dup_lines, d5c.dup5_chars,
        |    l.total_chars,
        |    (ld.n_dup_lines * 10 <= ld.n_lines * 3 AND
        |     pd.n_dup_paras * 10 <= pd.n_paras * 3 AND
        |     ld.chars_dup_lines * 5 <= l.total_chars AND
        |     pd.chars_dup_paras * 5 <= l.total_chars AND
        |     coalesce(t2a.top2_chars, 0) * 5 <= l.total_chars AND
        |     d5c.dup5_chars * 20 <= l.total_chars * 3) AS rep_pass
        |  FROM lu l JOIN ld USING (doc_id) JOIN pd USING (doc_id)
        |  LEFT JOIN t2a USING (doc_id) JOIN d5c USING (doc_id))
        |SELECT b.source,
        |  CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(CASE WHEN gp.gopher_pass THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_gopher_pass,
        |  CAST(sum(CASE WHEN rp.rep_pass THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_rep_pass,
        |  CAST(sum(CASE WHEN gp.gopher_pass AND rp.rep_pass
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pass_both,
        |  CAST(sum(gp.n_words) AS BIGINT) AS total_words,
        |  CAST(sum(rp.total_chars) AS BIGINT) AS total_chars,
        |  CAST(sum(rp.n_dup_lines) AS BIGINT) AS total_dup_lines,
        |  CAST(sum(rp.dup5_chars) AS BIGINT) AS total_dup5_chars
        |FROM base b JOIN gp USING (doc_id) JOIN rp USING (doc_id)
        |GROUP BY 1 ORDER BY b.source""".stripMargin) { (s, d) =>
      val wrapped = when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nrepeat me\nrepeat me\n\n"),
          substring(col("text"), 1, 50), lit("\n\n"),
          substring(col("text"), 1, 50)))
        .otherwise(concat(col("text"), lit("\nuq"), col("doc_id"),
          lit("\n\nuq2"), col("doc_id")))
      TextAnalysis.curationReport(
          t(s, d, "documents").select(col("doc_id"), col("source"),
            wrapped.as("text")),
          "source", "text", minStopwords = 1)
        .orderBy("source")
    },

    // THE FULL CRAWL FRONT DOOR AS ONE DAG (r16 verdict task 1 — the
    // C4 §2.1 + CCNet §3 order with the line-grain and URL stages
    // that the doc-grain compositions p55/p30 omit): URL canonicalize
    // + registrable-host keying + domain blocklist → per-domain
    // boilerplate-line scrub → Gopher quality + repetition gates ON
    // THE SCRUBBED TEXT → INCREMENTAL corpus-global line dedup across
    // two snapshots (even ids = snapA seeds the index, odd ids =
    // snapB probes it). The corpus is reshaped so EVERY stage binds
    // (the r16 adjudication b22a9e7: single-line docs degenerate the
    // line stages): each doc becomes a site banner line (~50 docs per
    // domain share it → scrubbed at minDocs=3), its body line
    // (doc-unique), an "xline" shared by exactly 2 CONSECUTIVE docs
    // (different domains → survives the per-domain scrub; the even
    // doc is snapA, the odd snapB → the line-dedup index binds
    // CROSS-snapshot), a "buddy" line shared by 2 docs per domain
    // (under the scrub threshold → kept; 20 docs corpus-wide → the
    // global-first election binds hard), and — for doc_id%3==0 — the
    // doc's own 50-char prefix three times (doc-unique lines, so the
    // scrub keeps them, but the REPETITION battery fails the doc:
    // both gate verdicts land in the hash). Output: every front-door
    // survivor with its canonical URL, domain key, per-stage integer
    // counters and verdicts, and — for gate passers — the line-dedup
    // row (n_kept_lines = −1 / final_md5 = '' mark gate failures,
    // distinct from a passer that lost every line). The DuckDB
    // oracle composes the p53 URL CTEs + p63 election + p54 battery
    // + p64 repetition chain + p70 (snap, id, pos) winner election —
    // green means the PIPELINE the brief describes runs as one DAG,
    // not just its stages in isolation.
    // oracle: the shared URL CTEs (canon + reg) → blocklist → the SAME
    // multi-line reshaping as the gate → p63's (domain, line) boilerplate
    // election → p54's gopher battery + p64's repetition chain ON THE SCRUBBED
    // TEXT → p70's (snap, id, pos) all-at-once winner election over gate
    // passers — every stage's CTEs are the per-stage oracles', composed
    Gate("p75_crawl_pipeline", urlPipeCtesSql + ",\n" +
      """fr AS (SELECT d.doc_id, d.text, c.url_canon, r.reg_host
        |  FROM documents d JOIN canon c USING (doc_id)
        |    JOIN reg r USING (doc_id)
        |  WHERE r.reg_host NOT IN
        |      ('site3.com.au', 'fan3.github.io', '192.168.1.4')
        |    AND r.reg_host <> ''),
        |lined AS (SELECT doc_id, url_canon, reg_host,
        |    'welcome to ' || reg_host || chr(10) || text || chr(10) ||
        |    'xline ' || (doc_id // 2) || chr(10) ||
        |    'buddy ' || (doc_id // 20) ||
        |    CASE WHEN doc_id % 3 = 0
        |      THEN chr(10) || substr(text, 1, 50) || chr(10) ||
        |           substr(text, 1, 50) || chr(10) || substr(text, 1, 50)
        |      ELSE '' END AS t0
        |  FROM fr),
        |bl AS (SELECT doc_id, reg_host, unnest(ls) AS line,
        |    generate_subscripts(ls, 1) AS i
        |  FROM (SELECT doc_id, reg_host, string_split(t0, chr(10)) AS ls
        |        FROM lined)),
        |bo AS (SELECT reg_host, line FROM (
        |    SELECT reg_host, line, count(DISTINCT doc_id) AS nd
        |    FROM bl GROUP BY 1, 2) WHERE nd >= 3),
        |kp AS (SELECT b.doc_id, b.line, b.i FROM bl b
        |  LEFT JOIN bo ON b.reg_host = bo.reg_host AND b.line = bo.line
        |  WHERE bo.line IS NULL),
        |cl AS (SELECT doc_id, count(*) AS n_kept0,
        |    string_agg(line, chr(10) ORDER BY i) AS cleaned
        |  FROM kp GROUP BY doc_id),
        |cd AS (SELECT li.doc_id, li.reg_host, li.url_canon,
        |    CAST(len(string_split(li.t0, chr(10))) -
        |      coalesce(cl.n_kept0, 0) AS BIGINT) AS n_dropped_lines,
        |    coalesce(cl.cleaned, '') AS t2
        |  FROM lined li LEFT JOIN cl USING (doc_id)),
        |lu AS (SELECT doc_id, t2,
        |    string_split(t2, chr(10)) AS ls,
        |    string_split(t2, chr(10) || chr(10)) AS ps,
        |    list_filter(regexp_split_to_array(lower(t2), '\s+'),
        |      x -> len(x) > 0) AS ws,
        |    len(t2) AS total_chars
        |  FROM cd),
        |gq AS (SELECT doc_id,
        |    CAST(len(ws) AS BIGINT) AS n_words,
        |    CAST(coalesce(list_sum(list_transform(ws, w -> len(w))), 0)
        |      AS BIGINT) AS sum_word_len,
        |    CAST(len(list_filter(ws, w -> regexp_matches(w, '[a-z]')))
        |      AS BIGINT) AS n_alpha_words,
        |    CAST(len(t2) - len(replace(t2, '#', '')) AS BIGINT)
        |      AS n_hash,
        |    CAST((len(t2) - len(replace(t2, '...', ''))) // 3
        |      AS BIGINT) AS n_ellipsis,
        |    CAST(len(list_intersect(list_distinct(ws),
        |      ['the','be','to','of','and','that','have','with']))
        |      AS BIGINT) AS n_stopwords
        |  FROM lu),
        |gv AS (SELECT doc_id, n_words,
        |    (n_words >= 50 AND n_words <= 100000
        |     AND sum_word_len >= n_words * 3
        |     AND sum_word_len <= n_words * 10
        |     AND n_hash * 10 <= n_words AND n_ellipsis * 10 <= n_words
        |     AND n_alpha_words * 5 >= n_words * 4
        |     AND n_stopwords >= 1) AS gopher_pass
        |  FROM gq),
        |lx AS (SELECT doc_id, unnest(ls) AS u,
        |    generate_subscripts(ls, 1) AS i FROM lu),
        |lw AS (SELECT doc_id, u, min(i) AS wi FROM lx GROUP BY 1, 2),
        |ldp AS (SELECT x.doc_id, count(*) AS n_lines,
        |    count(*) FILTER (x.i > w.wi) AS n_dup_lines,
        |    coalesce(sum(len(x.u)) FILTER (x.i > w.wi), 0)
        |      AS chars_dup_lines
        |  FROM lx x JOIN lw w ON x.doc_id = w.doc_id AND x.u = w.u
        |  GROUP BY 1),
        |px AS (SELECT doc_id, unnest(ps) AS u,
        |    generate_subscripts(ps, 1) AS i FROM lu),
        |pw AS (SELECT doc_id, u, min(i) AS wi FROM px GROUP BY 1, 2),
        |pd AS (SELECT x.doc_id, count(*) AS n_paras,
        |    count(*) FILTER (x.i > w.wi) AS n_dup_paras,
        |    coalesce(sum(len(x.u)) FILTER (x.i > w.wi), 0)
        |      AS chars_dup_paras
        |  FROM px x JOIN pw w ON x.doc_id = w.doc_id AND x.u = w.u
        |  GROUP BY 1),
        |w2 AS (SELECT doc_id, ws[i] || ' ' || ws[i+1] AS g,
        |    len(ws[i]) + len(ws[i+1]) + 1 AS gl
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws))) AS i
        |        FROM lu)),
        |t2a AS (SELECT doc_id, max(cnt * gl) AS top2_chars FROM (
        |    SELECT doc_id, g, gl, count(*) AS cnt FROM w2
        |    GROUP BY 1, 2, 3) GROUP BY 1),
        |g5 AS (SELECT doc_id, i, array_to_string(ws[i:i+4], ' ') AS g
        |  FROM (SELECT doc_id, ws, unnest(range(1, len(ws) - 3)) AS i
        |        FROM lu)),
        |d5 AS (SELECT doc_id, g FROM g5 GROUP BY 1, 2
        |  HAVING count(*) >= 2),
        |st AS (SELECT DISTINCT g5.doc_id, g5.i FROM g5
        |  JOIN d5 USING (doc_id, g)),
        |cov AS (SELECT doc_id, list_sort(list(i)) AS starts FROM st
        |  GROUP BY 1),
        |d5c AS (SELECT l.doc_id,
        |    coalesce(list_sum(list_transform(
        |      list_filter(range(1, len(l.ws) + 1),
        |        p -> len(list_filter(coalesce(c.starts,
        |          CAST([] AS BIGINT[])),
        |          s -> s <= p AND p <= s + 4)) > 0),
        |      p -> len(l.ws[p]))), 0) AS dup5_chars
        |  FROM lu l LEFT JOIN cov c USING (doc_id)),
        |rv AS (SELECT l.doc_id,
        |    CAST(ldp.n_lines AS BIGINT) AS n_lines,
        |    (ldp.n_dup_lines * 10 <= ldp.n_lines * 3 AND
        |     pd.n_dup_paras * 10 <= pd.n_paras * 3 AND
        |     ldp.chars_dup_lines * 5 <= l.total_chars AND
        |     pd.chars_dup_paras * 5 <= l.total_chars AND
        |     coalesce(t2a.top2_chars, 0) * 5 <= l.total_chars AND
        |     d5c.dup5_chars * 20 <= l.total_chars * 3) AS rep_pass
        |  FROM lu l JOIN ldp USING (doc_id) JOIN pd USING (doc_id)
        |  LEFT JOIN t2a USING (doc_id) JOIN d5c USING (doc_id)),
        |sv AS (SELECT cd.doc_id FROM cd
        |  JOIN gv USING (doc_id) JOIN rv USING (doc_id)
        |  WHERE gv.gopher_pass AND rv.rep_pass),
        |dl AS (SELECT k.doc_id, k.doc_id % 2 AS snap, k.line, k.i
        |  FROM kp k JOIN sv USING (doc_id)),
        |wn1 AS (SELECT line, min(snap * 1000000000000 + doc_id) AS wk
        |  FROM dl GROUP BY line),
        |wn AS (SELECT d2.line, d2.doc_id AS wd, min(d2.i) AS wi
        |  FROM dl d2 JOIN wn1 ON d2.line = wn1.line
        |    AND d2.snap * 1000000000000 + d2.doc_id = wn1.wk
        |  GROUP BY d2.line, d2.doc_id),
        |kept2 AS (SELECT d2.doc_id, d2.line, d2.i FROM dl d2
        |  JOIN wn ON d2.line = wn.line AND d2.doc_id = wn.wd
        |    AND d2.i = wn.wi),
        |ddp AS (SELECT doc_id,
        |    CAST(count(*) AS BIGINT) AS n_kept_lines,
        |    md5(string_agg(line, chr(10) ORDER BY i)) AS final_md5
        |  FROM kept2 GROUP BY doc_id)
        |SELECT cd.doc_id, cd.reg_host, cd.url_canon,
        |  cd.n_dropped_lines, gv.n_words, gv.gopher_pass,
        |  rv.n_lines, rv.rep_pass,
        |  CASE WHEN gv.gopher_pass AND rv.rep_pass
        |    THEN coalesce(ddp.n_kept_lines, CAST(0 AS BIGINT))
        |    ELSE CAST(-1 AS BIGINT) END AS n_kept_lines,
        |  CASE WHEN gv.gopher_pass AND rv.rep_pass
        |    THEN coalesce(ddp.final_md5, md5('')) ELSE '' END
        |    AS final_md5
        |FROM cd JOIN gv USING (doc_id) JOIN rv USING (doc_id)
        |LEFT JOIN ddp USING (doc_id)
        |ORDER BY cd.doc_id""".stripMargin) { (s, d) =>
      val docs = t(s, d, "documents")
      val front = UrlOps.dropBlockedHosts(
          docs.select(col("doc_id"), col("text"), crawlUrl.as("url")),
          "url", Seq("site3.com.au", "fan3.github.io", "192.168.1.4"))
        .withColumn("url_canon", UrlOps.canonicalizeUrl(col("url")))
        .withColumn("reg_host", UrlOps.registrableHost(col("url")))
        .filter(col("reg_host") =!= "")
      val sub50 = substring(col("text"), 1, 50)
      val lined = front.select(col("doc_id"), col("url_canon"),
        col("reg_host"),
        concat(
          lit("welcome to "), col("reg_host"), lit("\n"),
          col("text"), lit("\n"),
          lit("xline "), expr("doc_id DIV 2").cast("string"),
          lit("\n"),
          lit("buddy "), expr("doc_id DIV 20").cast("string"),
          when(col("doc_id") % 3 === 0,
            concat(lit("\n"), sub50, lit("\n"), sub50, lit("\n"),
              sub50)).otherwise(lit(""))).as("text"))
      val scrubbed = Dedup.scrubBoilerplateLines(lined, "doc_id",
        "reg_host", "text", minDocs = 3)
      // pinned EAGER: the front-door + scrub + battery chain feeds BOTH
      // snapshots' line-dedup probes AND the final verdict join —
      // without the checkpoint the 3-shuffle scrub election replays
      // three times (measured 5.5 s → pinned wins the recomputation).
      // r18 adjudication: a LAZY pin (the §4 dedup-index pattern) was
      // measured SLOWER here — isolated bench bracket lazy 3.07/3.72 →
      // eager 2.31/2.49 → lazy 3.70/4.11 best/med — because gated
      // feeds TWO subtrees of snapshot A's first job (the probe's
      // lines explode AND electAndRebuild's doc join), whose
      // concurrent stages duplicate the battery-kernel map work
      // before the block cache fills; the eager pin runs it exactly
      // once. Unlike §4's probe inputs, this pin guards EXPENSIVE
      // map compute, not just job count.
      val gated = TextAnalysis.repetitionSignals(
        TextAnalysis.gopherQuality(scrubbed, "cleaned",
          minStopwords = 1), "cleaned").localCheckpoint()
      val surv = gated.filter(col("gopher_pass") && col("rep_pass"))
        .select(col("doc_id"), col("cleaned"))
      val dir = java.nio.file.Files
        .createTempDirectory("graft-p75-").toString
      val a = Dedup.dedupLinesAgainstIndex(
        surv.filter(col("doc_id") % 2 === 0), "doc_id", "cleaned",
        dir, "snapA")
      val b = Dedup.dedupLinesAgainstIndex(
        surv.filter(col("doc_id") % 2 === 1), "doc_id", "cleaned",
        dir, "snapB")
      val dd = a.unionByName(b).select(col("doc_id"),
        col("n_kept_lines"), md5(col("deduped")).as("final_md5"))
      gated.select(col("doc_id"), col("reg_host"), col("url_canon"),
          col("n_dropped_lines"), col("n_words"), col("gopher_pass"),
          col("n_lines"), col("rep_pass"))
        .join(dd, Seq("doc_id"), "left")
        .withColumn("n_kept_lines",
          coalesce(col("n_kept_lines"), lit(-1L)))
        .withColumn("final_md5", coalesce(col("final_md5"), lit("")))
        .orderBy("doc_id")
    }
  )
}
