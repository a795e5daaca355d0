package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale text corpora.
  *
  * All variants are DataFrame programs whose per-document text work runs
  * through the native whole-stage-codegen kernels in `graft.functions`
  * (no UDFs, no interpreted array lambdas) and scale by construction: the
  * only shuffles are the final groupBy/join on compact keys; candidate
  * generation is LSH-style (band buckets), never an all-pairs product —
  * except the explicitly-exact verification paths, which bound their own
  * pair space.
  */
object Dedup {

  /** Exact dedup: keep one representative (the row with the minimum
    * `keep` value) per identical value of `on`. groupBy + min_by, NOT a
    * window sort: partial aggregation collapses duplicates map-side, so
    * the one shuffle moves (key, current representative) per map
    * partition instead of every duplicate row — at 100 TB this is the
    * cheapest possible full-corpus pass.
    *
    * PRECONDITION: `keep` must be non-null on every row (use a row id) —
    * min_by skips null ordering values, so an all-null group would yield
    * a null representative. */
  def exact(df: DataFrame, on: Column, keep: Column): DataFrame = {
    val rep = min_by(struct(df.columns.map(col): _*), keep)
    df.groupBy(on).agg(rep.as("__rep")).select(col("__rep.*"))
  }

  /** CORPUS-GLOBAL line dedup (C4 §2.1: "we discard all but one of any
    * three-sentence span occurring more than once" — here the unit is a
    * `sep`-delimited line, parameterizable to spans): every occurrence
    * of a line AFTER the globally-first one is dropped, where "first"
    * is the deterministic minimum of (id, position). Documents are
    * reassembled in original line order; a document whose every line
    * lost becomes "".
    *
    * Shape at 100 TB: one hash-shuffle on the line (winner election,
    * map-side partial min), one semi-join of the exploded lines against
    * the winners (both sides partitioned by line — AQE co-locates), one
    * reassembly shuffle keyed by id. No window over the whole corpus,
    * no driver-side state; the line table is the only explode and
    * carries (id, pos, line) — nothing wider.
    *
    * Empty-line semantics (the corpus-global version of the p56
    * caveat, and much stronger): `split` emits "" between consecutive
    * separators, and "" is a line — so exactly ONE blank line survives
    * in the ENTIRE corpus (the one at the global minimum (id, pos))
    * and every other document loses all its paragraph boundaries. C4
    * itself sidesteps this by deduping three-SENTENCE spans, never
    * blank units; callers who feed newline-delimited prose and need
    * paragraph structure should drop blank lines from the unit view
    * (or dedup spans) rather than rely on blank-line identity. The
    * empty string is also what a lost-every-line document collapses
    * to, so "" in `out` means either "all lines lost" or "document was
    * empty" — disambiguate with `n_kept_lines` (0 in both cases) vs
    * the input text. */
  def dedupLinesGlobal(df: DataFrame, idCol: String, textCol: String,
                       sep: String = "\n", out: String = "deduped")
      : DataFrame = {
    requireLineOutputCols(df, "dedupLinesGlobal", out)
    val lines = df.select(col(idCol),
      posexplode(split(col(textCol),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
    electAndRebuild(df, idCol, lines, "line", sep, out)
  }

  private def requireLineOutputCols(df: DataFrame, op: String,
                                    out: String): Unit = {
    require(!df.columns.contains(out),
      s"$op: output column '$out' already exists on input")
    require(!df.columns.contains("n_kept_lines"),
      s"$op: input already carries 'n_kept_lines' — the operator " +
        "appends that counter column and would overwrite it")
    require(!df.columns.contains("__nkept"),
      s"$op: input carries the reserved temp column '__nkept'")
  }

  /** The global-first election + reassembly both line-dedup variants
    * share (a change here is a change to the p58 AND p70 oracles):
    * keep the minimum (id, pos) occurrence per `keyCol`, rebuild each
    * doc's surviving lines in original order, rejoin onto `df` with
    * "" / 0 for docs that lost everything.
    *
    * r17 shape: the winner struct carries its own LINE TEXT, so the
    * winning occurrences fall straight out of the election — no
    * join-back of the full exploded candidate stream against the
    * winner set. That removes one corpus scan+explode and the
    * (key, struct)-keyed semi-join exchange (guide §2.4), and it keeps
    * the skew-safe partial_min map-side combine: a hot line (blank
    * lines, banners) partially reduces per task instead of shuffling
    * every occurrence. (id, pos) is unique per occurrence, so the line
    * field never participates in the min comparison — the elected row
    * is bit-identical to the join-back formulation's. */
  private def electAndRebuild(df: DataFrame, idCol: String,
                              candidates: DataFrame, keyCol: String,
                              sep: String, out: String): DataFrame = {
    val kept = candidates.groupBy(keyCol)
      .agg(min(struct(col(idCol), col("pos"), col("line"))).as("w"))
      .select(col(s"w.$idCol").as(idCol), col("w.pos").as("pos"),
        col("w.line").as("line"))
    val rebuilt = kept.groupBy(idCol).agg(
      concat_ws(sep, transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line"))).as(out),
      count(lit(1)).as("__nkept"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(out, coalesce(col(out), lit("")))
      .withColumn("n_kept_lines",
        coalesce(col("__nkept"), lit(0L)).cast("long"))
      .drop("__nkept")
  }

  /** Fail-closed parameter pinning for the persisted dedup indexes: a
    * probe with different hashing/banding parameters than the index
    * was built with would MATCH NOTHING and silently keep everything,
    * so the first writer records its parameters in a sidecar and every
    * later call must present the identical string. Sidecars are
    * PER-FAMILY (`params.fp.txt` for the doc-grain fp+bands tables,
    * `params.lines.txt` for the line-digest table) so one indexDir can
    * host both families — which [[compactDedupIndex]] already treats
    * as one unit — without the second family tripping a bogus
    * mismatch. A pre-family `params.txt` (written by older builds,
    * necessarily single-family) is honored read-only — but only by
    * ITS OWN family, recognized by the params-string prefix: a legacy
    * fp-dir gaining its first lines probe must pin a fresh
    * `params.lines.txt`, not be refused against an fp string. The
    * sidecar is written complete-then-linked (temp file + hard link —
    * link(2) is atomic AND create-exclusive, unlike rename(2), which
    * silently replaces); a link race (two concurrent first probes,
    * only possible outside the index lock) re-validates against the
    * winner. */
  private def checkIndexParams(indexDir: String, family: String,
                               op: String, params: String): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    def read(f: java.nio.file.Path): String =
      new String(java.nio.file.Files.readAllBytes(f), utf8)
    def check(f: java.nio.file.Path): Unit = {
      val got = read(f)
      require(got == params,
        s"$op: index at $indexDir was built with [$got] but this " +
          s"call uses [$params] — refusing to probe with mismatched " +
          "parameters (the probe would silently match nothing)")
    }
    val dir = java.nio.file.Paths.get(indexDir)
    val p = dir.resolve(s"params.$family.txt")
    val legacy = dir.resolve("params.txt")
    // both families' params strings lead with a family-identifying
    // token (fp=… / unit=line …); a legacy sidecar binds only the
    // family that wrote it
    val familyPrefix = params.split(" ")(0).split("=")(0) + "="
    if (java.nio.file.Files.exists(p)) check(p)
    else if (java.nio.file.Files.exists(legacy) &&
        read(legacy).startsWith(familyPrefix)) check(legacy)
    else {
      java.nio.file.Files.createDirectories(dir)
      val tmp = java.nio.file.Files
        .createTempFile(dir, s".params.$family.", ".tmp")
      java.nio.file.Files.write(tmp, params.getBytes(utf8))
      try {
        java.nio.file.Files.createLink(p, tmp)
        java.nio.file.Files.delete(tmp)
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          java.nio.file.Files.deleteIfExists(tmp); check(p)
        case _: UnsupportedOperationException |
             _: java.nio.file.FileSystemException =>
          // no hard-link support (object-store mounts, some network
          // FS, FAT): fall back to RENAMING the already-complete tmp
          // file into place — rename is atomic where O_EXCL direct
          // writes are not (classic NFS), so a reader never sees a
          // partial file. Rename-without-REPLACE is only
          // exists-checked, not exclusive, so two concurrent first
          // probes could both believe they won — the unconditional
          // check(p) after the move re-validates against whatever
          // actually landed and fails closed on a mismatch. Never
          // leak the tmp file.
          try {
            try java.nio.file.Files.move(tmp, p)
            catch {
              case _: java.nio.file.FileAlreadyExistsException => ()
            }
            check(p)
          } finally java.nio.file.Files.deleteIfExists(tmp)
      }
    }
  }

  /** Fail closed when a crashed compaction left the live table
    * missing: `$path.compact.old` existing while `$path` is absent
    * means [[compactDedupIndex]] died between its two renames.
    * Treating that as a fresh/empty index would silently KEEP
    * EVERYTHING (history reads as empty) and append a delta that
    * makes `.compact.old` recovery ambiguous — the exact
    * silent-keep-everything failure the params sidecar exists to
    * prevent, so the probe refuses instead. */
  private def requireNoOrphanedCompaction(path: String,
                                          op: String): Unit = {
    if (!new java.io.File(path).exists() &&
        new java.io.File(s"$path.compact.old").exists())
      throw new IllegalStateException(
        s"$op: $path is missing but $path.compact.old exists — a " +
          "compaction crashed between its renames. Recover with " +
          s"`mv $path.compact.old $path` (and remove a lingering " +
          s"$path.compact.tmp) before probing; refusing to treat a " +
          "half-compacted index as empty")
  }

  /** Identity string written into the index `lock` file: host +
    * process start-time beside the pid, because on shared storage the
    * index dir is visible from many machines and a bare pid cannot be
    * verified dead from another host — the recovery hint must name
    * WHERE to look, and the start instant disambiguates a recycled
    * pid on that host. */
  private[graft] def lockHolderInfo(op: String): String = {
    val host =
      try java.net.InetAddress.getLocalHost.getHostName
      catch { case _: Exception => "unknown-host" }
    val started = ProcessHandle.current().info().startInstant()
      .map[String](_.toString).orElse("unknown")
    s"op=$op host=$host pid=${ProcessHandle.current().pid()} " +
      s"start=$started"
  }

  /** Single-writer mutual exclusion for a dir this engine grows in
    * place: a persisted dedup index, [[Ranking]]'s text index, and a
    * saved LM model ([[TextAnalysis.saveLmModel]] and
    * [[TextAnalysis.addLmModelLanguages]]). In a dedup index
    * probes append snapshot deltas and compaction swaps whole tables,
    * so a probe racing a compaction (or two probes of the SAME
    * snapshot id racing each other's dynamic partition overwrite) can
    * interleave into a state no replay contract covers. Every
    * index-mutating entry point runs under an atomic-create `lock`
    * file in the index dir and FAILS CLOSED when it is held — the
    * params-sidecar philosophy: serialize your crawl drops; a probe
    * that cannot safely run must refuse, not silently interleave.
    * A crash leaves the lock behind (deliberate — there is no safe
    * auto-expiry without fencing): the error says what to verify and
    * delete. Probes of DISTINCT snapshots are semantically
    * commutative (disjoint partitions, strictly-earlier reads), so
    * serializing them costs ordering only, never correctness
    * (spec-proven: a lock-refused probe retried after release returns
    * the verdicts a serialized run produces). */
  private[graft] def withIndexLock[T](indexDir: String, op: String)
                                     (body: => T): T = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    java.nio.file.Files
      .createDirectories(java.nio.file.Paths.get(indexDir))
    val lock = java.nio.file.Paths.get(indexDir, "lock")
    val info = lockHolderInfo(op)
    try java.nio.file.Files.write(lock, info.getBytes(utf8),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        val held =
          try new String(java.nio.file.Files.readAllBytes(lock), utf8)
          catch { case _: Exception => "unreadable" }
        throw new IllegalStateException(
          s"$op: $indexDir is locked by [$held] — the writers of " +
            "this dir are single-writer and must be serialized. If " +
            "the holder crashed, verify on the named " +
            "host that no writer with that pid/start-time is " +
            s"running, then delete $lock")
    }
    try body
    finally java.nio.file.Files.deleteIfExists(lock)
  }

  /** INCREMENTAL corpus-global line dedup: [[dedupLinesGlobal]]'s C4
    * §2.1 rule extended across crawl snapshots through a persisted
    * line-digest index, the line-level counterpart of
    * [[dedupAgainstIndex]] — a monthly crawl drop loses every line any
    * earlier snapshot already kept, without re-reading or re-exploding
    * historical text. Semantics are the all-at-once ones: an
    * occurrence survives iff it is the FIRST under ((already-indexed)
    * before (this snapshot), then (id, pos)) — so processing
    * snapshots one at a time in id order is bit-identical to one
    * [[dedupLinesGlobal]] call over the union (the p70 gate's oracle
    * recomputes exactly that from scratch; OperatorsSpec proves the
    * library-level equality).
    *
    * Index layout under `indexDir/lines`: one row per DISTINCT line
    * digest (`lh` = md5 hex of the line — exact, engine-portable, 32
    * bytes/line) per snapshot partition; a re-run overwrites ITS OWN
    * partition only and the probe reads STRICTLY-EARLIER partitions,
    * so re-probing ANY snapshot — latest or historical — returns its
    * original verdicts even after later snapshots landed
    * (replay-safe; spec-proven). CALLER REQUIREMENT for that: snapshot
    * ids must sort lexicographically in processing order (date-shaped
    * ids do) — the same contract [[compactDedupIndex]] keys on; a
    * params sidecar additionally pins `sep` fail-closed, and the same
    * single-writer `lock` file serializes probes and compaction
    * (see [[dedupAgainstIndex]]). Every
    * distinct line of the snapshot enters the delta — lines that
    * lost the intra-snapshot election too (their first occurrence
    * was still SEEN, which is what the global-first rule keys on).
    *
    * 100 TB shape: one line-digest shuffle for the snapshot's distinct
    * set + winner election (map-side combined), history SCANNED never
    * shuffled (the two-step probe of [[dedupAgainstIndex]]: the
    * snapshot's digest set is the build side, the hit set broadcasts
    * back as an anti-join), one id-keyed reassembly. Inherits
    * [[dedupLinesGlobal]]'s blank-line caveat corpus-wide AND
    * history-wide: exactly one "" survives across ALL snapshots ever
    * probed — feed span units, not blank-delimited prose, if paragraph
    * structure matters. */
  def dedupLinesAgainstIndex(df: DataFrame, idCol: String,
                             textCol: String, indexDir: String,
                             snapshotId: String, sep: String = "\n",
                             out: String = "deduped"): DataFrame = {
    require(snapshotId.nonEmpty,
      "dedupLinesAgainstIndex: snapshotId keys the index delta " +
        "partition and must be non-empty")
    requireLineOutputCols(df, "dedupLinesAgainstIndex", out)
    withIndexLock(indexDir, "dedupLinesAgainstIndex") {
      checkIndexParams(indexDir, "lines", "dedupLinesAgainstIndex",
        s"unit=line digest=md5 sep=$sep")
      val spark = df.sparkSession
      // pinned: probed, winner-elected, delta-written — one explode.
      // LAZY (r18): materializes inside the result checkpoint's job
      // instead of as its own prior job (same adjudication as
      // dedupAgainstIndex's pins; the result pin below stays eager —
      // it is the pin-before-append barrier)
      val lines = df.select(col(idCol),
          posexplode(split(col(textCol),
            java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
        .withColumn("lh", md5(col("line")))
        .localCheckpoint(false)
      val linesPath = s"$indexDir/lines"
      requireNoOrphanedCompaction(linesPath, "dedupLinesAgainstIndex")
      // strictly-earlier partitions only: history for THIS snapshot is
      // what was probed before it, never what landed after — that is
      // what makes historical re-probes verdict-identical
      val idx =
        if (new java.io.File(linesPath).exists())
          // explicit schema: a dataless table dir (recovery leftovers,
          // _SUCCESS only) must read as empty, not die in inference
          spark.read.schema("lh STRING, snapshot STRING")
            .parquet(linesPath)
            .filter(col("snapshot") < lit(snapshotId)).select("lh")
        else spark.emptyDataFrame.select(lit("").as("lh")).limit(0)
      // two-step probe: snapshot digest set = build side; history is a
      // map-only scan of one column, and the hit set (≤ snapshot
      // distinct lines × historical dup factor) rides back as the
      // anti-join's build side — no .distinct() on it (r17): an
      // anti-join ignores build-side duplicates, so the dedup exchange
      // bought nothing (post-compaction the index is distinct-keyed
      // anyway)
      val probe = lines.select("lh").distinct()
      val hitLh = idx.join(probe, Seq("lh"), "left_semi")
      val fresh = lines.join(hitLh, Seq("lh"), "left_anti")
      val result = electAndRebuild(df, idCol, fresh, "lh", sep, out)
        .localCheckpoint() // pinned BEFORE the delta write
      probe.withColumn("snapshot", lit(snapshotId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot")
        .parquet(linesPath)
      result
    }
  }

  /** Compact a [[dedupAgainstIndex]] / [[dedupLinesAgainstIndex]]
    * index: keep exactly one row per probe key, attributed to its
    * EARLIEST (snapshot, id), written BESIDE the live table and
    * swapped in with renames (a crash never destroys the only durable
    * copy). Semantics-preserving by the indexes'
    * set semantics — a probe only asks "was this key seen by an
    * earlier snapshot", so duplicate key rows are pure weight:
    *   - a future snapshot still sees every historical key (kept);
    *   - a RE-probe of old snapshot S still excludes exactly the keys
    *     it first contributed (keys seen before S keep their earlier
    *     attribution and stay visible to S; keys first seen in S stay
    *     attributed to S and stay excluded) — the replay-safety
    *     contract survives compaction bit-for-bit (spec-proven).
    * CALLER REQUIREMENT (unenforceable here — no processing-order
    * metadata exists in the layout): snapshot ids must sort
    * lexicographically in processing order (date-shaped ids —
    * "2026-01" < "2026-02" — do). Do not compact an index whose ids
    * don't.
    *
    * The 100 TB motive: the write path appends ALL probed docs — the
    * price of exact incremental == all-at-once ([[dedupAgainstIndex]]
    * scaladoc) — so at a 10-way duplication rate the index carries 10×
    * the rows its decisions need. Compaction is one distinct-key
    * aggregation per table (map-side combined, shuffles the key space
    * once) run offline between crawl drops; after it the index is
    * bounded by DISTINCT keys ever seen, not rows ever probed.
    *
    * SINGLE-WRITER: runs under the index lock file (fail-closed, like
    * every probe) — compaction racing a probe would swap a table out
    * from under the probe's scan. A crash between the two renames
    * leaves `<table>.compact.old` WITHOUT the live table; every probe
    * then refuses (never treats the half-swapped index as empty) with
    * a recovery hint, and a crash-left `lock` file is reported with
    * its holder for manual removal. */
  def compactDedupIndex(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String): Unit =
    withIndexLock(indexDir, "compactDedupIndex") {
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rmTree)
      f.delete(); ()
    }
    // a table dir that exists but holds no data files (recovery
    // leftovers, _SUCCESS only) must compact as a clean no-op, not die
    // in parquet schema inference. Inference stays for NON-empty dirs
    // on purpose: compaction must preserve EVERY column (the fp table
    // carries the caller-typed id for attribution), so a pinned
    // probe-column schema would silently drop data here.
    def hasDataFiles(f: java.io.File): Boolean = {
      if (!f.isDirectory)
        f.getName.endsWith(".parquet") && !f.getName.startsWith(".")
      else Option(f.listFiles()).getOrElse(Array.empty)
        .filterNot(_.getName.startsWith("_"))
        .exists(hasDataFiles)
    }
    def compact(sub: String, keyCols: Seq[String]): Unit = {
      val path = s"$indexDir/$sub"
      requireNoOrphanedCompaction(path, "compactDedupIndex")
      if (!new java.io.File(path).exists()) return
      if (!hasDataFiles(new java.io.File(path))) return
      val df = spark.read.parquet(path)
      val others = df.columns.filterNot(keyCols.contains)
      val compacted = df.groupBy(keyCols.map(col): _*)
        .agg(min(struct(
          (Seq("snapshot") ++ others.filterNot(_ == "snapshot"))
            .map(col): _*)).as("__w"))
        .select(keyCols.map(col) ++
          others.map(c => col(s"__w.$c").as(c)): _*)
      // never overwrite the only durable copy in place: write the
      // compacted table BESIDE the live one, then swap with renames —
      // a crash at any point leaves either the original intact (tmp
      // may linger, harmless) or both present under .old (recoverable)
      val tmp = new java.io.File(s"$path.compact.tmp")
      val old = new java.io.File(s"$path.compact.old")
      if (tmp.exists()) rmTree(tmp)
      if (old.exists()) rmTree(old)
      compacted.write.mode("overwrite")
        .partitionBy("snapshot").parquet(tmp.getPath)
      java.nio.file.Files.move(
        java.nio.file.Paths.get(path), old.toPath)
      java.nio.file.Files.move(
        tmp.toPath, java.nio.file.Paths.get(path))
      rmTree(old)
    }
    compact("fp", Seq("fp"))
    compact("bands", Seq("band", "bucket"))
    compact("lines", Seq("lh"))
    }

  /** URL latest-wins dedup — the recrawl rule of C4/Dolma-style
    * pipelines: when the same (canonicalized) URL appears in multiple
    * crawl snapshots, keep only its NEWEST fetch (highest
    * `versionCol`, ties to the highest id) and drop the stale ones.
    * Orthogonal to content dedup: the same URL's refetch usually has
    * near-identical text (MinHash would catch it expensively), but
    * latest-wins also handles the page that CHANGED — content dedup
    * would keep both, double-representing the URL. Canonicalization is
    * the caller's composition point
    * ([[graft.operators.UrlOps.canonicalizeUrl]], gated at p53).
    *
    * Output: (<idCol>, <urlCol>, kept) — one verdict per EVERY input
    * row: a NULL url carries no recrawl identity, so those rows pass
    * through kept=true (electing one winner among all unknown-URL
    * docs would silently drop real documents; an inner equi-join
    * would lose them entirely, since NULL never equals NULL).
    *
    * Shape at 100 TB: one partial-aggregated max_by per URL (a viral
    * URL's rows collapse map-side before the shuffle — no whole-group
    * window, no skew pile-up) + one url-keyed join of the winner set
    * back to the rows (AQE broadcasts the winner side when a shard's
    * URL set is small); the null rows ride the map side untouched. */
  def urlLatestWins(docs: DataFrame, idCol: String, urlCol: String,
                    versionCol: String): DataFrame = {
    val keyed = docs.filter(col(urlCol).isNotNull)
    val winners = keyed.groupBy(col(urlCol))
      .agg(max_by(col(idCol), struct(col(versionCol), col(idCol)))
        .as("__winner_id"))
    keyed.join(winners, Seq(urlCol))
      .select(col(idCol), col(urlCol),
        (col(idCol) === col("__winner_id")).as("kept"))
      .unionByName(docs.filter(col(urlCol).isNull)
        .select(col(idCol), col(urlCol), lit(true).as("kept")))
  }

  /** PER-DOMAIN boilerplate line scrub — the site-level extraction
    * cleanup of CCNet/trafilatura-style pipelines: a line that occurs
    * in at least `minDocs` DISTINCT documents of the SAME domain (nav
    * bars, cookie banners, footers — template text stamped on every
    * page of a site) is dropped from every document of that domain.
    * The domain key is caller-supplied — compose with
    * [[graft.operators.UrlOps.registrableHost]] so user1.github.io and
    * user2.github.io scrub independently. Sits between the intra-doc
    * scrub ([[TextAnalysis.scrubRepeatedLines]]: repeats WITHIN one
    * doc) and the corpus-global dedup ([[dedupLinesGlobal]]: first
    * occurrence anywhere wins): here the unit of repetition is the
    * SITE, which is where template boilerplate actually lives — a
    * legitimate quote shared by two docs on different sites survives,
    * the same site's cookie banner on 10k pages does not.
    *
    * Output: input columns + `out` (scrubbed text, lines rejoined in
    * original order; "" when everything was boilerplate) +
    * `n_dropped_lines`.
    *
    * Shape at 100 TB: one hash-shuffle on (domain, line) with
    * map-side-combined distinct-doc counting, one anti-join of the
    * exploded lines against the (small) boilerplate set — AQE
    * broadcasts it when a domain-shard's boilerplate fits — and one
    * reassembly shuffle keyed by id. Skew caveat (measured in the r13
    * viral-line probe, SCALE_BENCH_sf10_r13.json): the anti-join keys
    * are (domain, line) WITHOUT a unique disambiguator, so a
    * boilerplate line concentrates its domain's occurrences on one
    * reducer — bounded by the largest domain's doc count, not the
    * corpus — and AQE's byte-based skew detector under-reports
    * duplicate-key partitions (identical lines compress to almost
    * nothing). If one domain dominates a shard, pre-aggregate per
    * (domain, line, id-bucket) or broadcast the boilerplate set
    * explicitly. */
  def scrubBoilerplateLines(df: DataFrame, idCol: String,
                            domainCol: String, textCol: String,
                            minDocs: Int = 3, sep: String = "\n",
                            out: String = "cleaned"): DataFrame = {
    require(minDocs >= 2,
      s"scrubBoilerplateLines: minDocs=$minDocs must be >= 2 " +
        "(1 would scrub every line of every document)")
    require(!df.columns.contains(out),
      s"scrubBoilerplateLines: output column '$out' already exists")
    require(!df.columns.contains("n_dropped_lines"),
      "scrubBoilerplateLines: input already carries 'n_dropped_lines'")
    require(!df.columns.contains("__nkept"),
      "scrubBoilerplateLines: input carries reserved column '__nkept'")
    val qsep = java.util.regex.Pattern.quote(sep)
    val lines = df.select(col(idCol), col(domainCol),
      posexplode(split(col(textCol), qsep)).as(Seq("pos", "line")))
    val boiler = lines.groupBy(domainCol, "line")
      .agg(count_distinct(col(idCol)).as("__nd"))
      .filter(col("__nd") >= minDocs)
      .select(col(domainCol), col("line"))
    val kept = lines.join(boiler, Seq(domainCol, "line"), "left_anti")
    val rebuilt = kept.groupBy(idCol).agg(
      concat_ws(sep, transform(
        array_sort(collect_list(struct(col("pos"), col("line")))),
        x => x.getField("line"))).as(out),
      count(lit(1)).as("__nkept"))
    df.join(rebuilt, Seq(idCol), "left")
      .withColumn(out, coalesce(col(out), lit("")))
      // null text explodes to no lines: 0 kept, 0 dropped — coalesce
      // keeps the counter integral instead of NULL-poisoning reports
      .withColumn("n_dropped_lines",
        (coalesce(size(split(col(textCol), qsep)), lit(0)) -
          coalesce(col("__nkept"), lit(0L))).cast("long"))
      .drop("__nkept")
  }

  /** (id, nsh, h) rows: distinct hashed k-shingles per document, one row
    * per shingle hash, with the document's distinct-shingle count.
    *
    * The shingle+hash step is the native [[graft.functions.ShingleHashes]]
    * kernel (one codegen'd pass per document); the repartition both spreads
    * single-file inputs over all cores and materializes the compact
    * long-array column behind a shuffle barrier, so downstream stages
    * never recompute the text scan. explode_outer (not explode) keeps
    * InferFiltersFromGenerate from duplicating the kernel into a scan-side
    * filter; the cheap IS NOT NULL drops shingle-less docs instead. */
  def shingleHashRows(df: DataFrame, idCol: String, textCol: String,
                      k: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.select(col(idCol).as("id"),
        graft.functions.F.shingleHashes(col(textCol), k).as("hs"))
      .repartition(par)
      .select(col("id"), size(col("hs")).as("nsh"),
        explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
  }

  /** (id, hs, fps) projection shared by the winnowing family: hs = the
    * POSITIONAL 63-bit-masked gram hashes, fps = the sorted-distinct
    * window minima. */
  private def winnowBase(df: DataFrame, idCol: String, textCol: String,
                         k: Int, w: Int): DataFrame = {
    require(k >= 1 && w >= 1, s"k=$k w=$w must be positive")
    // r17: fps come from the native WinnowFps kernel — the previous
    // array_sort(array_distinct(transform(sequence, array_min(slice))))
    // chain was interpreted HOFs doing an O(n·w) slice-copy per
    // position; the kernel is an O(n) monotonic-deque pass with
    // bit-identical output (FunctionsSpec parity). hs keeps the masked
    // positional array for the span-verify kernel; consumers that only
    // need fps (fingerprints/pairs) get hs pruned away by Catalyst.
    // KNOWN DOUBLE PASS (ADVICE_r17): for winnowingSpans — the one
    // consumer that keeps BOTH columns — hs re-runs shinglePosHashes
    // as its own expression tree while winnowFps re-tokenizes
    // internally, so the tokenize+hash pass runs twice. It is paid
    // once, pre-checkpoint (spans pins u0 before the band join), and
    // only on the spans path; folding hs+fps into one struct-returning
    // kernel would save it at the cost of defeating Catalyst's hs
    // pruning for the fps-only consumers, which dominate.
    val hs0 = graft.functions.F.shinglePosHashes(col(textCol), k)
    val hs = transform(hs0, h => h.bitwiseAND(lit(Long.MaxValue)))
    df.select(col(idCol).as("id"), hs.as("hs"),
      graft.functions.F.winnowFps(col(textCol), k, w).as("fps"))
  }

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken 2003
    * — the MOSS local fingerprinting algorithm): hash every k-gram,
    * slide a window of `w` consecutive gram hashes, keep the minimum of
    * each window, return the distinct selected hashes sorted. The
    * guarantee that makes it a dedup primitive: any substring match of
    * at least w+k-1 tokens between two documents shares at least one
    * fingerprint — so fingerprint-equality is a candidate filter for
    * LOCAL (substring-level) duplication that MinHash's global
    * signatures dilute away on long documents.
    *
    * Hashes are masked to 63 bits so min-selection is order-identical
    * for an engine comparing them unsigned (the portable md5 hash read
    * as UBIGINT in SQL) and for Spark's signed longs — one bit of hash
    * width for a cross-engine-stable fingerprint set.
    *
    * Scale: entirely map-only — per-row native gram hashing plus
    * codegen'd array ops (`transform`/`slice`/`array_min`), no explode,
    * no shuffle, no UDF. Fingerprint-set size per doc is bounded by the
    * gram count / ~(w/2) windows-per-selection expectation. */
  def winnowingFingerprints(df: DataFrame, idCol: String, textCol: String,
                            k: Int = 5, w: Int = 8): DataFrame =
    winnowBase(df, idCol, textCol, k, w)
      .select(col("id"), col("fps"))

  /** Candidate pairs from shared winnowing fingerprints: documents that
    * share any selected window-min share a local (substring-level)
    * duplicate candidate — the actionable form of
    * [[winnowingFingerprints]], analogous to the MinHash band join but
    * keyed on LOCAL fingerprints. One fp-keyed equi-join; `n_shared`
    * (how many fingerprints the pair shares) ranks candidates.
    *
    * `maxDf` drops fingerprints present in more than that many
    * documents before the join: at web scale some selected windows are
    * boilerplate ("all rights reserved …") shared by millions of
    * documents — a C(df,2) bucket blowup carrying no discriminative
    * signal. Standard df-capping; the gate corpus maxes out at df=4,
    * so the default never binds there.
    *
    * The fingerprint ARRAYS are pinned (lazy localCheckpoint) before
    * the explode: the fps expression is an interpreted array-HOF chain
    * (no whole-stage codegen, no common-subexpression sharing), and
    * both un-pinned self-join sides — plus the Generate's own child
    * evaluation — re-ran the whole per-gram hashing repeatedly
    * (measured 15.5 s unpinned / 7.4 s exploded-pin / 1.3 s array-pin
    * at sf0.1; the arrays are two narrow columns, far smaller than the
    * hashing they avoid, so the "map-only fan-outs recompute" exception
    * does not apply — same calculus as minhashSignatures' explode-
    * before-aggregate formulation). */
  def winnowingPairs(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, w: Int = 8, maxDf: Int = 128): DataFrame = {
    val u0 = winnowingFingerprints(df, idCol, textCol, k, w)
      .localCheckpoint(eager = false)
      .select(col("id"), explode(col("fps")).as("fp"))
    pairsFrom(u0, maxDf)
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Shared tail of the winnowing pair pipelines: df-cap the exploded
    * (id, fp[, …]) rows and self-join on fp with id1 < id2, grouped by
    * the pair. The caller picks the aggregates. */
  private def pairsFrom(u0: DataFrame, maxDf: Int)
      : org.apache.spark.sql.RelationalGroupedDataset = {
    val rare = u0.groupBy("fp")
      .agg(count(lit(1)).as("_df")).filter(col("_df") <= maxDf)
      .select("fp")
    // no second pin: each self-join side re-runs only the semi-join
    // filter over u0's pinned blocks (rare is fp-distinct and small —
    // AQE broadcasts it), which is cheaper than materializing u twice
    val u = u0.join(rare, Seq("fp"), "left_semi")
    u.as("a").join(u.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id1"), col("b.id").as("id2"))
  }

  /** [[winnowingPairs]] upgraded from candidates to VERIFIED spans —
    * the exact-substring-dedup fidelity of Lee et al. 2021
    * ("Deduplicating Training Data Makes Language Models Better",
    * §4.1's suffix-array exact matching) without a distributed suffix
    * array: anchor at each shared fingerprint, extend the match left
    * and right over the positional gram-hash arrays (one native
    * codegen kernel per joined row — map-side, after the same fp-keyed
    * equi-join as [[winnowingPairs]]; no additional shuffle), and
    * report the longest verified common substring per pair in TOKENS
    * (`max_span_tokens` = max gram run + k − 1, ≥ w+k−1 by the
    * winnowing guarantee whenever a true duplicate span that long
    * exists). `n_shared` keeps the candidate-strength count. Both
    * sides' POSITIONAL hash arrays ride through the join pinned
    * (the p51 array-pin lesson) — at most `maxDf` copies of each.
    *
    * CONTRACT QUALIFIER (boilerplate cap, r13 nearest-first): the
    * kernel evaluates at most
    * [[graft.functions.TextHash.MatchPairCap]] (256) occurrence PAIRS
    * per fingerprint, enumerated nearest-first by (|posA−posB|, posA,
    * posB) — mirrored exactly by the DuckDB oracle's all-pairs struct
    * sort + slice. `max_span_tokens` is therefore EXACT whenever
    * occ_a·occ_b ≤ 256 (the r12 first-16-per-side rule was exact only
    * for ≤ 16/side, and document-order scanning meant a late-aligned
    * true run could be missed entirely); beyond the budget it is
    * proximity-BIASED: near-duplicate structure aligns the true
    * longest run at small position offset, so the anchoring pair
    * sorts into the first few evaluated — but an adversarial document
    * where the longest run aligns at a larger offset than 256
    * nearer decoys can still under-report. The pair budget is what
    * kills the degenerate repeated-fingerprint O(occ²) blowup —
    * callers needing exactness on such documents should dedup
    * boilerplate first (e.g. [[graft.operators.Chunking.scrubSpans]])
    * or raise the cap. */
  def winnowingSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5, w: Int = 8, maxDf: Int = 128): DataFrame = {
    val base = winnowBase(df, idCol, textCol, k, w)
      .localCheckpoint(eager = false)
    val u0 = base.select(col("id"), col("hs"),
      explode(col("fps")).as("fp"))
    pairsFrom(u0, maxDf)
      .agg(count(lit(1)).as("n_shared"),
        (max(graft.functions.F.matchSpanFp(
            col("a.hs"), col("b.hs"), col("a.fp"))) + lit(k - 1))
          .cast("long").as("max_span_tokens"))
  }

  /** MinHash permutation modulus and seeds — shared with the DuckDB
    * oracle generator so both engines apply identical permutations. */
  val minhashP = 2147483647L // 2^31 - 1 (Mersenne prime)
  def minhashSeeds(h: Int): Seq[(Long, Long)] = (0 until h).map { i =>
    (((0x9E3779B97F4A7C15L * (i + 1)) & 0x7FFFFFFFL) | 1L,
      (0x7F4A7C159E3779B9L * (i + 7)) & 0x7FFFFFFFL)
  }

  /** THE banded-LSH bucket definition: band b's bucket is xxhash64
    * over the signature slice starting at b·rows+1 (1-based), seeded
    * with the band index — statically unrolled, pure codegen.
    * ORACLE-PINNED: every consumer ([[minhashPairs]],
    * [[dedupAgainstIndex]], `Decontaminate.nearDupFlag`)
    * and every generated DuckDB oracle replays exactly this banding; it
    * changes in one place or not at all. */
  def bandBucketArray(sig: Column, bands: Int, rows: Int): Column =
    array((0 until bands).map(b =>
      xxhash64(slice(sig, b * rows + 1, rows), lit(b))): _*)

  /** MinHash signatures: one `(id, sig)` row per doc with at least one
    * k-shingle, `sig` the `h` per-permutation minima of its shingle
    * hashes under [[minhashSeeds]] modulo [[minhashP]]. One in-row
    * kernel (`MinHashSig`) reads the native shingle-hash array, so the
    * signature stage is map-only: no explode, no min-aggregate shuffle,
    * and no interpreted array-HOF lambdas (the nested-HOF formulation
    * rehashed every shingle h times: 115 s for 5k docs). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        k: Int, h: Int): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    // the whole signature is ONE in-row kernel pass over the shingle-hash
    // array (graft.functions.MinHashSig): map-only, no explode/groupBy
    // shuffle anywhere in the signature stage. The 63-bit mask inside the
    // kernel makes signed-Long and unsigned-SQL reads of the hash agree.
    df.select(col(idCol).as("id"),
        graft.functions.F.shingleHashes(col(textCol), k).as("hs"))
      .repartition(par)
      .select(col("id"),
        graft.functions.F.minhashSig(col("hs"), minhashSeeds(h), minhashP)
          .as("sig"))
      .filter(col("sig").isNotNull)
  }

  /** Candidate near-duplicate pairs via banded MinHash-LSH:
    * split the H-length signature into `bands` bands, bucket-join on
    * (band index, band hash), then estimate Jaccard as the fraction of
    * matching signature positions and keep pairs >= threshold.
    *
    * Returns (id1, id2, est_jaccard) with id1 < id2.
    */
  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
                   k: Int = 3, h: Int = 32, bands: Int = 16,
                   threshold: Double = 0.5, minBands: Int = 1): DataFrame = {
    require(bands > 0 && h % bands == 0,
      s"minhashPairs: bands=$bands must be positive and divide h=$h " +
        "(a non-divisor silently drops trailing signature positions " +
        "from banding; bands > h makes every band slice empty)")
    val rows = h / bands
    val sig =
      minhashSignatures(df, idCol, textCol, k, h).cache()
    // statically unrolled band hashes (xxhash64 hashes array<long> slices
    // directly): pure codegen, no interpreted per-band lambda, no string
    // concat riding the bucket-join shuffle
    val banded = sig.select(col("id"),
      posexplode(bandBucketArray(col("sig"), bands, rows)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    // dedupe candidates on compact (id1, id2) keys only, then fetch the
    // two signatures back with joins — signatures never ride the
    // bucket-join shuffle
    // minBands > 1 demands collisions in several independent bands before
    // a pair reaches signature verification — on low-entropy corpora this
    // prunes the random-collision tail by orders of magnitude while
    // keeping high-similarity pairs (which collide almost everywhere)
    val ba = banded.as("ba")
    val bb = banded.as("bb")
    val cand = ba.join(bb, col("ba.band") === col("bb.band") &&
        col("ba.bucket") === col("bb.bucket") &&
        col("ba.id") < col("bb.id"))
      .select(col("ba.id").as("id1"), col("bb.id").as("id2"))
      .groupBy("id1", "id2").agg(count(lit(1)).as("nb"))
      .filter(col("nb") >= minBands)
      .select("id1", "id2")
    cand
      .join(sig.select(col("id").as("id1"), col("sig").as("sig1")), "id1")
      .join(sig.select(col("id").as("id2"), col("sig").as("sig2")), "id2")
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), _ === _),
          x => x)).cast("double") / h)
      .filter(col("est_jaccard") >= threshold)
      .select("id1", "id2", "est_jaccard")
  }

  /** 64-bit SimHash over word hashes: per-bit majority vote, computed as
    * ONE in-row kernel pass over the word-hash array
    * ([[graft.functions.SimHash64]]) — map-only, no explode/groupBy
    * shuffle; the repartition spreads single-file inputs over all cores. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val par = df.sparkSession.sparkContext.defaultParallelism
    df.select(col(idCol).as("id"),
        graft.functions.F.wordHashes(col(textCol)).as("whs"))
      .repartition(par)
      .select(col("id"), graft.functions.F.simhash64(col("whs"))
        .as("simhash"))
      .filter(col("simhash").isNotNull)
  }

  /** Near-dup pairs by SimHash: LSH on 4 16-bit chunks (a pair within
    * Hamming distance <= maxHamming shares at least one chunk when
    * maxHamming < 4), verified with bit_count(xor). */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 6): DataFrame = {
    // cache: the LSH self-join reads the chunked signatures on both
    // sides, and AQE's broadcast conversion defeats ReuseExchange — the
    // signature kernel would run twice per row otherwise
    val sh = simhash(df, idCol, textCol)
    val chunked = sh.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftrightunsigned(col("simhash"), c * 16)
          .bitwiseAND(lit(0xFFFFL))): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "key")
      .cache()
    val a = chunked.as("a")
    val b = chunked.as("b")
    a.join(b, col("a.chunk") === col("b.chunk") &&
        col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Embedding-cosine near-duplicate pairs (the dedup family's embedding
    * variant). With `planes` empty this is the exact all-pairs
    * verification path (oracle-checkable; pair space is O(N²) — use it on
    * bounded sets). With hyperplane LSH `planes`, banded candidate
    * generation prunes the quadratic pair space before the exact cosine
    * verify — the 100 TB path (recall < 1, tunable via planes/bands).
    * Cosine runs through the native [[graft.functions.VecCosine]] kernel.
    */
  def embedNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double,
                        planes: Seq[Seq[Double]] = Nil,
                        bands: Int = 4): DataFrame = {
    import graft.functions.F
    val par = df.sparkSession.sparkContext.defaultParallelism
    // spread the streamed side of the (broadcast) pair join over all
    // cores — single-file corpora otherwise score on 1-2 partitions
    val a = df.select(col(idCol).as("id1"), col(vecCol).as("v1"))
      .repartition(par)
    val b = df.select(col(idCol).as("id2"), col(vecCol).as("v2"))
    val cand =
      if (planes.isEmpty) a.join(b, col("id1") < col("id2"))
      else {
        val rows = planes.size / bands
        val mask = (1L << rows) - 1
        def banded(side: DataFrame, sig: Column) = side
          .withColumn("sig", sig)
          .select(col("*"), explode(array((0 until bands).map(bi =>
            struct(lit(bi).as("band"),
              shiftrightunsigned(col("sig"), bi * rows)
                .bitwiseAND(lit(mask)).as("key"))): _*)).as("bk"))
          .select(col("bk.band").as("band"), col("bk.key").as("key"),
            col(side.columns(0)), col(side.columns(1)))
        banded(a, F.hyperplaneSig(col("v1"), planes))
          .join(banded(b, F.hyperplaneSig(col("v2"), planes)),
            Seq("band", "key"))
          .filter(col("id1") < col("id2"))
          .select("id1", "v1", "id2", "v2")
      }
    val scored = cand.select(col("id1"), col("id2"),
        F.vecCosine(col("v1"), col("v2")).as("cosine"))
      .filter(col("cosine") >= threshold)
    if (planes.isEmpty) scored else scored.distinct()
  }

  /** n-gram Jaccard similarity join via inverted index:
    * explode distinct shingles, self-join on shingle (the index), count
    * common shingles per pair, Jaccard = common / (|A| + |B| - common).
    * Only pairs sharing >= 1 shingle are ever materialized.
    *
    * COLLISION-APPROXIMATE: shingles are collapsed to the 64-bit
    * [[graft.functions.TextHash.md5be64]] hash before the join, so two
    * distinct shingles can alias and inflate `common` (possibly
    * creating spurious pairs). With S distinct shingles
    * corpus-wide the expected number of aliased shingle pairs is ~S²/2⁶⁵ —
    * negligible below ~10⁹ shingles, and at 100 TB scale it perturbs a
    * similarity *estimate* already used with a threshold. Callers needing
    * exact set semantics should join on the shingle string (double the
    * shuffle width) — this operator deliberately trades that for compact
    * long keys in its one big shuffle.
    *
    * Shuffle-minimal shape: the distinct shingle set AND its size are
    * computed in-row (array HOF, one pass per document — no window sort,
    * no distinct shuffle, no counts join), and shingles are collapsed to
    * 64-bit hashes so the single real shuffle (the inverted-index
    * self-join) moves longs, not strings. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        k: Int = 3, threshold: Double = 0.8): DataFrame = {
    // cache the inverted index: the self-join needs it on BOTH sides, and
    // neither ReuseExchange (defeated by AQE broadcast conversion) nor
    // the repartition barrier (filters infer through exchanges: the join's
    // null-intolerant nsh condition pushes isnotnull(size(shingles)) into
    // the scan) keeps the shingling kernel single-pass otherwise —
    // measured 4 evaluations per row without the cache. The cached index
    // is compact (id, nsh, h) longs; at cluster scale this is the
    // materialized inverted index any similarity join would build.
    val inv = shingleHashRows(df, idCol, textCol, k).cache()
    // Length-ratio prune inside the join: jaccard <= min(n)/max(n), so a
    // pair can only pass the threshold when t*max <= min — dropped before
    // the pair ever reaches the groupBy shuffle.
    val a = inv.as("a")
    val b = inv.as("b")
    a.join(b, col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
        col("a.nsh") * threshold <= col("b.nsh") &&
        col("b.nsh") * threshold <= col("a.nsh"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"),
        col("a.nsh").as("n1"), col("b.nsh").as("n2"))
      .groupBy("id1", "id2", "n1", "n2")
      .agg(count(lit(1)).as("common"))
      .withColumn("jaccard", col("common").cast("double") /
        (col("n1") + col("n2") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("id1", "id2", "jaccard")
  }

  /** Near-duplicate CLUSTERING: connected components over a similarity
    * pair graph, labeling every id with the minimum id reachable from it
    * (singletons label themselves). Iterative min-label propagation on
    * DataFrames: each round is one shuffle (neighbor-min aggregation) and
    * `localCheckpoint` truncates lineage, so round N never replans rounds
    * 1..N-1 — on a cluster this is a reliable checkpoint. Rounds needed =
    * graph diameter; near-dup graphs are clouds of small cliques, so this
    * converges in 2-4 rounds at any corpus size (the same observation
    * that makes alternating large-star/small-star overkill here).
    *
    * `ids`: one column `id` (the full population — members with no pairs
    * still get labeled); `pairs`: columns `id1`, `id2`.
    */
  def connectedComponents(ids: DataFrame, pairs: DataFrame,
                          maxRounds: Int = 30): DataFrame = {
    val sym = pairs.select(col("id1").as("a"), col("id2").as("b"))
      .unionByName(pairs.select(col("id2").as("a"), col("id1").as("b")))
      .distinct().localCheckpoint()
    // seed with min(id, direct neighbors): folds the first propagation
    // round into initialization at the same cost (one join + aggregate)
    val seedMin = sym.groupBy(col("a").as("id")).agg(min("b").as("__nb"))
    var labels = ids.select(col("id"))
      .join(seedMin, Seq("id"), "left")
      .select(col("id"),
        least(col("id"), coalesce(col("__nb"), col("id"))).as("comp"))
      .localCheckpoint()
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val nbrMin = sym.join(labels, sym("b") === labels("id"))
        .groupBy(sym("a").as("id")).agg(min("comp").as("__nc"))
      // change flag computed in the same pass: convergence needs no
      // second join against the previous labels
      // lazy checkpoint + full count = ONE job per round: the count scans
      // every partition, which completes the checkpoint materialization
      // AND yields the change total (eager checkpoint + isEmpty probe was
      // two jobs per round for the same information)
      val next = labels.join(nbrMin, Seq("id"), "left")
        .select(col("id"),
          least(col("comp"), coalesce(col("__nc"), col("comp")))
            .as("comp"),
          (col("__nc").isNotNull && col("__nc") < col("comp"))
            .as("__ch"))
        .localCheckpoint(false)
      converged = next.filter(col("__ch")).count() == 0
      labels = next.drop("__ch")
    }
    labels
  }

  /** Corpus-level MinHash signature: for each of the `h` permutations,
    * the minimum over EVERY document's shingle hashes — the sketch of the
    * corpus's whole shingle set. One map-only kernel pass per document
    * plus h partial-aggregated mins; the result is a single row of h
    * longs, mergeable across shards by elementwise min (so per-partition
    * sketches union for free — the property that makes cross-corpus
    * comparison O(sketch) instead of O(corpus join)). */
  def corpusSignature(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 3, h: Int = 32): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, k, h)
    val mins = (0 until h).map(i =>
      min(element_at(col("sig"), i + 1)).as(s"m$i"))
    sigs.agg(mins.head, mins.tail: _*)
  }

  /** Estimate the shingle-set Jaccard similarity between two corpora
    * WITHOUT joining them: compare their [[corpusSignature]] sketches
    * position by position (the classic min-wise estimate — each
    * permutation's min agrees with probability J(A,B)). Returns one row
    * `(h, n_equal, est_jaccard)`; standard error is ~1/sqrt(h). The
    * 100 TB use: overlap audits between a training corpus and another
    * crawl snapshot at sketch cost — two map-side passes and two 1-row
    * aggregates, nothing ever co-shuffles. */
  def corpusOverlapEstimate(a: DataFrame, b: DataFrame, idCol: String,
                            textCol: String, k: Int = 3,
                            h: Int = 32): DataFrame = {
    val sa = corpusSignature(a, idCol, textCol, k, h)
    val sb = corpusSignature(b, idCol, textCol, k, h)
    val eq = (0 until h).map(i =>
        when(sa(s"m$i") === sb(s"m$i"), 1).otherwise(0))
      .reduce(_ + _)
    sa.crossJoin(sb).select(lit(h).as("h"),
        eq.cast("long").as("n_equal"),
        (eq.cast("double") / h).as("est_jaccard"))
  }

  /** Incremental snapshot dedup: probe a NEW crawl snapshot against a
    * PERSISTED corpus index and write the snapshot's own delta back,
    * so a monthly crawl drop is deduped against all of history without
    * re-reading or re-shingling the historical TEXT. (The reference has
    * no incremental path at all: its import always rebuilds rhash/ptree
    * segments over the full store, `src/backend/import-backend.c`.)
    *
    * Index layout under `indexDir` (both tables partitioned by
    * `snapshot`, so re-running a snapshot dynamically OVERWRITES ITS
    * OWN PARTITION and nothing else, and the probe reads
    * STRICTLY-EARLIER partitions — so re-probing ANY snapshot, latest
    * or historical, returns its original verdicts even after later
    * snapshots landed: replay-safe, spec-proven. CALLER REQUIREMENT
    * for that: snapshot ids must sort lexicographically in processing
    * order (date-shaped ids do) — the same contract
    * [[compactDedupIndex]] keys on. A params sidecar pins k/h/bands
    * and the hash stamp `portable=true` fail-closed: a probe with
    * different parameters, or against an index stamped
    * `portable=false` (xxhash64 signatures), would silently match
    * nothing. CONCURRENCY: probes and compaction are SINGLE-WRITER
    * per index — each runs under an
    * atomic-create `lock` file in `indexDir` and fails closed when it
    * is held (serialize your crawl drops; distinct-snapshot probes
    * commute semantically, so serializing them costs ordering only).
    * A crashed holder's lock is reported with its pid for manual
    * removal; a crashed compaction is detected by its orphaned
    * `.compact.old` and refused with a recovery hint):
    *   - `fp/`    (id, fp)           one row per probed doc
    *   - `bands/` (id, band, bucket) `bands` rows per doc with ≥ k
    *     tokens
    *
    * Decision semantics are the ALL-AT-ONCE ones: a document drops iff
    * an EARLIER document collides with it, where "earlier" means
    * already-in-the-index, or lower `idCol` within the same snapshot.
    * Exact collision wins over near collision:
    *   - `drop_exact` — same [[TextAnalysis.fingerprintMd5]]
    *     (whitespace-normalized text identity) as an earlier doc;
    *   - `drop_near`  — shares a MinHash band bucket with an earlier
    *     doc (the LSH candidate screen, same banding as
    *     [[minhashPairs]]);
    *   - `keep`       — neither.
    * ALL probed docs enter the index, dropped ones too: under the
    * global rule a later doc drops if it collides with ANY earlier doc
    * kept or dropped (a dropped doc's other buckets are evidence its
    * survivor does not carry), so a survivors-only index would
    * under-drop. That is exactly what makes incremental == all-at-once
    * EXACT: probing snapshots one at a time in id order is
    * bit-identical to one call over the union (OperatorsSpec proves
    * it; the p68 gate's DuckDB oracle recomputes the verdicts from
    * scratch under the (snapshot, id) precedence order).
    *
    * 100 TB shape: history is SCANNED, never shuffled. Both probes are
    * two-step — (1) the snapshot's DISTINCT key set (fp, or
    * (band, bucket)) is the build side of a left-semi join against the
    * index, so Spark broadcasts it when it fits and the index read
    * stays a map-only scan of two fixed-width columns; the output
    * ("which probe keys has history already seen") is at most
    * snapshot-sized; (2) that hit set joins back onto the snapshot
    * (AQE-broadcastable again). If a snapshot is too large to
    * broadcast its key set, AQE falls back to a hash shuffle of
    * FIXED-WIDTH KEYS (`bands`+1 rows of 16–40 bytes per historical
    * doc) — orders of magnitude below re-shingling the corpus text,
    * which is the actual economy of the index. Null text never matches
    * anything (null fp, no shingles, same null-excluding equi-join
    * contract as the oracle): such docs always `keep`.
    *
    * Returns one row per snapshot doc: (id, fp, verdict). */
  def dedupAgainstIndex(snapshot: DataFrame, idCol: String,
                        textCol: String, indexDir: String,
                        snapshotId: String, k: Int = 3, h: Int = 32,
                        bands: Int = 16): DataFrame = {
    require(bands > 0 && h % bands == 0,
      s"dedupAgainstIndex: bands=$bands must be positive and divide " +
        s"h=$h (a non-divisor silently drops trailing signature " +
        "positions from banding)")
    require(snapshotId.nonEmpty,
      "dedupAgainstIndex: snapshotId keys the index delta partition " +
        "and must be non-empty")
    withIndexLock(indexDir, "dedupAgainstIndex") {
    checkIndexParams(indexDir, "fp", "dedupAgainstIndex",
      s"fp=md5norm k=$k h=$h bands=$bands portable=true")
    val spark = snapshot.sparkSession
    val rows = h / bands
    // pinned: probed against the index, min-reduced intra-snapshot,
    // then appended as the delta — one computation feeds all three.
    // LAZY pins (r18, guide §1.2): the eager form ran fp and banded as
    // their own jobs before the probe; lazy defers materialization into
    // the decisions checkpoint's job (one DAG, same pinned blocks for
    // the delta writes that follow). Interleaved A/B, both orders:
    // eager best 2.83/med 4.63 vs lazy 2.58/4.44; flipped eager
    // 3.02/3.16 vs lazy 2.73/3.16 — lazy wins best both orders, ties
    // med once. The decisions checkpoint below STAYS eager: it is the
    // pin-before-append barrier.
    // r17 adjudication: a fused one-scan variant (fp + minhash sig out
    // of one projection, one shared checkpoint) was built and measured
    // SLOWER in interleaved same-JVM A/B at gate scale, both with the
    // banded explode re-derived per consumer (best 6.8 vs 6.1 s) and
    // with it checkpointed (best 3.97 vs 3.46 s, order-flipped rerun):
    // the fingerprint column riding the signature repartition, and
    // fpDf inheriting its 32-way partitioning (the separate fp scan
    // stays scan-partitioned and its five small consumers run in 1-2
    // tasks), cost more than the avoided column-pruned text scan.
    // Falsified and reverted; numbers in OPTIMIZATION_r17.md.
    val fpDf = snapshot.select(col(idCol).as("id"),
        TextAnalysis.fingerprintMd5(col(textCol)).as("fp"))
      .localCheckpoint(false)
    val banded =
      minhashSignatures(snapshot, idCol, textCol, k, h)
        .select(col("id"),
          posexplode(bandBucketArray(col("sig"), bands, rows)))
        .withColumnRenamed("pos", "band")
        .withColumnRenamed("col", "bucket")
        .localCheckpoint(false)
    // index reads prune to the probe columns and keep STRICTLY-EARLIER
    // partitions only — history for this snapshot is what was probed
    // before it, never what landed after (replay safety for historical
    // re-probes + partition pruning)
    // explicit schemas: an index table dir can legitimately exist with
    // ZERO data files (every partition of a crash-orphaned table
    // removed during recovery, or a fresh dir holding only _SUCCESS) —
    // schema inference would die there with an error naming parquet,
    // not the index
    val subSchemas = Map(
      "fp" -> "fp STRING, snapshot STRING",
      "bands" -> "band INT, bucket BIGINT, snapshot STRING")
    def readIndex(sub: String, names: Seq[String],
                  empty: Seq[Column]): DataFrame = {
      val path = s"$indexDir/$sub"
      if (new java.io.File(path).exists())
        spark.read.schema(subSchemas(sub)).parquet(path)
          .filter(col("snapshot") < lit(snapshotId))
          .select(names.map(col): _*)
      else spark.emptyDataFrame.select(empty: _*).limit(0)
    }
    // crashed-compaction detection FIRST: a missing-live-table dir
    // would otherwise read as a bands-without-fp (or empty-history)
    // state and get the wrong diagnosis from the checks below
    requireNoOrphanedCompaction(s"$indexDir/fp", "dedupAgainstIndex")
    requireNoOrphanedCompaction(s"$indexDir/bands", "dedupAgainstIndex")
    // cross-table delta consistency: the two deltas land bands-FIRST,
    // so a crash between them leaves a strictly-earlier partition in
    // bands/ with no fp/ counterpart — detectable, because fp always
    // has one row per doc while bands is legitimately empty for a
    // snapshot of sub-k-token docs (fp ⊇ bands, never the reverse).
    // Probing over such a half-written snapshot would drop near-dups
    // against history whose exact-dup evidence is missing; refuse and
    // name the snapshot to re-probe instead.
    def partitionIds(sub: String): Set[String] = {
      val d = new java.io.File(s"$indexDir/$sub")
      if (!d.exists()) Set.empty[String]
      else Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith("snapshot="))
        .map(_.getName.stripPrefix("snapshot="))
        .filter(_ < snapshotId).toSet
    }
    val orphanBands = partitionIds("bands") -- partitionIds("fp")
    require(orphanBands.isEmpty,
      s"dedupAgainstIndex: snapshot(s) ${orphanBands.toSeq.sorted
        .mkString(", ")} at $indexDir have band rows but no " +
        "fingerprint rows — a probe crashed between its two delta " +
        "writes; re-probe those snapshot(s) (same id, idempotent " +
        "overwrite) before probing past them")
    val idxFp = readIndex("fp", Seq("fp"), Seq(lit("").as("fp")))
    val idxBands = readIndex("bands", Seq("band", "bucket"),
      Seq(lit(0).as("band"), lit(0L).as("bucket")))
    // pin the verdicts BEFORE the delta writes: the returned frame can
    // never observe its own appended rows, whatever the caller does
    val decisions = dedupProbe(fpDf, banded, idxFp, idxBands)
      .localCheckpoint()
    def writeDelta(df: DataFrame, sub: String): Unit =
      df.withColumn("snapshot", lit(snapshotId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("snapshot")
        .parquet(s"$indexDir/$sub")
    // bands FIRST: fp's presence then certifies the pair landed (the
    // consistency check above keys on exactly this ordering)
    writeDelta(banded, "bands")
    writeDelta(fpDf, "fp")
    decisions
    }
  }

  /** The pure verdict plan of [[dedupAgainstIndex]], factored out so
    * its physical shape is plan-gateable (the public API checkpoints
    * the result, which hides the joins from `explain`). `fpDf` =
    * (id, fp), `banded` = (id, band, bucket) for the snapshot; the two
    * index frames carry only the probe columns. */
  private[graft] def dedupProbe(fpDf: DataFrame, banded: DataFrame,
                                idxFp: DataFrame,
                                idxBands: DataFrame): DataFrame = {
    // two-step probe: hit sets are computed WITH THE SNAPSHOT KEYS AS
    // THE BUILD SIDE so the (huge) index is never shuffled, then the
    // (small) hit sets ride the election aggregate back onto the
    // snapshot.
    //
    // r17 shape (same verdicts, ~half the exchanges): history hits and
    // the intra-snapshot first-id election share ONE union +
    // aggregation per key family — a history hit contributes
    // (hit=true, id=null) and a snapshot occurrence (hit=false, id),
    // so min(id) IGNORES history (nulls) and yields the snapshot's
    // first id while max(hit) carries "an earlier snapshot saw this
    // key". A doc then drops iff hit OR id > first_id — exactly the
    // spec's "an EARLIER document collides with it". Previously each
    // family ran [semi-join ∪ election-join → distinct], i.e. two
    // joins, a union, and a distinct exchange per family; now it is
    // one partial-min/max aggregate (map-side combined, hot keys
    // skew-safe) and one join. The hit sets also lost their own
    // .distinct(): they feed an aggregation that dedups by
    // construction. Null fps never join back (equi-join), so
    // null-text docs still always keep.
    val hitFps = idxFp
      .join(fpDf.select("fp").filter(col("fp").isNotNull).distinct(),
        Seq("fp"), "left_semi")
    val hitBuckets = idxBands
      .join(banded.select("band", "bucket").distinct(),
        Seq("band", "bucket"), "left_semi")
    val exactAgg = fpDf.select(col("fp"), col("id"),
        lit(false).as("__hit"))
      .unionByName(hitFps.select(col("fp"), lit(null).cast("long")
        .as("id"), lit(true).as("__hit")))
      .groupBy("fp")
      .agg(min(col("id")).as("__first_id"), max(col("__hit")).as("__hit"))
    val dropNear = banded.select(col("band"), col("bucket"), col("id"),
        lit(false).as("__hit"))
      .unionByName(hitBuckets.select(col("band"), col("bucket"),
        lit(null).cast("long").as("id"), lit(true).as("__hit")))
      .groupBy("band", "bucket")
      .agg(min(col("id")).as("__first_id"), max(col("__hit")).as("__hit"))
      .join(banded, Seq("band", "bucket"))
      .filter(col("__hit") || col("id") > col("__first_id"))
      .select("id").distinct()
    fpDf
      .join(exactAgg, Seq("fp"), "left")
      .join(dropNear.withColumn("__dn", lit(true)), Seq("id"), "left")
      .select(col("id"), col("fp"),
        when(col("__hit") || col("id") > col("__first_id"),
            lit("drop_exact"))
          .when(col("__dn"), lit("drop_near"))
          .otherwise(lit("keep")).as("verdict"))
  }

  /** Semantic deduplication (SemDeDup, Abbas et al. 2023,
    * arXiv:2303.09540): cluster document embeddings with a coarse
    * quantizer, then inside each cluster drop every document whose cosine
    * similarity to a LOWER-ID cluster-mate reaches `threshold` — one
    * representative (the lowest id) survives per semantic-duplicate group.
    * Unlike [[embedNearDupPairs]] (which reports candidate PAIRS), this is
    * the dedup *decision*: the returned frame is `(id, cell_id, kept)` for
    * every input document.
    *
    * Scale shape (the 100 TB path): the quantizer assignment is one
    * broadcast join against the tiny centroid set + per-item argmax
    * (map-side); the only quadratic work is the within-cell pair scoring,
    * bounded by the largest cell — with `k` proportional to corpus size
    * (SemDeDup uses ~sqrt(N) clusters) cells stay small and the join is a
    * hash-shuffle on `cell_id`, never an all-pairs product. `maxCellPairs`
    * guards against a degenerate giant cell: above it the cell's scoring
    * is capped to the lowest-id members (documented truncation, logged by
    * the caller via the `cell_capped` column).
    *
    * The quantizer is pluggable exactly like [[Similarity.ivfTopK]]:
    * trained k-means via `centroids`, or the deterministic lowest-id-items
    * default that a plain-SQL oracle can replicate.
    *
    * `nCells = 0` (the default) AUTO-SCALES the cell count to
    * ~corpus/10k (clamped to [16, 2^20]) — a fixed small default does
    * not survive its own 100 TB claim: 16 cells over a billion docs
    * puts ~60M docs per cell, so almost everything lands past
    * `maxCellSize` and is "kept unexamined". Auto-scaling costs one
    * `count()`; pass an explicit `nCells` (or trained `centroids`) to
    * skip it. Above ~10M docs a lowest-id-items quantizer is a QUALITY
    * liability too (arbitrary cell shapes) — a warning on stderr says
    * to pass [[Similarity.trainCentroids]] output.
    */
  def semanticDedup(items: DataFrame, idCol: String, vecCol: String,
                    threshold: Double, nCells: Int = 0,
                    centroids: Option[DataFrame] = None,
                    maxCellSize: Int = 100000): DataFrame = {
    import graft.functions.F
    val cent = centroids.getOrElse {
        val cells =
          if (nCells > 0) nCells
          else {
            val n = items.count()
            if (n > 10000000L)
              System.err.println("[graft] semanticDedup: " +
                s"$n docs with the default lowest-id quantizer - pass " +
                "trained centroids (Similarity.trainCentroids) for " +
                "meaningful cells at this size")
            math.max(16L, math.min(1L << 20, n / 10000L)).toInt
          }
        items.orderBy(col(idCol)).limit(cells)
      }
      .select(col(idCol).as("cell_id"), col(vecCol).as("cvec"))
    val par = items.sparkSession.sparkContext.defaultParallelism
    val it = items.select(col(idCol).as("id"), col(vecCol).as("v"))
      .repartition(par)
    // assignment: argmax cosine over the broadcast centroid set (ties to
    // the lowest cell id) — max_by groupBy, not a row_number window:
    // partial aggregation collapses the nCells candidate rows per item
    // MAP-SIDE, so the one shuffle moves one row per corpus item instead
    // of nCells (see Similarity.ivfTopK, same shape)
    // min_by over (-csim, cell_id): negate the always-numeric SIMILARITY
    // rather than the id, so string ids (legal with pluggable centroids)
    // survive ANSI analysis; same tie rule (equal cosine -> lowest cell)
    val cells = it.crossJoin(broadcast(cent))
      .withColumn("csim", F.vecCosine(col("v"), col("cvec")))
      .groupBy(col("id"))
      .agg(min_by(struct(col("cell_id"), col("v")),
        struct((-col("csim")).as("nsim"), col("cell_id"))).as("best"))
      .select(col("best.cell_id").as("cell_id"), col("id"),
        col("best.v").as("v"))
    // cap degenerate cells: only the maxCellSize lowest-id members score
    // pairwise; later members of a capped cell are kept unexamined
    val wCell = Window.partitionBy("cell_id").orderBy(col("id").asc)
    val sized = cells.withColumn("cr", row_number().over(wCell))
    // lazy localCheckpoint, not cache(): both self-join sides read the
    // pinned blocks, and the ContextCleaner frees them once the result
    // is dropped — cache() would leak a registry entry per call
    val scorable = sized.filter(col("cr") <= maxCellSize)
      .select(col("cell_id"), col("id"), col("v"))
      .localCheckpoint(eager = false)
    // within-cell pairs: hash-join on cell_id, lower id on the left;
    // a doc is dropped iff SOME lower-id cluster-mate is >= threshold
    val dropped = scorable.select(col("cell_id"),
        col("id").as("id1"), col("v").as("v1"))
      .join(scorable.select(col("cell_id"),
        col("id").as("id2"), col("v").as("v2")), Seq("cell_id"))
      .filter(col("id1") < col("id2"))
      .filter(F.vecCosine(col("v1"), col("v2")) >= threshold)
      .select(col("id2").as("id")).distinct()
    sized.select(col("id"), col("cell_id"),
        (col("cr") > maxCellSize).as("cell_capped"))
      .join(dropped.withColumn("__drop", lit(true)), Seq("id"), "left")
      .select(col("id"), col("cell_id"),
        col("__drop").isNull.as("kept"), col("cell_capped"))
  }

  /** One-row summary of a [[semanticDedup]] result — the cap exposure
    * as a RETURNED METRIC, not just a per-row boolean: `capped_fraction`
    * is the share of the corpus that sat past `maxCellSize` in its cell
    * and was therefore kept UNEXAMINED. A pipeline should alert on it
    * (a non-trivial fraction means the quantizer needs more/better
    * cells, not that the corpus is duplicate-free). One aggregate. */
  def semanticDedupStats(result: DataFrame): DataFrame =
    result.agg(
      count(lit(1)).as("n_docs"),
      count(when(col("cell_capped"), 1)).as("n_capped"),
      (count(when(col("cell_capped"), 1)).cast("double") /
        count(lit(1))).as("capped_fraction"),
      countDistinct(col("cell_id")).as("n_cells"),
      count(when(!col("kept"), 1)).as("n_dropped"))

  /** The curation-gate composition of [[semanticDedup]] +
    * [[semanticDedupStats]]: dedup, ALERT on cap exposure, return the
    * surviving ids — the shape a production pipeline should use in the
    * p30-style curate flow (dedup → quality → decontaminate).
    *
    * A silently capped pass is the dangerous failure: documents past
    * `maxCellSize` in an overfull cell are kept UNEXAMINED, so the
    * output reads as "duplicate-free" when it is "unchecked". This
    * wrapper turns the metric into control flow: when
    * `capped_fraction` exceeds `maxCappedFraction` the run ABORTS with
    * the measured exposure in the message (fix = more/better cells via
    * `Similarity.trainCentroids`, or a higher cap), instead of handing
    * a partially-deduped corpus downstream. The stats pass is one
    * 1-row aggregate over the already-computed result. */
  def semanticDedupGated(items: DataFrame, idCol: String, vecCol: String,
                         threshold: Double, nCells: Int = 0,
                         centroids: Option[DataFrame] = None,
                         maxCellSize: Int = 100000,
                         maxCappedFraction: Double = 0.05): DataFrame = {
    // lazy localCheckpoint, not cache(): the stats collect materializes
    // it, the kept-filter below reuses the blocks, and the
    // ContextCleaner releases them when the result is dropped — ON THE
    // ABORT THROW TOO, where a cache() entry would leak unreleasable
    val res = semanticDedup(items, idCol, vecCol, threshold, nCells,
      centroids, maxCellSize).localCheckpoint(eager = false)
    val st = semanticDedupStats(res).collect()(0)
    val frac = st.getAs[Double]("capped_fraction")
    if (frac > maxCappedFraction)
      throw new IllegalStateException(
        f"semanticDedup cap exposure $frac%.4f exceeds " +
          f"$maxCappedFraction%.4f (${st.getAs[Long]("n_capped")} of " +
          s"${st.getAs[Long]("n_docs")} docs unexamined past " +
          s"maxCellSize=$maxCellSize) - train centroids or raise the cap")
    res.filter(col("kept")).select(col("id").as(idCol))
  }
}
