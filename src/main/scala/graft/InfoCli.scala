package graft

import org.apache.spark.sql.functions._
import graft.rdf.{QuadStore, Rid}

/** Debug/ops CLI bundling the reference's small frontend tools:
  *
  *  - `noop`  — round-trip latency ping (`4s-info.c`: NO-OP took %fs)
  *  - `freq`  — per-predicate quad counts, the optimiser's cardinality
  *              view (`4s-info.c` freq -> `fs_optimiser_freq_print`)
  *  - `uuid`  — a stable store identity (`4s-info.c` uuid; here a hash
  *              of the store's content summary, not a link UUID)
  *  - `size`  — per-graph quad counts + totals (`4s-size`)
  *  - `bind <g|-> <s|-> <p|-> <o|->` — raw quad-pattern bind; slots are
  *              hex RIDs or `-` wildcards, rows print as hex RID quads
  *              (`4s-bind.c`)
  *  - `resolve <hex-rid>...` — RID -> lexical via the dictionary
  *              (`4s-resolve.c`)
  *
  * Usage: InfoCli <data> <command> [args...]  where <data> is an RDF
  * file or a driver parquet directory, as in [[QueryCli]].
  */
object InfoCli {

  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println(
        "usage: InfoCli <data> <noop|freq|uuid|size|bind|resolve> [args]")
      sys.exit(2)
    }
    val spark = Session.cli()
    val store =
      if (new java.io.File(args(0)).isDirectory) {
        val dir = new java.io.File(args(0))
        val tables = graft.core.Tables.names.filter(t =>
          new java.io.File(dir, s"$t.parquet").exists())
        QuadStore.rdfizeDir(spark, args(0), tables)
      } else QuadStore.fromFile(spark, args(0))
    run(store, args(1), args.drop(2).toSeq).foreach(println)
    spark.stop()
  }

  /** command dispatch, returning output lines (testable without a JVM
    * fork or stdout capture) */
  def run(store: QuadStore, cmd: String, args: Seq[String] = Nil)
      : Seq[String] = cmd match {
    case "noop" =>
      val t0 = System.nanoTime()
      store.quads.limit(1).count() // cheapest full round-trip
      Seq(f"NO-OP took ${(System.nanoTime() - t0) / 1e9}%fs")

    case "freq" =>
      // predicate frequency, descending — what the greedy pattern-order
      // tiers consume (Exec.orderPatterns); ties break on lexical so the
      // output is deterministic
      val rows = store.resolve(
          store.quads.groupBy("p").agg(count(lit(1)).as("n")), Seq("p"))
        .select(col("p__lex"), col("n"))
        .orderBy(col("n").desc, col("p__lex")).collect()
      rows.map(r => s"${r.getLong(1)}\t${r.getString(0)}").toSeq

    case "uuid" =>
      // content-derived identity: stable across sessions for the same
      // store state, changes on any mutation
      val sig = store.quads.agg(
        xxhash64(sum(col("g")), sum(col("s")), sum(col("p")),
          sum(col("o")), count(lit(1)))).collect()(0).getLong(0)
      Seq(f"$sig%016x")

    case "size" =>
      val per = store.resolve(
          store.quads.groupBy("g").agg(count(lit(1)).as("n")), Seq("g"))
        .select(col("g__lex"), col("n")).orderBy("g__lex").collect()
      val header = Seq(f"${"graph"}%-40s quads")
      val lines = per.map(r => f"${r.getString(0)}%-40s ${r.getLong(1)}")
      val total = per.map(_.getLong(1)).sum
      header ++ lines :+ f"${"TOTAL"}%-40s $total"

    case "bind" =>
      val slots = Seq("g", "s", "p", "o")
      require(args.length == 4, "bind needs 4 slots: <g|-> <s|-> <p|-> <o|->")
      var df = store.quads
      slots.zip(args).foreach { case (c, a) =>
        if (a != "-") df = df.filter(col(c) ===
          java.lang.Long.parseUnsignedLong(a, 16))
      }
      df.orderBy(slots.map(col): _*).collect().map(r =>
        slots.indices.map(i => f"${r.getLong(i)}%016x").mkString(" ")).toSeq

    case "resolve" =>
      val rids = args.map(java.lang.Long.parseUnsignedLong(_, 16))
      val found = store.resources
        .filter(col("rid").isin(rids: _*))
        .select("rid", "lex").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      rids.map(r => f"$r%016x\t${found.getOrElse(r,
        if (Rid.isUri(r)) "<unknown uri>" else "<unknown>")}")

    case other =>
      Seq(s"unknown command: $other (noop|freq|uuid|size|bind|resolve)")
  }
}
