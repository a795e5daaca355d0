package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.rdf.{QuadStore, Rid, WellKnown}

/** `4s-dump` / `4s-restore` analog (reference
  * `src/utilities/4s-dump:54-76`, `4s-restore:15-30`): dump writes one
  * Turtle-compatible N-Triples file per named graph, first line
  * `## GRAPH <uri>` exactly like the reference's backup layout (file
  * name = MD5 of the graph URI); restore walks a directory of such
  * files and rebuilds a durable bucketed store.
  *
  * Usage:
  *   BackupCli dump    <saved-store-name|path.nq> <outdir>
  *   BackupCli restore <dir> <saved-store-name>
  */
object BackupCli {

  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** One (graphUri, file) per named graph; default graph -> its
    * well-known URI, as the reference dumps every model it sees. */
  def dump(store: QuadStore, outDir: String): Seq[(String, String)] = {
    val dir = new java.io.File(outDir)
    dir.mkdirs()
    val graphs = store.resolve(store.quads.select("g").distinct(), Seq("g"))
      .select(col("g"), col("g__lex")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSeq.sortBy(_._2)
    graphs.map { case (gRid, gUri) =>
      val one = store.copy(quads = store.quads
          .filter(col("g") === gRid)
          .withColumn("g", lit(WellKnown.defaultGraph)),
        valued = None)
      val f = new java.io.File(dir, md5hex(gUri) + ".nt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try {
        w.println(s"## GRAPH $gUri")
        val it = one.toNQuadLines.toLocalIterator()
        while (it.hasNext) w.println(it.next().getString(0))
      } finally w.close()
      gUri -> f.getPath
    }
  }

  /** Rebuild a store from a dump directory: each file's `## GRAPH`
    * header routes its triples; files without the header go to the
    * default graph. */
  def restore(spark: SparkSession, dir: String): QuadStore = {
    val files = Option(new java.io.File(dir).listFiles())
      .getOrElse(Array.empty).filter(_.isFile).sortBy(_.getName)
    val stores = files.toSeq.map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      val graph = lines.headOption match {
        case Some(h) if h.startsWith("## GRAPH ") =>
          h.stripPrefix("## GRAPH ").trim
        case _ => ""
      }
      val g = if (graph == WellKnown.defaultGraphUri) "" else graph
      import spark.implicits._
      val flat = graft.streaming.StreamIngest
        .parseNtLines(lines.filterNot(_.startsWith("#")).toDS())
        .withColumn("gLex", lit(g))
      QuadStore.fromFlat(spark, flat)
    }
    stores.reduceOption(_ union _)
      .getOrElse(QuadStore.fromTerms(spark, Nil))
  }

  def main(args: Array[String]): Unit = {
    if (args.length < 3) {
      System.err.println(
        "usage: BackupCli dump <store-name|file.nq> <outdir> | " +
          "BackupCli restore <dir> <store-name>")
      sys.exit(2)
    }
    val spark = Session.cli()
    args(0) match {
      case "dump" =>
        val store =
          if (spark.catalog.tableExists(s"${args(1)}_quads"))
            QuadStore.loadBucketed(spark, args(1))
          else QuadStore.fromNTriples(spark, args(1))
        dump(store, args(2)).foreach { case (g, f) =>
          println(s"dumped <$g> -> $f")
        }
      case "restore" =>
        val st = restore(spark, args(1))
        st.saveBucketed(args(2))
        println(s"restored ${st.quads.count()} quads into ${args(2)}")
      case other =>
        System.err.println(s"unknown mode $other"); sys.exit(2)
    }
    spark.stop()
  }
}
