package graft

/** Regenerates the frozen BPE merge table
  * (`src/main/resources/graft/bpe_canonical_merges.tsv`) from the driver
  * corpus — see [[graft.operators.Bpe.canonicalMerges]]. Run once per
  * corpus change:
  * {{{ sbt "runMain graft.BpeFreeze /root/testdata/sf0.01 src/main/resources/graft/bpe_canonical_merges.tsv" }}}
  * Deterministic: word counts truncate by (count desc, word asc) and
  * training breaks ties lexicographically, so the same corpus always
  * freezes the same table. */
object BpeFreeze {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1)
      .getOrElse("src/main/resources/graft/bpe_canonical_merges.tsv")
    val spark = Session("8")
    val docs = graft.core.Tables.t(spark, sfDir, "documents")
    val merges = graft.operators.Bpe.train(docs, "text", numMerges = 200)
    val p = java.nio.file.Paths.get(out)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p,
      merges.map { case (a, b) => s"$a\t$b" }.mkString("", "\n", "\n"))
    println(s"[bpe-freeze] wrote ${merges.size} merges to $out")
    spark.stop()
  }
}
