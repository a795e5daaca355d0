package graft.operators

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}

/** The `params.*.txt` sidecar that completes an on-disk LM model
  * ([[TextAnalysis.saveLmModel]]) or text index
  * ([[Ranking.buildTextIndex]]): lines of space-separated `k=v` tokens,
  * written LAST by temp file + atomic rename, so a reader sees the old
  * sidecar or the new one, never part of one. */
private[graft] object Sidecar {

  def publish(path: Path, content: String): Unit = {
    val tmp = Files.createTempFile(path.getParent,
      s".${path.getFileName}.", ".tmp")
    Files.write(tmp, content.getBytes(UTF_8))
    Files.move(tmp, path, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** One `k=v` map per line. */
  def read(path: Path): Seq[Map[String, String]] =
    new String(Files.readAllBytes(path), UTF_8).trim.split("\n").toSeq
      .map(_.trim.split("\\s+").map { t =>
        val Array(k, v) = t.split("=", 2); k -> v
      }.toMap)
}
