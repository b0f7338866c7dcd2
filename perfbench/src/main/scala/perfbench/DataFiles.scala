package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

object DataFiles {
  /** Size of every data file under `dir` (not checksums or commit markers),
    * by path; empty when `dir` does not exist. */
  def sizes(dir: String): Map[String, Long] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val it = Files.walk(root)
    try it.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot { p =>
        val n = p.getFileName.toString
        n.startsWith(".") || n.startsWith("_")
      }
      .map(p => p.toString -> Files.size(p)).toMap
    finally it.close()
  }
}
