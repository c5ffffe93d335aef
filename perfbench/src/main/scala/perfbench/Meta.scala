package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** Small file helpers for the benchmark's own inputs and scratch state. */
object Meta {

  /** The numeric fields of a generator `meta.json`. */
  def read(path: String): Map[String, Double] = {
    val Field = """"([a-z_]+)":\s*(-?[0-9.]+)""".r
    Field.findAllMatchIn(Files.readString(Paths.get(path)))
      .map(m => m.group(1) -> m.group(2).toDouble).toMap
  }

  /** One long per line. */
  def ids(path: String): Seq[Long] =
    Files.readAllLines(Paths.get(path)).asScala.toSeq
      .map(_.trim).filter(_.nonEmpty).map(_.toLong)

  /** Total bytes of the regular files under `root`. */
  def treeBytes(root: Path): Long =
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
