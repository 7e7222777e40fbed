package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** File-tree helpers for the stored state the workloads measure and reset. */
object Tree {
  private def files(p: Path): Seq[Path] = {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq finally s.close()
  }

  /** Bytes of every stored file under `p`, local-FS checksum files excluded. */
  def bytes(p: Path): Long =
    files(p).filterNot(_.getFileName.toString.endsWith(".crc")).map(Files.size).sum

  /** (bytes, files) of the parquet data files under `dir`. */
  def parquet(dir: String): (Long, Int) = {
    val ps = files(Paths.get(dir)).filter(_.getFileName.toString.endsWith(".parquet"))
    (ps.map(Files.size).sum, ps.size)
  }

  def copy(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.iterator().asScala.foreach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x)) finally s.close()
  }
}
