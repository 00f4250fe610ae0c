package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

/** What a directory holds on disk. Hard links are counted once: the
  * change feed links data files instead of copying them. */
object Disk {

  final case class FileRec(path: Path, bytes: Long, inode: Any)

  def files(root: Path): Vector[FileRec] =
    if (!Files.exists(root)) Vector.empty
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
        FileRec(p, Files.size(p), Files.getAttribute(p, "unix:ino"))
      }.toVector
      finally s.close()
    }

  def bytes(fs: Seq[FileRec]): Long =
    fs.groupBy(_.inode).values.map(_.head.bytes).sum

  /** Parquet part files under `root`, Spark's checksum files excluded. */
  def parquetParts(root: Path): Vector[FileRec] =
    files(root).filter { f =>
      val n = f.path.getFileName.toString
      n.endsWith(".parquet") && !n.startsWith(".")
    }

  def delete(root: Path): Unit =
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }
}
