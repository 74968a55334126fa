package graft

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, Path, RawLocalFileSystem}

/** Test-only local filesystem that counts `open` calls per file path. It
  * reports the `file` scheme, so code that takes the local-filesystem
  * branches (NIO claims and renames) still takes them. Registered via
  * `fs.file.impl` on the session's Hadoop conf with the FileSystem cache
  * disabled, so every lookup gets a counting instance; the counts live in
  * the companion, shared by all instances. */
class OpenCountingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "file"

  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    OpenCountingFileSystem.opens.merge(f.toUri.getPath, 1, Integer.sum(_, _))
    super.open(f, bufferSize)
  }
}

object OpenCountingFileSystem {
  private val opens = new ConcurrentHashMap[String, Integer]()

  def reset(): Unit = opens.clear()

  /** Opens per absolute path since the last [[reset]]. */
  def counts: Map[String, Int] =
    opens.asScala.map { case (p, n) => p -> n.intValue }.toMap
}
