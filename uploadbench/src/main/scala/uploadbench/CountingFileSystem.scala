package uploadbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, LocalFileSystem, Path}

/**
 * The local file system with a byte count per file read, for the traced
 * run (`spark.hadoop.fs.file.impl`). It tells the `.crs` scans apart from
 * reads of the published tables, which Spark's task metrics lump together
 * and also mix with reads of cached blocks. Files opened while the probes
 * are off ([[Probe.enabled]], the untraced runs) get the plain stream.
 */
class CountingFileSystem extends LocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    val in = super.open(f, bufferSize)
    if (!Probe.enabled) in
    else {
      val n = CountingFileSystem.bytes.computeIfAbsent(f.toUri.getPath, _ => new LongAdder)
      new FSDataInputStream(new CountingFileSystem.Counted(in, n))
    }
  }
}

object CountingFileSystem {
  private val bytes = new ConcurrentHashMap[String, LongAdder]()

  /** Returns the bytes read per file path since the last call and resets. */
  def drain(): Map[String, Long] =
    bytes.asScala.map { case (p, n) => p -> n.sumThenReset() }.filter(_._2 > 0).toMap

  private final class Counted(in: FSDataInputStream, n: LongAdder) extends FSInputStream {
    private def count(r: Int): Int = { if (r > 0) n.add(r.toLong); r }
    override def read(): Int = { val b = in.read(); if (b >= 0) n.increment(); b }
    override def read(b: Array[Byte], off: Int, len: Int): Int = count(in.read(b, off, len))
    override def read(pos: Long, b: Array[Byte], off: Int, len: Int): Int =
      count(in.read(pos, b, off, len))
    override def readFully(pos: Long, b: Array[Byte], off: Int, len: Int): Unit = {
      in.readFully(pos, b, off, len); n.add(len.toLong)
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = in.seekToNewSource(target)
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
