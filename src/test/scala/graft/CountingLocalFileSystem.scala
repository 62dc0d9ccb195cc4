package graft

import org.apache.hadoop.fs.{FSDataInputStream, FSInputStream, Path, RawLocalFileSystem}

/** The local file system, counting opens and bytes read by file name.
  * Tests that count set it as `fs.file.impl` (with
  * `fs.file.impl.disable.cache`) for the duration of one read. */
class CountingLocalFileSystem extends RawLocalFileSystem {
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    CountingLocalFileSystem.counter(CountingLocalFileSystem.opened, f.getName).incrementAndGet()
    new FSDataInputStream(new CountingLocalFileSystem.Counted(f.getName, super.open(f, bufferSize)))
  }
}

object CountingLocalFileSystem {
  private type Counts = java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]
  private val opened = new Counts()
  private val readBytes = new Counts()
  private def counter(m: Counts, name: String) =
    m.computeIfAbsent(name, _ => new java.util.concurrent.atomic.AtomicLong())

  def reset(): Unit = { opened.clear(); readBytes.clear() }
  def opens(name: String): Int = Option(opened.get(name)).map(_.get.toInt).getOrElse(0)
  /** Bytes the readers of `name` asked for, before any buffering. */
  def bytesRead(name: String): Long = Option(readBytes.get(name)).map(_.get).getOrElse(0L)

  private class Counted(name: String, in: FSDataInputStream) extends FSInputStream {
    private def add(n: Int): Unit = if (n > 0) counter(readBytes, name).addAndGet(n)
    override def read(): Int = { val b = in.read(); if (b >= 0) add(1); b }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = in.read(buf, off, len); add(n); n
    }
    override def seek(pos: Long): Unit = in.seek(pos)
    override def getPos: Long = in.getPos
    override def seekToNewSource(target: Long): Boolean = false
    override def available(): Int = in.available()
    override def close(): Unit = in.close()
  }
}
