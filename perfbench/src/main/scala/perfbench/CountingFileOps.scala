package perfbench

import org.apache.spark.util.AccumulatorV2

import graft.exec.{DirEntry, FileOps}

/** A fixed array of counters summed across tasks: each task adds to its
  * own copy and Spark merges the copies into the value this program reads,
  * so the totals hold when executors run in other JVMs. */
final class CounterArray(size: Int) extends AccumulatorV2[(Int, Long), Array[Long]] {
  private var cells = new Array[Long](size)
  override def isZero: Boolean = cells.forall(_ == 0L)
  override def copy(): CounterArray = {
    val c = new CounterArray(size)
    c.cells = cells.clone()
    c
  }
  override def reset(): Unit = java.util.Arrays.fill(cells, 0L)
  override def add(v: (Int, Long)): Unit = add(v._1, v._2)
  def add(i: Int, delta: Long): Unit = cells(i) += delta
  override def merge(other: AccumulatorV2[(Int, Long), Array[Long]]): Unit = {
    val o = other.value
    var i = 0
    while (i < cells.length) { cells(i) += o(i); i += 1 }
  }
  override def value: Array[Long] = cells
}

/** Wraps the FileOps the benchmark hands to CopyExecutor and counts, per
  * verb, the calls and the nanoseconds spent in them, plus bytes moved and
  * calls that threw. Every verb is forwarded, so the inner binding's own
  * streaming forms stay in use. */
final class CountingFileOps(inner: FileOps, acc: CounterArray) extends FileOps {
  import CountingFileOps._

  private def op[A](verb: Int)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => acc.add(Failed, 1L); throw e }
    finally {
      acc.add(2 * verb, 1L)
      acc.add(2 * verb + 1, System.nanoTime() - t0)
    }
  }

  override def mkdirs(path: String): Boolean = op(Mkdirs)(inner.mkdirs(path))
  override def exists(path: String): Boolean = op(Exists)(inner.exists(path))
  override def length(path: String): Long = op(Length)(inner.length(path))
  override def createFile(path: String): Unit = op(CreateFile)(inner.createFile(path))
  override def readRange(path: String, offset: Long, len: Int): Array[Byte] = {
    val data = op(ReadRange)(inner.readRange(path, offset, len))
    acc.add(BytesRead, data.length.toLong)
    data
  }
  override def append(path: String, offset: Long, data: Array[Byte]): Unit = {
    op(Append)(inner.append(path, offset, data))
    acc.add(BytesAppended, data.length.toLong)
  }
  override def flush(path: String, totalLen: Long): Unit = op(Flush)(inner.flush(path, totalLen))
  override def write(path: String, content: Array[Byte]): Unit = op(Write)(inner.write(path, content))
  override def read(path: String): Array[Byte] = op(Read)(inner.read(path))
  override def setOwnership(path: String, owner: String, group: String, perms: String): Unit =
    op(SetOwnership)(inner.setOwnership(path, owner, group, perms))
  override def listDir(path: String): Seq[DirEntry] = op(ListDir)(inner.listDir(path))
  override def getMetadata(path: String): Map[String, String] = op(GetMetadata)(inner.getMetadata(path))
  override def setMetadata(path: String, meta: Map[String, String]): Unit =
    op(SetMetadata)(inner.setMetadata(path, meta))
}

object CountingFileOps {
  /** counter layout: calls of verb i at 2i, its busy nanoseconds at 2i+1 */
  val Verbs: Seq[String] = Seq("mkdirs", "exists", "length", "createFile", "readRange",
    "append", "flush", "write", "read", "setOwnership", "listDir", "getMetadata", "setMetadata")
  private def verb(name: String): Int = Verbs.indexOf(name)
  val Mkdirs: Int = verb("mkdirs")
  val Exists: Int = verb("exists")
  val Length: Int = verb("length")
  val CreateFile: Int = verb("createFile")
  val ReadRange: Int = verb("readRange")
  val Append: Int = verb("append")
  val Flush: Int = verb("flush")
  val Write: Int = verb("write")
  val Read: Int = verb("read")
  val SetOwnership: Int = verb("setOwnership")
  val ListDir: Int = verb("listDir")
  val GetMetadata: Int = verb("getMetadata")
  val SetMetadata: Int = verb("setMetadata")
  val BytesRead: Int = 2 * Verbs.size
  val BytesAppended: Int = BytesRead + 1
  val Failed: Int = BytesRead + 2
  val Size: Int = BytesRead + 3
}
