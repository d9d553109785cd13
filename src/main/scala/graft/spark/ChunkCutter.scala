package graft.spark

/** An iterator that cuts its input rows into chunks one at a time: `cut`
  * pulls rows until the next chunk is complete and returns it, or null at
  * the end of the input. A consumer that writes each chunk before asking
  * for the next holds one chunk at a time, as the reference writer
  * flushes a page when its buffer fills (writer.go:37-42,1074-1087). */
private[graft] abstract class ChunkCutter[T >: Null] extends Iterator[T] {
  private var pending: T = null

  /** The next chunk, or null when the input is exhausted. */
  protected def cut(): T

  final override def hasNext: Boolean = {
    if (pending == null) pending = cut()
    pending != null
  }

  final override def next(): T = {
    if (!hasNext) throw new NoSuchElementException
    val c = pending
    pending = null
    c
  }
}

// Growable primitive buffers for the chunk encoders' per-chunk scratch:
// no boxing, reused across chunks (`clear` keeps the array).

private[spark] final class IntBuf(init: Int = 1024) {
  var a = new Array[Int](init); var n = 0
  def +=(v: Int): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def ++=(src: Array[Int]): Unit = {
    if (n + src.length > a.length)
      a = java.util.Arrays.copyOf(a, math.max(a.length * 2, n + src.length))
    System.arraycopy(src, 0, a, n, src.length)
    n += src.length
  }
  def clear(): Unit = n = 0
}
private[spark] final class LongBuf(init: Int = 1024) {
  var a = new Array[Long](init); var n = 0
  def +=(v: Long): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def clear(): Unit = n = 0
}
private[spark] final class DoubleBuf(init: Int = 1024) {
  var a = new Array[Double](init); var n = 0
  def +=(v: Double): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def clear(): Unit = n = 0
}
private[spark] final class FloatBuf(init: Int = 1024) {
  var a = new Array[Float](init); var n = 0
  def +=(v: Float): Unit = {
    if (n == a.length) a = java.util.Arrays.copyOf(a, n * 2)
    a(n) = v; n += 1
  }
  def clear(): Unit = n = 0
}
