package graftbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans recorded by the benchmark around its own calls into the
  * engine's layers. A span has a name, a layer, start/end (ns), its parent
  * span and the id of the operation it belongs to. Nothing is written until
  * [[writeJsonl]] at exit. With tracing off, [[span]] only runs its body.
  */
final class Trace(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, op: Long, name: String, layer: String,
                        start: Long, end: Long)

  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  private var curOp = 0L

  /** Spans opened inside `body` carry operation id `op`. */
  def inOp[T](op: Long)(body: => T): T = {
    val prev = curOp
    curOp = op
    try body finally curOp = prev
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        done += Span(id, parent, curOp, name, layer, t0, t1)
      }
    }

  def spans: Seq[Span] = done.toSeq

  def totalSecondsByName: Map[String, Double] =
    done.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => s.end - s.start).sum / 1e9 }

  /** Self time per layer (seconds): a span's duration minus the part of
    * its interval its child spans cover. Children never overlap (one
    * thread). */
  def selfSecondsByLayer: Map[String, Double] = {
    val childNs = done.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.end - s.start).sum }
    done.groupBy(_.layer).map { case (l, ss) =>
      l -> ss.map(s => (s.end - s.start) - childNs.getOrElse(s.id, 0L)).sum / 1e9
    }
  }

  def writeJsonl(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try done.sortBy(_.start).foreach { s =>
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ns":${s.start},"end_ns":${s.end}}""")
    } finally w.close()
  }
}
