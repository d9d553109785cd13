package graftbench

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Spark runtime counters per operation kind. The benchmark tags every job
  * with the local property [[Ops.KindProp]] before an operation runs; the
  * listener maps each stage to the kind of the job that submitted it. */
final class KindListener extends SparkListener {
  final class Counts {
    var jobs = 0L
    var tasks = 0L
    var busyMs = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
  }
  private val stageKind = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val counts = mutable.Map.empty[String, Counts]

  private def of(kind: String): Counts = synchronized(counts.getOrElseUpdate(kind, new Counts))

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val kind = Option(j.properties).flatMap(p => Option(p.getProperty(Ops.KindProp))).getOrElse("other")
    j.stageIds.foreach(stageKind.put(_, kind))
    synchronized(of(kind).jobs += 1)
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit = {
    val kind = Option(s.properties).flatMap(p => Option(p.getProperty(Ops.KindProp)))
    kind.foreach(stageKind.put(s.stageInfo.stageId, _))
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val kind = Option(stageKind.get(t.stageId)).getOrElse("other")
    synchronized {
      val c = of(kind)
      c.tasks += 1
      val m = t.taskMetrics
      if (m != null) {
        c.busyMs += m.executorRunTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def snapshot: Map[String, Counts] = synchronized(counts.toMap)
}

/** Timed operations of one run: latencies per kind, attempted and failed
  * counts, and the check of every output. A failed check is counted, printed
  * to stderr and fails the run at exit; it never stops the loop. */
final class Ops(spark: SparkSession, trace: Trace) {
  private val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private var nextOp = 1L
  var attempted = 0L
  var failed = 0L
  /** Failed or wrong operations of the untimed warm-up. */
  var warmupFailures = 0L
  /** Ops run while `measuring` is false (warm-up) are checked, and their
    * failures counted apart, but they add no latency and no attempt. */
  var measuring = false

  /** Run `body` as one operation of `kind`; returns its result (None when it
    * threw) and its wall time in ms. */
  def run[T](kind: String)(body: => T): (Option[T], Double) = {
    val op = nextOp
    nextOp += 1
    val sc = spark.sparkContext
    sc.setLocalProperty(Ops.KindProp, if (measuring) kind else "warmup")
    val t0 = System.nanoTime()
    val res =
      try Some(trace.inOp(op)(trace.span("op", s"op.$kind")(body)))
      catch {
        case e: Exception =>
          System.err.println(s"perfbench: $kind failed: $e")
          e.printStackTrace()
          None
      }
    val ms = (System.nanoTime() - t0) / 1e6
    sc.setLocalProperty(Ops.KindProp, null)
    if (res.isEmpty) {
      if (measuring) failed += 1 else warmupFailures += 1
    }
    if (measuring) {
      attempted += 1
      res.foreach(_ => latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms)
    }
    (res, ms)
  }

  /** Record the outcome of checking an operation's output against truth. */
  def check(kind: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      System.err.println(s"perfbench: WRONG RESULT in $kind: $detail")
      if (measuring) failed += 1
      else warmupFailures += 1
    }

  /** Run, then check; a thrown operation is a failure already. */
  def runChecked[T](kind: String)(body: => T)(ok: T => Boolean, detail: T => String): Double = {
    val (res, ms) = run(kind)(body)
    res.foreach(r => check(kind, ok(r), detail(r)))
    ms
  }

  def latencies(kind: String): Seq[Double] = latMs.get(kind).map(_.toSeq).getOrElse(Nil)
  def kinds: Seq[String] = latMs.keys.toSeq
  def count(kind: String): Int = latencies(kind).size
}

object Ops {
  final val KindProp = "perfbench.op"
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 1]) of the values. */
  def pct(values: Seq[Double], q: Double): Double = {
    require(values.nonEmpty, "percentile of no samples")
    val s = values.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(values: Seq[Double]): Double = pct(values, 0.5)
}
