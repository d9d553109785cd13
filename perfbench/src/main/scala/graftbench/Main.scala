package graftbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** One benchmark run in one JVM: set up the workload several times, warm up,
  * run its closed loop for `--seconds`, check every output and write the
  * result as JSON to `--out`. Launched by `perfbench/run.py`, which builds
  * the classpath, sizes the JVM and prints the final line.
  *
  * Args: --workload ingest|read|maintain --seed N --seconds S --trace 0|1
  *       --scratch DIR --cores N --out FILE [--spans FILE]
  */
object Main {
  final val SetupReps = 3

  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                          scratch: String, cores: Int, out: String, spans: Option[String])

  def parse(args: Array[String]): Config = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Config(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      need("scratch"), need("cores").toInt, need("out"), m.get("spans"))
  }

  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cfg.cores.toString)
      .config("spark.default.parallelism", cfg.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${cfg.scratch}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.scratch}/warehouse")
      // same split size as the engine's own bench sessions
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val cfg = parse(args)
    val env = Env.record(cfg.cores)
    val spark = session(cfg)
    val trace = new Trace(cfg.trace)
    val listener = new KindListener
    spark.sparkContext.addSparkListener(listener)
    val ops = new Ops(spark, trace)
    val ctx = new Ctx(cfg, spark, trace, ops, listener)
    val w: Workload = cfg.workload match {
      case "ingest" => new IngestWorkload(ctx)
      case "read" => new ReadWorkload(ctx)
      case "maintain" => new MaintainWorkload(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      trace.span("setup", "setup.rep")(w.setup(rep))
      (System.nanoTime() - t0) / 1e9
    }
    ctx.e2e("setup_s", Stats.median(setupS), "s")
    val tWarm = System.nanoTime()
    trace.span("setup", "setup.warmup")(w.warmup())
    val warmS = (System.nanoTime() - tWarm) / 1e9

    val jvm0 = Env.jvmCounters()
    Env.resetPeaks()
    ops.measuring = true
    val t0 = System.nanoTime()
    var cycles = 0
    while (cycles < w.minCycles || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      w.cycle(cycles)
      cycles += 1
    }
    val loopS = (System.nanoTime() - t0) / 1e9
    ops.measuring = false
    val jvm1 = Env.jvmCounters()
    val peakHeapMb = Env.peakHeapMb()
    ops.kinds.foreach { k =>
      System.err.println(s"perfbench: $k ms " + ops.latencies(k).map(v => f"$v%.1f").mkString(" "))
    }
    ctx.e2e("cycle_s", loopS / cycles, "s")
    w.report()

    if (cfg.trace) {
      w.layers()
      ctx.layer("jvm.gc_s", (jvm1.gcMs - jvm0.gcMs) / 1e3, "s")
      ctx.layer("jvm.cpu_s", (jvm1.cpuNs - jvm0.cpuNs) / 1e9, "s")
      ctx.layer("jvm.peak_heap_mb", peakHeapMb, "MB")
      org.apache.spark.PerfbenchBridge.drainListeners(spark)
      ctx.sparkRuntimeLayers(w.opKinds)
      trace.selfSecondsByLayer.foreach { case (l, v) => ctx.layer(s"trace.self_s.$l", v, "s") }
      ctx.layer("trace.spans", trace.spans.size, "count")
      ctx.layer("trace.cycle_s", loopS / cycles, "s")
      cfg.spans.foreach(trace.writeJsonl)
    }
    spark.stop()

    val failed = ops.failed + ops.warmupFailures
    val result = ctx.resultJson(
      correct = failed == 0, attempted = math.max(1L, ops.attempted), failed = failed,
      extra = env ++ Map("cycles" -> cycles.toString, "loop_s" -> f"$loopS%.3f", "warmup_s" -> f"$warmS%.3f",
        "setup_reps_s" -> setupS.map(s => f"$s%.4f").mkString("[", ",", "]")))
    val w2 = new java.io.PrintWriter(cfg.out, "UTF-8")
    try w2.println(result) finally w2.close()
  }
}

/** What every workload provides to [[Main]]. */
trait Workload {
  /** The operation kinds its loop runs (per-kind Spark counters). */
  def opKinds: Seq[String]
  /** One full set-up (run [[Main.SetupReps]] times, the last one is used). */
  def setup(rep: Int): Unit
  /** After set-up, untimed: derive the truth the checks need from the
    * generator, and run operations (checked, not timed) so the first timed
    * ones do not pay for class loading and JIT compilation. */
  def warmup(): Unit
  /** Cycles every run measures, however short `--seconds` is: sized so that
    * on the reference machine they already take about `--seconds`, so every
    * run measures the same operations. */
  def minCycles: Int
  /** One cycle of the closed loop; the loop only stops between cycles. */
  def cycle(i: Int): Unit
  /** End-to-end metrics (and per-kind latencies) from the loop's ops. */
  def report(): Unit
  /** Per-layer measurements, run after the loop when tracing. */
  def layers(): Unit
}

final class Ctx(val cfg: Main.Config, val spark: SparkSession, val trace: Trace,
                val ops: Ops, val listener: KindListener) {
  val e2eMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  val layerMetrics = mutable.LinkedHashMap.empty[String, (Double, String)]

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)

  def path(name: String): String = s"${cfg.scratch}/$name"

  def rmrf(p: String): Unit = {
    val f = new java.io.File(p)
    if (f.exists()) org.apache.commons.io.FileUtils.deleteDirectory(f)
  }

  /** Bytes of the parquet files under a directory tree. */
  def parquetBytes(dir: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(dir))
  }

  /** Spark runtime per operation kind, from the listener. */
  def sparkRuntimeLayers(kinds: Seq[String]): Unit = {
    val counts = listener.snapshot
    var shuffle = 0L
    var spill = 0L
    kinds.foreach { k =>
      val n = math.max(1, ops.count(k))
      val c = counts.get(k)
      layer(s"spark.jobs_per_op.$k", c.map(_.jobs.toDouble / n).getOrElse(0.0), "count")
      layer(s"spark.tasks_per_op.$k", c.map(_.tasks.toDouble / n).getOrElse(0.0), "count")
      layer(s"spark.task_busy_s.$k", c.map(_.busyMs / 1e3).getOrElse(0.0), "s")
      shuffle += c.map(_.shuffleWriteBytes).getOrElse(0L)
      spill += c.map(_.spillBytes).getOrElse(0L)
    }
    layer("spark.shuffle_write_bytes", shuffle.toDouble, "B")
    layer("spark.spill_bytes", spill.toDouble, "B")
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  def resultJson(correct: Boolean, attempted: Long, failed: Long,
                 extra: Map[String, String]): String = {
    def obj(m: mutable.LinkedHashMap[String, (Double, String)]) = m.map { case (k, (v, u)) =>
      s"""${str(k)}:{"value":${num(v)},"unit":${str(u)}}"""
    }.mkString("{", ",", "}")
    val env = extra.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${str(v)}" }.mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""end_to_end":${obj(e2eMetrics)},"per_layer":${obj(layerMetrics)},"env":$env}"""
  }
}
