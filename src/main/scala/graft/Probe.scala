package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Dev tool for the declared query suite; the engine's layer numbers
  * (codec kernels, scans, the encode stages) live in `perfbench/`.
  *
  *  - `time` runs each named query (`count()`, as the frozen Bench does)
  *    and prints, per run: wall seconds, rows, Spark job / stage / task
  *    counts and the summed task time. wall >> task-time means scheduler /
  *    per-job fixed overhead dominates; wall ~ task-time / cores means the
  *    operator itself is the cost.
  *  - `plan` writes `explain("formatted")` of each named query to
  *    `<outDir>/<query>.txt`. Building a query's DataFrame runs its
  *    in-query side effects (encodes, writes, streaming feeds); only the
  *    RETURNED frame's plan is written.
  *
  * `main` builds one session with the config of Bench's query loop
  * (local[$SPARK_GRAFT_CPUS], shuffle partitions = cpus, AQE on, UTC,
  * 16 MB splits) and runs Bench's untimed warm-up first.
  *
  * Usage: runMain graft.Probe time <sfDir> <q1>[,<q2>...] [repeats]
  *        runMain graft.Probe plan <sfDir> <outDir> <q1>[,<q2>...]
  */
object Probe {

  private final class Counters extends SparkListener {
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskMs = new AtomicLong
    override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      if (t.taskInfo != null) taskMs.addAndGet(t.taskInfo.duration)
      ()
    }
    def reset(): Unit = { jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0) }
  }

  /** Times `repeats` runs of each query; returns the printed lines. */
  def time(spark: SparkSession, sfDir: String, names: Seq[String],
           repeats: Int = 1): Seq[String] = {
    val c = new Counters
    spark.sparkContext.addSparkListener(c)
    try for (n <- names; r <- 1 to repeats) yield {
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListeners(spark)
      c.reset()
      val t0 = System.nanoTime()
      val cnt = SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      org.apache.spark.sql.graftbridge.ColumnBridge.drainListeners(spark)
      val line = f"QX $n run$r wall=$wall%.2fs rows=$cnt jobs=${c.jobs.get} " +
        f"stages=${c.stages.get} tasks=${c.tasks.get} taskSum=${c.taskMs.get / 1e3}%.1fs"
      println(line)
      line
    } finally spark.sparkContext.removeSparkListener(c)
  }

  /** Writes each query's formatted plan to `<outDir>/<query>.txt`; a query
    * that fails to build is reported and skipped. Returns the files written. */
  def plan(spark: SparkSession, sfDir: String, outDir: String,
           names: Seq[String]): Seq[Path] = {
    val out = Files.createDirectories(Paths.get(outDir))
    names.flatMap { n =>
      try {
        val txt = SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        val f = Files.write(out.resolve(s"$n.txt"), txt.getBytes(UTF_8))
        println(s"PLAN $n -> $f (${txt.length} chars)")
        Some(f)
      } catch {
        case e: Exception =>
          println(s"PLAN $n FAILED: ${e.getMessage}")
          None
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val run: SparkSession => Unit = args match {
      case Array("time", sf, qs) => time(_, sf, qs.split(",").toSeq)
      case Array("time", sf, qs, r) => time(_, sf, qs.split(",").toSeq, r.toInt)
      case Array("plan", sf, out, qs) => plan(_, sf, out, qs.split(",").toSeq)
      case _ =>
        System.err.println("usage: graft.Probe time <sfDir> <q1>[,<q2>...] [repeats]\n" +
          "       graft.Probe plan <sfDir> <outDir> <q1>[,<q2>...]")
        sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-probe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16 * 1024 * 1024).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      // same untimed warm-up as Bench
      try graft.spark.EncodePipeline.encode(
          graft.spark.TokenTableGen.generate(spark, 2000, 4), 4)
        .agg(org.apache.spark.sql.functions.sum("num_tokens")).collect()
      catch { case e: Exception => System.err.println(s"warm-up failed: $e") }
      run(spark)
    } finally spark.stop()
  }
}
