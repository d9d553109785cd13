package graftbench

import graft.spark.{EncodePipeline, TokenRow}
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** `ingest`: bulk `encodeCheckpointed` of an unordered generated table,
  * held in Spark's memory cache, into a fresh directory. The range
  * exchange, the encode stage and the codec kernels do almost all the work;
  * the timed operation decodes nothing. Each output is then checked by
  * full decode scans (timed on their own as `check_scan`) against the
  * generator's digest. */
final class IngestWorkload(ctx: Ctx) extends Workload {
  import ctx._

  final val Rows = Sizes.IngestRows
  /** Full scans of each output; their median is the run's scan figure. */
  final val ScansPerCheck = 3
  private val first = cfg.seed * Rows
  private val numParts = cfg.cores
  private var input: Dataset[TokenRow] = _
  private var truth: Truth.TableSum = _

  private val tokPerS = ArrayBuffer.empty[Double]
  private val bytesPerTok = ArrayBuffer.empty[Double]
  private val scanTokPerS = ArrayBuffer.empty[Double]

  def opKinds: Seq[String] = Seq("ingest", "check_scan")

  def minCycles: Int = 2

  def setup(rep: Int): Unit = {
    if (input != null) input.unpersist(blocking = true)
    input = Gen.rows(spark, first, Rows, 2 * cfg.cores).persist(StorageLevel.MEMORY_ONLY)
    input.count()
  }

  /** One untimed full-size ingest and scan: a smaller ingest leaves the
    * first timed one still paying for JIT compilation. */
  def warmup(): Unit = {
    truth = Truth.table(first, Rows, cfg.cores)
    ingestAndCheck(-1, scans = 1)
  }

  def cycle(i: Int): Unit = ingestAndCheck(i, ScansPerCheck)

  private def ingestAndCheck(i: Int, scans: Int): Unit = {
    val out = path(s"ingest-out-$i")
    val (res, ms) = ops.run("ingest") {
      EncodePipeline.encodeCheckpointed(spark, input, numParts, out)
    }
    res.foreach { metrics =>
      val m = metrics.agg(sum("num_rows"), sum("num_tokens")).head()
      ops.check("ingest", m.getLong(0) == truth.rows && m.getLong(1) == truth.tokens,
        s"metrics table rows/tokens ${m.getLong(0)}/${m.getLong(1)}, expected ${truth.rows}/${truth.tokens}")
      if (ops.measuring) {
        tokPerS += truth.tokens / (ms / 1e3)
        bytesPerTok += parquetBytes(s"$out/chunks").toDouble / truth.tokens
      }
      (1 to scans).foreach { _ =>
        val scanMs = Checks.scan(ctx, "check_scan", Chunk.table(spark, s"$out/chunks"), truth)
        if (ops.measuring) scanTokPerS += truth.tokens / (scanMs / 1e3)
      }
    }
    rmrf(out)
  }

  def report(): Unit = {
    layer("op.ingest_s", Stats.median(ops.latencies("ingest")) / 1e3, "s")
    ctx.e2e("ingest_tokens_per_s", Stats.median(tokPerS.toSeq), "1/s")
    ctx.e2e("stored_bytes_per_token", Stats.median(bytesPerTok.toSeq), "B/token")
    ctx.e2e("scan_tokens_per_s", Stats.median(scanTokPerS.toSeq), "1/s")
  }

  def layers(): Unit = {
    // The same work as encodeCheckpointed, split into its public steps so
    // each step gets its own span: bounds, the range exchange, encode (sort
    // + kernels, materialized in memory), write, release, row index.
    val out = path("ingest-traced")
    val t0 = System.nanoTime()
    trace.span("op", "op.ingest_decomposed") {
      val bounds = trace.span("spark.pipeline", "spark.pipeline.bounds") {
        EncodePipeline.massBalancedBounds(input, numParts)
      }
      // building the encode plan already runs the range exchange's map side
      val chunks = trace.span("spark.pipeline", "spark.pipeline.exchange") {
        EncodePipeline.encode(input, numParts, boundsOverride = Some(bounds)).persist(StorageLevel.MEMORY_ONLY)
      }
      trace.span("spark.pipeline", "spark.pipeline.encode")(chunks.count())
      trace.span("spark.pipeline", "spark.pipeline.write") {
        chunks.write.mode("overwrite").option("compression", EncodePipeline.ChunkTableCompression)
          .partitionBy("part_id").parquet(s"$out/chunks")
      }
      trace.span("spark.pipeline", "spark.pipeline.release")(chunks.unpersist(blocking = true))
      trace.span("spark.pipeline", "spark.pipeline.index") {
        EncodePipeline.rowIndex(Chunk.table(spark, s"$out/chunks")).write.parquet(s"$out/row_index")
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val total = trace.totalSecondsByName
    val steps = Seq("bounds", "exchange", "encode", "write", "release", "index")
    steps.foreach(k => layer(s"spark.pipeline.${k}_s", total.getOrElse(s"spark.pipeline.$k", 0.0), "s"))
    layer("spark.pipeline.rest_s", wallS - steps.map(k => total.getOrElse(s"spark.pipeline.$k", 0.0)).sum, "s")
    layer("spark.pipeline.ingest_wall_s", wallS, "s")
    CodecLayer.measure(ctx, first, CodecLayer.SliceRows, Chunk.table(spark, s"$out/chunks"))
    rmrf(out)
  }
}
