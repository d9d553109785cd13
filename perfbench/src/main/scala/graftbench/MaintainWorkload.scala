package graftbench

import graft.spark.{EncodePipeline, SnapshotLog, TokenTableGen}
import graft.streaming.StreamingEncode
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** `maintain`: keep a snapshot table up to date. Every cycle starts from a
  * copy of the same base snapshot and runs, in a fixed order, micro-batch
  * appends (each an `encode` over bounds shared by all appends, an append
  * write and a `SnapshotLog.commit`), a `deleteWhere`, an `upsert`, a
  * `compactTable`, and after each of those three a merge-on-read `readRows`
  * count; the compacted table is then scanned and checked in full.
  * Per-job overhead, manifest commits, merge-on-read and compaction
  * dominate; the codec kernels barely register. Resetting the table each
  * cycle keeps the table size and the version count the same in every
  * cycle, so a run's figures do not depend on how many cycles fit in it.
  *
  * Appends do not go through `StreamingEncode.writeBatch`: it encodes a
  * micro-batch in arrival order, so its chunks' first/last doc_id are not
  * their key range, and `compactTable` then passes chunks holding deleted
  * or replaced rows through untouched. The traced run still times
  * `writeBatch` on its own (`streaming.write_batch_p50_ms`). */
final class MaintainWorkload(ctx: Ctx) extends Workload {
  import ctx._
  import spark.implicits._

  final val AppendsPerCycle = 4
  private val baseRows = Sizes.MaintainBaseRows
  private val appendRows = Sizes.AppendRows
  final val UpsertRows = 500
  final val DeleteRows = 200
  /** Full scans of each compacted table; few cycles fit in a run. */
  final val ScansPerCheck = 5

  /** Row index space: the seed's block, base rows first, then every row
    * appended or upserted in any cycle. */
  private val first = cfg.seed * 100000000L
  private var next = first + baseRows
  private val base = path("maintain-base")
  private val work = path("maintain-work")
  private val rng = new scala.util.Random(cfg.seed)

  /** Generator indices of the live rows and their digest. */
  private var live = mutable.ArrayBuffer.empty[Long]
  private var liveSum = Truth.Empty
  private var baseSum = Truth.Empty
  private val appendTokPerS = mutable.ArrayBuffer.empty[Double]
  /** (version committed, commit ms) of every timed append. */
  private val commits = mutable.ArrayBuffer.empty[(Int, Double)]
  /** (deletes in effect, files in snapshot, ms) of every timed readRows. */
  private val reads = mutable.ArrayBuffer.empty[(Boolean, Int, Double)]
  private val rewrittenRatio = mutable.ArrayBuffer.empty[Double]
  private val bytesPerTok = mutable.ArrayBuffer.empty[Double]
  private val scanTokPerS = mutable.ArrayBuffer.empty[Double]

  def minCycles: Int = 1

  def opKinds: Seq[String] = Seq("append", "upsert", "delete", "snapshot_read", "compact", "check_scan")

  /** Range bounds of the base table, shared by every append. */
  private var bounds: Array[String] = _

  private def appendBatch(firstRow: Long, n: Long): Unit =
    EncodePipeline.encode(Gen.rows(spark, firstRow, n, cfg.cores), cfg.cores, boundsOverride = Some(bounds))
      .write.mode("append").option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$work/chunks")

  def setup(rep: Int): Unit = {
    rmrf(work)
    rmrf(base)
    val rows = Gen.rows(spark, first, baseRows, cfg.cores)
    bounds = EncodePipeline.massBalancedBounds(rows, cfg.cores)
    EncodePipeline.encode(rows, cfg.cores, boundsOverride = Some(bounds))
      .write.option("compression", EncodePipeline.ChunkTableCompression).parquet(s"$work/chunks")
    SnapshotLog.commit(spark, work, "append")
    new java.io.File(work).renameTo(new java.io.File(base))
  }

  /** A short cycle (one append, small upsert and delete) warms every path. */
  def warmup(): Unit = {
    baseSum = Truth.table(first, baseRows, cfg.cores)
    epoch(appends = 1, upsertRows = 20, deleteRows = 20, scans = 1)
  }

  def cycle(i: Int): Unit = epoch(AppendsPerCycle, UpsertRows, DeleteRows, ScansPerCheck)

  private def add(i: Long): Unit = { live += i; liveSum = liveSum + Truth.sumOf(TokenTableGen.genRow(i)) }

  private def remove(idx: Set[Long]): Unit = {
    live = live.filterNot(idx)
    idx.foreach { i =>
      val s = Truth.sumOf(TokenTableGen.genRow(i))
      liveSum = Truth.TableSum(liveSum.rows - 1, liveSum.tokens - s.tokens,
        liveSum.rowXor ^ s.rowXor, liveSum.docXor ^ s.docXor)
    }
  }

  private def current = SnapshotLog.snapshot(spark, work, SnapshotLog.currentVersion(spark, work).get)

  private def readCount(): Unit = {
    val expected = liveSum.rows
    val snap = current
    val ms = ops.runChecked("snapshot_read")(SnapshotLog.readRows(spark, work).count())(
      _ == expected, n => s"readRows count $n, expected $expected")
    if (ops.measuring) reads += ((snap.deletes.nonEmpty, snap.numFiles, ms))
  }

  /** (crc32, enc_bytes) of the chunks of the current snapshot. */
  private def chunkCrcs(): Array[(Long, Long)] =
    SnapshotLog.readChunks(spark, work).select("crc32", "enc_bytes").as[(Long, Long)].collect()

  private def epoch(appends: Int, upsertRows: Int, deleteRows: Int, scans: Int): Unit = {
    rmrf(work)
    org.apache.commons.io.FileUtils.copyDirectory(new java.io.File(base), new java.io.File(work))
    live = mutable.ArrayBuffer.range(first, first + baseRows)
    liveSum = baseSum

    (1 to appends).foreach { _ =>
      val lo = next
      next += appendRows
      val (res, ms) = ops.run("append") {
        trace.span("spark.pipeline", "spark.pipeline.append_write")(appendBatch(lo, appendRows))
        val t0 = System.nanoTime()
        val v = trace.span("spark.snapshot", "spark.snapshot.commit")(SnapshotLog.commit(spark, work, "append"))
        (v, (System.nanoTime() - t0) / 1e6)
      }
      res.foreach(c => if (ops.measuring) commits += c)
      if (res.isDefined) {
        val before = liveSum.tokens
        (lo until lo + appendRows).foreach(add)
        if (ops.measuring) appendTokPerS += (liveSum.tokens - before) / (ms / 1e3)
      }
    }

    val victims = rng.shuffle(live.toIndexedSeq).take(deleteRows).toSet
    val victimIds = victims.toSeq.map(v => TokenTableGen.genRow(v).doc_id)
    ops.run("delete")(SnapshotLog.deleteWhere(spark, work, col("doc_id").isin(victimIds: _*)))
      ._1.foreach(_ => remove(victims))
    readCount()

    val replaced = rng.shuffle(live.toIndexedSeq).take(upsertRows / 2)
    val fresh = next until next + upsertRows / 2
    next += upsertRows / 2
    val upsertIdx = (replaced ++ fresh).sorted
    ops.run("upsert") {
      SnapshotLog.upsert(spark, work,
        spark.createDataset(upsertIdx).repartition(cfg.cores).map(TokenTableGen.genRow), numParts = cfg.cores)
    }._1.foreach(_ => fresh.foreach(add))
    readCount()

    val before = if (cfg.trace) chunkCrcs().map(_._1).toSet else Set.empty[Long]
    ops.run("compact")(SnapshotLog.compactTable(spark, work))
    if (cfg.trace && ops.measuring) {
      val after = chunkCrcs()
      rewrittenRatio += after.filterNot(c => before(c._1)).map(_._2).sum.toDouble / after.map(_._2).sum
    }
    readCount()
    val chunks = SnapshotLog.readChunks(spark, work).as[graft.spark.EncodedChunk]
    (1 to scans).foreach { _ =>
      val scanMs = Checks.scan(ctx, "check_scan", chunks, liveSum)
      if (ops.measuring) scanTokPerS += liveSum.tokens / (scanMs / 1e3)
    }
    if (ops.measuring) bytesPerTok += current.bytes.toDouble / liveSum.tokens
  }

  def report(): Unit = {
    val lat = ops.latencies _
    ctx.e2e("ingest_tokens_per_s", Stats.median(appendTokPerS.toSeq), "1/s")
    ctx.e2e("stored_bytes_per_token", Stats.median(bytesPerTok.toSeq), "B/token")
    ctx.e2e("scan_tokens_per_s", Stats.median(scanTokPerS.toSeq), "1/s")
    layer("op.append_p50_ms", Stats.median(lat("append")), "ms")
    layer("op.append_p90_ms", Stats.pct(lat("append"), 0.9), "ms")
    layer("op.append_n", lat("append").size, "count")
    layer("op.snapshot_read_p50_ms", Stats.median(lat("snapshot_read")), "ms")
    layer("op.compact_s", Stats.median(lat("compact")) / 1e3, "s")
  }

  def layers(): Unit = {
    val commitMs = commits.map(_._2).toSeq
    layer("spark.snapshot.commit_p50_ms", Stats.median(commitMs), "ms")
    layer("spark.snapshot.commit_p90_ms", Stats.pct(commitMs, 0.9), "ms")
    // least-squares slope of commit time over the version committed
    val (vs, ms) = (commits.map(_._1.toDouble), commits.map(_._2))
    val (mv, mm) = (vs.sum / vs.size, ms.sum / ms.size)
    val den = vs.map(v => (v - mv) * (v - mv)).sum
    layer("spark.snapshot.commit_ms_per_version",
      if (den == 0) 0.0 else vs.zip(ms).map { case (v, m) => (v - mv) * (m - mm) }.sum / den, "ms")
    Seq(false -> "no_deletes", true -> "with_deletes").foreach { case (d, n) =>
      val v = reads.filter(_._1 == d).map(_._3).toSeq
      layer(s"spark.snapshot.read_ms.$n", if (v.isEmpty) 0.0 else Stats.median(v), "ms")
    }
    layer("spark.snapshot.files_per_snapshot", Stats.median(reads.map(_._2.toDouble).toSeq), "count")
    layer("spark.snapshot.upsert_ms", Stats.median(ops.latencies("upsert")), "ms")
    layer("spark.snapshot.delete_ms", Stats.median(ops.latencies("delete")), "ms")
    layer("spark.snapshot.compact_rewritten_bytes_ratio", Stats.median(rewrittenRatio.toSeq), "ratio")

    // writeBatch on its own: micro-batches into a directory of their own
    val dir = path("stream-batches")
    val batchMs = (1 to 5).map { b =>
      val lo = next
      next += appendRows
      val t0 = System.nanoTime()
      trace.span("streaming", "streaming.write_batch")(StreamingEncode.writeBatch(
        Gen.rows(spark, lo, appendRows, cfg.cores), b.toLong, dir,
        EncodePipeline.DefaultTokensPerChunk, graft.codec.BlockCompression.None))
      (System.nanoTime() - t0) / 1e6
    }
    layer("streaming.write_batch_p50_ms", Stats.median(batchMs.drop(1)), "ms")
    rmrf(dir)
    CodecLayer.measure(ctx, first, CodecLayer.SliceRows,
      SnapshotLog.readChunks(spark, work).as[graft.spark.EncodedChunk])
  }
}
