package graft

import graft.spark._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Compaction's one-pass sweep plan and its sub-parts: an overlap group far
  * larger than a chunk is cut at chunk starts and re-encoded by several
  * tasks, with the same rows, in disjoint globally ordered chunks. */
class CompactionSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val TokensPerChunk = 1024

  private def doc(i: Int, suffix: String = "") = f"doc/$i%06d$suffix"
  private def row(i: Int, suffix: String = "") =
    TokenRow(doc(i, suffix), Array.tabulate(16)(k => i * 31 + k), 16, "web")

  /** `f`'s result and, per stage, the shuffle records each task read. */
  private def shuffleReads[T](f: => T): (T, Map[Int, Seq[Long]]) = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          tasks.add((t.stageId, t.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    ColumnBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val r =
      try f
      finally {
        ColumnBridge.drainListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    (r, tasks.toArray(Array.empty[(Int, Long)]).toSeq.groupBy(_._1).map {
      case (s, ts) => s -> ts.map(_._2)
    })
  }

  /** Base data of 10 × TokensPerChunk in 10 disjoint chunks (run 0), and
    * one chunk spanning all of it (run 1): 20 rows, five of them exact
    * copies of base rows, fifteen new. Together they are one overlap
    * group. */
  private lazy val runs: (String, Seq[TokenRow], Seq[TokenRow]) = {
    import spark.implicits._
    val base = (0 until 640).map(row(_))
    val spanning = (0 until 640 by 32).map(i => if (i % 128 == 0) row(i) else row(i, "-x"))
    val dir = tmpDir("compact-subparts")
    EncodePipeline.encode(base.toDS(), 1, tokensPerChunk = TokensPerChunk)
      .write.parquet(s"$dir/run0")
    EncodePipeline.encode(spanning.toDS(), 1, tokensPerChunk = TokensPerChunk)
      .write.parquet(s"$dir/run1")
    (dir, base, spanning)
  }

  private def chunkFrame(dir: String): DataFrame =
    Seq(0, 1).map(r => spark.read.parquet(s"$dir/run$r").withColumn("run", lit(r)))
      .reduce(_ unionByName _)

  private def norm(rs: Seq[TokenRow]): Seq[(String, Seq[Int], Int, String)] =
    rs.map(r => (r.doc_id, r.tokens.toSeq, r.n_tok, r.source)).sortBy(r => (r._1, r._2.sum))

  /** The chunks of `out` in chunk_id order have sorted, disjoint key
    * ranges (`strict`: no doc_id in two chunks). */
  private def assertOrdered(out: DataFrame, strict: Boolean): Unit = {
    val ranges = out.select("chunk_id", "first_doc_id", "last_doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    ranges.foreach { case (_, a, b) => assert(a <= b) }
    ranges.sliding(2).foreach {
      case Array((_, _, aLast), (_, bFirst, _)) =>
        assert(if (strict) aLast < bFirst else aLast <= bFirst, s"$aLast then $bFirst")
      case _ =>
    }
  }

  test("one key-spanning chunk over 10 chunks of base data re-encodes in several tasks") {
    import spark.implicits._
    val (dir, base, spanning) = runs
    assert(base.map(_.n_tok.toLong).sum >= 8L * TokensPerChunk)
    for (dedupe <- Seq(false, true)) {
      val (out, reads) = shuffleReads(EncodePipeline.compactRuns(spark, chunkFrame(dir),
        s"$dir/out-$dedupe", TokensPerChunk, dedupe, None).cache())
      // the re-encode stage: the stage whose tasks read the decoded rows
      val reencode = reads.values.maxBy(_.count(_ > 0))
      assert(reencode.count(_ > 0) >= 2, s"re-encode tasks' records: $reads")
      assert(reencode.sum == base.length + spanning.length, s"re-encode tasks' records: $reads")
      assert(out.select("part_id").distinct().count() >= 2)
      assertOrdered(out, strict = dedupe)
      val want = if (dedupe) (base ++ spanning).groupBy(_.doc_id).values.map(_.head).toSeq
                 else base ++ spanning
      val got = EncodePipeline.decodeDF(out.as[EncodedChunk]).as[TokenRow].collect().toSeq
      assert(norm(got) == norm(want), s"dedupe $dedupe")
      out.unpersist()
    }
  }

  test("cut groups keep sequence-scoped deletes and dedupe exact") {
    import spark.implicits._
    val (dir, base, spanning) = runs
    // run 0 added at version 1, run 1 at 3; deletes at 2 hide run 0's rows
    // only, deletes at 4 hide both runs' rows
    val added = Map(0 -> 1, 1 -> 3)
    val at2 = base.map(_.doc_id).filter(_.hashCode % 5 == 0) :+ spanning(3).doc_id
    val at4 = base.map(_.doc_id).filter(_.hashCode % 7 == 1) :+ spanning.head.doc_id
    val deletes = (at2.map((_, 2)) ++ at4.map((_, 4))).toDF("doc_id", "del_seq")
    def live(r: TokenRow, run: Int): Boolean =
      !(at4.contains(r.doc_id) || (added(run) < 2 && at2.contains(r.doc_id)))
    for (dedupe <- Seq(false, true)) {
      val out = EncodePipeline.compactRuns(spark, chunkFrame(dir), s"$dir/del-$dedupe",
        TokensPerChunk, dedupe, Some(deletes), added).cache()
      val kept = base.filter(live(_, 0)) ++ spanning.filter(live(_, 1))
      val want = if (dedupe) kept.groupBy(_.doc_id).values.map(_.head).toSeq else kept
      val got = EncodePipeline.decodeDF(out.as[EncodedChunk]).as[TokenRow].collect().toSeq
      assert(norm(got) == norm(want), s"dedupe $dedupe")
      assert(out.select("part_id").distinct().count() >= 2)
      assertOrdered(out, strict = dedupe)
      out.unpersist()
    }
  }

  test("the sweep's dirty flags equal a per-chunk check over four delete classes") {
    val rng = new scala.util.Random(11)
    // 300 disjoint chunks over 6 runs: each chunk is its own group, so it
    // is re-encoded exactly when it is dirty
    val chunks = (0 until 300).map { c =>
      val first = c * 100 + rng.nextInt(20)
      (c % 6, c.toLong, doc(first), doc(first + rng.nextInt(80)))
    }
    val added = (0 until 6).map(r => r -> (r * 2 + 1)).toMap // versions 1, 3, ..., 11
    val deletes = Seq(2, 5, 8, 12).flatMap(s =>
      Seq.fill(40)(doc(rng.nextInt(30000))).map((_, s)))
    import spark.implicits._
    val dels = spark.sparkContext.broadcast(
      CompactionDeletes.collect(Some(deletes.toDF("doc_id", "del_seq"))))
    val sweep = new CompactionSweep(None, TokensPerChunk, 4, added, dels)
    val meta = chunks.sortBy(c => (c._3, c._1, c._2)).iterator.map { case (run, id, a, b) =>
      InternalRow(run, id, UTF8String.fromString(a), UTF8String.fromString(b), 10L)
    }
    val plan = sweep.plan(meta).toSeq
    val flags = plan.filter(_.getInt(0) >= 0).map(r => (r.getInt(0), r.getLong(1)) -> r.getBoolean(3)).toMap
    val brute = chunks.map { case (run, id, a, b) =>
      (run, id) -> deletes.exists { case (d, s) => s > added(run) && a <= d && d <= b }
    }.toMap
    assert(flags == brute)
    assert(brute.values.count(identity) > 10 && brute.values.count(!_) > 10, brute)
    // summary: no cuts (singletons), one part per dirty chunk, 300 groups
    val summary = plan.last
    assert(summary.getInt(0) == -1 && summary.getInt(2) == 300)
    assert(summary.getLong(1) == brute.values.count(identity) && summary.getArray(4).numElements() == 0)
  }

  test("a second compactTable on a same-shaped snapshot at later versions compiles no class") {
    import spark.implicits._
    val rows = TokenTableGen.generate(spark, 600, 4).collect()
    /** A table of a base, an append, a delete and an upsert, after `skip`
      * commits that add nothing (they shift every version). */
    def table(tag: String, skip: Int): String = {
      val dir = s"${tmpDir(s"compact-codegen-$tag")}/t"
      def write(rs: Seq[TokenRow]): Unit =
        EncodePipeline.encode(rs.toDS(), numParts = 2, tokensPerChunk = 4096)
          .write.mode("append").option("compression", EncodePipeline.ChunkTableCompression)
          .parquet(s"$dir/chunks")
      write(rows.take(400).toSeq)
      SnapshotLog.commit(spark, dir, "append")
      (0 until skip).foreach(_ => SnapshotLog.commit(spark, dir, "append"))
      write(rows.drop(400).toSeq)
      SnapshotLog.commit(spark, dir, "append")
      SnapshotLog.deleteWhere(spark, dir, col("doc_id").isin(rows.take(5).map(_.doc_id): _*))
      SnapshotLog.upsert(spark, dir, rows.slice(100, 130).map(_.copy(source = "UPD")).toSeq.toDS())
      dir
    }
    val (first, second) = (table("a", 0), table("b", 3))
    assert(SnapshotLog.currentVersion(spark, second).get ==
      SnapshotLog.currentVersion(spark, first).get + 3)
    val want = SnapshotLog.readRows(spark, second).map(r => (r.doc_id, r.source)).collect().sorted
    SnapshotLog.compactTable(spark, first, tokensPerChunk = 4096)
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    SnapshotLog.compactTable(spark, second, tokensPerChunk = 4096)
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    assert(n == 0, s"the second compaction compiled $n classes")
    assert(SnapshotLog.readRows(spark, second).map(r => (r.doc_id, r.source)).collect().sorted
      .toSeq == want.toSeq)
  }
}
