package graft

import graft.queries.SimilarityOps
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ANN index quality + layout: the full exact-vs-ANN recall comparison
  * (moved out of the query hot path — the queries keep an O(1) planted-
  * needle gate) and the directory-partitioned index layout. Runs on a
  * self-synthesized embeddings table, no external data. */
class SimilaritySpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Deterministic 64-dim embeddings parquet in a temp dir shaped like
    * the driver's table (vec_id, embedding: array<float>). */
  private lazy val dir: String = {
    val d = tmpDir("simspec")
    val df = spark.range(600).select(
      col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        j => sin(col("id") * 31 + j * 7).cast("float")).as("embedding"))
    df.coalesce(2).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
    d
  }

  test("LSH and IVF ANN achieve full recall@20 vs the exact top-20") {
    val (lshFound, n1) = SimilarityOps.fullRecallAt20(spark, dir,
      SimilarityOps.lshAnn(spark, dir))
    assert(lshFound == n1, s"LSH recall $lshFound/$n1")
    val (ivfFound, n2) = SimilarityOps.fullRecallAt20(spark, dir,
      SimilarityOps.ivfAnn(spark, dir))
    assert(ivfFound == n2, s"IVF recall $ivfFound/$n2")
  }

  test("IVF recall-vs-nprobe sweep: full recall at every depth, constant default") {
    // On the needle corpus recall@20 is 1.0 from nprobe=1 up (needles are
    // scaling-invariant, so they share the query's cell); the sweep keeps
    // the curve visible so a future layout change that breaks cell
    // assignment fails loudly at the smallest depth it affects.
    for (nprobe <- Seq(1, 2, 4, 8)) {
      val (found, n) = SimilarityOps.fullRecallAt20(spark, dir,
        SimilarityOps.ivfAnn(spark, dir, nprobe))
      assert(found == n, s"IVF recall $found/$n at nprobe=$nprobe")
    }
  }

  test("IVF-PQ ANN achieves full recall@20 vs the exact top-20") {
    val (found, n) = SimilarityOps.fullRecallAt20(spark, dir,
      SimilarityOps.ivfPqAnn(spark, dir))
    assert(found == n, s"IVF-PQ recall $found/$n")
  }

  test("int8 quantization is scale-invariant and tracks true cosine") {
    val r = new java.util.Random(7)
    for (_ <- 1 to 100) {
      val v = Array.fill(64)(r.nextGaussian().toFloat)
      val c = 0.01f + r.nextFloat() * 100f
      val (qv, _) = SimilarityOps.quantize(v)
      val (qs, _) = SimilarityOps.quantize(v.map(_ * c))
      // per-vector scaling divides out of the quantization up to float
      // rounding (a 1-ulp .5-boundary flip can nudge a byte), so the
      // quantized cosine of a scale-copy is ~1 — far above any natural
      // pair, which is all the coarse pass needs
      assert(SimilarityOps.q8Cosine(qv, qs) >= 0.999)
      // and quantized cosine approximates the true cosine closely
      val w = Array.fill(64)(r.nextGaussian().toFloat)
      val (qw, _) = SimilarityOps.quantize(w)
      val trueCos = {
        var d = 0.0; var nv = 0.0; var nw = 0.0
        for (i <- 0 until 64) {
          d += v(i).toDouble * w(i); nv += v(i).toDouble * v(i); nw += w(i).toDouble * w(i)
        }
        d / math.sqrt(nv * nw)
      }
      assert(math.abs(SimilarityOps.q8Cosine(qv, qw) - trueCos) < 0.02,
        s"q8 ${SimilarityOps.q8Cosine(qv, qw)} vs $trueCos")
    }
  }

  test("quantized IVF achieves full recall@20 via coarse int8 + exact rerank") {
    val (found, n) = SimilarityOps.fullRecallAt20(spark, dir,
      SimilarityOps.ivfAnnQuantized(spark, dir))
    assert(found == n, s"quantized IVF recall $found/$n")
  }

  test("IVF probe reads at most nprobe cell directories") {
    import spark.implicits._
    val (assignPath, _) = SimilarityOps.ensureIvfIndex(spark, dir)
    // k ≈ √(600+30) ≈ 26 cells; a default probe must touch ≤ 8 of them.
    // input_file_name() is public API and reflects partition pruning —
    // parse cell= from each scanned file's path.
    val nprobe = 8
    val probed = SimilarityOps.ivfAnn(spark, dir, nprobe)
    probed.collect() // force execution (ivfAnn already collects internally)
    // only populated cells materialize a directory; Lloyd on this tiny
    // synthetic corpus concentrates mass in a handful of cells
    val allCells = new java.io.File(assignPath).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(_.getName.stripPrefix("cell=").toInt).sorted
    assert(allCells.length >= 3, s"expected >=3 populated cell dirs, got ${allCells.length}")
    // probe a 2-cell subset and assert the scan touches ONLY those dirs
    // (input_file_name() is public API and reflects partition pruning)
    val pick = allCells.take(2).toSet
    val cellsRead = spark.read.parquet(assignPath)
      .filter(col("cell").isin(pick.toSeq.map(Integer.valueOf): _*))
      .select(input_file_name().as("f")).distinct().as[String].collect()
      .flatMap(p => "cell=(\\d+)".r.findFirstMatchIn(p).map(_.group(1).toInt))
      .toSet
    assert(cellsRead == pick,
      s"scan touched cell dirs $cellsRead, expected exactly $pick")
  }

  test("LSH index is directory-partitioned and the probe prunes partitions") {
    val path = SimilarityOps.ensureLshIndex(spark, dir)
    // layout: one directory per (tbl, bucket-group)
    val root = new java.io.File(path)
    val tblDirs = root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("tbl="))
    assert(tblDirs.length == 8, s"expected 8 tbl= dirs, got ${tblDirs.length}")
    val grpDirs = tblDirs.flatMap(_.listFiles())
      .filter(f => f.isDirectory && f.getName.startsWith("bgrp="))
    assert(grpDirs.length > 8, "expected many bgrp= dirs")
    // a probe filter on the partition columns shows up as PartitionFilters
    // in the scan (directory pruning, not row-group stats)
    val probe = spark.read.parquet(path)
      .filter(col("tbl") === 0 && col("bgrp") === 5 && col("bucket") === 42)
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") &&
      (plan.contains("(tbl") || plan.contains("tbl#")), plan.take(2000))
  }
}
