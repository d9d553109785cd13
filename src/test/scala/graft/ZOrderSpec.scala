package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Morton-curve clustering: bit-spread correctness against a plain
  * reference interleave, and the actual 2-D pruning win over a linear
  * sort on the same data + box predicate. */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** Reference interleave: place bit j of each input at position
    * j * ndims + i. */
  private def refInterleave(vals: Seq[Long], bits: Int): Long = {
    var z = 0L
    for (i <- vals.indices; j <- 0 until bits)
      z |= ((vals(i) >> j) & 1L) << (j * vals.size + i)
    z
  }

  test("spread2/spread3 match the reference bit interleave") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pairs = Seq.fill(200)((rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL))
    val got2 = pairs.toDF("a", "b")
      .select(ZOrder.spread2(col("a")).bitwiseOR(shiftleft(ZOrder.spread2(col("b")), 1)))
      .as[Long].collect()
    pairs.zip(got2).foreach { case ((a, b), z) =>
      assert(z == refInterleave(Seq(a, b), 32), s"2-dim interleave of ($a, $b)")
    }
    val triples = Seq.fill(200)((rnd.nextLong() & 0x1FFFFFL, rnd.nextLong() & 0x1FFFFFL,
      rnd.nextLong() & 0x1FFFFFL))
    val got3 = triples.toDF("a", "b", "c")
      .select(ZOrder.spread3(col("a"))
        .bitwiseOR(shiftleft(ZOrder.spread3(col("b")), 1))
        .bitwiseOR(shiftleft(ZOrder.spread3(col("c")), 2)))
      .as[Long].collect()
    triples.zip(got3).foreach { case ((a, b, c), z) =>
      assert(z == refInterleave(Seq(a, b, c), 21), s"3-dim interleave of ($a, $b, $c)")
    }
  }

  test("z-clustered layout prunes a 2-D box on BOTH dims; linear sort only on one") {
    // a TRUE 200x200 grid, one row per cell (x = id mod 200 sweeps within
    // each y = id div 200 row; a modular-arithmetic "scramble" of both
    // coords would make y a pure function of x — both would depend only
    // on id mod 200 — degenerating the grid to a diagonal)
    val grid = spark.range(40000).select(
      (col("id") % 200).as("x"),
      (col("id") / 200).cast("long").as("y"),
      (col("id") * 3).as("payload"))

    def kept(chunks: org.apache.spark.sql.Dataset[GenericChunk],
             dims: (String, Long, Long)*): Long =
      GenericEncode.prune(chunks,
        dims.map { case (d, lo, hi) => col(d).between(lo, hi) }.reduce(_ && _)).count()

    // 256-row chunks: a linear-on-x chunk spans ~1.3 x-values but ALL of
    // y, so its y stats are vacuous; a z-ordered chunk is a ~16x16 curve
    // tile, tight on both
    val zChunks = GenericEncode.encode(
      ZOrder.cluster(grid, Seq("x", "y"), numParts = 4), rowsPerChunk = 256)
    val linChunks = GenericEncode.encode(
      grid.repartitionByRange(4, col("x")).sortWithinPartitions("x", "y"),
      rowsPerChunk = 256)

    val total = zChunks.count()
    // 20x20 box = 1% of the area: linear keeps ~10% of chunks (its x
    // span), z-order a small multiple of the 1% area fraction
    val zBox = kept(zChunks, ("x", 50L, 69L), ("y", 50L, 69L))
    val linBox = kept(linChunks, ("x", 50L, 69L), ("y", 50L, 69L))
    assert(zBox * 2 <= linBox, s"box: z-order kept $zBox of $total, linear $linBox")
    assert(zBox <= total / 10, s"box: z-order kept $zBox of $total chunks")
    // y-only band: the linear layout cannot prune AT ALL (every chunk
    // holds the full y range); z-order still prunes to ~the band fraction
    val zBand = kept(zChunks, ("y", 50L, 69L))
    val linBand = kept(linChunks, ("y", 50L, 69L))
    assert(linBand >= (total * 9) / 10, s"band: linear layout kept $linBand of $total")
    assert(zBand * 3 <= linBand, s"band: z-order kept $zBand of $total, linear $linBand")

    // correctness: decoded box contents identical for both layouts
    def box(chunks: org.apache.spark.sql.Dataset[GenericChunk]): Array[(Long, Long, Long)] = {
      import spark.implicits._
      GenericEncode.decode(spark, chunks, Seq("x", "y", "payload"))
        .filter(col("x").between(50, 69) && col("y").between(50, 69))
        .as[(Long, Long, Long)].collect().sorted
    }
    assert(box(zChunks).sameElements(box(linChunks)))
  }

  test("cluster preserves rows exactly (multiset identity, degenerate spans)") {
    import spark.implicits._
    val df = spark.range(5000).select(
      (col("id") % 97).as("a"), lit(7L).as("b"), col("id").as("v"))
    val back = ZOrder.cluster(df, Seq("a", "b"), numParts = 3)
      .as[(Long, Long, Long)].collect().sorted
    val src = df.as[(Long, Long, Long)].collect().sorted
    assert(back.sameElements(src))
  }
}
