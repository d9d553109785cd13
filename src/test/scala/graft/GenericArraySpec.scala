package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Generic-encoder array coverage: int64/double element types and
  * element-level nulls (the reference encodes ANY repeated leaf with full
  * rep/def-level null support — column_buffer.go:421-454), plus the
  * schema-evolving table merge (merge.go:20-72, convert.go:348-443). */
class GenericArraySpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark


  test("array<bigint> and array<double> round-trip (both decode paths)") {
    val df = spark.range(3000).select(
      col("id").cast("int").as("k"),
      array(col("id") * 1000000000L, col("id") * -7L,
        lit(Long.MaxValue) - col("id")).as("longs"),
      array(col("id") * 0.5, lit(math.Pi) * col("id"),
        lit(Double.MinPositiveValue)).as("dbls"))
      .coalesce(1).sortWithinPartitions("k")
    val dir = tmpDir("arr64")
    GenericEncode.encodeWrite(df, s"$dir/t", rowsPerChunk = 512)
    // columnar path
    val back = GenericEncode.readTable(spark, s"$dir/t").orderBy("k").collect()
    assert(back.length == 3000)
    val r = back(2999)
    assert(r.getSeq[Long](1) ==
      Seq(2999L * 1000000000L, 2999L * -7L, Long.MaxValue - 2999L))
    assert(r.getSeq[Double](2) == Seq(2999 * 0.5, math.Pi * 2999, Double.MinPositiveValue))
    // seek path (seekRows copies the covering rows out of the decoded batches)
    val seek = GenericEncode.seekRows(spark,
      GenericEncode.encode(df, rowsPerChunk = 512), 1000, 5)
      .collect().sortBy(_.getInt(0))
    assert(seek.length == 5 && seek.head.getInt(0) == 1000)
    assert(seek.head.getSeq[Long](1).head == 1000L * 1000000000L)
  }

  test("element nulls round-trip for every array element type") {
    val df = spark.range(2000).select(
      col("id").cast("int").as("k"),
      array(when(col("id") % 3 === 0, lit(null)).otherwise(col("id")).cast("int"),
        col("id").cast("int")).as("ai"),
      array(when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 10).cast("bigint"),
        lit(-1L)).as("al"),
      array(when(col("id") % 7 === 0, lit(null)).otherwise(col("id") * 0.25).cast("float"))
        .as("af"),
      array(when(col("id") % 2 === 0, lit(null)).otherwise(col("id") * 0.125).cast("double"),
        lit(2.5)).as("ad"),
      array(when(col("id") % 4 === 0, lit(null))
        .otherwise(concat(lit("s-"), col("id"))).cast("string"), lit("tail")).as("as"))
      .coalesce(1).sortWithinPartitions("k")
    val dir = tmpDir("arrnull")
    GenericEncode.encodeWrite(df, s"$dir/t", rowsPerChunk = 256)
    val back = GenericEncode.readTable(spark, s"$dir/t").orderBy("k")
    // spot-check null positions and values on both a null-bearing and a
    // dense row, via the columnar reader
    val rows = back.collect()
    assert(rows.length == 2000)
    val r0 = rows(0) // id 0: divisible by everything → nulls everywhere
    assert(r0.getSeq[Any](1) == Seq(null, 0))
    assert(r0.getSeq[Any](2) == Seq(null, -1L))
    assert(r0.getSeq[Any](3) == Seq(null))
    assert(r0.getSeq[Any](4) == Seq(null, 2.5))
    assert(r0.getSeq[Any](5) == Seq(null, "tail"))
    val r11 = rows(11) // 11 is coprime to 2,3,5,7 (and 11 % 4 != 0)
    assert(r11.getSeq[Any](1) == Seq(11, 11))
    assert(r11.getSeq[Any](2) == Seq(110L, -1L))
    assert(r11.getSeq[Any](3) == Seq(2.75f))
    assert(r11.getSeq[Any](4) == Seq(1.375, 2.5))
    assert(r11.getSeq[Any](5) == Seq("s-11", "tail"))
    // full-table parity with the source (null-safe)
    val diff = back.exceptAll(df).count() + df.exceptAll(back).count()
    assert(diff == 0, s"$diff rows differ after round-trip")
    // row path too
    val seek = GenericEncode.seekRows(spark,
      GenericEncode.encode(df, rowsPerChunk = 256), 0, 1)
      .collect()
    assert(seek.head.getSeq[Any](1) == Seq(null, 0))
  }

  test("mergeTables: reorder, null-fill, and widen across evolved schemas") {
    import spark.implicits._
    // v1 of the table: (doc_id int, score float, tag string)
    val v1 = spark.range(100).select(
      col("id").cast("int").as("doc_id"),
      (col("id") * 0.5).cast("float").as("score"),
      concat(lit("t"), col("id") % 3).as("tag"))
    // v2 adds a column, drops one, widens two: (doc_id bigint, score
    // double, extra int) — columns also arrive in a different order
    val v2 = spark.range(100, 160).select(
      (col("id") * 2).cast("int").as("extra"),
      col("id").cast("bigint").as("doc_id"),
      (col("id") * 0.5).cast("double").as("score"))
    val d1 = tmpDir("ev1"); val d2 = tmpDir("ev2"); val out = tmpDir("evout")
    GenericEncode.encodeWrite(v1, s"$d1/t")
    GenericEncode.encodeWrite(v2, s"$d2/t")
    val merged = GenericEncode.mergeTables(spark, Seq(s"$d1/t", s"$d2/t"), s"$out/t")
    // union schema: first-appearance order, widened, evolution-nullable
    assert(merged.schema.fieldNames.toSeq == Seq("doc_id", "score", "tag", "extra"))
    assert(merged.schema("doc_id").dataType.simpleString == "bigint")
    assert(merged.schema("score").dataType.simpleString == "double")
    assert(merged.count() == 160)
    val rows = merged.orderBy("doc_id").collect()
    assert(rows(0).getLong(0) == 0L && rows(0).getString(2) == "t0" &&
      rows(0).isNullAt(3))
    assert(rows(159).getLong(0) == 159L && rows(159).isNullAt(2) &&
      rows(159).getInt(3) == 318)
    // float rows widened exactly (0.5 steps are float-exact)
    assert(rows(7).getDouble(1) == 3.5)
    // incompatible same-name types fail loudly, not coerce silently
    val bad = spark.range(5).select(col("id").cast("bigint").as("score"))
    val d3 = tmpDir("ev3")
    GenericEncode.encodeWrite(bad.toDF(), s"$d3/t")
    val ex = intercept[Exception] {
      GenericEncode.mergeTables(spark, Seq(s"$d1/t", s"$d3/t"), tmpDir("evx") + "/t")
    }
    assert(ex.getMessage.contains("incompatible"), ex.getMessage)
  }
}
