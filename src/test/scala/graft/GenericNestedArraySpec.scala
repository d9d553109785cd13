package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Repeated-group (array<struct>) coverage for the generic encoder: the
  * element struct shreds into parallel leaf arrays with 0/1 presence
  * arrays (the rep/def-level analog; reference column_buffer.go:421-454
  * encodes any repeated group) and decode rebuilds elements, null
  * elements, null inner structs, and null arrays exactly. */
class GenericNestedArraySpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark


  private def srcDf = spark.range(2000).select(
    col("id").cast("int").as("k"),
    // nullable array of nullable struct elements with a nullable inner
    // struct — every presence level exercised
    when(col("id") % 13 === 0, lit(null)).otherwise(
      expr("""transform(filter(sequence(1, 3), i -> i <= id % 4),
             |  i -> CASE WHEN i = 3 THEN NULL ELSE named_struct(
             |    'off', id * 10 + i,
             |    'tag', CASE WHEN i = 2 THEN NULL
             |           ELSE concat('t', CAST(i AS STRING)) END,
             |    'meta', CASE WHEN i = 2 THEN NULL
             |            ELSE named_struct('w', CAST(i * 2 AS INT),
             |                              'v', CAST(id AS DOUBLE) / 4) END)
             |  END)""".stripMargin)).as("spans"))

  test("array<struct> round-trips exactly, incl. null array/element/inner") {
    val df = srcDf.coalesce(2)
    val dir = tmpDir("arrstruct")
    GenericEncode.encodeWrite(df, s"$dir/t", rowsPerChunk = 256)
    val back = GenericEncode.readTable(spark, s"$dir/t")
    assert(back.schema("spans").dataType == df.schema("spans").dataType ||
      back.schema("spans").dataType.simpleString == df.schema("spans").dataType.simpleString,
      s"schema: ${back.schema("spans").dataType.simpleString}")
    val want = df.orderBy("k").collect()
    val got = back.orderBy("k").collect()
    assert(got.length == want.length)
    want.zip(got).foreach { case (w, g) => assert(w == g, s"row k=${w.get(0)}") }
  }

  test("explode over the decoded repeated group matches the source explode") {
    val df = srcDf
    val dir = tmpDir("arrstruct-x")
    GenericEncode.encodeWrite(df, s"$dir/t", rowsPerChunk = 512)
    def flat(d: org.apache.spark.sql.DataFrame) = d
      .select(col("k"), posexplode_outer(col("spans")))
      .select(col("k"), col("pos"), col("col.off").as("off"),
        col("col.tag").as("tag"), col("col.meta.w").as("w"))
      .orderBy("k", "pos").collect()
    val want = flat(df)
    val got = flat(GenericEncode.readTable(spark, s"$dir/t"))
    assert(got.length == want.length)
    want.zip(got).foreach { case (w, g) => assert(w == g, s"row ${w.get(0)}/${w.get(1)}") }
  }

  test("struct containing an array<struct> field nests correctly") {
    val df = spark.range(500).select(
      col("id").cast("int").as("k"),
      struct(
        col("id").as("n"),
        expr("transform(sequence(0, CAST(id % 3 AS INT)), i -> named_struct('a', i * 1))")
          .as("items")).as("wrap"))
    val dir = tmpDir("arrstruct-n")
    GenericEncode.encodeWrite(df, s"$dir/t", rowsPerChunk = 128)
    val got = GenericEncode.readTable(spark, s"$dir/t").orderBy("k").collect()
    val want = df.orderBy("k").collect()
    assert(got.length == want.length)
    want.zip(got).foreach { case (w, g) => assert(w == g, s"row k=${w.get(0)}") }
  }

  test("reserved struct field name 'defined' fails loudly") {
    val df = spark.range(5).select(
      struct(col("id").as("defined"), col("id").as("x")).as("s"))
    val ex = intercept[IllegalArgumentException](GenericEncode.encode(df))
    assert(ex.getMessage.contains("reserved"))
  }

  test("unsupported array<struct> leaf types fail loudly") {
    val df = spark.range(10).select(
      expr("array(named_struct('ts', current_timestamp()))").as("bad"))
    val ex = intercept[IllegalArgumentException](GenericEncode.encode(df))
    assert(ex.getMessage.contains("array<struct> leaf"))
  }
}
