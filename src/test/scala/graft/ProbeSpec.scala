package graft

import graft.spark.{EncodePipeline, TokenTableGen}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ScalaUDF}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The dev tool `graft.Probe` (query timing and plan dumps), the
  * `SparkEntry.entry` smoke check, and the codegen audit of the encode
  * layout, the SQL codec expressions and the token search. */
class ProbeSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** An sf dir holding the one table q_rt_delta_long reads. */
  private lazy val sfDir: String = {
    val d = tmpDir("probe-sf")
    spark.range(1, 1501).select(col("id").as("o_orderkey"))
      .write.parquet(s"$d/orders.parquet")
    d
  }

  test("Probe.time prints each run's rows, jobs and tasks") {
    val lines = Probe.time(spark, sfDir, Seq("q_rt_delta_long"), repeats = 2)
    assert(lines.length == 2)
    val want = SparkEntry.queries("q_rt_delta_long")(spark, sfDir).count()
    assert(want == 1500)
    val Run = """QX q_rt_delta_long run(\d) wall=\S+ rows=(\d+) jobs=(\d+) stages=\d+ tasks=(\d+) taskSum=\S+""".r
    lines.zipWithIndex.foreach {
      case (Run(run, rows, jobs, tasks), i) =>
        assert(run.toInt == i + 1)
        assert(rows.toLong == want)
        assert(jobs.toInt >= 1 && tasks.toInt >= 1, lines(i))
      case (other, _) => fail(s"unexpected line: $other")
    }
  }

  test("Probe.plan writes each query's formatted physical plan") {
    val out = tmpDir("probe-plans")
    val files = Probe.plan(spark, sfDir, s"$out/plans", Seq("q_rt_delta_long"))
    assert(files.map(_.getFileName.toString) == Seq("q_rt_delta_long.txt"))
    val txt = new String(java.nio.file.Files.readAllBytes(files.head), "UTF-8")
    assert(txt.contains("== Physical Plan =="), txt.take(300))
  }

  test("entry smoke: SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  private def exprsOf(df: DataFrame): Seq[Expression] =
    df.queryExecution.sparkPlan.collect { case p => p.expressions }
      .flatten.flatMap(_.collect { case e => e })

  /** `df`'s physical plan holds a `marker` and no expression that leaves
    * whole-stage codegen. */
  private def assertCodegen(name: String, df: DataFrame, marker: Class[_]): Unit = {
    val es = exprsOf(df)
    assert(es.exists(marker.isInstance), s"$name plan lacks ${marker.getSimpleName}")
    assert(!es.exists(_.isInstanceOf[ScalaUDF]), s"$name plan has a ScalaUDF")
    val fallback = es.filter(_.isInstanceOf[CodegenFallback])
    assert(fallback.isEmpty, s"$name plan falls back: ${fallback.map(_.prettyName)}")
  }

  test("encode layout and SQL codec expressions have no ScalaUDF or CodegenFallback") {
    val src = TokenTableGen.generate(spark, 1000, 4)
    val laid = EncodePipeline.withPartId(src, EncodePipeline.massBalancedBounds(src, 4))
      .repartition(4, col("part_id"))
      .sortWithinPartitions("part_id", "doc_id")
    graft.functions.GraftFunctions.register(spark)
    val sql = spark.range(0, 1000).selectExpr("CAST(id % 7 AS INT) AS l_linenumber")
      .selectExpr("decode_chunk(encode_chunk(array(l_linenumber)))")
    assertCodegen("encode layout", laid, classOf[graft.functions.PartIdForBounds])
    assertCodegen("SQL codec", sql, classOf[graft.functions.DecodeChunk])
  }

  test("token search plan has no ScalaUDF or CodegenFallback") {
    val chunks = EncodePipeline.encode(TokenTableGen.generate(spark, 1000, 4), 4)
    val search = EncodePipeline.searchToken(chunks, 42).toDF()
    assertCodegen("token search", search, classOf[graft.functions.QueryParam])
    assertCodegen("token search", search, classOf[graft.functions.BloomMightContain])
  }
}
