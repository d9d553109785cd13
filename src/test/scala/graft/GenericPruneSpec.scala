package graft

import graft.plans.DecodeChunks
import graft.spark._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** The two ways a generic chunk table is pruned keep the same chunks: the
  * optimizer rule under a `.filter` over a persisted table, and
  * `GenericEncode.prune` over the same chunks held in memory, uncached. */
class GenericPruneSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** 2,000 rows sorted by k in 20 chunks of 100: every column's per-chunk
    * bounds move with k. `s` turns non-ASCII at k = 1000, `x` is NaN on
    * every 97th row, `toks` = [k, 2k]. */
  private lazy val rows = spark.range(2000).select(
    col("id").cast("int").as("k"),
    format_string("key-%05d", col("id")).as("name"),
    when(col("id") >= 1000, format_string("é-%05d", col("id")))
      .otherwise(format_string("a-%05d", col("id"))).as("s"),
    when(col("id") % 97 === 0, lit(Double.NaN)).otherwise(col("id") / 4.0).as("x"),
    array(col("id").cast("int"), (col("id") * 2).cast("int")).as("toks"),
    (lit("2026-01-01 00:00:00").cast("timestamp")
      + expr("make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0)")).as("ts"),
    (col("id").cast("decimal(9,2)") / lit(4).cast("decimal(9,2)")).cast("decimal(9,2)").as("d"))
    .coalesce(1).sortWithinPartitions("k")

  // in memory and NOT cached: the encode re-runs per action, the same
  // chunks each time (one sorted input partition)
  private lazy val chunks = GenericEncode.encode(rows, rowsPerChunk = 100)

  private lazy val table = {
    val dir = tmpDir("gprune")
    GenericEncode.writeColumnarN(chunks, s"$dir/t", rows.columns.length)
    s"$dir/t"
  }

  /** The chunk ids the rule keeps: the rows of the optimized plan's
    * DecodeChunks child, where the pushed chunk filter sits. */
  private def ruleKept(p: Column): Set[Long] = {
    import spark.implicits._
    val plan = GenericEncode.readTable(spark, table).filter(p).queryExecution.optimizedPlan
    val dc = plan.collectFirst { case d: DecodeChunks => d }.getOrElse(fail(plan.toString))
    ColumnBridge.ofRows(spark, dc.child).select("chunk_id").as[Long].collect().toSet
  }

  private def pruneKept(p: Column): Set[Long] = {
    import spark.implicits._
    GenericEncode.prune(chunks, p).select("chunk_id").as[Long].collect().toSet
  }

  private val shapes: Seq[(String, Column, Boolean)] = Seq(
    // (name, predicate, whether it must prune at least one chunk)
    ("= (bloom)", col("name") === "key-01234", true),
    ("<", col("k") < 300, true),
    (">=", col("name") >= "key-01800", true),
    ("flipped literal", lit(300) >= col("k"), true),
    ("IN", col("k").isin(5, 1234, 1999), true),
    ("IN with NaN", col("x").isin(Double.NaN, 2.5), false),
    ("startsWith", col("name").startsWith("key-017"), true),
    ("array_contains", array_contains(col("toks"), 3000), true),
    ("timestamp", col("ts") < lit("2026-01-03").cast("timestamp"), true),
    ("decimal", col("d") <= lit(BigDecimal("50.00")), true),
    ("non-ASCII string", col("s") === "é-01500", true),
    ("non-ASCII range", col("s") >= "b", true),
    ("long literal on an int column", col("k") >= 1800L, true),
    ("two columns", col("k") >= 500 && col("name") < "key-00700", true))

  shapes.foreach { case (name, p, prunes) =>
    test(s"prune keeps the rule's chunks: $name") {
      val total = chunks.count()
      assert(total == 20)
      val rule = ruleKept(p)
      val manual = pruneKept(p)
      assert(manual == rule, s"prune kept ${manual.toSeq.sorted}, the rule ${rule.toSeq.sorted}")
      if (prunes) assert(manual.size < total, s"kept all $total chunks")
      else assert(manual.size == total, s"kept ${manual.size} of $total chunks")
      val got = GenericEncode.decode(spark, GenericEncode.prune(chunks, p)).filter(p)
        .collect().sortBy(_.getInt(0)).toSeq
      val want = rows.filter(p).collect().sortBy(_.getInt(0)).toSeq
      assert(want.nonEmpty)
      assert(got == want)
    }
  }

  test("only a cached in-memory table gets the rule; an uncached one needs prune") {
    val p = col("k") < 300
    def pushed(c: org.apache.spark.sql.Dataset[GenericChunk]): Boolean =
      GenericEncode.decode(spark, c).filter(p).queryExecution.optimizedPlan.toString
        .contains("col_mins")
    assert(!pushed(chunks))
    val cached = chunks.cache()
    try assert(pushed(cached)) finally cached.unpersist()
  }
}
