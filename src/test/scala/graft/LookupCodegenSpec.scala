package graft

import graft.functions.{BloomMightContain, QueryParam}
import graft.spark.{EncodePipeline, EncodedChunk, GenericEncode, TokenTableGen}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GreaterThanOrEqual, LessThanOrEqual}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Point lookups reuse compiled code: `searchToken`, `seekToRows` and
  * `GenericEncode.seekRows` bind their per-call values (token id, row
  * offsets, covering chunk ids) as plan parameters, so once one lookup has
  * run, the same lookup with new values compiles no class. Spark counts
  * every compile (a miss of its compiled-class cache) in
  * `CodegenMetrics.METRIC_COMPILATION_TIME`. */
class LookupCodegenSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** `f`'s result and the number of classes Spark compiled while it ran. */
  private def compiles[T](f: => T): (T, Long) = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = f
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
  }

  /** A checkpointed token table on disk (chunks and persisted row index),
    * read back the way a reader opens one. */
  private lazy val table = {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 3000, 4)
    val dir = tmpDir("lookup-codegen")
    EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 16 * 1024)
    (src.collect(), spark.read.parquet(s"$dir/chunks").as[EncodedChunk],
      spark.read.parquet(s"$dir/row_index"))
  }

  test("searchToken with a new token compiles no class and equals a brute-force scan") {
    val (rows, chunks, _) = table
    def brute(t: Int): Set[String] =
      rows.filter(r => r.tokens != null && r.tokens.contains(t)).map(_.doc_id).toSet
    val withTokens = rows.filter(r => r.tokens != null && r.tokens.nonEmpty)
    val hot = withTokens.head.tokens.head
    val other = withTokens.map(_.tokens.last).find(_ != hot).get
    val absent = Iterator.from(1 << 30).find(t => brute(t).isEmpty).get
    assert(EncodePipeline.searchToken(chunks, hot).collect().toSet == brute(hot))
    for (t <- Seq(other, absent, hot + 1)) {
      val (hits, n) = compiles(EncodePipeline.searchToken(chunks, t).collect().toSet)
      assert(n == 0, s"search for $t compiled $n classes")
      assert(hits == brute(t), s"search for $t")
    }
    assert(brute(other).nonEmpty)
  }

  test("the search plan keeps the stats and bloom chunk filter over the scan") {
    val (_, chunks, _) = table
    val es = EncodePipeline.searchToken(chunks, 42).queryExecution.sparkPlan
      .collect { case p => p.expressions }.flatten.flatMap(_.collect { case e => e })
    def statCheck(name: String): Expression => Boolean = {
      case LessThanOrEqual(a: AttributeReference, _: QueryParam) => a.name == name
      case GreaterThanOrEqual(a: AttributeReference, _: QueryParam) => a.name == name
      case _ => false
    }
    assert(es.exists(statCheck("tokens_min")), "no tokens_min check")
    assert(es.exists(statCheck("tokens_max")), "no tokens_max check")
    assert(es.exists {
      case BloomMightContain(_, _, _: QueryParam) => true
      case _ => false
    }, "no bloom probe")
  }

  test("seekToRows at a new offset compiles no class, with and without a row index") {
    val (rows, chunks, index) = table
    // a range-partitioned encode's canonical row order is doc_id order
    val ordered = rows.map(_.doc_id).sorted
    def seek(start: Long, idx: Option[DataFrame]): Seq[String] =
      EncodePipeline.seekToRows(chunks, start, 10, idx).collect().map(_.doc_id).toSeq.sorted
    for (idx <- Seq(Some(index), None)) {
      seek(17, idx)
      for (start <- Seq(1999L, 2990L, 400L)) {
        val (got, n) = compiles(seek(start, idx))
        assert(n == 0, s"seek at $start (index ${idx.isDefined}) compiled $n classes")
        assert(got == ordered.slice(start.toInt, start.toInt + 10).toSeq.sorted, s"seek at $start")
      }
    }
  }

  test("GenericEncode.seekRows at a new offset compiles no class") {
    val df = spark.range(6000).select(
      col("id").cast("int").as("k"), format_string("key-%05d", col("id")).as("name"))
      .coalesce(2).sortWithinPartitions("k")
    val chunks = GenericEncode.encode(df, rowsPerChunk = 512).cache()
    def seek(start: Long): Seq[Int] =
      GenericEncode.seekRows(spark, chunks, start, 20, Seq("k", "name"))
        .collect().map(_.getInt(0)).toSeq.sorted
    assert(seek(5000) == (5000 until 5020))
    for (start <- Seq(123L, 3070L, 5980L)) {
      val (got, n) = compiles(seek(start))
      assert(n == 0, s"seek at $start compiled $n classes")
      assert(got == (start.toInt until start.toInt + 20))
    }
    chunks.unpersist()
  }
}
