package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The columnar decode plan (graft.plans.DecodeChunksExec) and its
  * column-projection pushdown: unrequested chunk streams must never be
  * fetched, CRC-checked, or decoded (reference reads pages strictly per
  * requested column, file.go:439-485). */
class ProjectionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private lazy val chunks = {
    val src = TokenTableGen.generate(spark, 3000, 4)
    EncodePipeline.encode(src, numParts = 4, tokensPerChunk = 64 * 1024).cache()
  }

  test("columnar decodeDF matches the generator rows exactly (all columns)") {
    import spark.implicits._
    val want = TokenTableGen.generate(spark, 3000, 4).collect()
      .map(r => (r.doc_id, Option(r.tokens).map(_.toSeq), r.n_tok, Option(r.source)))
      .sortBy(_._1)
    val df = EncodePipeline.decodeDF(chunks)
      .as[(String, Option[Seq[Int]], Int, Option[String])].collect().sortBy(_._1)
    assert(df.toSeq == want.toSeq)
  }

  test("plan is columnar: DecodeChunksExec emits batches under a ColumnarToRow") {
    val df = EncodePipeline.decodeDF(chunks)
    df.count() // force planning + execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("DecodeChunks"), plan) // nodeName of DecodeChunksExec
    assert(plan.contains("ColumnarToRow"), plan)
  }

  test("projected decode never touches unrequested streams (corruption-proof)") {
    // zero out the token + source payloads; a doc_id-only decode must
    // still succeed (it never reads them), a tokens decode must fail loudly
    val corrupted = chunks.toDF()
      .withColumn("tokens_bin", lit(Array[Byte](1, 2, 3)))
      .withColumn("source_bin", lit(Array[Byte](9, 9)))
    val ids = graft.plans.GraftPlans.decodeDF(corrupted, Seq("doc_id"))
      .collect().map(_.getString(0))
    assert(ids.length == 3000 && ids.distinct.length == 3000)
    val ex = intercept[Exception] {
      // collect (not count — count would itself prune tokens away)
      graft.plans.GraftPlans.decodeDF(corrupted, Seq("doc_id", "tokens")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("CRC mismatch")), ex.toString)
  }

  test("Catalyst ColumnPruning shrinks the decode automatically") {
    // select only doc_id off a FULL decode over corrupted token bytes:
    // the optimizer rule must prune the token stream out of the plan,
    // otherwise the CRC check would throw
    val corrupted = chunks.toDF().withColumn("tokens_bin", lit(Array[Byte](1, 2, 3)))
    val full = graft.plans.GraftPlans.decodeDF(
      corrupted, Seq("doc_id", "tokens", "n_tok", "source"))
    assert(full.select("doc_id").count() == 3000)
    assert(full.agg(count("source")).head().getLong(0) == 3000)
    // count(*) references NO columns: the decode must become metadata-only
    // (zero-column batches) — every payload stream can be corrupt
    val allCorrupt = corrupted
      .withColumn("docid_bin", lit(Array[Byte](7)))
      .withColumn("lens_bin", lit(Array[Byte](8)))
    assert(graft.plans.GraftPlans.decodeDF(
      allCorrupt, Seq("doc_id", "tokens", "n_tok", "source")).count() == 3000)
  }

  test("n_tok-only decode skips token payload decode but keeps null fidelity") {
    import spark.implicits._
    // nullable tokens: n_tok must come back -1 for null rows via the
    // bitmap peek, without StreamedTokens.decode ever running
    val src = spark.range(200).select(
      format_string("%06d", col("id")).as("doc_id"),
      when(col("id") % 7 === 0, lit(null))
        .otherwise(array(col("id").cast("int"), lit(1))).as("tokens"),
      when(col("id") % 7 === 0, lit(-1)).otherwise(lit(2)).as("n_tok"),
      lit("s").as("source")).as[TokenRow]
    val ch = EncodePipeline.encode(src, numParts = 2)
    val out = EncodePipeline.decodeDF(ch, Seq("doc_id", "n_tok"))
      .as[(String, Int)].collect().sortBy(_._1)
    assert(out.length == 200)
    out.foreach { case (id, n) =>
      assert(n == (if (id.toLong % 7 == 0) -1 else 2), s"$id -> $n")
    }
  }

  test("searchToken runs on the projected columnar scan and stays exact") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 2000, 4)
    val ch = EncodePipeline.encode(src, numParts = 4, tokensPerChunk = 32 * 1024)
    val token = src.head().tokens.head
    val expected = src.collect()
      .filter(r => r.tokens != null && r.tokens.contains(token)).map(_.doc_id).sorted
    val got = EncodePipeline.searchToken(ch, token).collect().sorted
    assert(got.toSeq == expected.toSeq)
  }
}
