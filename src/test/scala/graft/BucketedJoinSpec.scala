package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located join: writing both sides bucketed on the join key
  * makes every later join of those tables exchange-free — the shuffle is
  * paid ONCE at layout time (the 100-TB fact-table pattern). The plan
  * assertion is the point: no Exchange anywhere in the joined plan. */
class BucketedJoinSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("join of two bucketed tables has no exchange and exact results") {
    import spark.implicits._
    val base = tmpDir("bkt-spec")
    val left = (1 to 5000).map(i => (i.toLong % 700, s"l$i")).toDF("k", "lv")
    val right = (1 to 900).map(i => (i.toLong, s"r$i")).toDF("k2", "rv")
    spark.sql("DROP TABLE IF EXISTS bkt_spec_l")
    spark.sql("DROP TABLE IF EXISTS bkt_spec_r")
    left.write.mode("overwrite").option("path", s"$base/l")
      .bucketBy(4, "k").sortBy("k").saveAsTable("bkt_spec_l")
    right.write.mode("overwrite").option("path", s"$base/r")
      .bucketBy(4, "k2").sortBy("k2").saveAsTable("bkt_spec_r")
    val l = spark.table("bkt_spec_l")
    val r = spark.table("bkt_spec_r")
    val j = l.hint("merge").join(r, l("k") === r("k2"))
    val got = j.collect()
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan.take(2000))
    assert(!plan.contains("Exchange"), plan.take(2000))
    // exact result vs the plain (non-bucketed) join
    val want = left.join(right, left("k") === right("k2")).collect()
    assert(got.map(_.toString).sorted.toSeq ==
      want.map(_.toString).sorted.toSeq)
    assert(got.nonEmpty)
  }
}
