package graft

import graft.queries.Relational
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Boundary semantics for sessionization and the as-of join that the
  * random driver testdata (microsecond-unique timestamps) can never hit:
  * a gap of EXACTLY the session timeout, and a click landing on the same
  * instant as the purchase. Both must agree with the DuckDB oracle's
  * conventions (`>=` break, `>=` as-of bound).
  */
class RelationalEdgeSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  /** Materialize a toy events table in the driver's on-disk layout so the
    * queries run through their real entry points. */
  private def eventsDir(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("reledge-")
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    dir
  }

  test("session_window: an exact-4h gap EXTENDS the session; 4h+1s breaks it") {
    val t0 = ts("2024-01-01 00:00:00")
    val dir = eventsDir(Seq(
      (1L, t0, 7L, "view", 1.0, ""),
      // exactly 4h later: Spark merges windows when next start <= current
      // end, so this still belongs to the first session
      (2L, ts("2024-01-01 04:00:00"), 7L, "view", 2.0, ""),
      // 4h + 1s after event 2: strictly past the end -> NEW session
      (3L, ts("2024-01-01 08:00:01"), 7L, "view", 3.0, ""),
      // a second user far away: independent sessions
      (4L, t0, 9L, "view", 4.0, "")))
    val out = Relational.sessionWindow(spark, dir).collect()
    val u7 = out.filter(_.getAs[Long]("user_id") == 7L)
    assert(u7.length == 2, s"expected 2 sessions for user 7, got ${u7.length}")
    assert(u7(0).getAs[Long]("n_events") == 2)
    assert(u7(0).getAs[String]("sess_end") == "2024-01-01 08:00:00")
    assert(u7(1).getAs[Long]("n_events") == 1)
    assert(u7(1).getAs[String]("sess_start") == "2024-01-01 08:00:01")
    assert(out.count(_.getAs[Long]("user_id") == 9L) == 1)
  }

  test("asof join: click at the purchase's exact instant wins; no prior click -> null") {
    val dir = eventsDir(Seq(
      // user 1: click strictly before, then a purchase — carried forward
      (1L, ts("2024-01-01 01:00:00"), 1L, "click", 10.0, ""),
      (2L, ts("2024-01-01 02:00:00"), 1L, "purchase", 0.0, ""),
      // user 1: a later click must NOT retroactively apply
      (3L, ts("2024-01-01 03:00:00"), 1L, "click", 99.0, ""),
      // user 2: click at the SAME instant as the purchase — >= bound includes it
      (4L, ts("2024-01-01 05:00:00"), 2L, "click", 42.0, ""),
      (5L, ts("2024-01-01 05:00:00"), 2L, "purchase", 0.0, ""),
      // user 3: purchase with no click at all -> null
      (6L, ts("2024-01-01 06:00:00"), 3L, "purchase", 0.0, "")))
    val out = Relational.asofJoin(spark, dir).collect()
      .map(r => r.getAs[Long]("event_id") ->
        Option(r.getAs[java.lang.Double]("last_click_v")).map(_.doubleValue))
      .toMap
    assert(out(2L) == Some(10.0))
    assert(out(5L) == Some(42.0))
    assert(out(6L) == None)
  }

  test("nfc_normalize: composition, ASCII identity, idempotence, nulls, codegen parity") {
    import spark.implicits._
    import graft.functions.TextNormalize
    val decomposedCafe = "cafe\u0301"       // e + COMBINING ACUTE
    val composedCafe = "caf\u00e9"          // precomposed
    val decomposedPinata = "pin\u0303ata"   // n + COMBINING TILDE
    val multiMark = "a\u0301\u0327mix"     // two combining marks
    val inputs = Seq(decomposedCafe, decomposedPinata, composedCafe,
      "plain ascii stays", "", multiMark)
    val rows = inputs.toDF("s")
    val got = rows.select(TextNormalize.nfc(col("s")).as("n"))
      .collect().map(_.getString(0)).toSeq
    val want = inputs.map(s =>
      java.text.Normalizer.normalize(s, java.text.Normalizer.Form.NFC))
    assert(got == want)
    assert(got(0) == composedCafe, "decomposed cafe must compose")
    assert(got(2) == composedCafe, "composed input unchanged")
    assert(got(3) == "plain ascii stays")
    // idempotent: NFC(NFC(x)) == NFC(x)
    val twice = rows.select(TextNormalize.nfc(TextNormalize.nfc(col("s"))).as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(twice == got)
    // nulls pass through the codegen'd null check
    val withNull = Seq(Some(decomposedCafe), None).toDF("s")
    val ns = withNull.select(TextNormalize.nfc(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0)))
    assert(ns.toSeq == Seq(Some(composedCafe), None))
  }
}
