package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Per-column stats, blooms, CRCs, and projected decode on the generic
  * (any-schema) chunk format — reference column_index.go:259-272 +
  * bloom.go:16-70 applied to arbitrary columns. */
class GenericStatsSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** 10k rows sorted by k, cut into ~20 chunks of 512 — tight per-chunk
    * k ranges, so range pruning has something to prove. */
  private lazy val chunks = {
    val df = spark.range(10000).select(
      col("id").cast("int").as("k"),
      (col("id") * 7).as("v"),
      format_string("key-%05d", col("id")).as("name"),
      when(col("id") % 11 === 0, lit(null).cast("double"))
        .otherwise(col("id") * 0.5).as("score"))
      .coalesce(2).sortWithinPartitions("k")
    GenericEncode.encode(df, rowsPerChunk = 512).cache()
  }

  test("range pruning skips provably disjoint chunks, keeps all matches") {
    val total = chunks.count()
    assert(total >= 15, s"need many chunks, got $total")
    val pruned = GenericEncode.prune(chunks, col("k").between(3000, 3300))
    val kept = pruned.count()
    assert(kept <= 3, s"expected <=3 covering chunks, kept $kept of $total")
    val rows = GenericEncode.decode(spark, pruned)
      .filter(col("k").between(3000, 3300)).collect()
    assert(rows.length == 301)
    // long column stats prune too (v = 7k)
    val prunedV = GenericEncode.prune(chunks, col("v").between(0L, 700L))
    assert(prunedV.count() <= 2)
    // string column: lexicographic bounds
    val prunedS = GenericEncode.prune(chunks, col("name") >= "key-09990")
    assert(prunedS.count() <= 2)
    // a column with nulls everywhere in a chunk keeps min/max of non-nulls
    val prunedNull = GenericEncode.prune(chunks, col("score") >= 4999.5)
    assert(prunedNull.count() <= 2)
  }

  test("string min stats truncate on UTF-8 char boundaries (no U+FFFD inflation)") {
    // the 65-byte minimum 63*'a'+'é' used to byte-truncate mid-char and
    // render U+FFFD (EF BF BD), which sorts ABOVE the real min's C3 lead
    // byte — range pruning then dropped the chunk that CONTAINS the value
    val v = "a" * 63 + "é"
    val df = spark.range(100).select(
      when(col("id") === 0, lit(v)).otherwise(format_string("zz-%03d", col("id")))
        .as("s"))
      .coalesce(1)
    val ch = GenericEncode.encode(df, rowsPerChunk = 1024)
    val kept = GenericEncode.prune(ch, col("s") >= v && col("s") <= v)
    assert(kept.count() == 1, "chunk containing the exact bound was pruned")
    assert(GenericEncode.decode(spark, kept, Seq("s"))
      .filter(col("s") === v).count() == 1)
  }

  test("string stats order bytes unsigned, as Spark does: non-ASCII rows survive pushdown") {
    import spark.implicits._
    // "é" is C3 A9: above "b" unsigned, below "a" as signed bytes — signed
    // stats recorded [min "é", max "a"] and `s >= "b"` pruned the chunk
    val ch = GenericEncode.encode(Seq("a", "é").toDF("s").coalesce(1), rowsPerChunk = 1024)
    val stats = ch.collect()
    assert(stats.length == 1 && stats(0).col_mins == Seq("a") && stats(0).col_maxs == Seq("é"))
    val dir = tmpDir("gunsigned")
    GenericEncode.writeColumnarN(ch, s"$dir/t", 1)
    assert(GenericEncode.readTable(spark, s"$dir/t").filter(col("s") >= "b")
      .as[String].collect().toSeq == Seq("é"))
    assert(GenericEncode.readTable(spark, s"$dir/t").filter(col("s") < "b")
      .as[String].collect().toSeq == Seq("a"))
  }

  test("prune takes timestamp/decimal literals in the stats' own units") {
    import spark.implicits._
    val df = spark.range(1000).select(
      (lit("2026-01-01 00:00:00").cast("timestamp")
        + expr("make_interval(0, 0, 0, 0, CAST(id AS INT), 0, 0)")).as("ts"),
      (col("id").cast("decimal(9,2)") / lit(4).cast("decimal(9,2)"))
        .cast("decimal(9,2)").as("d"))
      .coalesce(1).sortWithinPartitions("ts")
    val ch = GenericEncode.encode(df, rowsPerChunk = 100).cache()
    assert(ch.count() == 10)
    // timestamp literal: first ~48 hours → 1-2 covering chunks (internal
    // stats are epoch micros; an old double compare nulled out and
    // pruned EVERYTHING)
    val early = GenericEncode.prune(ch, col("ts") <= lit("2026-01-03").cast("timestamp"))
    val keptTs = early.count()
    assert(keptTs >= 1 && keptTs <= 2, s"kept $keptTs chunks")
    assert(GenericEncode.decode(spark, early, Seq("ts")).count() >= 48)
    // decimal literal: d in [0, 250) quarters; d <= 50.00 covers the
    // first ~200 rows → 2-3 chunks (an old unscaled-vs-natural double
    // compare pruned chunks containing matches)
    val lowD = GenericEncode.prune(ch, col("d") <= lit(BigDecimal("50.00")))
    val keptD = lowD.count()
    assert(keptD >= 2 && keptD <= 3, s"kept $keptD chunks")
    assert(GenericEncode.decode(spark, lowD, Seq("d"))
      .filter(col("d") <= 50.0).count() == 201)
    ch.unpersist()
  }

  test("bloom pruning: present values keep their chunk, absent values prune hard") {
    // string bloom
    val hit = GenericEncode.prune(chunks, col("name") === "key-04321")
    assert(GenericEncode.decode(spark, hit, Seq("name"))
      .filter(col("name") === "key-04321").count() == 1)
    // absent keys at both ends of the key range: the IN list's [min, max]
    // interval keeps every chunk, so only the blooms can prune
    val total = chunks.count()
    val miss = GenericEncode.prune(chunks, col("name").isin("key-00000x", "key-09998x"))
    assert(miss.count() <= 3, s"bloom kept ${miss.count()} of $total chunks for absent keys")
    // int bloom
    val intHit = GenericEncode.prune(chunks, col("k") === 4321)
    assert(GenericEncode.decode(spark, intHit, Seq("k"))
      .filter(col("k") === 4321).count() == 1)
    // long bloom: v = 7 * id holds neither 1 nor 69,990 + 1
    val longMiss = GenericEncode.prune(chunks, col("v").isin(1L, 69991L))
    assert(longMiss.count() <= 3, s"bloom kept ${longMiss.count()} of $total chunks")
  }

  test("projected decode reads only requested columns and their CRCs") {
    import spark.implicits._
    val projected = GenericEncode.decode(spark, chunks, Seq("k", "name"))
    assert(projected.columns.toSeq == Seq("k", "name"))
    assert(projected.count() == 10000)
    // corrupt the 'v' column payload: k/name decode unaffected, v fails loudly
    val corrupted = chunks.map { c =>
      val bins = c.cols_bin.updated(1, Array[Byte](1, 2, 3))
      c.copy(cols_bin = bins)
    }
    assert(GenericEncode.decode(spark, corrupted, Seq("k", "name")).count() == 10000)
    val ex = intercept[Exception] {
      GenericEncode.decode(spark, corrupted, Seq("v")).collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("CRC mismatch")), ex.toString)
  }

  test("generic decode is columnar and prunes automatically") {
    import spark.implicits._
    val df = GenericEncode.decode(spark, chunks)
    df.count()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("DecodeGenericChunks"), plan.take(1500))
    assert(plan.contains("ColumnarToRow"), plan.take(1500))
    // a narrow select over a corrupted unselected column must succeed —
    // the optimizer rule pruned that column's decode (and its CRC check)
    val corrupted = chunks.map { c =>
      c.copy(cols_bin = c.cols_bin.updated(1, Array[Byte](1)))
    }
    assert(GenericEncode.decode(spark, corrupted).select("k").count() == 10000)
  }

  test("row-level filters push down to chunk stats and blooms automatically") {
    import spark.implicits._
    // corrupt the payloads of every chunk whose k-min is above 3300 and
    // PERSIST the table (the pushdown needs the stats columns below the
    // decode — an UNCACHED in-memory Dataset has them pruned out of its
    // object serializer, and is pruned with GenericEncode.prune instead):
    // a plain .filter succeeds ONLY if the optimizer pruned those chunks
    // before any CRC check or decode (no manual prune call anywhere)
    val corrupted = chunks.map { c =>
      if (c.col_mins(0).toLong > 3300L)
        c.copy(cols_bin = c.cols_bin.map(_ => Array[Byte](9)))
      else c
    }
    val dir = tmpDir("gpush")
    GenericEncode.writeColumnarN(corrupted, s"$dir/t", 4)
    // corruption is real: an unfiltered read that touches the payload
    // fails loudly (count() alone prunes to metadata-only by design)
    intercept[Exception] {
      GenericEncode.readTable(spark, s"$dir/t").select("k").collect()
    }
    val out = GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("k") >= 3000 && col("k") <= 3300)
    assert(out.count() == 301)
    assert(out.queryExecution.optimizedPlan.toString.contains("col_mins"),
      out.queryExecution.optimizedPlan.toString.take(2000))
    // the same range with the upper bound's literal on the left
    val flipped = GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("k") >= 3000 && lit(3300) >= col("k"))
    assert(flipped.count() == 301)
    // equality additionally probes the per-column split-block bloom
    val eq = GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("name") === "key-03100")
    assert(eq.count() == 1)
    assert(eq.queryExecution.optimizedPlan.toString.contains("col_blooms"),
      eq.queryExecution.optimizedPlan.toString.take(2000))
    // IN-list: [min,max] range + OR'd bloom probes
    val inQ = GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("k").isin(3000, 3100, 3200))
    assert(inQ.count() == 3)
    assert(inQ.queryExecution.optimizedPlan.toString.contains("col_mins"))
    // startsWith: byte-wise [prefix, nextPrefix) window
    val pfx = GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("name").startsWith("key-031"))
    assert(pfx.count() == 100)
    assert(pfx.queryExecution.optimizedPlan.toString.contains("col_maxs"))
  }

  test("columnar table layout: projected reads skip unselected columns' BYTES") {
    val dir = tmpDir("gcol")
    GenericEncode.writeColumnarN(chunks, s"$dir/t", 4)
    // full round-trip through the table reader
    val full = GenericEncode.readTable(spark, s"$dir/t")
      .orderBy("k").collect()
    assert(full.length == 10000 && full(123).getInt(0) == 123)
    // projected read ON THE DEFAULT PATH: the parquet ReadSchema must
    // contain ONLY the selected columns' payloads — bin_1 ('v') never read
    val proj = GenericEncode.readTable(spark, s"$dir/t", Seq("k", "name"))
    assert(proj.count() == 10000)
    val plan = proj.queryExecution.executedPlan.toString
    val readSchema = plan.split("ReadSchema:").last
    assert(readSchema.contains("bin_0") && readSchema.contains("bin_2"), plan.take(2000))
    assert(!readSchema.contains("bin_1") && !readSchema.contains("bin_3"),
      readSchema.take(500))
    // automatic: a narrow select over a FULL columnar decode re-narrows
    // the scan through the pruning rule
    val auto = GenericEncode.readTable(spark, s"$dir/t").select("name")
    auto.count()
    val autoRead = auto.queryExecution.executedPlan.toString.split("ReadSchema:").last
    assert(autoRead.contains("bin_2") && !autoRead.contains("bin_1"), autoRead.take(500))
    // the retired single-array cols_bin layout is refused up front, with
    // a message naming the layout and the way out
    chunks.toDF().write.mode("overwrite").parquet(s"$dir/legacy")
    val ex = intercept[IllegalArgumentException] {
      GenericEncode.readTable(spark, s"$dir/legacy", Seq("k", "name"))
    }
    assert(ex.getMessage.contains("cols_bin") && ex.getMessage.contains("re-encode"),
      ex.getMessage)
  }

  test("seekRows: generic row-offset read touches only covering chunks") {
    // chunks of 512 rows over 10000 sorted rows; a 20-row seek covers 1-2
    val got = GenericEncode.seekRows(spark, chunks, 5000, 20, Seq("k", "name"))
      .collect().sortBy(_.getInt(0))
    assert(got.length == 20)
    assert(got.map(_.getInt(0)).toSeq == (5000 until 5020))
    assert(got.head.getString(1) == "key-05000")
    // covering-chunk selection is via the shared distributed row index
    val covering = EncodePipeline.rowIndexOf(chunks.toDF())
      .filter(org.apache.spark.sql.functions.expr(
        "row_start < 5020 and row_start + num_rows > 5000"))
      .count()
    assert(covering <= 2, s"$covering covering chunks for a 20-row seek")
  }

  test("float filter pushdown compares in FLOAT space — boundary literals keep their chunk") {
    import spark.implicits._
    // values like 0.7f whose double widening (0.699999988…) differs from
    // the double their Float.toString stat casts to (0.7) — the round-4
    // mismatch pruned the chunk holding the exact match; plus a pseudo-
    // random spread so chunk boundaries land ON values
    val vals: Seq[Float] = Seq(0.7f, 0.1f, 0.3f, -0.7f, 1e-7f, 123.456f, 3.3f) ++
      (1 to 57).map(i => (math.sin(i.toDouble) * 1000).toFloat)
    val df = vals.zipWithIndex.map { case (f, i) => (i, f) }.toDF("id", "x")
      .coalesce(1).sortWithinPartitions("x")
    val dir = tmpDir("float")
    GenericEncode.encodeWrite(df, s"$dir/t", rowsPerChunk = 8)
    val t = () => GenericEncode.readTable(spark, s"$dir/t")
    vals.distinct.foreach { f =>
      val got = t().filter(col("x") === f).count()
      val want = vals.count(_ == f)
      assert(got == want, s"equality on $f: got $got want $want")
    }
    // range bounds landing exactly on stored values (== chunk min/max)
    val sorted = vals.sorted
    Seq(sorted(8), sorted(16), sorted(40)).foreach { b =>
      assert(t().filter(col("x") >= b).count() == vals.count(_ >= b), s">= $b")
      assert(t().filter(col("x") <= b).count() == vals.count(_ <= b), s"<= $b")
    }
  }

  test("NaN rows survive float/double range pruning (NaN sorts greatest in Spark)") {
    val df = spark.range(100).select(
      col("id").cast("int").as("k"),
      when(col("id") % 10 === 0, lit(Double.NaN))
        .otherwise(col("id").cast("double") / 10).as("d"),
      when(col("id") % 10 === 0, lit(Float.NaN))
        .otherwise((col("id").cast("double") / 10).cast("float")).as("f"))
      .coalesce(1).sortWithinPartitions("k")
    val dir = tmpDir("nan")
    GenericEncode.encodeWrite(df, s"$dir/t", rowsPerChunk = 10)
    // every non-NaN value is <= 9.9, so `> 9.9` matches EXACTLY the 10 NaN
    // rows — which live in chunks whose finite max is far below the bound
    // (a finite max stat would prune them; NaN-seen chunks track no max)
    assert(GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("d") > 9.9).count() == 10)
    assert(GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("f") > lit(9.9f)).count() == 10)
    // equality against NaN matches too (Spark: NaN = NaN is true)
    assert(GenericEncode.readTable(spark, s"$dir/t")
      .filter(col("d") === Double.NaN).count() == 10)
  }

  test("corrupted bloom bytes fail the probe loudly (no silent chunk drop)") {
    import spark.implicits._
    val dir = tmpDir("bloomcrc")
    // flip one bit inside every bloom's block payload (past the 5-byte
    // header) — a false NEGATIVE is the corruption pruning can't tolerate
    val corrupted = chunks.map { c =>
      val blooms = c.col_blooms.map { b =>
        if (b.length > 6) { val x = b.clone(); x(6) = (x(6) ^ 0x10).toByte; x } else b
      }
      c.copy(col_blooms = blooms)
    }
    GenericEncode.writeColumnarN(corrupted, s"$dir/t", 4)
    val ex = intercept[Exception] {
      GenericEncode.readTable(spark, s"$dir/t")
        .filter(col("name") === "key-04321").count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("bloom filter CRC mismatch")), ex.toString)
    // legacy headerless filters (pre-round-5 tables) still probe, unverified
    val legacyBloom = {
      val words = new Array[Int](16)
      graft.codec.Bloom.insert(words, 42)
      val withHeader = graft.codec.Bloom.serialize(words)
      java.util.Arrays.copyOfRange(withHeader, 5, withHeader.length)
    }
    assert(legacyBloom.length % 32 == 0)
    assert(graft.codec.Bloom.mightContain(legacyBloom, 42))
  }

  test("array<int> element bounds allow contains-style pruning") {
    val df = spark.range(2000).select(
      col("id").cast("int").as("k"),
      array(col("id").cast("int"), (col("id") + 1).cast("int")).as("toks"))
      .coalesce(1).sortWithinPartitions("k")
    val ch = GenericEncode.encode(df, rowsPerChunk = 256)
    val pruned = GenericEncode.prune(ch, array_contains(col("toks"), 1500))
    assert(pruned.count() <= 2, s"kept ${pruned.count()} of ${ch.count()}")
  }

  test("a scan pruned to ZERO chunks still decodes with the table schema") {
    // at scale a disjoint range prunes everything — the empty result must
    // keep its columns so downstream filters/projects still resolve
    // (regression: sf0.001 q_generic_prune hit UNRESOLVED_COLUMN)
    val pruned = GenericEncode.prune(chunks, col("k").between(900000, 990000))
    assert(pruned.count() == 0)
    val out = GenericEncode.decode(spark, pruned, Seq("k", "v"))
      .filter(col("k") > 100).select("v")
    assert(out.schema.fieldNames.toSeq == Seq("v"))
    assert(out.count() == 0)
    // chained prunes over the empty set keep working too
    val rePruned = GenericEncode.prune(pruned, col("v").between(0L, 10L))
    assert(rePruned.count() == 0)
    // seekRows over an all-pruned table: empty but typed
    val sought = GenericEncode.seekRows(spark, pruned, 0, 10, Seq("name"))
    assert(sought.schema.fieldNames.toSeq == Seq("name"))
    assert(sought.count() == 0)
  }
}
