package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

class PipelineSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  test("token generator is deterministic and partition-independent") {
    import spark.implicits._
    val a = TokenTableGen.generate(spark, 2000, 4).collect().sortBy(_.doc_id)
    val b = TokenTableGen.generate(spark, 2000, 7).collect().sortBy(_.doc_id)
    assert(a.length == 2000)
    assert(a.map(_.doc_id).toSeq == b.map(_.doc_id).toSeq)
    assert(a.zip(b).forall { case (x, y) => x.tokens.sameElements(y.tokens) && x.source == y.source })
    assert(a.forall(r => r.n_tok == r.tokens.length && r.n_tok >= 1 && r.n_tok <= 8192))
    // mixture sanity: all four source categories appear
    assert(a.map(_.source).distinct.toSet == Set("web", "books", "code", "wiki"))
  }

  test("encode → decode round-trip is exact (per-row token-array equality)") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 5000, 8)
    val chunks = EncodePipeline.encode(src, numParts = 6, tokensPerChunk = 64 * 1024)
    val decoded = EncodePipeline.decodeDF(chunks).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(src, decoded) == 0L)
  }

  test("encode compresses: enc_bytes < raw_bytes and codecs vary") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 5000, 8)
    val chunks = EncodePipeline.encode(src, numParts = 4, tokensPerChunk = 256 * 1024).cache()
    val agg = chunks.selectExpr("sum(raw_bytes) raw", "sum(enc_bytes) enc").head()
    val raw = agg.getLong(0)
    val enc = agg.getLong(1)
    assert(enc < raw, s"enc=$enc raw=$raw")
    val codecs = chunks.select("tokens_codec").as[String].collect().toSet
    assert(codecs.nonEmpty)
    chunks.unpersist()
  }

  test("mass-balanced partitioning bounds token skew") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 8000, 8)
    val chunks = EncodePipeline.encode(src, numParts = 8, tokensPerChunk = 1 << 20)
    val perPart = chunks.groupBy("part_id").sum("num_tokens")
      .collect().map(_.getLong(1))
    val mean = perPart.sum.toDouble / perPart.length
    assert(perPart.length >= 6, s"expected ~8 partitions, got ${perPart.length}")
    assert(perPart.max < mean * 2.5, s"max=${perPart.max} mean=$mean — skew not balanced")
  }

  test("adversarial skew: 1% giant docs, 99% tiny — token mass still balanced") {
    import spark.implicits._
    // 8000 rows: every 100th has 8192 tokens, the rest 4 → ~70% of all
    // token mass lives in 1% of rows. Row-balanced partitioning would
    // put ~equal ROWS per partition and leave mass skew ~intact.
    val rows = spark.range(0, 8000, 1, 8).as[Long].map { i =>
      val n = if (i % 100 == 0) 8192 else 4
      TokenRow(f"doc/$i%012d", Array.tabulate(n)(k => (i + k).toInt), n, "web")
    }
    val chunks = EncodePipeline.encode(rows, numParts = 8, tokensPerChunk = 1 << 20)
    val perPart = chunks.groupBy("part_id").sum("num_tokens").collect().map(_.getLong(1))
    val mean = perPart.sum.toDouble / perPart.length
    assert(perPart.max < mean * 1.8, s"mass skew survived: max=${perPart.max} mean=$mean parts=${perPart.mkString(",")}")
    // and the round-trip still holds under skew
    assert(EncodePipeline.verifyRoundTrip(rows,
      EncodePipeline.decodeDF(chunks).as[TokenRow]) == 0L)
  }

  test("checkpoint metrics carry lineage: doc_id range, wall_ms, attempt") {
    import spark.implicits._
    val dir = tmpDir("lineage")
    val src = TokenTableGen.generate(spark, 2000, 4)
    val m = EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 64 * 1024)
    val row = m.orderBy("part_id").head()
    val cols = m.columns.toSet
    assert(Set("first_doc_id", "last_doc_id", "wall_ms", "attempt", "status").subsetOf(cols), cols)
    assert(m.filter(org.apache.spark.sql.functions.col("status") === "ok").count() == m.count())
    assert(row.getAs[String]("first_doc_id") <= row.getAs[String]("last_doc_id"))
  }

  test("streaming ingest: micro-batch encode appends decodable chunks") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val dir = tmpDir("stream")
    val ms = MemoryStream[TokenRow](spark)
    val rows1 = (0 until 500).map(i => TokenTableGen.genRow(i.toLong))
    val rows2 = (500 until 1000).map(i => TokenTableGen.genRow(i.toLong))
    val q = graft.streaming.StreamingEncode.start(
      spark, ms.toDF(), s"$dir/chunks", s"$dir/ckpt", tokensPerChunk = 32 * 1024)
    try {
      ms.addData(rows1)
      q.processAllAvailable()
      ms.addData(rows2)
      q.processAllAvailable()
    } finally q.stop()
    val chunks = spark.read.parquet(s"$dir/chunks").as[EncodedChunk]
    val decoded = EncodePipeline.decodeDF(chunks).as[TokenRow].collect().sortBy(_.doc_id)
    val expected = (rows1 ++ rows2).sortBy(_.doc_id)
    assert(decoded.length == 1000)
    assert(decoded.zip(expected).forall { case (a, b) =>
      a.doc_id == b.doc_id && a.tokens.sameElements(b.tokens) && a.source == b.source
    })
  }

  test("streaming batch replay is idempotent (no duplicate chunks)") {
    import spark.implicits._
    val dir = tmpDir("stream-replay")
    val rows = spark.createDataset((0 until 400).map(i => TokenTableGen.genRow(i.toLong)))
    // foreachBatch is at-least-once: simulate a crash-replay of batch 7
    graft.streaming.StreamingEncode.writeBatch(rows, 7L, s"$dir/chunks", 32 * 1024, 0)
    graft.streaming.StreamingEncode.writeBatch(rows, 7L, s"$dir/chunks", 32 * 1024, 0)
    val chunks = spark.read.parquet(s"$dir/chunks").as[EncodedChunk]
    val decoded = EncodePipeline.decodeDF(chunks).as[TokenRow]
    assert(decoded.count() == 400, "replayed batch must overwrite, not append")
    assert(EncodePipeline.verifyRoundTrip(rows, decoded) == 0L)
  }

  test("micro-batch chunks stamp their doc_id key range, not arrival order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = tmpDir("stream-bounds")
    // every input partition arrives in REVERSE doc_id order
    val rows = (0 until 600).map(i => TokenTableGen.genRow(i.toLong)).sortBy(_.doc_id).reverse
    graft.streaming.StreamingEncode.writeBatch(spark.createDataset(rows), 0L,
      s"$dir/chunks", 4096, graft.codec.BlockCompression.None)
    val persisted = spark.read.parquet(s"$dir/chunks").as[EncodedChunk]
    val chunks = persisted.collect()
    assert(chunks.length > 4, "small chunks: several per partition")
    chunks.foreach { c =>
      val ids = EncodePipeline.decodeDF(Seq(c).toDS(), Seq("doc_id")).as[String].collect().toSeq
      assert(c.first_doc_id == ids.min && c.last_doc_id == ids.max,
        s"chunk ${c.chunk_id} stamped [${c.first_doc_id}, ${c.last_doc_id}]")
    }
    // the doc_id pushdown prunes on those ranges: a middle key must survive
    val x = rows(rows.length / 2).doc_id
    assert(EncodePipeline.decodeDF(persisted).filter(col("doc_id") === x)
      .select("doc_id").as[String].collect().toSeq == Seq(x))
    // compaction finds the chunks a delete dirtied by the same ranges
    SnapshotLog.commit(spark, dir, "append")
    val victims = rows.map(_.doc_id).filter(_.hashCode % 7 == 0)
    assert(victims.nonEmpty)
    SnapshotLog.deleteWhere(spark, dir, col("doc_id").isin(victims: _*))
    SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096)
    val live = rows.map(_.doc_id).filterNot(victims.toSet).sorted
    assert(SnapshotLog.readRows(spark, dir).map(_.doc_id).collect().sorted.toSeq == live)
  }

  test("aligned encode round-trips without an exchange") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 3000, 5)
    val decoded = EncodePipeline.decodeDF(
      EncodePipeline.encodeAligned(src, tokensPerChunk = 64 * 1024)).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(src, decoded) == 0L)
  }

  test("chunk-stats pruning: token search decodes only candidate chunks") {
    import spark.implicits._
    // two disjoint token ranges → chunks carry disjoint [min,max] stats
    val rows = spark.range(0, 4000, 1, 4).as[Long].map { i =>
      val base = if (i < 2000) 0 else 1000000
      TokenRow(f"doc/$i%012d", Array.tabulate(50)(k => base + (i % 100).toInt + k), 50, "web")
    }
    val chunks = EncodePipeline.encode(rows, 4, tokensPerChunk = 16 * 1024).cache()
    val total = chunks.count()
    val probe = 1000042 // lives only in the high-range chunks
    val candidates = chunks
      .filter(org.apache.spark.sql.functions.col("tokens_min") <= probe &&
        org.apache.spark.sql.functions.col("tokens_max") >= probe).count()
    assert(candidates < total, s"pruning had no effect: $candidates of $total")
    val hits = EncodePipeline.searchToken(chunks, probe).collect().toSet
    // brute-force oracle
    val expected = rows.collect().filter(_.tokens.contains(probe)).map(_.doc_id).toSet
    assert(hits == expected, s"${hits.size} vs ${expected.size}")
    assert(hits.nonEmpty)
    chunks.unpersist()
  }

  test("bloom pruning: mid-range token skips chunks min/max cannot") {
    import spark.implicits._
    // every row spans [0, 2_000_000] so min/max pruning is useless for a
    // mid-range probe; only rows 1000-1019 actually CONTAIN the probe
    val probe = 999999
    val rows = spark.range(0, 4000, 1, 4).as[Long].map { i =>
      val extra = if (i >= 1000 && i < 1020) probe else (i * 31 % 500000).toInt + 7
      TokenRow(f"doc/$i%012d", Array(0, extra, 2000000), 3, "web")
    }
    val chunks = EncodePipeline.encode(rows, 4, tokensPerChunk = 1024).cache()
    val statsCand = chunks
      .filter(org.apache.spark.sql.functions.col("tokens_min") <= probe &&
        org.apache.spark.sql.functions.col("tokens_max") >= probe).count()
    val bloomCand = chunks.collect()
      .count(c => c.tokens_min <= probe && c.tokens_max >= probe &&
        graft.codec.Bloom.mightContain(c.tokens_bloom, probe))
    assert(statsCand == chunks.count(), "stats pruning should be useless here by construction")
    assert(bloomCand.toLong <= statsCand / 4,
      s"bloom pruned too little: $bloomCand of $statsCand candidates")
    val hits = EncodePipeline.searchToken(chunks, probe).collect().toSet
    val expected = rows.collect().filter(_.tokens.contains(probe)).map(_.doc_id).toSet
    assert(hits == expected)
    assert(hits.nonEmpty)
    chunks.unpersist()
  }

  test("corrupted chunk payload fails CRC check loudly") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 200, 2)
    val chunk = EncodePipeline.encode(src, 2, tokensPerChunk = 1 << 20).collect()(0)
    def flip(b: Array[Byte]): Array[Byte] = {
      val c = b.clone()
      c(c.length / 2) = (c(c.length / 2) ^ 0x40).toByte
      c
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    val corrupted = Seq(
      "tokens" -> chunk.copy(tokens_bin = flip(chunk.tokens_bin)),
      "lens" -> chunk.copy(lens_bin = flip(chunk.lens_bin)),
      "docid" -> chunk.copy(docid_bin = flip(chunk.docid_bin)),
      "source" -> chunk.copy(source_bin = flip(chunk.source_bin)))
    for ((stream, c) <- corrupted) {
      val one = Seq(c).toDS()
      val reads = Seq(
        "decodeDF" -> (() => EncodePipeline.decodeDF(one).collect()),
        "a whole-chunk seek" -> (() => EncodePipeline.seekToRows(one, 0, c.num_rows).collect()),
        "a ranged seek" -> (() => EncodePipeline.seekToRows(one, 3, 5).collect()))
      for ((how, read) <- reads) {
        val ex = intercept[Exception](read())
        assert(messages(ex).exists(_.contains(s"$stream stream CRC mismatch")),
          s"$stream via $how: ${messages(ex)}")
      }
    }
  }

  test("decodeDF (InternalRow path) matches the source rows exactly, nulls included") {
    import spark.implicits._
    val rows = spark.range(0, 2000, 1, 4).as[Long].map { i =>
      val tokens = if (i % 7 == 0) null else Array.tabulate(12)(k => (i + k).toInt)
      val source = if (i % 5 == 0) null else s"src${i % 3}"
      TokenRow(f"doc/$i%012d", tokens, if (tokens == null) -1 else tokens.length, source)
    }
    val chunks = EncodePipeline.encode(rows, 4, tokensPerChunk = 4096).cache()
    val df = EncodePipeline.decodeDF(chunks)
    assert(EncodePipeline.verifyRoundTrip(rows, df.as[TokenRow]) == 0L)
    assert(df.count() == 2000)
    chunks.unpersist()
  }

  test("nullable tokens and source round-trip via per-chunk null bitmaps") {
    import spark.implicits._
    val rows = spark.range(0, 3000, 1, 4).as[Long].map { i =>
      val tokens = if (i % 7 == 0) null else Array.tabulate(10)(k => (i + k).toInt)
      val source = if (i % 5 == 0) null else s"src${i % 3}"
      TokenRow(f"doc/$i%012d", tokens, if (tokens == null) -1 else tokens.length, source)
    }
    val chunks = EncodePipeline.encode(rows, numParts = 4, tokensPerChunk = 8 * 1024).cache()
    // null counts are chunk-level stats
    val agg = chunks.selectExpr("sum(tokens_nulls)", "sum(source_nulls)", "sum(num_rows)").head()
    assert(agg.getLong(0) == (0 until 3000).count(_ % 7 == 0))
    assert(agg.getLong(1) == (0 until 3000).count(_ % 5 == 0))
    assert(agg.getLong(2) == 3000L)
    assert(EncodePipeline.verifyRoundTrip(rows,
      EncodePipeline.decodeDF(chunks).as[TokenRow]) == 0L)
    chunks.unpersist()
  }

  test("all-null tokens chunk still round-trips") {
    import spark.implicits._
    val rows = spark.range(0, 200, 1, 2).as[Long]
      .map(i => TokenRow(f"doc/$i%012d", null, -1, null))
    val decoded = EncodePipeline.decodeDF(EncodePipeline.encode(rows, 2)).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(rows, decoded) == 0L)
  }

  test("checkpoint metadata goes through Hadoop FS: file: URI works end-to-end") {
    import spark.implicits._
    val dir = "file:" + tmpDir("ckpt-uri")
    val src = TokenTableGen.generate(spark, 1500, 4)
    val m1 = EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 64 * 1024)
    assert(m1.selectExpr("sum(num_rows)").head().getLong(0) == 1500L)
    // resume over the same URI: nothing re-encodes, attempt stays 1
    val m2 = EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 64 * 1024)
    assert(m2.selectExpr("max(attempt)").head().getInt(0) == 1)
    val decoded = EncodePipeline.decodeDF(
      spark.read.parquet(s"$dir/chunks").as[EncodedChunk]).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(src, decoded) == 0L)
  }

  test("metrics swap window: a crash leaving only .staging still resumes") {
    import spark.implicits._
    val dir = tmpDir("ckpt-crash")
    val src = TokenTableGen.generate(spark, 1500, 4)
    EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 64 * 1024)
    // simulate dying between "metrics -> old" and "staging -> metrics":
    // only a complete .staging copy survives
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val m = new org.apache.hadoop.fs.Path(s"$dir/metrics")
    val s = new org.apache.hadoop.fs.Path(s"$dir/metrics.staging")
    assert(fs.rename(m, s))
    val m2 = EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 64 * 1024)
    // recovery promoted the staging copy; no partition was re-encoded
    assert(m2.selectExpr("max(attempt)").head().getInt(0) == 1)
    assert(m2.selectExpr("sum(num_rows)").head().getLong(0) == 1500L)
  }

  test("FORMAT_VERSION marker: mismatched or unversioned checkpoints fail explicitly") {
    import spark.implicits._
    val dir = tmpDir("ckpt-ver")
    val src = TokenTableGen.generate(spark, 800, 2)
    EncodePipeline.encodeCheckpointed(spark, src, 2, dir, tokensPerChunk = 64 * 1024)
    val vf = java.nio.file.Paths.get(dir, "FORMAT_VERSION")
    assert(java.nio.file.Files.readString(vf).trim == EncodePipeline.FormatVersion.toString)
    // stamped dir resumes fine (covered above); now corrupt the version
    // (drop the local-FS checksum sidecar too — we bypass Hadoop on purpose)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".FORMAT_VERSION.crc"))
    java.nio.file.Files.writeString(vf, "2")
    val exMismatch = intercept[IllegalArgumentException] {
      EncodePipeline.encodeCheckpointed(spark, src, 2, dir, tokensPerChunk = 64 * 1024)
    }
    assert(exMismatch.getMessage.contains("format version 2"), exMismatch.getMessage)
    // unversioned dir whose chunk schema IS the current layout: probed,
    // stamped v3 in place, and accepted (the marker only exists since
    // round 4 — refusing compatible pre-marker checkpoints forced a
    // needless full re-encode)
    java.nio.file.Files.delete(vf)
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir, ".FORMAT_VERSION.crc"))
    val m3 = EncodePipeline.encodeCheckpointed(spark, src, 2, dir, tokensPerChunk = 64 * 1024)
    assert(java.nio.file.Files.readString(vf).trim == EncodePipeline.FormatVersion.toString)
    assert(m3.selectExpr("sum(num_rows)").head().getLong(0) == 800L)
    // unversioned dir whose chunk schema does NOT match → honest
    // "version unknown" error (not a claim about which round wrote it)
    val dir2 = tmpDir("ckpt-ver2")
    spark.range(5).toDF("x").write.parquet(s"$dir2/chunks")
    val exOld = intercept[IllegalArgumentException] {
      EncodePipeline.encodeCheckpointed(spark, src, 2, dir2, tokensPerChunk = 64 * 1024)
    }
    assert(exOld.getMessage.contains("unknown"), exOld.getMessage)
  }

  test("streaming dedup: re-ingested content is dropped by keyed state, first-seen wins") {
    val docs = (0L until 40L).map(i => (i, s"content-$i"))
    val out = graft.streaming.StreamingDedup.runBatches(spark,
      Seq(
        docs,                                  // batch 1: everything
        docs.filter(_._1 % 4 == 0),            // batch 2: replayed ids
        Seq((999L, "content-7"), (1000L, "brand-new"))), // batch 3: same content, new id
      "graft_stream_dedup_spec")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // 40 originals + the one genuinely new doc; content-7 under id 999 was
    // dropped because its fingerprint was first seen as doc 7
    assert(out.length == 41, s"got ${out.length}")
    assert(out.map(_._1).toSeq == ((0L until 40L) :+ 1000L))
  }

  test("generic encode round-trips RANDOM schemas (fuzz)") {
    import org.apache.spark.sql.functions._
    val r = new java.util.Random(20260817L)
    for (iter <- 1 to 8) {
      val nCols = 1 + r.nextInt(6)
      val picks = Array.fill(nCols)(r.nextInt(14))
      val cols = picks.zipWithIndex.map { case (t, i) =>
        val base = t match {
          case 0 => (col("id") * 31 % 977).cast("int")
          case 1 => (col("id") * 7919L).cast("bigint")
          case 2 => (col("id") * 0.37).cast("double")
          case 3 => (col("id") * 0.5).cast("float")
          case 4 => (col("id") % 2 === 0).cast("boolean")
          case 5 => concat(lit("s-"), ((col("id") * 131) % 389).cast("string"))
          case 6 => (col("id").cast("decimal(12,3)") / lit(7).cast("decimal(4,0)"))
            .cast("decimal(12,3)")
          case 7 => date_add(lit(java.sql.Date.valueOf("2020-01-01")),
            (col("id") % 900).cast("int"))
          case 8 => (lit("2026-01-01 00:00:00").cast("timestamp")
            + expr(s"make_interval(0,0,0,0,0,0, CAST(id % 86400 AS INT))"))
          case 9 => array((col("id") % 97).cast("int"), ((col("id") * 3) % 89).cast("int"))
          // element-null-bearing arrays of every element type
          case 10 => array((col("id") * 7919L).cast("bigint"),
            when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 3L).cast("bigint"))
          case 11 => array(
            when(col("id") % 3 === 0, lit(null)).otherwise(col("id") * 0.11).cast("double"),
            (col("id") * 0.37).cast("double"))
          case 12 => array(
            when(col("id") % 4 === 0, lit(null))
              .otherwise(concat(lit("e-"), (col("id") % 53).cast("string"))).cast("string"),
            lit("z"))
          case _ => array(
            when(col("id") % 6 === 0, lit(null)).otherwise((col("id") % 71).cast("int"))
              .cast("int"),
            when(col("id") % 7 === 1, lit(null)).otherwise((col("id") % 13).cast("float"))
              .cast("float")).cast("array<float>")
        }
        // column-dependent null stripes (never on the unique key below)
        when(pmod(col("id") + lit(i), lit(7)) === 0, lit(null)).otherwise(base).as(s"c$i")
      }
      val df = spark.range(2500)
        .select(Seq(col("id")) ++ cols: _*)
        .coalesce(2)
      val back = GenericEncode.decode(spark,
        GenericEncode.encode(df, rowsPerChunk = 257))
      // unique id per row → two-sided except is an exact multiset compare
      assert(back.count() == 2500, s"schema #$iter (${picks.mkString(",")})")
      assert(df.exceptAll(back).count() == 0 && back.exceptAll(df).count() == 0,
        s"schema #$iter (${picks.mkString(",")}) mismatch")
    }
  }

  test("generic encode round-trips an arbitrary flat schema with nulls") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, when, lit, array, concat_ws}
    val df = spark.range(0, 5000, 1, 4).toDF("id")
      .select(
        col("id"),
        col("id").cast("int").as("i"),
        (col("id") * 1.5).as("d"),
        when(col("id") % 7 === 0, lit(null).cast("string"))
          .otherwise(concat_ws("-", lit("s"), col("id"))).as("s"),
        (col("id") % 2 === 0).as("b"),
        when(col("id") % 11 === 0, lit(null))
          .otherwise(array(col("id").cast("int"), lit(42))).as("arr"))
    val chunks = graft.spark.GenericEncode.encode(df, rowsPerChunk = 1024).cache()
    assert(chunks.count() > 1) // multiple chunks exercised
    val back = graft.spark.GenericEncode.decode(spark, chunks)
    assert(back.schema.fieldNames.toSeq == df.schema.fieldNames.toSeq)
    val a = df.orderBy("id").collect().map(_.toSeq.map {
      case x: Seq[_] => x.toList
      case x => x
    })
    val b = back.orderBy("id").collect().map(_.toSeq.map {
      case x: Seq[_] => x.toList
      case x => x
    })
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
    // null counts surfaced per column
    val nulls = chunks.collect().map(_.col_nulls.toVector).toVector.transpose.map(_.sum)
    assert(nulls(3) == (0 until 5000).count(_ % 7 == 0))
    assert(nulls(5) == (0 until 5000).count(_ % 11 == 0))
    chunks.unpersist()
  }

  test("generic encode flattens nested structs (incl. null structs) and array<string>") {
    import org.apache.spark.sql.functions.{col, lit, when, struct, array, concat_ws}
    val df = spark.range(0, 3000, 1, 3).toDF("id")
      .select(
        col("id"),
        when(col("id") % 4 === 0, lit(null)).otherwise(
          struct(
            (col("id") * 2).as("a"),
            struct(concat_ws("", lit("x"), col("id")).as("deep")).as("inner"))).as("meta"),
        array(lit("t1"), concat_ws("", lit("tag"), (col("id") % 5))).as("tags"),
        org.apache.spark.sql.functions.expr(
          "map(concat('k', CAST(id % 3 AS STRING)), CAST(id AS STRING))").as("props"),
        (col("id") * lit(0.01)).cast("decimal(12,4)").as("price"))
    val back = graft.spark.GenericEncode.decode(
      spark, graft.spark.GenericEncode.encode(df, rowsPerChunk = 512))
    assert(back.schema.fieldNames.toSeq == Seq("id", "meta", "tags", "props", "price"))
    assert(back.schema("meta").dataType.isInstanceOf[org.apache.spark.sql.types.StructType])
    assert(back.schema("props").dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
    val norm = (d: org.apache.spark.sql.DataFrame) =>
      d.selectExpr("id", "meta.a AS a", "meta.inner.deep AS deep",
        "meta IS NULL AS meta_null", "tags[1] AS tag",
        "props[concat('k', CAST(id % 3 AS STRING))] AS prop",
        "CAST(price AS STRING) AS price")
        .orderBy("id").collect().map(_.toSeq)
    val a = norm(df)
    val b = norm(back)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("generic encode covers float / date / timestamp / array<float>") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit, when, array, to_date, to_timestamp, concat_ws}
    val df = spark.range(0, 2000, 1, 3).toDF("id")
      .select(
        col("id"),
        (col("id") * 0.25).cast("float").as("f"),
        to_timestamp(lit("2026-01-01 00:00:00")).as("base_ts"),
        to_date(lit("2026-03-01")).as("base_day"),
        when(col("id") % 9 === 0, lit(null))
          .otherwise(array((col("id") * 0.5).cast("float"), lit(1.5f))).as("fa"),
        when(col("id") % 6 === 0, lit(null))
          .otherwise(concat_ws("|", lit("payload"), col("id")).cast("binary")).as("blob"))
    val back = graft.spark.GenericEncode.decode(
      spark, graft.spark.GenericEncode.encode(df, rowsPerChunk = 512))
    def norm(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(_.toSeq.map {
        case x: Seq[_] => x.toList
        case x: Array[Byte] => x.toList
        case x => x
      })
    val a = norm(df)
    val b = norm(back)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) => assert(x == y, s"$x vs $y") }
  }

  test("seekToRows: row-offset reads decode only covering pages") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 4000, 4)
    val chunks = EncodePipeline.encode(src, 4, tokensPerChunk = 1 << 20).cache()
    // a range-partitioned encode's canonical (part_id, chunk, row) order
    // is doc_id order
    val fullOrdered = src.collect().sortBy(_.doc_id)
    for (start <- Seq(0L, 17L, 1999L, 3990L)) {
      val got = EncodePipeline.seekToRows(chunks, start, 10).collect()
        .sortBy(_.doc_id)
      val want = fullOrdered.slice(start.toInt, start.toInt + 10).sortBy(_.doc_id)
      assert(got.map(_.doc_id).toSeq == want.map(_.doc_id).toSeq, s"start=$start")
      assert(got.zip(want).forall { case (a, b) => a.tokens.sameElements(b.tokens) })
    }
    // page skipping: a 10-row read of a ~2M-token chunk touches a small
    // fraction of its token pages
    val bigSrc = TokenTableGen.generate(spark, 10000, 2)
    val big = EncodePipeline.encodeAligned(bigSrc.repartition(1), tokensPerChunk = 1 << 22)
      .collect().maxBy(_.num_tokens)
    val lens = graft.codec.Chunks.decodeInts(
      graft.codec.BlockCompression.decompress(big.lens_bin))
    val (_, decoded, total) = graft.codec.StreamedTokens.decodeRows(
      graft.codec.BlockCompression.decompress(big.tokens_bin), lens,
      big.num_rows / 2, big.num_rows / 2 + 10)
    assert(total >= 8, s"chunk too small to evidence skipping: $total pages")
    assert(decoded * 2 <= total, s"decoded $decoded of $total pages")
    chunks.unpersist()
  }

  test("seekToRows: ranges over NULL tokens and sources equal the source rows") {
    import spark.implicits._
    val tokNull = (i: Int) => i % 4 == 0
    val srcNull = (i: Int) => i % 3 == 0
    // generated in doc_id order, the canonical order of a range-partitioned encode
    val rows = (0 until 600).map { i =>
      val tokens = if (tokNull(i)) null else Array.tabulate(i % 5 + 1)(k => i * 7 + k)
      TokenRow(f"doc/$i%06d", tokens, if (tokens == null) -1 else tokens.length,
        if (srcNull(i)) null else s"src${i % 2}")
    }
    val chunks = EncodePipeline.encode(spark.createDataset(rows), 2, tokensPerChunk = 128).cache()
    val starts = EncodePipeline.rowIndex(chunks).collect()
      .map(r => (r.getLong(1).toInt, r.getInt(2))).sortBy(_._1)
    assert(starts.length > 4, s"${starts.length} chunks")
    def first(from: Int)(p: Int => Boolean): Int = Iterator.from(from).find(p).get
    def last(before: Int)(p: Int => Boolean): Int = Iterator.iterate(before - 1)(_ - 1).find(p).get
    val both = (i: Int) => tokNull(i) && srcNull(i)
    val (s1, n1) = starts(1)
    val (s2, n2) = starts(2)
    val (s3, n3) = starts(3)
    // [first row, last row] pairs, each starting and ending on a NULL row
    val nullEnded = Seq(
      first(s1)(tokNull) -> last(s1 + n1)(srcNull), // inside one chunk
      last(s2)(tokNull) -> first(s2)(srcNull), // across a chunk boundary
      first(0)(both) -> last(s3 + n3)(both)) // across four chunks
    assert(nullEnded(1)._1 < s2 && nullEnded(1)._2 >= s2)
    nullEnded.foreach { case (from, to) =>
      assert(from < to && (tokNull(from) || srcNull(from)) && (tokNull(to) || srcNull(to)))
    }
    def norm(rs: Seq[TokenRow]) =
      rs.map(r => (r.doc_id, Option(r.tokens).map(_.toSeq), r.n_tok, Option(r.source)))
    for ((from, to) <- nullEnded :+ (s2 -> (s2 + n2 - 1))) { // and exactly one whole chunk
      val got = EncodePipeline.seekToRows(chunks, from, to - from + 1).collect().sortBy(_.doc_id)
      assert(norm(got) == norm(rows.slice(from, to + 1)), s"rows [$from, $to]")
    }
    chunks.unpersist()
  }

  test("rowIndex: distributed prefix sums match the canonical order; persisted index works") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 4000, 4)
    val chunks = EncodePipeline.encode(src, 4, tokensPerChunk = 64 * 1024).cache()
    val idx = EncodePipeline.rowIndex(chunks).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // reference prefix sums in (part_id, chunk_id) order
    val metas = chunks.select("part_id", "chunk_id", "num_rows").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
      .sortBy(m => (m._1, m._2))
    var pos = 0L
    val want = metas.map { case (_, id, n) => val s = pos; pos += n; (id, s, n) }
    assert(idx.sortBy(_._2).toSeq == want.toSeq)
    // a precomputed (persisted-style) index yields identical seeks
    val index = EncodePipeline.rowIndex(chunks)
    val a = EncodePipeline.seekToRows(chunks, 123, 7).collect().sortBy(_.doc_id)
    val b = EncodePipeline.seekToRows(chunks, 123, 7, Some(index)).collect().sortBy(_.doc_id)
    assert(a.map(_.doc_id).toSeq == b.map(_.doc_id).toSeq && a.length == 7)
    chunks.unpersist()
  }

  test("sorted-run compaction re-encodes only overlapping chunks") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val base = tmpDir("compact-sorted")
    def doc(i: Long, suffix: String = "") = f"doc/$i%012d$suffix"
    def rows(range: Range, suffix: String = "") =
      spark.createDataset(range.map(i =>
        TokenRow(doc(i.toLong, suffix), Array.tabulate(40)(k => i + k), 40, "web")))
    // two disjoint sorted runs + a small run overlapping their boundary
    val a = rows(0 until 1000)
    val b = rows(1000 until 2000)
    val c = rows(995 until 1005, "-x") // doc/...995-x sorts inside a's tail / b's head
    EncodePipeline.encode(a, 4, tokensPerChunk = 8 * 1024).write.parquet(s"$base/runA")
    EncodePipeline.encode(b, 4, tokensPerChunk = 8 * 1024).write.parquet(s"$base/runB")
    EncodePipeline.encode(c, 1, tokensPerChunk = 8 * 1024).write.parquet(s"$base/runC")
    val out = EncodePipeline.compactSorted(
      spark, Seq(s"$base/runA", s"$base/runB", s"$base/runC"), s"$base/merged",
      tokensPerChunk = 8 * 1024)
    // content is exact
    val full = a.union(b).union(c)
    val decoded = EncodePipeline.decodeDF(out.as[EncodedChunk]).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(full, decoded) == 0L)
    // non-overlapping chunks passed through byte-identical (>= 2x less
    // encode work: far more than half the chunks are untouched)
    val inHashes = Seq("runA", "runB", "runC")
      .flatMap(r => spark.read.parquet(s"$base/$r")
        .select(md5(col("tokens_bin"))).as[String].collect())
    val outHashes = out.select(md5(col("tokens_bin"))).as[String].collect()
    val passed = outHashes.count(inHashes.toSet)
    assert(passed.toDouble >= outHashes.length * 0.5,
      s"only $passed of ${outHashes.length} chunks passed through")
    assert(passed < outHashes.length, "expected SOME re-encoded chunks at the overlap")
    // compacted partition ranges are disjoint and ordered
    val ranges = out.select("part_id", "first_doc_id", "last_doc_id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .groupBy(_._1).map { case (p, cs) => (p, cs.map(_._2).min, cs.map(_._3).max) }
      .toSeq.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, _, aLast), (_, bFirst, _)) => assert(aLast <= bFirst, s"$aLast > $bFirst")
      case _ =>
    }
  }

  test("bin-pack compaction coalesces tiny disjoint runs; big chunks pass through") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val base = tmpDir("binpack")
    def rows(range: Range) =
      spark.createDataset(range.map(i =>
        TokenRow(f"doc/$i%012d", Array.tabulate(8)(k => i + k), 8, "web")))
    // the common 100-TB layout: an already-compact HEAD followed by
    // tiny disjoint ingest debris at the TAIL (ids only grow). The head
    // must pass through byte-identical; only the debris repacks. (The
    // reverse order — debris before a compact chunk — may absorb the
    // boundary chunk into a waterline bin; that is one rewrite per
    // debris region, amortized nil, and correctness never depends on it.)
    val bigRange = 0 until 500
    EncodePipeline.encode(rows(bigRange), 1, tokensPerChunk = 4096)
      .write.parquet(s"$base/big")
    // 8 tiny runs: 25 docs × 8 tok each, 64-token chunk budget → 4 chunks per run
    val runs = (0 until 8).map { r =>
      EncodePipeline.encode(rows(600 + r * 25 until 600 + (r + 1) * 25), 1,
        tokensPerChunk = 64)
        .write.parquet(s"$base/run$r")
      s"$base/run$r"
    }
    val tinyCount = runs.map(spark.read.parquet(_).count()).sum
    val out = EncodePipeline.compactBinPack(
      spark, s"$base/big" +: runs, s"$base/packed", tokensPerChunk = 1024)
    // rows are exact
    val full = (0 until 8).map(r => rows(600 + r * 25 until 600 + (r + 1) * 25))
      .reduce(_ union _).union(rows(bigRange))
    val decoded = EncodePipeline.decodeDF(out.as[EncodedChunk]).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(full, decoded) == 0L)
    // tiny chunks collapsed: packed tiny region ≈ 1600 tok / 1024 ≈ 2 bins
    val packedCount = out.count()
    assert(packedCount <= tinyCount / 4 + 2,
      s"packed $packedCount vs $tinyCount tiny chunks (+1 big)")
    // the already-compact run passed through byte-identical
    val bigHashes = spark.read.parquet(s"$base/big")
      .select(md5(col("tokens_bin"))).as[String].collect().toSet
    val outHashes = out.select(md5(col("tokens_bin"))).as[String].collect().toSet
    assert(bigHashes.subsetOf(outHashes), "big chunks were needlessly re-encoded")
    // packed ranges disjoint + ordered
    val ranges = out.select("first_doc_id", "last_doc_id")
      .collect().map(r => (r.getString(0), r.getString(1))).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, aLast), (bFirst, _)) => assert(aLast < bFirst, s"$aLast >= $bFirst")
      case _ =>
    }
  }

  test("compaction groups chunks as a brute-force transitive-overlap grouping does") {
    import spark.implicits._
    val base = tmpDir("compact-brute")
    def rows(ids: Seq[Int]) = spark.createDataset(ids.map(i =>
      TokenRow(f"doc/$i%06d", Array.tabulate(20)(k => i + k), 20, "web")))
    // 20 tokens a row, 200 a chunk: runs of 10 docs become one chunk each
    val runs = Seq(
      Seq(0, 100), // one wide chunk [0, 100] ...
      10 until 40, // ... holding three narrow chunks of another run,
      50 until 60, // then one starting inside it after they all end
      200 until 210, // equal first_doc_id across runs: [200, 209] and
      Seq(200), // [200, 200]; and a wide [300, 350] beside [300, 309]
      Seq(300, 350), // with [340, 349] starting past the narrower one
      300 until 310,
      340 until 350,
      500 until 600) // ten disjoint chunks
    val dirs = runs.zipWithIndex.map { case (ids, r) =>
      EncodePipeline.encode(rows(ids), 1, tokensPerChunk = 200).write.parquet(s"$base/run$r")
      s"$base/run$r"
    }
    val input = dirs.flatMap(d => spark.read.parquet(d).as[EncodedChunk].collect())
    // plain Scala: chunks whose [first, last] intervals overlap,
    // transitively, form a group; groups are numbered in doc_id order
    val label = Array.tabulate(input.length)(identity)
    def find(i: Int): Int = if (label(i) == i) i else find(label(i))
    for (i <- input.indices; j <- input.indices
         if input(i).first_doc_id <= input(j).last_doc_id &&
           input(j).first_doc_id <= input(i).last_doc_id)
      label(find(i)) = find(j)
    val groups = input.indices.groupBy(find).values.toSeq
      .sortBy(g => g.map(i => input(i).first_doc_id).min)
    assert(groups.count(_.length > 1) == 3, groups) // the nested and tie cases
    def docs(cs: Seq[EncodedChunk]): Seq[String] =
      EncodePipeline.decodeDF(cs.toDS(), Seq("doc_id")).as[String].collect().toSeq.sorted
    def payload(c: EncodedChunk): Seq[Byte] =
      (c.tokens_bin ++ c.lens_bin ++ c.docid_bin ++ c.source_bin ++ c.tokens_bloom).toSeq
    def check(name: String, out: org.apache.spark.sql.DataFrame,
              bins: Seq[(Long, Seq[Int])]): Unit = {
      val got = out.as[EncodedChunk].collect().groupBy(_.part_id.toLong)
      // the same chunks share an output part_id, numbered the same way
      assert(got.keySet == bins.map(_._1).toSet, s"$name: part_ids ${got.keys.toSeq.sorted}")
      bins.foreach { case (p, bin) =>
        assert(docs(got(p).toSeq) == docs(bin.map(input)), s"$name: part $p")
      }
      // a chunk alone in its bin passes through byte-identical, keys aside
      bins.filter(_._2.length == 1).foreach { case (p, Seq(i)) =>
        val (in, o) = (input(i), got(p))
        assert(o.length == 1 && payload(o(0)) == payload(in) && o(0).crc32 == in.crc32 &&
          o(0).chunk_id == ((p << 32) | (in.chunk_id & 0xFFFFFFFFL)), s"$name: part $p")
      }
    }
    check("sorted", EncodePipeline.compactSorted(spark, dirs, s"$base/sorted",
      tokensPerChunk = 1 << 20), groups.indices.map(_.toLong).zip(groups))
    // a bin is the groups whose tokens before them give the same quotient
    // by the target
    Seq(250L, 700L, 2000L).foreach { target =>
      val before = groups.scanLeft(0L)(_ + _.map(i => input(i).num_tokens).sum)
      val bins = groups.zip(before).groupBy(_._2 / target).toSeq.sortBy(_._1)
        .map { case (b, gs) => (b, gs.flatMap(_._1)) }
      assert(bins.length < groups.length, s"$target: $bins") // some groups share a bin
      check(s"binpack $target", EncodePipeline.compactBinPack(spark, dirs,
        s"$base/packed$target", tokensPerChunk = target.toInt), bins)
    }
  }

  test("bin-pack dedupes and keeps overlap semantics when runs overlap") {
    import spark.implicits._
    val base = tmpDir("binpack-dd")
    def rows(range: Range) =
      spark.createDataset(range.map(i =>
        TokenRow(f"doc/$i%012d", Array.tabulate(8)(k => i + k), 8, "web")))
    EncodePipeline.encode(rows(0 until 100), 1, tokensPerChunk = 64)
      .write.parquet(s"$base/a")
    // full duplicate re-ingest of a middle slice
    EncodePipeline.encode(rows(40 until 60), 1, tokensPerChunk = 64)
      .write.parquet(s"$base/b")
    val out = EncodePipeline.compactBinPack(
      spark, Seq(s"$base/a", s"$base/b"), s"$base/packed",
      tokensPerChunk = 512, dropDuplicates = true)
    val decoded = EncodePipeline.decodeDF(out.as[EncodedChunk]).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(rows(0 until 100), decoded) == 0L)
  }

  test("encode gives part_id i its own task i") {
    val src = TokenTableGen.generate(spark, 4000, 8)
    Seq(2, 4, 8).foreach { n =>
      val placed = EncodePipeline.encode(src, numParts = n, tokensPerChunk = 16 * 1024)
        .rdd.mapPartitionsWithIndex((task, it) => it.map(c => (task, c.part_id)))
        .collect().distinct.sorted.toSeq
      assert(placed == (0 until n).map(i => (i, i)), s"numParts=$n: (task, part_id) $placed")
    }
  }

  test("encode with more bounds than tasks still round-trips exactly") {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 3000, 8)
    val bounds = EncodePipeline.massBalancedBounds(src, 8)
    val chunks = EncodePipeline.encode(src, numParts = 3, tokensPerChunk = 16 * 1024,
      boundsOverride = Some(bounds)).cache()
    // 8 logical parts over 3 tasks: part p lands on task p mod 3
    val placed = chunks.rdd.mapPartitionsWithIndex((task, it) => it.map(c => (task, c.part_id)))
      .collect().distinct
    assert(placed.map(_._2).toSet == (0 until 8).toSet)
    assert(placed.forall { case (task, p) => p % 3 == task }, placed.sorted.mkString(","))
    val decoded = EncodePipeline.decodeDF(chunks).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(src, decoded) == 0L)
    chunks.unpersist()
  }

  test("compaction gives every re-encode task rows when groups outnumber tasks") {
    import spark.implicits._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val base = tmpDir("compact-route")
    // 8 key ranges of 100 ids; run A holds the even ids, run B the odd
    // ones, one chunk per range each: A's and B's chunks overlap inside a
    // range and never across, so every range is one 2-chunk group
    val groups = 8
    def rows(parity: Int) = spark.createDataset((0 until groups * 100)
      .filter(_ % 2 == parity)
      .map(i => TokenRow(f"doc/$i%012d", Array.tabulate(30)(k => i + k), 30, "web")))
    val bounds = (0 until groups - 1).map(g => f"doc/${g * 100 + 99}%012d").toArray
    Seq(0, 1).foreach { parity =>
      EncodePipeline.encode(rows(parity), groups, tokensPerChunk = 8 * 1024,
        boundsOverride = Some(bounds)).write.parquet(s"$base/run$parity")
    }
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Int, Long)]()
    val listener = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null)
          tasks.add((t.stageId, t.taskInfo.index, t.taskMetrics.shuffleReadMetrics.recordsRead))
    }
    ColumnBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    val out =
      try EncodePipeline.compactSorted(spark, Seq(s"$base/run0", s"$base/run1"),
        s"$base/merged", tokensPerChunk = 8 * 1024)
      finally {
        ColumnBridge.drainListeners(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
    // the write stage is the last one with a task per exchange partition
    // (later ones only read the written footers); the union puts the
    // re-encode side's tasks after the pass-through side's
    val parallelism = spark.sessionState.conf.numShufflePartitions
    assert(groups >= parallelism)
    val all = tasks.toArray(Array.empty[(Int, Int, Long)])
    val writeStage = all.groupBy(_._1).filter(_._2.length >= parallelism).keys.max
    val reencode = all.filter(_._1 == writeStage).sortBy(_._2).takeRight(parallelism)
    assert(reencode.length == parallelism)
    assert(reencode.forall(_._3 > 0), reencode.mkString(","))
    assert(reencode.map(_._3).sum == groups * 100L, reencode.mkString(","))
    val decoded = EncodePipeline.decodeDF(out.as[EncodedChunk]).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(rows(0).union(rows(1)), decoded) == 0L)
  }

  test("token filters push down to chunk ranges and blooms automatically") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{array_contains, col, lit}
    // docs sorted by id; tokens(i) = [i/100] so per-chunk token ranges are
    // tight intervals aligned with the doc ranges
    val rows = spark.createDataset((0 until 2000).map(i =>
      TokenRow(f"doc/$i%06d", Array(i / 100), 1, "web")))
    val base = tmpDir("tok-push")
    // corrupt every chunk whose doc range starts past doc/001000: reads
    // succeed only when pruning skips those chunks entirely
    EncodePipeline.encode(rows, 4, tokensPerChunk = 256)
      .map(c => if (c.first_doc_id > "doc/001000")
        c.copy(tokens_bin = Array[Byte](1, 2, 3)) else c)
      .write.parquet(s"$base/t")
    val tbl = spark.read.parquet(s"$base/t").as[EncodedChunk]
    // corruption is real: an unpruned read of the payload fails
    intercept[Exception] {
      EncodePipeline.decodeDF(tbl).selectExpr("size(tokens)").collect()
    }
    // doc_id range filter → [first_doc_id, last_doc_id] chunk pruning
    val byDoc = EncodePipeline.decodeDF(tbl)
      .filter(col("doc_id") < "doc/000500")
    assert(byDoc.selectExpr("sum(size(tokens))").collect()(0).getLong(0) == 500L)
    assert(byDoc.queryExecution.optimizedPlan.toString.contains("first_doc_id"))
    // the same bound with the literal on the left
    val flipped = EncodePipeline.decodeDF(tbl)
      .filter(lit("doc/000500") > col("doc_id"))
    assert(flipped.selectExpr("sum(size(tokens))").collect()(0).getLong(0) == 500L)
    // array_contains → tokens_min/max + CRC-verified bloom probe
    val byTok = EncodePipeline.decodeDF(tbl)
      .filter(array_contains(col("tokens"), 3))
    assert(byTok.count() == 100)
    val p = byTok.queryExecution.optimizedPlan.toString
    assert(p.contains("tokens_min") && p.contains("bloom"), p.take(2000))
    // doc_id IN-list → interval over the list extremes
    val inDocs = EncodePipeline.decodeDF(tbl)
      .filter(col("doc_id").isin("doc/000010", "doc/000200"))
    assert(inDocs.count() == 2)
    assert(inDocs.queryExecution.optimizedPlan.toString.contains("first_doc_id"))
    // doc_id prefix scan → byte-wise [prefix, nextPrefix) window
    val pfx = EncodePipeline.decodeDF(tbl)
      .filter(col("doc_id").startsWith("doc/0003"))
    assert(pfx.count() == 100)
    assert(pfx.queryExecution.optimizedPlan.toString.contains("last_doc_id"))
    // and the same pruning behind plain SQL over a registered view
    graft.spark.GraftTables.registerTokenTable(spark, "graft_push_t", s"$base/t")
    val viaSql = spark.sql(
      "SELECT count(*) AS c FROM graft_push_t WHERE array_contains(tokens, 3)")
    assert(viaSql.collect()(0).getLong(0) == 100L)
    assert(viaSql.queryExecution.optimizedPlan.toString.contains("tokens_min"))
  }

  test("compaction dedupe drops duplicate doc_ids; pass-through chunks stay byte-identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, md5}
    val base = tmpDir("compact-dd")
    def doc(i: Long) = f"doc/$i%012d"
    def rows(range: Range) =
      spark.createDataset(range.map(i =>
        TokenRow(doc(i.toLong), Array.tabulate(40)(k => i + k), 40, "web")))
    val a = rows(0 until 1000)
    val b = rows(1000 until 2000)
    val dup = rows(995 until 1005) // SAME doc_ids + payloads, straddling A/B
    EncodePipeline.encode(a, 4, tokensPerChunk = 8 * 1024).write.parquet(s"$base/runA")
    EncodePipeline.encode(b, 4, tokensPerChunk = 8 * 1024).write.parquet(s"$base/runB")
    EncodePipeline.encode(dup, 1, tokensPerChunk = 8 * 1024).write.parquet(s"$base/runC")
    val out = EncodePipeline.compactSorted(
      spark, Seq(s"$base/runA", s"$base/runB", s"$base/runC"), s"$base/merged",
      tokensPerChunk = 8 * 1024, dropDuplicates = true)
    // exactly the deduped union: 2000 rows, each doc_id once
    val decoded = EncodePipeline.decodeDF(out.as[EncodedChunk]).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(a.union(b), decoded) == 0L)
    // chunks away from the overlap pass through byte-identical
    val inHashes = Seq("runA", "runB", "runC")
      .flatMap(r => spark.read.parquet(s"$base/$r")
        .select(md5(col("tokens_bin"))).as[String].collect()).toSet
    val outHashes = out.select(md5(col("tokens_bin"))).as[String].collect()
    val passed = outHashes.count(inHashes)
    assert(passed.toDouble >= outHashes.length * 0.5,
      s"only $passed of ${outHashes.length} chunks passed through")
    // and with no duplicates present, dropDuplicates=true changes nothing
    val out2 = EncodePipeline.compactSorted(
      spark, Seq(s"$base/runA", s"$base/runB"), s"$base/merged2",
      tokensPerChunk = 8 * 1024, dropDuplicates = true)
    assert(EncodePipeline.verifyRoundTrip(
      a.union(b), EncodePipeline.decodeDF(out2.as[EncodedChunk]).as[TokenRow]) == 0L)
  }

  test("checkpointed encode resumes idempotently") {
    import spark.implicits._
    val dir = tmpDir("ckpt")
    val src = TokenTableGen.generate(spark, 3000, 4)
    val m1 = EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 64 * 1024)
    val rows1 = m1.selectExpr("sum(num_rows)").head().getLong(0)
    assert(rows1 == 3000L)
    // the layout is globally range-ordered: partition doc_id ranges in
    // the metrics table must not overlap
    val ranges = m1.select("part_id", "first_doc_id", "last_doc_id")
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2))).sortBy(_._1)
    assert(ranges.length > 1)
    ranges.sliding(2).foreach {
      case Array((_, _, aLast), (_, bFirst, _)) => assert(aLast <= bFirst, s"$aLast > $bFirst")
      case _ =>
    }
    // resume: everything done → no new work, metrics unchanged
    val m2 = EncodePipeline.encodeCheckpointed(spark, src, 4, dir, tokensPerChunk = 64 * 1024)
    val rows2 = m2.selectExpr("sum(num_rows)").head().getLong(0)
    assert(rows2 == 3000L)
    // decoded output matches source exactly
    val chunks = spark.read.parquet(s"$dir/chunks").as[EncodedChunk]
    val decoded = EncodePipeline.decodeDF(chunks).as[TokenRow]
    assert(EncodePipeline.verifyRoundTrip(src, decoded) == 0L)
  }
}
