package graft.queries

import graft.codec._
import graft.spark.{ChunkJoin, EncodePipeline, EncodedChunk, GenericEncode, SnapshotLog, TokenTableGen, TokenRow}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.nio.charset.StandardCharsets.UTF_8
import scala.reflect.ClassTag

/** Codec round-trip queries for the driver's DuckDB oracle: each query
  * pushes a real testdata column through encode→decode inside a
  * mapPartitions stage and returns the decoded values — so the oracle is
  * the identity SELECT, and any codec bit-flip shows up as a hash
  * mismatch. Mirrors the reference round-trip suites
  * (encoding/encoding_test.go:206-264) but driven through Spark.
  */
object RoundTrips {

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Encode fan-out for the corpus-sized round-trips: the cluster's own
    * parallelism (local[n] → n; on a real cluster, total executor cores)
    * instead of the round-5 constants 4/8, which left 3/4 of the box
    * idle through every encode stage (guide §2: partition counts must
    * scale with the deployment, not be constants). A production job
    * writing a PERSISTED table sizes partitions by bytes instead
    * ([[EncodePipeline.autoNumParts]], 256 MB targets); these chunk
    * tables are in-query intermediates, where the only cost of a
    * partition is its task and the only gain is a busy core. Layout-only:
    * decoded VALUES are partition-count-invariant, which is what the
    * oracle checks. */
  private def encParts(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  /** Scratch-name suffix: the first 8 hex digits of MD5(sf dir), so
    * reruns on one dir reuse their scratch and two dirs never collide. */
  private def dirKey(dir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  /** A query's scratch path, `<java.io.tmpdir>/graft-<tag>-q-<dirKey>`. */
  private def scratch(dir: String, tag: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft-$tag-q-${dirKey(dir)}"

  /** [[scratch]], emptied first: a stale snapshot log or stream checkpoint
    * would shift versions or skip batches on a rerun. */
  private def freshScratch(spark: SparkSession, dir: String, tag: String): String = {
    val base = scratch(dir, tag)
    val basePath = new org.apache.hadoop.fs.Path(base)
    basePath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(basePath, true)
    base
  }

  /** Each partition of `values` as ONE chunk through `codec` (encode then
    * decode) inside a mapPartitions stage — the codec round-trip shape. */
  private def roundTrip[T: Encoder: ClassTag](values: Dataset[T])(
      codec: Array[T] => Array[T]): Dataset[T] =
    values.mapPartitions(it => codec(it.toArray).iterator)

  /** lineitem as token rows, one per order: doc_id = the zero-padded
    * l_orderkey, tokens = its sorted line numbers, source = 'tpch'. */
  private def orderRows(spark: SparkSession, dir: String): Dataset[TokenRow] = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("tokens"))
      .select(
        format_string("%015d", col("l_orderkey")).as("doc_id"),
        col("tokens"),
        size(col("tokens")).as("n_tok"),
        lit("tpch").as("source"))
      .as[TokenRow]
  }

  /** Document rows as token rows: doc_id = the 8-digit zero-padded
    * `doc_id` column, tokens = `tokens` (so n_tok is their count). */
  private def docRows(docs: DataFrame, tokens: Seq[Column], source: Column): Dataset[TokenRow] = {
    import docs.sparkSession.implicits._
    docs.select(
        lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"),
        array(tokens: _*).as("tokens"),
        lit(tokens.length).as("n_tok"),
        source.as("source"))
      .as[TokenRow]
  }

  /** documents with tokens [n_chars], source = lang. */
  private def charRows(docs: DataFrame): Dataset[TokenRow] =
    docRows(docs, Seq(col("n_chars").cast("int")), col("lang"))

  /** documents with tokens [n_chars, length(lang)]. */
  private def charLangRows(docs: DataFrame, source: Column): Dataset[TokenRow] =
    docRows(docs, Seq(col("n_chars").cast("int"), length(col("lang")).cast("int")), source)

  /** Nullable lineitem token rows: tokens NULL where l_discount > 0.08
    * (n_tok = -1), source NULL where l_returnflag = 'N'. */
  private def nullableRows(spark: SparkSession, dir: String): Dataset[TokenRow] = {
    import spark.implicits._
    table(spark, dir, "lineitem")
      .select(
        concat(lpad(col("l_orderkey").cast("string"), 10, "0"), lit("-"),
          lpad(col("l_linenumber").cast("string"), 4, "0")).as("doc_id"),
        when(col("l_discount") > 0.08, lit(null))
          .otherwise(array(col("l_linenumber"),
            floor(col("l_quantity")).cast("int"))).as("tokens"),
        when(col("l_discount") > 0.08, lit(-1)).otherwise(lit(2)).as("n_tok"),
        when(col("l_returnflag") === "N", lit(null).cast("string"))
          .otherwise(col("l_returnflag")).as("source"))
      .as[TokenRow]
  }

  /** (doc_id, source, tok_sum) ORDER BY doc_id — token rows restated as
    * scalars the oracle can compare. */
  private def tokSums(rows: Dataset[_]): DataFrame =
    rows.select(col("doc_id"), col("source"),
        expr("aggregate(tokens, CAST(0 AS BIGINT), (a, x) -> a + x)").as("tok_sum"))
      .orderBy("doc_id")

  /** (snap, doc_id, source, n_tok) — one snapshot's row view, tagged. */
  private def snapView(rows: Dataset[_], tag: Int): DataFrame =
    rows.select(lit(tag).as("snap"), col("doc_id"), col("source"),
      col("n_tok").cast("long").as("n_tok"))

  /** [[snapView]] of the merge-on-read rows of table `base` at version `v`. */
  private def rowsAt(spark: SparkSession, base: String, v: Int, tag: Int): DataFrame =
    snapView(SnapshotLog.readRows(spark, base, Some(v)), tag)

  /** Writes `chunks` as a chunk table (engine codecs only, no parquet
    * compression on top — see [[EncodePipeline.ChunkTableCompression]]). */
  private def writeChunks(chunks: Dataset[EncodedChunk], path: String,
                          mode: String = "overwrite"): Unit =
    chunks.write.mode(mode)
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(path)

  private def readChunkTable(spark: SparkSession, path: String): Dataset[EncodedChunk] = {
    import spark.implicits._
    spark.read.parquet(path).as[EncodedChunk]
  }

  /** Persists `src` through the generic table sink (bin_<i> layout) at
    * scratch `tag` and reads it back through the table reader, so the
    * oracle checks the on-disk path, not an in-memory shortcut. */
  private def genericTable(spark: SparkSession, dir: String, tag: String, src: DataFrame,
                           rowsPerChunk: Int = GenericEncode.DefaultRowsPerChunk,
                           cols: Seq[String] = Seq.empty): DataFrame = {
    val base = scratch(dir, tag)
    GenericEncode.encodeWrite(src, base, rowsPerChunk)
    GenericEncode.readTable(spark, base, cols)
  }

  /** The snapshot queries' table at fresh scratch `tag`: documents as
    * [[charRows]], landed by [[append]]s of row slices. */
  private final class SnapshotTable(spark: SparkSession, dir: String, tag: String) {
    val base: String = freshScratch(spark, dir, tag)
    private val docs = table(spark, dir, "documents")
    private def slice(pred: Column) = charRows(docs.filter(pred))
    // ONE bounds pass shared by every append: the slices share the full
    // table's key distribution, so per-slice re-sampling bought nothing
    // but an extra scan+collect per encode (layout-only; rows unchanged)
    private val bounds = EncodePipeline.massBalancedBounds(slice(lit(true)), 4)

    /** Encodes and appends the rows matching `pred`, commits; returns the
      * new snapshot version. */
    def append(pred: Column): Int = {
      writeChunks(EncodePipeline.encode(slice(pred), numParts = 4, tokensPerChunk = 2048,
        boundsOverride = Some(bounds)), s"$base/chunks", "append")
      SnapshotLog.commit(spark, base, "append")
    }
  }

  /** Streams `out` into an append-mode memory sink named
    * `graft_stream_<name>_<dirKey>`, lets `feed` drive the micro-batches,
    * and returns the sink's table. `stateRows` (the input size) scopes the
    * state fan-out of a stateful query to the data, not the session
    * constant — see [[graft.streaming.StateScope]] (result-invariant). */
  private def memorySink(spark: SparkSession, dir: String, name: String, out: DataFrame,
                         stateRows: Option[Long])(feed: StreamingQuery => Unit): DataFrame = {
    val qname = s"graft_stream_${name}_${dirKey(dir)}"
    def run(): Unit = {
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(qname).start()
      try feed(q) finally q.stop()
    }
    stateRows match {
      case Some(n) => graft.streaming.StateScope.withStateParts(spark, n)(run())
      case None => run()
    }
    spark.table(qname)
  }

  /** Feeds `rows` to `ms` in three micro-batches, then each of `extra` as
    * a batch of its own, waiting for `q` after every batch. */
  private def feedThirds[T](ms: MemoryStream[T], q: StreamingQuery, rows: Seq[T],
                            extra: T*): Unit = {
    rows.grouped((rows.length + 2) / 3).foreach { g =>
      ms.addData(g)
      q.processAllAvailable()
    }
    extra.foreach { e =>
      ms.addData(Seq(e))
      q.processAllAvailable()
    }
  }

  /** DELTA_BINARY_PACKED int64 over o_orderkey (sorted-ish ids). */
  def deltaLong(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    roundTrip(table(spark, dir, "orders").select("o_orderkey").as[Long]) { a =>
        Chunks.decodeLongs(Chunks.encodeLongs(a, 0, a.length, Codecs.DeltaLong))
      }
      .toDF("o_orderkey")
      .orderBy("o_orderkey")
  }

  /** RLE_DICTIONARY over the low-cardinality l_returnflag column; decoded
    * multiset must match exactly, so compare group counts. */
  def dictString(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    roundTrip(table(spark, dir, "lineitem").select("l_returnflag").as[String]) { a =>
        val enc = Chunks.encodeStrings(a.map(_.getBytes(UTF_8)), 0, a.length, Codecs.DictBytes)
        Chunks.decodeStrings(enc).map(new String(_, UTF_8))
      }
      .toDF("l_returnflag")
      .groupBy("l_returnflag").agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")
  }

  /** RLE hybrid over small ints (l_linenumber). */
  def rleInt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    roundTrip(table(spark, dir, "lineitem").select("l_linenumber").as[Int]) { a =>
        Chunks.decodeInts(Chunks.encodeInts(a, 0, a.length, Codecs.RleInt))
      }
      .toDF("ln")
      .groupBy("ln").agg(count(lit(1)).as("cnt"))
      .select(col("ln").cast("long").as("ln"), col("cnt"))
      .orderBy("ln")
  }

  /** PFOR (patched frame-of-reference) over an outlier-contaminated int
    * column: ~1% of rows carry a +10^9 outlier that would force plain
    * FOR to 30+ bits per value; PFOR packs the narrow majority and
    * patches the outliers. Values round-trip bit-exact (the oracle
    * recomputes the same column relationally). */
  def pforInt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = table(spark, dir, "lineitem")
      .select(when(col("l_orderkey") % 97 === 0,
          col("l_partkey").cast("int") + 1000000000)
        .otherwise(col("l_linenumber").cast("int")).as("v")).as[Int]
    roundTrip(v)(a => Chunks.decodeInts(Chunks.encodeInts(a, 0, a.length, Codecs.PforInt)))
      .toDF("v")
      .select(col("v").cast("long").as("v"))
      .orderBy("v")
  }

  /** FSST over document text, key association preserved per row. */
  def fsstText(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    roundTrip(table(spark, dir, "documents").select("doc_id", "text").as[(Long, String)]) { rows =>
        val ids = rows.map(_._1)
        val texts = rows.map(_._2.getBytes(UTF_8))
        val encIds = Chunks.encodeLongs(ids, 0, ids.length)
        val encTexts = Chunks.encodeStrings(texts, 0, texts.length, Codecs.FsstBytes)
        Chunks.decodeLongs(encIds).zip(Chunks.decodeStrings(encTexts).map(new String(_, UTF_8)))
      }
      .toDF("doc_id", "text")
      .orderBy("doc_id")
  }

  /** DELTA_BYTE_ARRAY (front coding) over sorted p_name strings. */
  def deltaByteArray(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val names = table(spark, dir, "part").select("p_name").as[String]
      .repartition(4).sortWithinPartitions("p_name")
    roundTrip(names) { a =>
        val enc = Chunks.encodeStrings(a.map(_.getBytes(UTF_8)), 0, a.length, Codecs.DeltaBytes)
        Chunks.decodeStrings(enc).map(new String(_, UTF_8))
      }
      .toDF("p_name")
      .orderBy("p_name")
  }

  /** BYTE_STREAM_SPLIT over doubles — must be bit-identical. */
  def byteStreamSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    roundTrip(table(spark, dir, "lineitem").select("l_extendedprice").as[Double]) { a =>
        Chunks.decodeDoubles(Chunks.encodeDoubles(a, 0, a.length, Codecs.BssDouble))
      }
      .toDF("l_extendedprice")
      .orderBy("l_extendedprice")
  }

  /** ALP (adaptive lossless decimal-double) over a price column, AUTO
    * selected: 2-decimal doubles round-trip bit-exactly through scaled
    * integers (+ patched exceptions for any stray continuous values);
    * the in-kernel requires fail the query loudly if the selector stops
    * choosing ALP or stops beating PLAIN on this column. */
  def alpDouble(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    roundTrip(table(spark, dir, "lineitem").select("l_extendedprice").as[Double]) { arr =>
        val enc = Chunks.encodeDoubles(arr, 0, arr.length)
        if (arr.length > 256) {
          require((enc(0) & 0xFF) == Codecs.AlpDouble,
            s"selector chose ${Codecs.names(enc(0) & 0xFF)}, not ALP")
          require(enc.length < 5L * arr.length,
            s"ALP ${enc.length}B did not beat PLAIN ${8L * arr.length}B decisively")
        }
        Chunks.decodeDoubles(enc)
      }
      .toDF("l_extendedprice")
      .orderBy("l_extendedprice")
  }

  /** XOR (Gorilla-style) over a smooth binary-fraction series, AUTO
    * selected: `1 + l_quantity·2^-20` keeps every value on one
    * exponent with a ~6-bit moving mantissa window — exactly the
    * regime ALP cannot touch (needs 10^20 > MaxExp) and BSS wastes
    * (whole bytes for sub-byte deltas). In-kernel requires fail the
    * query loudly if the selector stops choosing XOR or stops beating
    * PLAIN 4x on this column. */
  def xorDouble(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = table(spark, dir, "lineitem")
      .select((lit(1.0) + col("l_quantity") / 1048576.0).as("v")).as[Double]
    roundTrip(v) { arr =>
        val enc = Chunks.encodeDoubles(arr, 0, arr.length)
        if (arr.length > 256) {
          require((enc(0) & 0xFF) == Codecs.XorDouble,
            s"selector chose ${Codecs.names(enc(0) & 0xFF)}, not XOR")
          require(enc.length * 4L < 8L * arr.length,
            s"XOR ${enc.length}B did not beat PLAIN ${8L * arr.length}B 4x")
        }
        Chunks.decodeDoubles(enc)
      }
      .toDF("v")
      .orderBy("v")
  }

  /** PLAIN over full-range ints (hash of keys) — selector floor. */
  def plainInt(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val v = table(spark, dir, "lineitem")
      .select((col("l_orderkey") * 2654435761L + col("l_linenumber")).cast("long").as("v"))
      .as[Long]
    roundTrip(v)(a => Chunks.decodeLongs(Chunks.encodeLongs(a, 0, a.length, Codecs.PlainLong)))
      .toDF("v")
      .orderBy("v")
  }

  /** The full array pipeline on real data: lineitem grouped to
    * (doc_id, tokens) rows, encoded through EncodePipeline chunks, decoded
    * back, exploded — identity oracle on (l_orderkey, l_linenumber). */
  def tokensPipeline(spark: SparkSession, dir: String): DataFrame =
    tokensPipelineCompressed(spark, dir, BlockCompression.None)

  /** Same pipeline with a block-compression layer on top of the
    * lightweight encodings (reference compress.Codec analog — one
    * round-trip per wrapped codec, compress/snappy/snappy.go:12-25). */
  private def tokensPipelineCompressed(spark: SparkSession, dir: String,
                                       blockCodec: Int): DataFrame = {
    import spark.implicits._
    val chunks = EncodePipeline.encode(orderRows(spark, dir), numParts = encParts(spark),
      tokensPerChunk = 256 * 1024, blockCodec = blockCodec)
    EncodePipeline.decodeDF(chunks).as[TokenRow]
      .flatMap(r => r.tokens.map(t => (r.doc_id.toLong, t.toLong)))
      .toDF("l_orderkey", "l_linenumber")
      .orderBy("l_orderkey", "l_linenumber")
  }

  def tokensPipelineZstd(spark: SparkSession, dir: String): DataFrame =
    tokensPipelineCompressed(spark, dir, BlockCompression.Zstd)

  def tokensPipelineSnappy(spark: SparkSession, dir: String): DataFrame =
    tokensPipelineCompressed(spark, dir, BlockCompression.Snappy)

  def tokensPipelineGzip(spark: SparkSession, dir: String): DataFrame =
    tokensPipelineCompressed(spark, dir, BlockCompression.Gzip)

  /** Round-trip through the SQL-visible Catalyst expressions
    * (encode_chunk/decode_chunk) instead of the mapPartitions pipeline. */
  def exprSqlRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    table(spark, dir, "lineitem")
      .groupBy("l_orderkey")
      .agg(sort_array(collect_list(col("l_linenumber"))).as("tokens"))
      .selectExpr("l_orderkey", "decode_chunk(encode_chunk(tokens)) AS toks")
      .select(col("l_orderkey"), explode(col("toks")).as("ln"))
      .select(col("l_orderkey"), col("ln").cast("long").as("l_linenumber"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** Row-offset seek through the chunk table (R12 SeekToRow): documents
    * become token rows with UNIQUE keys, the chunk table's canonical
    * order equals global doc_id order (range partitions + within-chunk
    * sort), so seekToRows(100, 50) must equal the SQL LIMIT/OFFSET of
    * the same ordering — and only the covering chunks/pages decode. */
  def seekRows(spark: SparkSession, dir: String): DataFrame = {
    val src = charLangRows(table(spark, dir, "documents"), col("source"))
    val chunks = EncodePipeline.encode(src, numParts = 4, tokensPerChunk = 4096)
    tokSums(EncodePipeline.seekToRows(chunks, 100, 50))
  }

  /** Sorted-run-aware compaction (R5 MergeRowGroups) end-to-end: two
    * disjoint runs plus one overlapping run merge via compactSorted —
    * disjoint chunks pass through byte-identical, only the overlap
    * re-encodes — and the decoded union must match the SQL restatement. */
  def compactMerge(spark: SparkSession, dir: String): DataFrame =
    // overlapping run: same key range as the A/B boundary, suffixed keys
    compactThreeRuns(spark, dir, "compact", concat(col("doc_id"), lit("-x")),
      dropDuplicates = false)

  /** Dedupe-during-merge compaction (reference SortingWriter's
    * DropDuplicatedRows, sorting.go:123-126 / config.go:671-673): runs A
    * and B partition the corpus; run C re-ingests byte-identical rows
    * for keys straddling the A/B boundary. compactSorted with
    * dropDuplicates=true must merge the overlapping groups keeping ONE
    * row per doc_id, so the merged table decodes to exactly the base
    * corpus — which is the oracle. Non-overlapping chunks pass through
    * byte-identical (asserted separately in PipelineSpec). */
  def compactDedup(spark: SparkSession, dir: String): DataFrame =
    // duplicate re-ingest: identical rows, same doc_ids, straddling the boundary
    compactThreeRuns(spark, dir, "compactdd", col("doc_id"), dropDuplicates = true)

  /** [[compactMerge]] / [[compactDedup]]: documents split at doc_id
    * 00000250 into runs A and B, plus a run C over [00000240, 00000260)
    * keyed by `runCKeys`; the three runs are encoded independently and
    * merged by compactSorted, and the merged table is decoded back. */
  private def compactThreeRuns(spark: SparkSession, dir: String, tag: String,
                               runCKeys: Column, dropDuplicates: Boolean): DataFrame = {
    import spark.implicits._
    val docsT = charRows(table(spark, dir, "documents"))
    val runA = docsT.filter(col("doc_id") < "00000250")
    val runB = docsT.filter(col("doc_id") >= "00000250")
    val runC = docsT.filter(col("doc_id") >= "00000240" && col("doc_id") < "00000260")
      .withColumn("doc_id", runCKeys).as[TokenRow]
    val base = scratch(dir, tag)
    locally { // independent run ingests — overlap (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      Await.result(Future.sequence(Seq(
        Future(EncodePipeline.encode(runA, 2, tokensPerChunk = 2048)
          .write.mode("overwrite").parquet(s"$base/runA")),
        Future(EncodePipeline.encode(runB, 2, tokensPerChunk = 2048)
          .write.mode("overwrite").parquet(s"$base/runB")),
        Future(EncodePipeline.encode(runC, 1, tokensPerChunk = 2048)
          .write.mode("overwrite").parquet(s"$base/runC")))), Duration.Inf)
    }
    val merged = EncodePipeline.compactSorted(
      spark, Seq(s"$base/runA", s"$base/runB", s"$base/runC"), s"$base/merged",
      tokensPerChunk = 2048, dropDuplicates = dropDuplicates)
    tokSums(EncodePipeline.decodeDF(merged.as[EncodedChunk]))
  }

  /** OPTIMIZE small files (compactBinPack): six disjoint tiny runs —
    * the hourly-incremental-ingest shape — are deliberately encoded with
    * a toy chunk budget so the table fragments into dozens of tiny
    * chunks that [[compactMerge]]'s pure sweep would pass through
    * untouched (all singleton groups). Bin packing must coalesce them
    * into ≈256-token bins; the in-kernel requires fail the query loudly
    * if the chunk count doesn't collapse at least 4× or any output bin
    * overlaps another (the disjoint-interval invariant). The decoded
    * table must still equal the documents restatement — the oracle. */
  def compactBinPack(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docsT = charRows(table(spark, dir, "documents"))
    val base = scratch(dir, "binpack")
    // The five stripe ingests are independent jobs — overlap them on
    // driver threads so each job's task tail back-fills the others
    // (guide §2.6); Spark's scheduler runs concurrent actions natively
    // and the writes target disjoint directories.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val stripes = Await.result(Future.sequence((0 until 5).map { i => Future {
      val lo = f"${i * 100}%08d"
      val hi = f"${(i + 1) * 100}%08d"
      val run = docsT
        .filter(col("doc_id") >= lo && (if (i == 4) lit(true) else col("doc_id") < hi))
      writeChunks(EncodePipeline.encode(run, 1, tokensPerChunk = 16), s"$base/run$i")
      s"$base/run$i"
    } }), Duration.Inf)
    val tiny = stripes.map(spark.read.parquet(_)).reduce(_ unionByName _)
      .select("chunk_id").count()
    val merged = EncodePipeline.compactBinPack(
      spark, stripes, s"$base/packed", tokensPerChunk = 256)
    val packedMeta = merged
      .select("part_id", "first_doc_id", "last_doc_id", "num_tokens")
      .collect() // O(#bins) metadata, not rows
    require(packedMeta.length.toLong * 4 <= tiny,
      s"bin packing left ${packedMeta.length} chunks from $tiny tiny chunks")
    val sorted = packedMeta.sortBy(r => (r.getString(1), r.getString(2)))
    sorted.sliding(2).foreach {
      case Array(a, b) =>
        require(a.getString(2) < b.getString(1),
          s"bins overlap: [${a.getString(1)},${a.getString(2)}] vs " +
            s"[${b.getString(1)},${b.getString(2)}]")
      case _ =>
    }
    tokSums(EncodePipeline.decodeDF(merged.as[EncodedChunk]))
  }

  /** Codec auto-selector demo on the deterministic synth table: one row
    * per (column, codec) with chunk counts — shows the selector branches
    * actually taken. No SQL oracle (engine-internal stats). */
  def codecStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val src = TokenTableGen.generate(spark, 8000, 8)
    val chunks = EncodePipeline.encode(src, numParts = 8, tokensPerChunk = 128 * 1024)
    chunks
      .flatMap(c => Seq(
        ("tokens", c.tokens_codec, c.num_tokens),
        ("lens", c.lens_codec, c.num_rows.toLong),
        ("doc_id", c.docid_codec, c.num_rows.toLong),
        ("source", c.source_codec, c.num_rows.toLong)))
      .toDF("column", "codec", "num_values")
      .groupBy("column", "codec")
      .agg(count(lit(1)).as("chunks"), sum("num_values").as("values"))
      .orderBy("column", "codec")
  }

  /** ARBITRARY-schema encode (GenericWriter/GenericReader analog,
    * column_buffer_go18.go:241-287): a 6-column mixed-type lineitem
    * projection (long, int, double, nullable string, boolean, array<int>)
    * goes through the generic per-column chunk encoder and back; the
    * oracle restates the projection, so every typed codec path is
    * value-checked. */
  def genericRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "lineitem").select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_quantity"),
      when(col("l_returnflag") === "N", lit(null).cast("string"))
        .otherwise(col("l_returnflag")).as("flag"),
      (col("l_discount") > 0.05).as("discounted"),
      array(col("l_linenumber"), floor(col("l_quantity")).cast("int")).as("pair"))
    genericTable(spark, dir, "generic", src, rowsPerChunk = 16 * 1024)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("flag"), col("discounted"),
        expr("aggregate(pair, CAST(0 AS BIGINT), (a, x) -> a + x)").as("pair_sum"))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "pair_sum", "discounted", "flag")
  }

  /** Int64/double ARRAYS with ELEMENT nulls through the generic encoder —
    * the rep/def-level analog the reference gives every repeated leaf
    * (column_buffer.go:421-454): per-row arrays of bigint (one slot
    * nulled every 3rd key) and double (one slot nulled every 5th key)
    * round-trip through the persisted columnar layout, then restate as
    * positional scalars so the oracle checks every element — including
    * the null slots — by value. */
  def genericArrays(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "orders").select(
      col("o_orderkey"),
      array(
        (col("o_orderkey") * 1000000007L).cast("long"),
        when(col("o_orderkey") % 3 === 0, lit(null))
          .otherwise(col("o_orderkey") * 2).cast("long"),
        col("o_custkey").cast("long")).as("longs"),
      array(
        col("o_totalprice").cast("double"),
        when(col("o_orderkey") % 5 === 0, lit(null))
          .otherwise(col("o_totalprice").cast("double") / 2).cast("double")).as("dbls"))
    genericTable(spark, dir, "garr", src, rowsPerChunk = 16 * 1024)
      .select(col("o_orderkey"),
        element_at(col("longs"), 1).as("l1"),
        element_at(col("longs"), 2).as("l2"),
        element_at(col("longs"), 3).as("l3"),
        element_at(col("dbls"), 1).as("d1"),
        element_at(col("dbls"), 2).as("d2"))
      .orderBy("o_orderkey")
  }

  /** Schema-evolving compaction (reference MergeRowGroups + Convert,
    * merge.go:20-72, convert.go:348-443): two ingests of the customer
    * table with DIFFERENT schemas — v2 reorders columns, drops
    * c_mktsegment, adds c_name, and widens c_custkey int→bigint and
    * c_acctbal float→double — merge into one table on the union schema
    * (missing columns null-filled, shared columns widened). */
  def genericEvolve(spark: SparkSession, dir: String): DataFrame = {
    val cust = table(spark, dir, "customer")
    val v1 = cust.filter(col("c_custkey") % 3 =!= 0).select(
      col("c_custkey").cast("int").as("c_custkey"),
      col("c_acctbal").cast("float").as("c_acctbal"),
      col("c_mktsegment"))
    val v2 = cust.filter(col("c_custkey") % 3 === 0).select(
      col("c_name"),
      col("c_custkey").cast("long").as("c_custkey"),
      col("c_acctbal").cast("double").as("c_acctbal"))
    val (d1, d2) = (scratch(dir, "gev1"), scratch(dir, "gev2"))
    GenericEncode.encodeWrite(v1, d1)
    GenericEncode.encodeWrite(v2, d2)
    GenericEncode.mergeTables(spark, Seq(d1, d2), scratch(dir, "gevm"))
      .orderBy("c_custkey")
  }

  /** Temporal + float type breadth through the generic encoder: events
    * (timestamp, date, float, array<float>) round-trip with an identity
    * oracle — covers the chunk format's physical-type reach beyond the
    * token schema (reference type.go:20-31 physical kinds). */
  def genericTemporalRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "events").select(
      col("event_id"),
      col("ts"),
      col("ts").cast("date").as("day"),
      col("value").cast("float").as("fval"),
      array(col("value").cast("float"), (col("value") * 2.0d).cast("float")).as("fpair"))
    val chunks = GenericEncode.encode(src, rowsPerChunk = 16 * 1024)
    // temporal columns comparison-projected to strings: pandas/duckdb
    // normalize DATE/TIMESTAMP objects differently, the VALUES are what
    // the oracle checks (the round-trip itself ran on the native types)
    GenericEncode.decode(spark, chunks)
      .select(col("event_id"),
        date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_str"),
        date_format(col("day"), "yyyy-MM-dd").as("day_str"),
        col("fval"),
        element_at(col("fpair"), 2).as("f2"))
      .orderBy("event_id", "ts_str")
  }

  /** Nullable columns through the FULL pipeline (exchange + chunk encode +
    * decode): tokens NULL where l_discount > 0.08 (decoded back as null
    * with the n_tok = -1 convention) and source NULL where
    * l_returnflag = 'N'. Nulls ride per-chunk bitmaps (codec 17) with
    * null counts in the chunk row; the oracle restates the construction
    * in SQL, so any bitmap slip is a hash mismatch. Reference semantics:
    * null.go:22-60, column_buffer_go18.go:90-140. */
  def nullableRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val src = nullableRows(spark, dir)
    EncodePipeline.decodeDF(EncodePipeline.encode(src, numParts = encParts(spark)))
      .select(col("doc_id"), col("n_tok"), col("source"),
        expr("aggregate(tokens, CAST(0 AS BIGINT), (acc, x) -> acc + x)").as("tok_sum"))
      .orderBy("doc_id", "n_tok", "source", "tok_sum")
  }

  /** Stats-pruned scan over an in-memory GENERIC chunk table: orders is
    * generically encoded range-sorted on o_orderkey, and
    * `GenericEncode.prune` turns the row predicate into per-chunk min/max
    * checks that keep only the covering chunks (an uncached Dataset gets no
    * pruning from the optimizer rule; GenericStatsSpec asserts the skip
    * counts). Only 2 of 4 columns are decoded (per-column CRCs still
    * verified). Oracle restates the range select exactly. */
  def genericPrune(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    val chunks = GenericEncode.encode(src, rowsPerChunk = 2048)
    val inRange = col("o_orderkey").between(5000L, 7000L)
    GenericEncode.decode(spark, GenericEncode.prune(chunks, inRange),
        Seq("o_orderkey", "o_totalprice"))
      .filter(inRange)
      .orderBy("o_orderkey")
  }

  /** AUTOMATIC chunk pruning: a plain `.filter` over the default
    * persisted generic table — no manual `GenericEncode.prune` call
    * anywhere — must prune chunks via the ChunkFilterPushdown optimizer
    * rule (min/max interval + null-count + bloom checks grown below the
    * decode node). GenericStatsSpec proves the pruning is
    * real with corrupted out-of-range chunks; this query proves the
    * end-to-end values against the SQL restatement. */
  def autoPrune(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus"))
      .repartitionByRange(4, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
    genericTable(spark, dir, "autoprune", src, rowsPerChunk = 2048,
        cols = Seq("o_orderkey", "o_totalprice"))
      .filter(col("o_orderkey").between(500L, 900L))
      .orderBy("o_orderkey")
  }

  /** Z-ORDERED chunk pruning: orders is clustered on the Morton curve
    * of (o_custkey, o_orderkey) before the generic encode, so the
    * per-chunk min/max stats are tight on BOTH dimensions and the plain
    * two-sided box `.filter` — no manual prune call — prunes chunks via
    * the automatic pushdown rule on both columns at once. A linear sort
    * gives tight stats on its leading column only; ZOrderSpec measures
    * the chunk-count win directly. Oracle restates the box select. */
  def zorderPrune(spark: SparkSession, dir: String): DataFrame = {
    val src = graft.spark.ZOrder.cluster(
      table(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"), col("o_orderstatus")),
      Seq("o_custkey", "o_orderkey"), numParts = 4)
    genericTable(spark, dir, "zorder", src, rowsPerChunk = 1024,
        cols = Seq("o_orderkey", "o_custkey", "o_totalprice"))
      .filter(col("o_custkey").between(100L, 300L) && col("o_orderkey").between(2000L, 20000L))
      .orderBy("o_orderkey")
  }

  /** Stats+bloom-pruned token search end-to-end (R11 Find/Search + R13
    * bloom probe): the lineitem-derived token table is searched for one
    * token id; min/max prunes chunks, the codegen'd bloom probe prunes
    * again, and the projected columnar decode touches only the tokens and
    * doc_id streams. Oracle: orders whose linenumber set contains the
    * token. */
  def searchToken(spark: SparkSession, dir: String): DataFrame = {
    val chunks = EncodePipeline.encode(orderRows(spark, dir), numParts = encParts(spark),
      tokensPerChunk = 64 * 1024)
    EncodePipeline.searchToken(chunks, 7).toDF("doc_id").orderBy("doc_id")
  }

  /** AUTOMATIC token search: the same membership query as
    * [[searchToken]] but written as a plain `.filter(array_contains)`
    * over a PERSISTED chunk table — the ChunkFilterPushdown rule grows
    * the min/max + bloom chunk pruning that searchToken applies by
    * hand (PipelineSpec proves the pruning with corrupted
    * out-of-range chunks). Same oracle as q_search_token. */
  def autoSearch(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "autosearch")
    writeChunks(EncodePipeline.encode(orderRows(spark, dir), numParts = 8,
      tokensPerChunk = 64 * 1024), base)
    EncodePipeline.decodeDF(readChunkTable(spark, base))
      .filter(array_contains(col("tokens"), 7))
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** Watermarked streaming windowed aggregation: the events table
    * streams in ts order in 3 micro-batches through a 1-hour tumbling
    * window with a zero-lateness watermark (append mode — a window only
    * emits once the watermark passes its end). A sentinel event 2 hours
    * past the last real timestamp closes every real window; the
    * sentinel's own window never finalizes, so it is absent from the
    * output by construction. min/max aggregates are order-independent,
    * making the result exactly the batch restatement the oracle runs. */
  def streamingWindow(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = table(spark, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)]
      .collect().sortBy(_._1.getTime).toSeq
    val sentinel = {
      val maxTs = rows.last._1.getTime
      (new java.sql.Timestamp(maxTs + 2 * 3600 * 1000L), "sentinel", 0.0)
    }
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val agg = ms.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "0 seconds")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), min("value").as("min_v"), max("value").as("max_v"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("min_v"), col("max_v"))
    memorySink(spark, dir, "window", agg, Some(rows.length.toLong))(
        feedThirds(ms, _, rows, sentinel))
      .orderBy("win_start", "event_type")
  }

  /** Stream-stream interval join (attribution): clicks and purchases
    * arrive on two independent watermarked streams; a purchase joins
    * every click by the same user in the preceding 30 minutes. The
    * event-time range condition bounds BOTH join states (Spark evicts a
    * click once the purchase watermark passes click.ts + 30min), so
    * state is O(window), not O(stream) — the property that makes this
    * run forever at 100-TB event volume. Feeding both streams in
    * ts-aligned slices with zero-lateness watermarks provably loses no
    * match: a purchase in slice k can only match clicks newer than
    * watermark(k-1) - 30min, which are exactly the ones still in state.
    * Inner-join output needs no sentinel — matches emit when found.
    * Oracle restates as a batch self-join. */
  def streamingJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = table(spark, dir, "events")
      .select(col("ts"), col("user_id"), col("event_type"), col("event_id"))
      .as[(java.sql.Timestamp, Long, String, Long)]
      .collect().sortBy(_._1.getTime)
    val msClick = MemoryStream[(java.sql.Timestamp, Long, Long)](spark)
    val msPurch = MemoryStream[(java.sql.Timestamp, Long, Long)](spark)
    val clicks = msClick.toDF().toDF("c_ts", "user_id", "click_id")
      .withWatermark("c_ts", "0 seconds")
    val purchases = msPurch.toDF().toDF("p_ts", "p_user", "purchase_id")
      .withWatermark("p_ts", "0 seconds")
    val joined = clicks.join(purchases,
        expr("""user_id = p_user
               |AND p_ts >= c_ts
               |AND p_ts <= c_ts + interval 30 minutes""".stripMargin))
      .select(col("user_id"), col("click_id"), col("purchase_id"))
    // A stream-stream join keeps ~4 state stores per side per shuffle
    // partition; at the session's 32 partitions each micro-batch commits
    // hundreds of store files for a toy input. Scope the state fan-out
    // to the data (was a hard-coded 8; now the shared scale-adaptive
    // derivation) — result is partition-invariant.
    memorySink(spark, dir, "join", joined, Some(ev.length.toLong)) { q =>
        val slices = ev.grouped((ev.length + 2) / 3)
        slices.foreach { g =>
          msClick.addData(g.filter(_._3 == "click").map(e => (e._1, e._2, e._4)).toSeq)
          msPurch.addData(g.filter(_._3 == "purchase").map(e => (e._1, e._2, e._4)).toSeq)
          q.processAllAvailable()
        }
      }
      .orderBy("user_id", "click_id", "purchase_id")
  }

  /** Stream-static enrichment join: the event stream picks up per-type
    * reference stats from a static dimension computed once batch-side.
    * The static side broadcasts into every micro-batch (no state store,
    * no watermark — stream-static inner joins are stateless), which is
    * the shape of dimension enrichment at ingest: the 100-TB stream
    * never shuffles, each executor probes the broadcast map. Oracle
    * restates as a batch join. */
  def streamingEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evBatch = table(spark, dir, "events")
    val dim = evBatch.groupBy(col("event_type"))
      .agg(count(lit(1)).as("type_count"))
    val rows = evBatch
      .select(col("event_id"), col("event_type"))
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    val ms = MemoryStream[(Long, String)](spark)
    val enriched = ms.toDF().toDF("event_id", "event_type")
      .join(broadcast(dim), "event_type")
      .filter(col("event_id") % 11 === 0)
      .select(col("event_id"), col("event_type"), col("type_count"))
    memorySink(spark, dir, "enrich", enriched, None)(feedThirds(ms, _, rows))
      .orderBy("event_id")
  }

  /** Pure-SQL read path: a persisted chunk table registered as a temp
    * view, queried with plain `spark.sql` — the filter and projection
    * ride the same decode plan, pushdown rules and all. Oracle restates
    * the SQL over the source table. */
  def sqlTable(spark: SparkSession, dir: String): DataFrame = {
    val src = charLangRows(table(spark, dir, "documents"), col("lang"))
    val base = scratch(dir, "sqltbl")
    writeChunks(EncodePipeline.encode(src, numParts = 4, tokensPerChunk = 4096), base)
    graft.spark.GraftTables.registerTokenTable(spark, "graft_docs", base)
    spark.sql(
      """SELECT doc_id, source,
        |       aggregate(tokens, CAST(0 AS BIGINT), (a, x) -> a + x) AS tok_sum
        |FROM graft_docs
        |WHERE doc_id >= '00000100' AND doc_id < '00000300'
        |ORDER BY doc_id""".stripMargin)
  }

  /** Layout-aligned (ZERO-shuffle) encode round-trip: the input is already
    * range-laid-out on doc_id, so encodeAligned encodes each split in
    * place — no exchange anywhere in the plan. Oracle is the identity
    * restatement. */
  def alignedRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    val src = charLangRows(table(spark, dir, "documents"), col("lang"))
      .repartitionByRange(4, col("doc_id"))
      .sortWithinPartitions("doc_id")
    tokSums(EncodePipeline.decodeDF(EncodePipeline.encodeAligned(src, tokensPerChunk = 4096)))
  }

  /** Structured-Streaming ingest end-to-end: the documents table streams
    * through a MemoryStream in three micro-batches, each encoded by the
    * idempotent foreachBatch sink (aligned encode → dynamic overwrite of
    * its batch_id partition), and the union of all batches' chunks must
    * decode back to exactly the source table (identity oracle). The
    * replay-idempotence property is additionally spec-verified. */
  def streamingIngest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = charLangRows(table(spark, dir, "documents"), col("lang"))
      .collect().sortBy(_.doc_id).toSeq
    val base = freshScratch(spark, dir, "stream")
    val ms = MemoryStream[TokenRow](spark)
    val q = graft.streaming.StreamingEncode.start(
      spark, ms.toDF(), s"$base/chunks", s"$base/ckpt", tokensPerChunk = 4096)
    try feedThirds(ms, q, rows) finally q.stop()
    tokSums(EncodePipeline.decodeDF(readChunkTable(spark, s"$base/chunks")))
  }

  /** Streaming stateful exact-dedup end-to-end: the documents table
    * streams in, followed by two re-ingest batches (every 10th, then
    * every 20th doc — same ids, same text). flatMapGroupsWithState
    * keyed on the content fingerprint emits each distinct document
    * exactly once, so the memory-sink result must equal the base
    * corpus's (doc_id, md5) — the oracle. Batches fed in doc_id order
    * make first-seen == min-id deterministic. */
  def streamingDedup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents").select("doc_id", "text")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    graft.streaming.StreamingDedup.runBatches(spark,
      Seq(docs, docs.filter(_._1 % 10 == 0), docs.filter(_._1 % 20 == 0)),
      s"graft_stream_dedup_${dirKey(dir)}")
      .select(col("doc_id"), col("fp"))
      .orderBy("doc_id")
  }

  /** Columnar on-disk layout for generic chunks: one parquet column per
    * engine column, so this 2-of-4-column read never fetches the other
    * two columns' BYTES (ReadSchema asserted in GenericStatsSpec). */
  def genericColumnar(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "documents")
      .select(
        lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"),
        col("lang"), col("n_chars").cast("long").as("n_chars"), col("source"))
      .repartitionByRange(2, col("doc_id"))
      .sortWithinPartitions("doc_id")
    genericTable(spark, dir, "gcol", src, rowsPerChunk = 256, cols = Seq("doc_id", "n_chars"))
      .filter(col("n_chars") >= 200L)
      .orderBy("doc_id")
  }

  /** Schema-generic SeekToRow: documents generically encoded range-sorted
    * on doc_id (range partitions concatenate in key order, doc_id is
    * unique), so a row-offset seek equals LIMIT/OFFSET over the sorted
    * table; only 3 columns decode, only covering chunks are touched. */
  def genericSeek(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "documents")
      .select(
        lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"),
        col("lang"), col("n_chars").cast("long").as("n_chars"))
      .repartitionByRange(2, col("doc_id"))
      .sortWithinPartitions("doc_id")
    val chunks = GenericEncode.encode(src, rowsPerChunk = 64)
    GenericEncode.seekRows(spark, chunks, 100, 50, Seq("doc_id", "lang", "n_chars"))
      .orderBy("doc_id")
  }

  /** Column-projection pushdown through the columnar decode plan: the
    * same nullable source as q_rt_nullable, but only (doc_id, n_tok,
    * source) are requested, so the token PAYLOAD stream is never decoded
    * (n_tok reads just the lens stream + the null bitmap — reference
    * reads pages per requested column, file.go:439-485). The oracle
    * checks values; ProjectionSpec asserts the stream-skipping. */
  def decodeProject(spark: SparkSession, dir: String): DataFrame = {
    val chunks = EncodePipeline.encode(nullableRows(spark, dir), numParts = encParts(spark))
    // (l_orderkey, l_linenumber) is NOT unique in the synthetic lineitem,
    // so doc_id alone is not a total order — add the value columns
    EncodePipeline.decodeDF(chunks, Seq("doc_id", "n_tok", "source"))
      .orderBy("doc_id", "n_tok", "source")
  }

  /** NESTED struct + map columns through the generic encoder's schema-tree
    * flattening (the Spark-native replacement for the reference's rep/def
    * shredding of group nodes, node.go:149-177, column_buffer.go:421-454):
    * a two-level struct (nulled for 'de' docs) and a map<string,bigint>
    * (nulled for a 3-source subset) round-trip through the persisted
    * columnar-default sink, then restate as flat scalars so the oracle
    * checks every nested field — including null-struct propagation and
    * map lookups — by value. */
  def genericStruct(spark: SparkSession, dir: String): DataFrame = {
    val nullMap = col("source").isin("src3", "src7", "src11")
    val src = table(spark, dir, "documents").select(
      col("doc_id").cast("long").as("doc_id"),
      when(col("lang") === "de", lit(null)).otherwise(
        struct(
          col("lang"),
          col("n_chars").cast("long").as("n_chars"),
          struct((col("n_chars") > 200).as("long_doc")).as("flags"))).as("meta"),
      when(nullMap, lit(null)).otherwise(
        map(lit("chars"), col("n_chars").cast("long"),
          lit("langlen"), length(col("lang")).cast("long"))).as("props"))
    genericTable(spark, dir, "gstruct", src, rowsPerChunk = 4096)
      .select(col("doc_id"),
        col("meta.lang").as("lang"),
        col("meta.n_chars").as("n_chars"),
        // cast the nullable boolean to BIGINT: pandas reads null booleans
        // as None (object dtype) while DuckDB's df() yields NaN, and the
        // two hash differently in the driver's compare; 0/1/null longs
        // land in float64 on BOTH sides like every other nullable numeric
        col("meta.flags.long_doc").cast("long").as("long_doc"),
        element_at(col("props"), "chars").as("p_chars"),
        element_at(col("props"), "langlen").as("p_langlen"))
      .orderBy("doc_id")
  }

  /** SLIDING windows (1 hour every 15 minutes) with a 30-minute watermark
    * in append mode, plus a deliberately-LATE row proven dropped: events
    * stream in ts order in 3 micro-batches; a 4th batch replays the
    * earliest event with a poisoned value (-1e9) — its 4 windows closed
    * long before the watermark (maxTs - 30min), so the row is discarded
    * and the poison can never reach min_v. A sentinel 3 hours past maxTs
    * advances the watermark beyond every real window's end; the
    * sentinel's own windows all end after it, so they never finalize and
    * are absent by construction. Each event belongs to exactly the 4
    * epoch-aligned 15-minute slots covering it, which is what the oracle
    * restates with an explicit k=0..3 unnest. */
  def streamingSliding(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = table(spark, dir, "events")
      .select(col("ts"), col("event_type"), col("value"))
      .as[(java.sql.Timestamp, String, Double)]
      .collect().sortBy(_._1.getTime).toSeq
    val maxTs = rows.last._1.getTime
    val late = (rows.head._1, rows.head._2, -1.0e9)
    val sentinel = (new java.sql.Timestamp(maxTs + 3 * 3600 * 1000L), "sentinel", 0.0)
    val ms = MemoryStream[(java.sql.Timestamp, String, Double)](spark)
    val agg = ms.toDF().toDF("ts", "event_type", "value")
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), min("value").as("min_v"), max("value").as("max_v"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("cnt"), col("min_v"), col("max_v"))
    memorySink(spark, dir, "sliding", agg, Some(rows.length.toLong))(
        feedThirds(ms, _, rows, late, sentinel))
      .orderBy("win_start", "event_type")
  }

  /** STREAMING session windows (gap 4 h) under a 30-minute watermark in
    * append mode — the third streaming window family next to tumbling
    * (q_streaming_window) and sliding (q_streaming_sliding). Sessions
    * merge statefully across micro-batches (same `session_window`
    * semantics as the batch q_session_window: a next event at start ≤
    * current end extends, so an exact-4h gap still merges — the oracle
    * breaks strictly at `> 4h`). A 4th batch replays the earliest event
    * with a poisoned value (-1e9): its session closed far below the
    * watermark, so the row is discarded and the poison can never reach
    * min_v. A sentinel 6 h past maxTs (user -1) advances the watermark
    * beyond every real session's end (≤ maxTs+4h < watermark
    * maxTs+5.5h); the sentinel's own session never finalizes, so it is
    * absent by construction — the output is NOT filtered, an emitted
    * sentinel row would fail the oracle. */
  def streamingSession(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = table(spark, dir, "events")
      .select(col("ts"), col("user_id"), col("value"))
      .as[(java.sql.Timestamp, Long, Double)]
      .collect().sortBy(_._1.getTime).toSeq
    val maxTs = rows.last._1.getTime
    val late = (rows.head._1, rows.head._2, -1.0e9)
    val sentinel = (new java.sql.Timestamp(maxTs + 6 * 3600 * 1000L), -1L, 0.0)
    val ms = MemoryStream[(java.sql.Timestamp, Long, Double)](spark)
    val agg = ms.toDF().toDF("ts", "user_id", "value")
      .withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "4 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), min("value").as("min_v"), max("value").as("max_v"))
      .select(
        col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        col("n_events"), col("min_v"), col("max_v"))
    memorySink(spark, dir, "session", agg, Some(rows.length.toLong))(
        feedThirds(ms, _, rows, late, sentinel))
      .orderBy("user_id", "sess_start")
  }

  /** Repeated-group round-trip: array<struct<off,tag>> columns derived
    * deterministically from documents — null arrays (doc_id%11=0), empty
    * arrays (doc_id%4=0), null elements (i=3), and null leaf values
    * (i=2) all in one table — encoded through the generic
    * struct-of-arrays shredding and decoded back. Output is the EXPLODED
    * flat view so the DuckDB oracle can restate it relationally. */
  def genericNested(spark: SparkSession, dir: String): DataFrame = {
    val src = table(spark, dir, "documents").select(
      col("doc_id"),
      when(col("doc_id") % 11 === 0, lit(null)).otherwise(
        expr("""transform(filter(sequence(1, 3), i -> i <= doc_id % 4),
               |  i -> CASE WHEN i = 3 THEN NULL ELSE named_struct(
               |    'off', doc_id * 10 + i,
               |    'tag', CASE WHEN i = 2 THEN NULL
               |           ELSE concat(lang, '-', CAST(i AS STRING)) END)
               |  END)""".stripMargin)).as("spans"))
    genericTable(spark, dir, "nested", src)
      .select(col("doc_id"), posexplode_outer(col("spans")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        col("col.off").as("off"), col("col.tag").as("tag"))
      .orderBy("doc_id", "pos")
  }

  /** Inverted token index (TokenIndex): offline posting-list build over
    * the persisted chunk table, then a lookup that decodes EXACTLY the
    * covering chunks (broadcast semi-join on chunk_id — no bloom false
    * positives, no full metadata scan). Same corpus and oracle as
    * q_search_token, so the three search strategies (hand pruning, auto
    * pushdown, secondary index) are provably answer-equivalent. */
  def tokenIndex(spark: SparkSession, dir: String): DataFrame = {
    val base = scratch(dir, "tokenidx")
    writeChunks(EncodePipeline.encode(orderRows(spark, dir), numParts = 8,
      tokensPerChunk = 64 * 1024), s"$base/chunks")
    val persisted = readChunkTable(spark, s"$base/chunks")
    graft.spark.TokenIndex.build(persisted, s"$base/index")
    graft.spark.TokenIndex.lookup(spark, s"$base/index", persisted, 7)
      .toDF("doc_id").orderBy("doc_id")
  }

  /** Incremental index maintenance (TokenIndex.buildIncremental): the
    * corpus arrives in two installments — slice A is encoded and
    * indexed; slice B is APPENDED (chunk_ids remapped into a fresh
    * part range, the compaction convention, since the index keys on
    * chunk_id) and the index is extended by reading ONLY B's token
    * streams plus the vocabulary-sized posting table. A second
    * incremental call is a proven no-op (idempotence via the .indexed
    * manifest anti-join). The lookup then answers over A∪B and must
    * equal the full-scan restatement — same oracle family as
    * q_token_index, different maintenance path. */
  def tokenIndexIncremental(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = orderRows(spark, dir)
    val a = rows.filter(col("doc_id").substr(15, 1) =!= "0")
    val b = rows.filter(col("doc_id").substr(15, 1) === "0")
    val base = scratch(dir, "tokidxinc")
    val aParts = 4
    writeChunks(EncodePipeline.encode(a, aParts, tokensPerChunk = 64 * 1024), s"$base/chunks")
    graft.spark.TokenIndex.build(readChunkTable(spark, s"$base/chunks"), s"$base/index")
    writeChunks(EncodePipeline.encode(b, 2, tokensPerChunk = 64 * 1024)
      .map(c => c.copy(part_id = c.part_id + aParts,
        chunk_id = ((c.part_id + aParts).toLong << 32) | (c.chunk_id & 0xFFFFFFFFL))),
      s"$base/chunks", "append")
    val persisted = readChunkTable(spark, s"$base/chunks")
    graft.spark.TokenIndex.buildIncremental(persisted, s"$base/index")
    graft.spark.TokenIndex.buildIncremental(persisted, s"$base/index") // no-op
    graft.spark.TokenIndex.lookup(spark, s"$base/index", persisted, 3)
      .toDF("doc_id").orderBy("doc_id")
  }

  /** Planning-time mirror of `pmod(xxhash64(w), m)` — the phrase token
    * id convention. Calls the SAME catalyst hash the codegen'd
    * `xxhash64` expression compiles to (seed 42), so the driver-side
    * constant always equals the executor-side column value. */
  private def tokenIdOf(word: String, m: Long): Int = {
    val h = org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString(word),
      org.apache.spark.sql.types.StringType, 42L)
    (((h % m) + m) % m).toInt
  }

  /** Conjunctive PHRASE search over an inverted token index
    * (TokenIndex.lookupPhrase): documents are word-tokenized to int ids
    * (xxhash64 mod a 2·10⁹ prime — collision odds over a corpus
    * vocabulary are negligible and deterministic; was md5-low-64, but
    * the id is engine-internal and the codegen'd xxhash64 costs one
    * long op per word where the md5 path allocated a 32-char hex
    * string plus eight substrings per word — guide §4.1, prefer
    * codegen'd builtins in the hot path), encoded as a chunk
    * table, and the phrase "table scan" is answered by intersecting the
    * two posting lists, decoding ONLY the covering chunks, and applying
    * the exact consecutive-position predicate. The oracle sidesteps the
    * hash entirely — it searches the words themselves — so the query
    * also proves the id mapping is faithful on this corpus. */
  def phraseSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val Mod = 2000000011L
    val rows = table(spark, dir, "documents")
      .select(
        lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"),
        expr(s"""transform(filter(split(text, ' '), w -> w != ''),
                 w -> CAST(pmod(xxhash64(w), ${Mod}L) AS INT))""").as("tokens"),
        col("lang").as("source"))
      .withColumn("n_tok", size(col("tokens")))
      .select("doc_id", "tokens", "n_tok", "source")
      .as[TokenRow]
    val base = scratch(dir, "phrase")
    writeChunks(EncodePipeline.encode(rows, numParts = 8, tokensPerChunk = 64 * 1024),
      s"$base/chunks")
    val persisted = readChunkTable(spark, s"$base/chunks")
    graft.spark.TokenIndex.build(persisted, s"$base/index")
    val phrase = Seq("table", "scan").map(tokenIdOf(_, Mod))
    graft.spark.TokenIndex.lookupPhrase(spark, s"$base/index", persisted, phrase)
      .toDF("doc_id").orderBy("doc_id")
  }

  /** Snapshot isolation + time travel (SnapshotLog): slice A of documents
    * is encoded and committed as v1; slice B is APPENDED and committed as
    * v2. Reading AS OF v1 must see only A's files even though B's sit in
    * the same chunks/ directory — the manifest, not the listing, is the
    * source of truth. Output = decode@v1 tagged snap=1 union decode@
    * latest tagged snap=2; the oracle restates both slices relationally.
    * The dir is wiped first so reruns are bit-deterministic (a stale
    * snapshot log would shift version numbers). */
  def snapshotTravel(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val t = new SnapshotTable(spark, dir, "snap")
    val v1 = t.append(col("doc_id") % 2 === 0)
    t.append(col("doc_id") % 2 === 1)
    def decodeAt(v: Option[Int], tag: Int) =
      snapView(EncodePipeline.decodeDF(
        SnapshotLog.readChunks(spark, t.base, v).as[EncodedChunk]), tag)
    decodeAt(Some(v1), 1).unionAll(decodeAt(None, 2))
      .orderBy("snap", "doc_id")
  }

  /** Row-level deletes + snapshot-native compaction (SnapshotLog): the
    * documents table lands in two interleaved appends (evens, odds —
    * their chunk key intervals overlap, so compaction has real merge
    * work), `deleteWhere(lang='de')` writes an equality-delete file
    * WITHOUT touching any data file (merge-on-read), and `compactTable`
    * rewrites the table applying the deletes physically. Output = the
    * row view at three snapshots: v2 (full table, proving the delete is
    * time-travel-invisible), v3 (delete in effect via anti-join), v4
    * (post-compaction — same rows from a rewritten file set). The
    * oracle restates all three relationally. */
  def snapshotDelete(spark: SparkSession, dir: String): DataFrame = {
    val t = new SnapshotTable(spark, dir, "snapdel")
    t.append(col("doc_id") % 2 === 0)
    val v2 = t.append(col("doc_id") % 2 === 1)
    val v3 = SnapshotLog.deleteWhere(spark, t.base, col("source") === "de")
    val v4 = SnapshotLog.compactTable(spark, t.base, tokensPerChunk = 2048)
    rowsAt(spark, t.base, v2, 1).unionAll(rowsAt(spark, t.base, v3, 2))
      .unionAll(rowsAt(spark, t.base, v4, 3))
      .orderBy("snap", "doc_id")
  }

  /** Bucketed co-located join: both sides are written bucketed (and
    * bucket-sorted) on the join key, so the sort-merge join consumes
    * the bucket layout directly — NO exchange and NO sort on either
    * side of the join (BucketedJoinSpec pins the plan; `hint("merge")`
    * keeps the broadcast planner from hiding the property at toy scale).
    * This is the write-once-join-many pattern for 100-TB fact tables:
    * the shuffle is paid once at layout time, then every subsequent
    * join of tables bucketed on the same key is exchange-free. The
    * trailing per-customer aggregate shuffles (different key) — only
    * the JOIN rides the buckets. */
  def bucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val tag = dirKey(dir)
    val base = scratch(dir, "bktjoin")
    val (liTbl, ordTbl) = (s"graft_bkt_li_$tag", s"graft_bkt_ord_$tag")
    spark.sql(s"DROP TABLE IF EXISTS $liTbl")
    spark.sql(s"DROP TABLE IF EXISTS $ordTbl")
    // NOTE: overlapping these two bucketed writes on driver threads
    // (guide §2.6) measured FASTER warm but 2x slower in the cold bench
    // context — concurrent saveAsTable calls serialize on the session
    // catalog/committer and pay double JIT; kept sequential.
    table(spark, dir, "lineitem")
      .select("l_orderkey", "l_quantity")
      .write.mode("overwrite").option("path", s"$base/li")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable(liTbl)
    table(spark, dir, "orders")
      .select("o_orderkey", "o_custkey")
      .write.mode("overwrite").option("path", s"$base/ord")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable(ordTbl)
    val li = spark.table(liTbl)
    val ord = spark.table(ordTbl)
    li.hint("merge")
      .join(ord, li("l_orderkey") === ord("o_orderkey"))
      .groupBy("o_custkey")
      .agg(count(lit(1)).as("n_items"),
        sum(col("l_quantity").cast("double")).as("sum_qty"))
      .select(col("o_custkey"), col("n_items"), col("sum_qty"))
      .orderBy("o_custkey")
  }

  /** Incremental consumption (SnapshotLog.readIncremental): the
    * documents table lands in three appends (doc_id % 3 slices); the
    * change feed between consecutive snapshots must return exactly the
    * appended slice, reading ONLY the new files (cost O(new data), never
    * O(table) — the manifest diff names them). A trailing equality
    * delete proves deleted rows drop out of a feed that spans the
    * delete. Output tags: 2 = feed v1→v2, 3 = feed v2→v3,
    * 4 = feed v1→v4 (across the delete). */
  def snapshotIncremental(spark: SparkSession, dir: String): DataFrame = {
    val t = new SnapshotTable(spark, dir, "snapinc")
    val v1 = t.append(col("doc_id") % 3 === 0)
    val v2 = t.append(col("doc_id") % 3 === 1)
    val v3 = t.append(col("doc_id") % 3 === 2)
    val v4 = SnapshotLog.deleteWhere(spark, t.base, col("source") === "de")
    def feed(from: Int, to: Int, tag: Int) =
      snapView(SnapshotLog.readIncremental(spark, t.base, from, to), tag)
    feed(v1, v2, 2).unionAll(feed(v2, v3, 3)).unionAll(feed(v1, v4, 4))
      .orderBy("snap", "doc_id")
  }

  /** Incremental materialized-view maintenance with RETRACTIONS: a
    * per-source aggregate table is kept current across snapshot commits
    * by folding in only each commit's DELTA — appends add their
    * aggregated contribution (readIncremental: just-landed files, never
    * a rescan), the delete retracts the aggregated contribution of the
    * rows it removes (negated counts merged in) — so maintenance cost
    * is O(delta), not O(table), the property that makes a 100-TB MV
    * affordable. The MV is genuinely materialized: written to parquet
    * after every fold and re-read for the next, never carried in memory.
    * Oracle: full recompute over the final state — incremental
    * maintenance must be indistinguishable from it. */
  def incrementalMv(spark: SparkSession, dir: String): DataFrame = {
    val t = new SnapshotTable(spark, dir, "incmv")
    val base = t.base
    def aggOf(rows: Dataset[TokenRow]): DataFrame =
      rows.groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum(element_at(col("tokens"), 1).cast("long")).as("sum_chars"))
    def mvPath(v: Int) = s"$base/mv_v$v"
    def fold(prevV: Int, v: Int, delta: DataFrame): Unit =
      spark.read.parquet(mvPath(prevV)).unionByName(delta)
        .groupBy("source")
        .agg(sum("n_docs").as("n_docs"), sum("sum_chars").as("sum_chars"))
        .filter(col("n_docs") > 0)
        .write.mode("overwrite").parquet(mvPath(v))
    val v1 = t.append(col("doc_id") % 3 === 0)
    aggOf(SnapshotLog.readRows(spark, base)).write.parquet(mvPath(v1))
    val v2 = t.append(col("doc_id") % 3 === 1)
    fold(v1, v2, aggOf(SnapshotLog.readIncremental(spark, base, v1, v2)))
    val v3 = t.append(col("doc_id") % 3 === 2)
    fold(v2, v3, aggOf(SnapshotLog.readIncremental(spark, base, v2, v3)))
    // retraction: the delete's victim rows, aggregated and negated —
    // read at the PRE-delete version so the subtraction is exact
    val victims = SnapshotLog.readRows(spark, base, Some(v3))
      .filter(col("source") === "de")
    val v4 = SnapshotLog.deleteWhere(spark, base, col("source") === "de")
    fold(v3, v4, aggOf(victims)
      .select(col("source"), (-col("n_docs")).as("n_docs"),
        (-col("sum_chars")).as("sum_chars")))
    spark.read.parquet(mvPath(v4)).orderBy("source")
  }

  /** MERGE-style upsert (SnapshotLog.upsert): the documents table is the
    * base snapshot; one atomic commit then lands NEW versions of every
    * 'fr' doc (source rewritten to 'fr2') plus brand-new doc_ids — as
    * new data files AND a sequence-scoped equality delete of the
    * incoming keys, so the delete hides only the PRE-upsert versions
    * (Iceberg v2 semantics; the upsert's own rows are strictly newer
    * than the delete). Output = the row view at v1 (pre-upsert), v2
    * (merge-on-read upsert), v3 (post-compaction fold — must equal v2
    * from a rewritten file set). Oracle restates all three. */
  def snapshotUpsert(spark: SparkSession, dir: String): DataFrame = {
    val base = freshScratch(spark, dir, "snapups")
    def rowsOf(df: DataFrame) = docRows(df, Seq(col("n_chars").cast("int")), col("src"))
    val docs = table(spark, dir, "documents")
    writeChunks(EncodePipeline.encode(
        rowsOf(docs.select(col("doc_id"), col("n_chars"), col("lang").as("src"))),
        numParts = 4, tokensPerChunk = 2048), s"$base/chunks", "append")
    val v1 = SnapshotLog.commit(spark, base, "append")
    val incoming = rowsOf(
      docs.filter(col("lang") === "fr")
        .select(col("doc_id"), col("n_chars"), lit("fr2").as("src"))
        .unionByName(docs.select((col("doc_id") + 50000000L).as("doc_id"),
          col("n_chars"), lit("new").as("src"))
          .orderBy("doc_id").limit(40))) // sort-then-limit: deterministic 40
    val v2 = SnapshotLog.upsert(spark, base, incoming, numParts = 4,
      tokensPerChunk = 2048)
    val v3 = SnapshotLog.compactTable(spark, base, tokensPerChunk = 2048)
    rowsAt(spark, base, v1, 1).unionAll(rowsAt(spark, base, v2, 2))
      .unionAll(rowsAt(spark, base, v3, 3))
      .orderBy("snap", "doc_id")
  }

  /** Chunk-aligned merge join (ChunkJoin.joinByDocId): the encode layout
    * IS the join strategy — the chunk side crosses the exchange encoded
    * and pre-sorted, probe rows are bounds-assigned to the matching
    * partition, and chunks outside the probe key range never decode.
    * Probe deliberately carries duplicate keys (the %91 slice re-probes
    * keys the %7 slice already hits) to pin full inner-join semantics.
    * Oracle: the same join restated over the raw table. */
  def chunkJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = table(spark, dir, "documents")
    val rows = charRows(docs)
    val bounds = EncodePipeline.massBalancedBounds(rows, 4)
    val chunks = EncodePipeline.encode(rows, numParts = 4,
      tokensPerChunk = 2048, boundsOverride = Some(bounds))
    val probe = docs.filter(col("doc_id") % 7 === 0)
      .select(lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"),
        col("n_chars").cast("long").as("weight"))
      .unionAll(docs.filter(col("doc_id") % 91 === 0)
        .select(lpad(col("doc_id").cast("string"), 8, "0").as("doc_id"),
          (col("n_chars") + 1000000L).cast("long").as("weight")))
      .as[(String, Long)]
    ChunkJoin.joinByDocId(chunks, bounds, probe)
      .toDF()
      .select(col("doc_id"), col("source"),
        col("n_tok").cast("long").as("n_tok"), col("weight"))
      .orderBy("doc_id", "weight")
  }
}
