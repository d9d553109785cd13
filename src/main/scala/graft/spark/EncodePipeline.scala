package graft.spark

import graft.codec._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, InSet}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StructType}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8

/** One encoded column chunk — the analog of a reference row group's worth
  * of pages (reference: row_group.go:16-53, page.go:22-85). All four
  * input columns are encoded side by side so a chunk decodes back to
  * complete TokenRows without any shuffle. Per-column codec ids live in
  * the chunk payload (byte 0); names are surfaced for metrics.
  */
final case class EncodedChunk(
    part_id: Int,
    chunk_id: Long,
    num_rows: Int,
    num_tokens: Long,
    tokens_nulls: Int,
    source_nulls: Int,
    first_doc_id: String,
    last_doc_id: String,
    tokens_codec: String,
    lens_codec: String,
    docid_codec: String,
    source_codec: String,
    tokens_min: Int,
    tokens_max: Int,
    raw_bytes: Long,
    enc_bytes: Long,
    encode_ms: Long,
    crc32: Long,
    /** Per-stream CRCs (tokens, lens, docid, source, bloom): a projected
      * read that fetches only SOME streams can still fail loudly on
      * corruption without touching the streams it skipped (the reference
      * CRCs per page, page.go; whole-chunk crc32 stays for full decodes). */
    stream_crcs: Seq[Long],
    tokens_bloom: Array[Byte],
    tokens_bin: Array[Byte],
    lens_bin: Array[Byte],
    docid_bin: Array[Byte],
    source_bin: Array[Byte])

/** Per-partition lineage/metrics row for the checkpoint table (schema of
  * `<ckpt>/metrics`; see encodeCheckpointed). first/last doc_id are the
  * partition's key range — lineage for audits and for range-pruned reads. */
final case class PartitionMetrics(
    part_id: Int,
    num_chunks: Int,
    num_rows: Long,
    num_tokens: Long,
    raw_bytes: Long,
    enc_bytes: Long,
    wall_ms: Long,
    first_doc_id: String,
    last_doc_id: String,
    attempt: Int,
    status: String)

/** The encode job: token table → encoded chunk table (+ checkpoint).
  *
  * Scale design (the part that must survive 1000 executors / 100 TB):
  *  - partitioning is RANGE on doc_id with boundaries picked from a
  *    token-mass-weighted sample, so each partition carries ~equal token
  *    mass even under heavy-tailed n_tok (the north rule's skew/salting
  *    requirement — mass-balancing subsumes per-key salting because
  *    doc_id is unique per row);
  *  - each partition encodes independently inside one mapPartitions stage
  *    (no shuffle after the single range exchange); chunks are cut at a
  *    fixed token budget so memory is bounded regardless of row skew;
  *  - per-partition metrics rows make the job resumable: completed
  *    part_ids are skipped on restart (idempotent because the partition
  *    assignment is persisted with the checkpoint).
  */
object EncodePipeline {

  final val DefaultTokensPerChunk: Int = 1 << 20 // ~4 MB of raw token payload

  /** Parquet compression for CHUNK tables: none. The payload columns are
    * already compressed by the engine's own codecs (high-entropy bytes),
    * so parquet-level snappy re-compression saved a measured 1.6% of
    * bytes while costing ~5× the binary-scan CPU at 32 threads
    * (round 4 decode-scan probe: 1.66 s vs 0.30 s for the same scan).
    * At 100 TB that trade is strictly worse — decode is the hot path,
    * and the bytes are incompressible by construction. */
  final val ChunkTableCompression = "uncompressed"

  /** The parquet schema of a chunk table (a written `Dataset[EncodedChunk]`).
    * A reader that knows it reads chunk files passes it to
    * `spark.read.schema`, which skips the schema-inference job a bare
    * `spark.read.parquet` runs. */
  val ChunkSchema: StructType = Encoders.product[EncodedChunk].schema

  /** The parquet schema of a checkpoint's `metrics` table, pinned on every
    * read of it for the same reason. */
  val MetricsSchema: StructType = Encoders.product[PartitionMetrics].schema

  /** Partition-count sizing for a target partition payload (default
    * 256 MB of raw tokens — shuffle blocks stay large, task count stays
    * bounded at 100 TB scale instead of exploding with the data). */
  def autoNumParts(ds: Dataset[TokenRow], targetPartitionBytes: Long = 256L << 20): Int = {
    val totalTokens = ds.agg(sum(col("n_tok"))).head().getLong(0)
    math.max(1, math.ceil(totalTokens * 4.0 / targetPartitionBytes).toInt)
  }

  // ------------------------------------------------------------ partitioning

  /** Range boundaries over doc_id balancing *token mass*, not row count.
    * ONE column-pruned pass (round 1 paid a count() plus a sample() —
    * two scans): each input split keeps a deterministic systematic
    * sample via stride doubling (keep every row until the buffer fills,
    * then thin to every 2nd, 4th, ... — no RNG, so bounds are
    * reproducible for checkpoint resume), each kept key weighted by its
    * stride. Driver-side work stays bounded by the per-split cap at any
    * input scale; cuts fall at equal cumulative (weighted) token mass.
    * Keys sort in UTF8 BYTE order to match the executor-side sort and
    * PartIdForBounds assignment.
    */
  def massBalancedBounds(ds: Dataset[TokenRow], numParts: Int): Array[String] = {
    import org.apache.spark.unsafe.types.UTF8String
    if (numParts <= 1) return Array.empty
    // schema: doc_id(0), n_tok(1)
    val rdd = ds.select(col("doc_id"), col("n_tok")).queryExecution.toRdd
    val nInput = math.max(1, rdd.getNumPartitions)
    // floor of 200k keys total: mass quantiles need the heavy TAIL
    // sampled densely; a 200k-key driver-side sort is trivial
    val targetSamples = math.min(math.max(numParts.toLong * 200, 200000L), 2000000L)
    val cap = math.max(256, (2L * targetSamples / nInput).toInt)
    val parts = rdd.mapPartitions { it =>
      val buf = new scala.collection.mutable.ArrayBuffer[(UTF8String, Long)](cap)
      var stride = 1L
      var seen = 0L
      while (it.hasNext) {
        val row = it.next() // InternalRow is reused by the scan: copy out
        if (seen % stride == 0) {
          // null-token rows carry n_tok = -1: zero mass
          buf += ((row.getUTF8String(0).clone(), math.max(0L, row.getInt(1).toLong)))
          if (buf.length >= 2 * cap) {
            val thinned = buf.zipWithIndex.collect { case (v, i) if (i & 1) == 0 => v }
            buf.clear()
            buf ++= thinned
            stride *= 2
          }
        }
        seen += 1
      }
      Iterator.single((buf.toArray, stride))
    }.collect()
    val sample = parts.flatMap { case (samples, stride) =>
      samples.map { case (id, mass) => (id, mass * stride) }
    }.sortBy(_._1)(Ordering.comparatorToOrdering(
      java.util.Comparator.naturalOrder[UTF8String]()))
    if (sample.isEmpty) return Array.empty
    val totalMass = sample.map(_._2).sum.toDouble
    if (totalMass <= 0) return Array.empty
    val perPart = totalMass / numParts
    val bounds = new scala.collection.mutable.ArrayBuffer[String](numParts - 1)
    var acc = 0L
    var nextCut = perPart
    for ((id, mass) <- sample if bounds.length < numParts - 1) {
      acc += mass
      if (acc >= nextCut) {
        bounds += id.toString
        nextCut += perPart
      }
    }
    bounds.distinct.toArray
  }

  /** Assign part_id by binary search over persisted bounds — stable across
    * runs, which is what makes checkpoint resume idempotent. A codegen'd
    * Catalyst expression over broadcast UTF8 bounds: the doc_id is
    * compared as UTF8 bytes without ever materializing a Java String, and
    * the projection stays inside whole-stage codegen (the round-1 Scala
    * UDF broke the codegen span on every input row of every encode job).
    */
  def withPartId(ds: Dataset[TokenRow], bounds: Array[String]): DataFrame = {
    val spark = ds.sparkSession
    val bc = spark.sparkContext.broadcast(
      bounds.map(org.apache.spark.unsafe.types.UTF8String.fromString))
    ds.toDF().withColumn("part_id",
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.PartIdForBounds(
          org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute("doc_id"), bc)))
  }

  // ----------------------------------------------------------------- encode

  /** Encode one partition's rows into chunks. Reuses growable scratch
    * across rows (reference keeps zero-alloc hot loops,
    * encoding_test.go:852-856; we amortize instead). */
  private final class PartitionEncoder(partId: Int, tokensPerChunk: Int, blockCodec: Int) {
    private var tokenBuf = new Array[Int](math.min(tokensPerChunk + 8192, 1 << 22))
    private var nTokens = 0
    private val lens = new scala.collection.mutable.ArrayBuffer[Int](4096) // non-null rows only
    private val tokNull = new scala.collection.mutable.ArrayBuffer[Boolean](4096) // per row
    private val docIds = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4096)
    private val sources = new scala.collection.mutable.ArrayBuffer[Array[Byte]](4096) // null entries allowed
    private var chunkSeq = 0L

    /** `tokens` and `source` may be null (nullable columns; stored via a
      * per-chunk null bitmap). `docId` is the partition/sort key and must
      * be non-null. */
    def add(docId: Array[Byte], tokens: Array[Int], source: Array[Byte],
            flushTo: EncodedChunk => Unit): Unit = {
      require(docId != null, "doc_id is the partition key and must be non-null")
      if (tokens == null) tokNull += true
      else {
        if (nTokens + tokens.length > tokenBuf.length)
          tokenBuf = java.util.Arrays.copyOf(tokenBuf,
            math.max(tokenBuf.length * 2, nTokens + tokens.length))
        System.arraycopy(tokens, 0, tokenBuf, nTokens, tokens.length)
        nTokens += tokens.length
        lens += tokens.length
        tokNull += false
      }
      docIds += docId
      sources += source
      if (nTokens >= tokensPerChunk) flushTo(flush())
    }

    def nonEmpty: Boolean = docIds.nonEmpty

    def flush(): EncodedChunk = {
      val tFlush0 = System.nanoTime()
      val nRows = docIds.length
      val lensArr = lens.toArray
      val tokNullArr = tokNull.toArray
      val docArr = docIds.toArray
      val srcArr = sources.toArray
      val tokensNulls = nRows - lensArr.length
      val srcNulls = {
        var c = 0; var i = 0
        while (i < nRows) { if (srcArr(i) == null) c += 1; i += 1 }
        c
      }
      var (tokensBin0, tokensCodec) = StreamedTokens.encode(tokenBuf, lensArr, lensArr.length, nTokens)
      if (tokensNulls > 0)
        tokensBin0 = Chunks.wrapNullable(tokNullArr, nRows, tokensNulls, tokensBin0)
      val lensBin0 = Chunks.encodeInts(lensArr, 0, lensArr.length)
      val docBin0 = Chunks.encodeStrings(docArr, 0, nRows)
      val srcBin0 =
        if (srcNulls == 0) Chunks.encodeStrings(srcArr, 0, nRows)
        else {
          val flags = new Array[Boolean](nRows)
          val dense = new Array[Array[Byte]](nRows - srcNulls)
          var d = 0; var i = 0
          while (i < nRows) {
            if (srcArr(i) == null) flags(i) = true
            else { dense(d) = srcArr(i); d += 1 }
            i += 1
          }
          Chunks.wrapNullable(flags, nRows, srcNulls, Chunks.encodeStrings(dense, 0, d))
        }
      val lensCodec = Chunks.codecName(lensBin0)
      val docCodec = Chunks.codecName(docBin0)
      val srcCodec = Chunks.codecName(srcBin0)
      val tokensBin = BlockCompression.maybeCompress(blockCodec, tokensBin0)
      val lensBin = BlockCompression.maybeCompress(blockCodec, lensBin0)
      val docBin = BlockCompression.maybeCompress(blockCodec, docBin0)
      val srcBin = BlockCompression.maybeCompress(blockCodec, srcBin0)
      var mn = Int.MaxValue
      var mx = Int.MinValue
      // split-block bloom over the chunk's tokens, built in the same pass
      // as min/max (reference builds blooms at write, bloom.go:16-70)
      val bloomWords = new Array[Int](Bloom.sizeBytes(nTokens) / 4)
      var i = 0
      while (i < nTokens) {
        val v = tokenBuf(i)
        if (v < mn) mn = v
        if (v > mx) mx = v
        Bloom.insert(bloomWords, v)
        i += 1
      }
      val crc = new java.util.zip.CRC32()
      val bloomBin = Bloom.serialize(bloomWords)
      crc.update(tokensBin)
      crc.update(lensBin)
      crc.update(docBin)
      crc.update(srcBin)
      crc.update(bloomBin) // a corrupt bloom would silently drop search hits
      def crcOf(b: Array[Byte]): Long = {
        val c = new java.util.zip.CRC32(); c.update(b); c.getValue
      }
      val streamCrcs = Seq(crcOf(tokensBin), crcOf(lensBin), crcOf(docBin),
        crcOf(srcBin), crcOf(bloomBin))
      // key range in unsigned-byte order (UTF8String.compareTo, the
      // order pruning and compaction compare in): arrival order is only
      // the key order for sorted input, not for an aligned micro-batch
      var lo = docArr(0)
      var hi = lo
      i = 1
      while (i < nRows) {
        val d = docArr(i)
        if (java.util.Arrays.compareUnsigned(d, lo) < 0) lo = d
        if (java.util.Arrays.compareUnsigned(d, hi) > 0) hi = d
        i += 1
      }
      val rawBytes = 4L * nTokens + 4L * lensArr.length +
        docArr.map(_.length.toLong).sum +
        srcArr.map(s => if (s == null) 0L else s.length.toLong).sum
      val chunk = EncodedChunk(
        part_id = partId,
        chunk_id = (partId.toLong << 32) | chunkSeq,
        num_rows = nRows,
        num_tokens = nTokens.toLong,
        tokens_nulls = tokensNulls,
        source_nulls = srcNulls,
        first_doc_id = new String(lo, UTF_8),
        last_doc_id = new String(hi, UTF_8),
        tokens_codec = tokensCodec,
        lens_codec = lensCodec,
        docid_codec = docCodec,
        source_codec = srcCodec,
        tokens_min = if (nTokens == 0) 0 else mn,
        tokens_max = if (nTokens == 0) 0 else mx,
        raw_bytes = rawBytes,
        // bloom counted: the compressed-size claim includes ALL bytes a
        // reader needs (the bloom is ~1-2% of a full chunk)
        enc_bytes = tokensBin.length.toLong + lensBin.length + docBin.length +
          srcBin.length + bloomBin.length,
        encode_ms = (System.nanoTime() - tFlush0) / 1000000,
        crc32 = crc.getValue,
        stream_crcs = streamCrcs,
        tokens_bloom = bloomBin,
        tokens_bin = tokensBin,
        lens_bin = lensBin,
        docid_bin = docBin,
        source_bin = srcBin)
      chunkSeq += 1
      nTokens = 0
      lens.clear()
      tokNull.clear()
      docIds.clear()
      sources.clear()
      chunk
    }
  }

  /** Range-partition (mass-balanced), sort within partitions by doc_id,
    * encode to chunks. One shuffle total; the row never materializes as
    * Scala objects — the encode kernel reads Tungsten InternalRows
    * directly (UTF8String bytes + primitive-array bulk copy). */
  def encode(ds: Dataset[TokenRow], numParts: Int,
             tokensPerChunk: Int = DefaultTokensPerChunk,
             boundsOverride: Option[Array[String]] = None,
             blockCodec: Int = BlockCompression.None): Dataset[EncodedChunk] = {
    val bounds = boundsOverride.getOrElse(massBalancedBounds(ds, numParts))
    encodeAssigned(withPartId(ds, bounds), numParts, tokensPerChunk, blockCodec)
  }

  /** Route each row to the task whose index is its part_id (a pass-through
    * exchange: part_id modulo the partition count, no hashing), sort each
    * partition by (part_id, doc_id) and encode it to chunks. A hash
    * exchange would leave some of the n tasks empty and stack several of
    * the dense ids 0..n-1 on one task. */
  private def encodeAssigned(assigned: DataFrame, numParts: Int, tokensPerChunk: Int,
                             blockCodec: Int): Dataset[EncodedChunk] = {
    val spark = assigned.sparkSession
    import spark.implicits._
    val laid = assigned
      .repartitionById(math.max(numParts, 1), col("part_id"))
      .sortWithinPartitions(col("part_id"), col("doc_id"))
    // schema: doc_id(0), tokens(1), n_tok(2), source(3), part_id(4)
    spark.createDataset(laid.queryExecution.toRdd
      .mapPartitions(encodePartition(_, tokensPerChunk, blockCodec)))
  }

  /** Layout-aligned encode: when the input table is ALREADY range-laid-out
    * on doc_id (an Iceberg table with a sort order / a previous run's
    * layout), skip the exchange entirely — each input split encodes
    * in place with its split id as part_id. Zero shuffle; scales like a
    * pure map job. The full `encode` (with the mass-balanced exchange)
    * remains the path for unordered input. */
  def encodeAligned(ds: Dataset[TokenRow],
                    tokensPerChunk: Int = DefaultTokensPerChunk,
                    blockCodec: Int = BlockCompression.None,
                    partIdOffset: Int = 0): Dataset[EncodedChunk] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val rdd = ds.toDF().queryExecution.toRdd.mapPartitions { iter =>
      val pid = partIdOffset + TaskContext.getPartitionId()
      encodePartition(iter, tokensPerChunk, blockCodec, _ => pid)
    }
    spark.createDataset(rdd)
  }

  /** A task can hold several logical partitions (more bounds than tasks,
    * or compaction groups); the sort keeps them contiguous, so cut a new
    * encoder whenever part_id changes. `partId` reads a row's part_id
    * (by default the ordinal-4 column of the exchanged layout).
    * InternalRows are reused by the scan — every retained byte is copied
    * out (getBytes / toIntArray). */
  private def encodePartition(iter: Iterator[org.apache.spark.sql.catalyst.InternalRow],
                              tokensPerChunk: Int,
                              blockCodec: Int = BlockCompression.None,
                              partId: org.apache.spark.sql.catalyst.InternalRow => Int =
                                _.getInt(4)): Iterator[EncodedChunk] = {
    val out = new scala.collection.mutable.ArrayBuffer[EncodedChunk]()
    var enc: PartitionEncoder = null
    var curPid = Int.MinValue
    iter.foreach { row =>
      val p = partId(row)
      if (p != curPid) {
        if (enc != null && enc.nonEmpty) out += enc.flush()
        enc = new PartitionEncoder(p, tokensPerChunk, blockCodec)
        curPid = p
      }
      enc.add(
        row.getUTF8String(0).getBytes,
        if (row.isNullAt(1)) null else row.getArray(1).toIntArray(),
        if (row.isNullAt(3)) null else row.getUTF8String(3).getBytes,
        out += _)
    }
    if (enc != null && enc.nonEmpty) out += enc.flush()
    out.iterator
  }

  // ----------------------------------------------------------------- decode

  /** Decode as a columnar scan: a custom Catalyst plan
    * (`graft.plans.DecodeChunksExec`) decodes each chunk into reused
    * `OnHeapColumnVector`s and emits `ColumnarBatch`es — zero per-row
    * allocation (rounds 1-2 allocated a GenericInternalRow + a token
    * array copy + an UnsafeArrayData per row, which went GC-bound at 32
    * threads). Spark's codegen'd ColumnarToRow transition feeds row
    * consumers. `cols` projects the decode: only the streams those
    * columns need are fetched, CRC-checked, and decoded, and Catalyst
    * ColumnPruning shrinks it automatically under aggregates/projects
    * (reference reads pages per requested column, file.go:439-485).
    * Rows whose tokens were NULL come back with `tokens = null,
    * n_tok = -1`; NULL sources come back null. This is the one
    * Dataset-level token decoder: typed callers take
    * `decodeDF(chunks).as[TokenRow]`. */
  def decodeDF(chunks: Dataset[EncodedChunk],
               cols: Seq[String] = Seq("doc_id", "tokens", "n_tok", "source")): DataFrame =
    graft.plans.GraftPlans.decodeDF(chunks.toDF(), cols)

  /** Per-chunk typed decode of rows [fromRow, toRow) — the whole chunk is
    * `decodeChunkRows(c, 0, c.num_rows)`. Token pages outside the range
    * are skipped by bytes via the paged offset index (reference
    * SeekToRow, file.go:684-709); the row-level streams (lens, doc_id,
    * source — a few % of chunk bytes) decode fully. */
  def decodeChunkRows(c: EncodedChunk, fromRow: Int, toRow: Int): Iterator[TokenRow] = {
    require(fromRow >= 0 && fromRow <= toRow && toRow <= c.num_rows,
      s"rows [$fromRow,$toRow) of ${c.num_rows}")
    // Same corruption-fails-loudly stance as decodeDF: the partial read
    // skips token-page DECODE, but the chunk's bytes are all in hand, so
    // the CRC pass (proportional to bytes, not rows) is cheap relative to
    // having fetched them.
    val crc = new java.util.zip.CRC32()
    crc.update(c.tokens_bin); crc.update(c.lens_bin)
    crc.update(c.docid_bin); crc.update(c.source_bin)
    crc.update(c.tokens_bloom)
    require(crc.getValue == c.crc32, s"chunk ${c.chunk_id}: CRC mismatch")
    val lens = Chunks.decodeInts(BlockCompression.decompress(c.lens_bin))
    val (tokFlags, tokensInner) = Chunks.unwrapNullable(BlockCompression.decompress(c.tokens_bin))
    // map chunk rows -> non-null token-row indices
    var nnStart = 0
    var r = 0
    while (r < fromRow) { if (tokFlags == null || !tokFlags(r)) nnStart += 1; r += 1 }
    var nnEnd = nnStart
    while (r < toRow) { if (tokFlags == null || !tokFlags(r)) nnEnd += 1; r += 1 }
    val (flat, _, _) = StreamedTokens.decodeRows(tokensInner, lens, nnStart, nnEnd)
    val docIds = Chunks.decodeStrings(BlockCompression.decompress(c.docid_bin))
    val (srcFlags, srcInner) = Chunks.unwrapNullable(BlockCompression.decompress(c.source_bin))
    val srcDense = Chunks.decodeStrings(srcInner)
    var srcCursor = 0
    r = 0
    while (r < fromRow) { if (srcFlags == null || !srcFlags(r)) srcCursor += 1; r += 1 }
    var tokRow = nnStart
    var flatOff = 0
    var row = fromRow
    Iterator.continually {
      val cur = row
      row += 1
      val tokensOut =
        if (tokFlags != null && tokFlags(cur)) null
        else {
          val n = lens(tokRow)
          tokRow += 1
          val a = java.util.Arrays.copyOfRange(flat, flatOff, flatOff + n)
          flatOff += n
          a
        }
      val sourceOut =
        if (srcFlags != null && srcFlags(cur)) null
        else {
          val s = srcDense(srcCursor)
          srcCursor += 1
          new String(s, UTF_8)
        }
      TokenRow(new String(docIds(cur), UTF_8), tokensOut,
        if (tokensOut == null) -1 else tokensOut.length, sourceOut)
    }.take(toRow - fromRow)
  }

  /** Distributed row-offset index over a chunk table: one row per chunk
    * with its global `row_start` in the canonical (part_id, chunk_id)
    * order. Two-phase prefix sum, so no single point ever holds all
    * chunk metadata: per-part totals aggregate distributed and only
    * O(#parts) base offsets touch the driver (bounded by the job's task
    * count, not the data); the within-part prefix is a window
    * partitioned by part_id (distributed). encodeCheckpointed persists
    * this next to the chunks so readers don't even pay the metadata job. */
  def rowIndex(chunks: Dataset[EncodedChunk]): DataFrame =
    rowIndexOf(chunks.toDF())

  /** Format-agnostic variant: any chunk metadata with (part_id, chunk_id,
    * num_rows) columns — shared by the token pipeline and GenericEncode. */
  def rowIndexOf(chunkMeta: DataFrame): DataFrame = {
    val partRows = chunkMeta.groupBy("part_id").agg(sum("num_rows"))
      .collect() // O(#parts) — the only driver-side piece
      .map(r => r.getInt(0) -> r.getLong(1))
    withRowStarts(chunkMeta, partRows)
  }

  /** `rowIndexOf` given each part's row count (in any order). */
  private def withRowStarts(chunkMeta: DataFrame, partRows: Seq[(Int, Long)]): DataFrame = {
    val spark = chunkMeta.sparkSession
    import org.apache.spark.sql.expressions.Window
    val meta = chunkMeta.select(col("part_id"), col("chunk_id"), col("num_rows"))
    val sorted = partRows.sortBy(_._1)
    val bases = sorted.map(_._1).zip(sorted.scanLeft(0L)(_ + _._2))
    val basesDF = spark.createDataFrame(bases).toDF("part_id", "part_base")
    val w = Window.partitionBy("part_id").orderBy("chunk_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    meta.join(broadcast(basesDF), "part_id")
      .withColumn("row_start",
        col("part_base") + coalesce(sum(col("num_rows").cast("long")).over(w), lit(0L)))
      .select("chunk_id", "row_start", "num_rows")
  }

  /** A per-call value as a plan parameter (see [[graft.functions.QueryParam]]):
    * lookups that differ only in it reuse one compiled class. */
  private def param(value: Any, t: DataType): Column =
    ColumnBridge.column(graft.functions.QueryParam(value, t))

  /** chunk_id → the in-chunk row range [from, to) of every chunk of a row
    * index (`rowIndexOf`'s columns) that covers global rows
    * [start, start + count). Only the covering chunks reach the driver. */
  private[spark] def coveringRanges(index: DataFrame, start: Long,
                                    count: Long): Map[Long, (Int, Int)] =
    index
      .filter(col("row_start") < param(start + count, LongType) &&
        col("row_start") + col("num_rows") > param(start, LongType))
      .collect() // O(covering chunks)
      .map { r =>
        val rowStart = r.getLong(1)
        val lo = math.max(start, rowStart)
        val hi = math.min(start + count, rowStart + r.getInt(2))
        r.getLong(0) -> ((lo - rowStart).toInt, (hi - rowStart).toInt)
      }.toMap

  /** The chunk filter of a seek over `coveringRanges`' result: a
    * column-level `chunk_id` set test (not a typed closure), so it pushes
    * into the parquet scan as an `In` filter and never deserializes the
    * payloads of non-covering chunks. It is an `InSet`, not an `In` of
    * literals: InSet's generated code reads the set from the plan's
    * references, so seeks at new offsets reuse one compiled class. */
  private[spark] def coveringChunks(ranges: Map[Long, (Int, Int)]): Column =
    ColumnBridge.column(InSet(UnresolvedAttribute("chunk_id"), ranges.keySet.map(k => k: Any)))

  /** Seek by global row offset in the chunk table's canonical order
    * (part_id, chunk_id, row-in-chunk): the distributed row index picks
    * the covering chunks (only THOSE reach the driver — O(count/chunk),
    * not O(#chunks); rounds 1-2 collected every chunk's metadata), and
    * each decodes only its needed row range — reading 10 rows of a
    * 10^9-row table touches one or two chunks and within them only the
    * covering token pages. Pass a persisted `index` (encodeCheckpointed
    * writes one under <dir>/row_index) to skip the metadata job. */
  def seekToRows(chunks: Dataset[EncodedChunk], start: Long, count: Long,
                 index: Option[DataFrame] = None): Dataset[TokenRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val ranges = coveringRanges(index.getOrElse(rowIndex(chunks)), start, count)
    val bc = spark.sparkContext.broadcast(ranges)
    chunks
      .filter(coveringChunks(ranges))
      .flatMap { c =>
        val (from, to) = bc.value(c.chunk_id)
        decodeChunkRows(c, from, to)
      }
  }

  // ------------------------------------------------------------- checkpoint

  /** Encode with checkpoint/resume: chunks land under `dir/chunks`
    * partitioned by part_id; a metrics/lineage row per partition lands
    * under `dir/metrics`. On restart, partitions already present in the
    * metrics table are skipped; the persisted bounds keep the partition
    * assignment stable so re-encoded output is byte-identical
    * (deterministic generator + stable assignment).
    */
  /** On-disk checkpoint format version. Bump whenever the chunk schema or
    * byte layout changes incompatibly — a version mismatch must fail with
    * THIS message, not a downstream schema/'CRC mismatch' error. History:
    * v3 = round 3 (stream_crcs on token chunks; generic per-column
    * stats/blooms folded into the whole-chunk CRC; leading-Sep map leaf
    * names). Round-2-and-older checkpoints predate the marker entirely. */
  final val FormatVersion = 3

  /** Validate (or stamp) `FORMAT_VERSION` next to a checkpoint. A fresh
    * dir gets the marker; a marker from another version fails explicitly.
    * A dir with data but NO marker (the marker only exists since round 4)
    * is PROBED: a chunk table whose parquet schema carries `stream_crcs`
    * IS the current v3 layout, so it is stamped and accepted in place —
    * refusing it would force a needless full re-encode of a compatible
    * table. Anything else fails with an honest "version unknown" message
    * (not a claim about which round wrote it). */
  private def checkFormatVersion(spark: SparkSession,
                                 hfs: org.apache.hadoop.fs.FileSystem,
                                 dir: org.apache.hadoop.fs.Path): Unit = {
    val vf = new org.apache.hadoop.fs.Path(dir, "FORMAT_VERSION")
    def stamp(): Unit = {
      val out = hfs.create(vf, true)
      try out.write(FormatVersion.toString.getBytes(UTF_8)) finally out.close()
    }
    if (hfs.exists(vf)) {
      val in = hfs.open(vf)
      val v = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
      require(v == FormatVersion.toString,
        s"checkpoint at $dir is on-disk format version $v; this build reads/writes " +
          s"version $FormatVersion — re-encode the table (cross-version reads are refused " +
          "explicitly rather than failing later with an opaque schema or CRC error)")
    } else {
      val hasData = Seq("chunks", "metrics", "metrics.staging", "metrics.old")
        .exists(n => hfs.exists(new org.apache.hadoop.fs.Path(dir, n)))
      if (!hasData) { stamp(); return }
      val chunksPath = new org.apache.hadoop.fs.Path(dir, "chunks")
      val isV3 = hfs.exists(chunksPath) &&
        (try spark.read.parquet(chunksPath.toString)
          .schema.fieldNames.contains("stream_crcs")
        catch { case scala.util.control.NonFatal(_) => false })
      if (isV3) stamp()
      else throw new IllegalArgumentException(
        s"checkpoint at $dir has no FORMAT_VERSION marker and its layout does not " +
          s"match version $FormatVersion (probed the chunk schema); the version that " +
          "wrote it is unknown — re-encode the table")
    }
  }

  /** First existing complete metrics table among current / staging / old
    * (the staging and old names exist transiently during the swap below;
    * a crash inside the swap window leaves exactly one complete copy). */
  private def liveMetricsPath(hfs: org.apache.hadoop.fs.FileSystem,
                              metricsPath: String): Option[String] =
    Seq(metricsPath, metricsPath + ".staging", metricsPath + ".old")
      .find(p => hfs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))

  def encodeCheckpointed(spark: SparkSession, ds: Dataset[TokenRow], numParts: Int,
                         dir: String,
                         tokensPerChunk: Int = DefaultTokensPerChunk): DataFrame = {
    // All checkpoint metadata I/O goes through the Hadoop FileSystem API,
    // so `dir` can be any URI (file:, hdfs:, s3a:). Round 1 used
    // java.io.File for bounds + existence checks — on an object store the
    // driver-local checks were always false and resume silently never
    // resumed.
    val hconf = spark.sparkContext.hadoopConfiguration
    val dirPath = new org.apache.hadoop.fs.Path(dir)
    val hfs = dirPath.getFileSystem(hconf)
    hfs.mkdirs(dirPath)
    checkFormatVersion(spark, hfs, dirPath)
    val boundsPath = new org.apache.hadoop.fs.Path(dirPath, "bounds.txt")
    val bounds: Array[String] =
      if (hfs.exists(boundsPath)) {
        val in = hfs.open(boundsPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toArray
        finally in.close()
      } else {
        val b = massBalancedBounds(ds, numParts)
        val out = hfs.create(boundsPath, true)
        try out.write(b.mkString("\n").getBytes(UTF_8)) finally out.close()
        b
      }
    val metricsPath = s"$dir/metrics"
    // Crash recovery: if the last run died inside the swap window, the
    // only complete copy may sit under .staging or .old — promote it to
    // the current name BEFORE any lazy reads reference it, then operate
    // on the current table only.
    liveMetricsPath(hfs, metricsPath).foreach { p =>
      if (p != metricsPath) {
        hfs.delete(new org.apache.hadoop.fs.Path(metricsPath), true)
        hfs.rename(new org.apache.hadoop.fs.Path(p),
          new org.apache.hadoop.fs.Path(metricsPath))
      }
    }
    import spark.implicits._
    // The previous attempt's metrics rows, under their pinned schema: one
    // per part, so O(#parts) on the driver. Completed partitions reach the
    // input filter below as a broadcast anti join against a local table
    // of their ids — rounds 1-3 built an `isin(done: _*)` filter, which at
    // 10^5 completed partitions serializes a 10^5-element expression tree
    // into every task; a broadcast hash join ships one compact hash set.
    val prevMetrics: Seq[PartitionMetrics] = liveMetricsPath(hfs, metricsPath).toSeq
      .flatMap(p => spark.read.schema(MetricsSchema).parquet(p).as[PartitionMetrics].collect())
    val done: Set[Int] = prevMetrics.filter(_.status == "ok").map(_.part_id).toSet
    val assigned = withPartId(ds, bounds)
    val todo =
      if (done.isEmpty) assigned
      else assigned
        .join(broadcast(done.toSeq.toDF("part_id")), Seq("part_id"), "left_anti")
        // using-joins move the key column first; the encode kernel below
        // reads InternalRow ordinals, so restore the original layout
        .select(assigned.columns.map(col).toSeq: _*)
    val chunks = encodeAssigned(todo, numParts, tokensPerChunk, BlockCompression.None)
    // dynamic partition overwrite: a re-encoded part_id atomically replaces
    // its directory, so a partition that crashed mid-write last attempt
    // can never leave duplicate chunks behind
    chunks.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .option("compression", ChunkTableCompression)
      .partitionBy("part_id").parquet(s"$dir/chunks")
    // One per-part aggregate over the whole chunk table, read under its
    // pinned schema (no inference job), feeds both the metrics rows of the
    // parts encoded now and the row index's part bases below: O(#parts)
    // rows on the driver, the bound rowIndexOf already accepts.
    val chunkMeta = spark.read.schema(ChunkSchema).parquet(s"$dir/chunks")
    val attempt = if (done.isEmpty) 1 else prevMetrics.map(_.attempt).max + 1
    val parts = chunkMeta.groupBy(col("part_id"))
      .agg(
        count(lit(1)).cast("int"),
        sum("num_rows"),
        sum("num_tokens"),
        sum("raw_bytes"),
        sum("enc_bytes"),
        sum("encode_ms"),
        min("first_doc_id"),
        max("last_doc_id"))
      .collect()
      .map(r => PartitionMetrics(r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7), r.getString(8), attempt, "ok"))
    // completed partitions keep their original metrics rows (attempt
    // history is lineage); only re-encoded parts get a new row
    val metrics = prevMetrics.filter(m => done(m.part_id)) ++ parts.filterNot(p => done(p.part_id))
    // Swap with no unprotected window: write staging, move the current
    // table aside, promote staging, then drop the old copy. A crash at
    // any point leaves at least one complete table that liveMetricsPath
    // finds on the next resume (round 1 did delete-then-rename, where a
    // crash between the two wiped the lineage).
    val staging = metricsPath + ".staging"
    val mPath = new org.apache.hadoop.fs.Path(metricsPath)
    val sPath = new org.apache.hadoop.fs.Path(staging)
    val oPath = new org.apache.hadoop.fs.Path(metricsPath + ".old")
    hfs.delete(sPath, true)
    metrics.toDS().coalesce(1).write.mode("overwrite").parquet(staging)
    hfs.delete(oPath, true)
    if (hfs.exists(mPath)) hfs.rename(mPath, oPath)
    hfs.rename(sPath, mPath)
    hfs.delete(oPath, true)
    // persisted row-offset index: seekToRows over this checkpoint needs
    // no metadata job at all (recomputed over the FULL table each run so
    // resumes stay consistent; a metadata-only job, O(#chunks) rows)
    withRowStarts(chunkMeta, parts.map(p => p.part_id -> p.num_rows))
      .write.mode("overwrite").parquet(s"$dir/row_index")
    spark.read.schema(MetricsSchema).parquet(metricsPath)
  }

  /** Stats- and bloom-pruned search over the chunk table: chunks are
    * skipped first by the persisted [tokens_min, tokens_max] interval,
    * then by the per-chunk split-block bloom, so only chunks that very
    * probably contain `tokenId` are decoded. The engine-side analog of the
    * reference's column-index pruning (search.go:31-101) plus bloom probe
    * (bloom.go:16-70). Returns doc_ids containing the token.
    *
    * `tokenId` enters the plan as a [[graft.functions.QueryParam]], not a
    * literal, so every search reuses the classes the first one compiled.
    * The trade: the min/max check no longer reaches parquet as a pushed
    * row-group filter. It still prunes every chunk row in the Filter over
    * the scan, before the bloom probe and the decode, so the chunks
    * decoded are the same; only row groups whose chunks all fail the
    * check are read where they used to be skipped.
    */
  def searchToken(chunks: Dataset[EncodedChunk], tokenId: Int): Dataset[String] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    // Fully declarative: stats filter + codegen'd bloom probe prune the
    // chunk scan, then the projected columnar decode touches ONLY the
    // tokens and doc_id streams — the source stream of a matching chunk
    // is never fetched, CRC'd, or decoded (round 2 paid the full 4-stream
    // decode per surviving chunk). The stats filter is explicit (the
    // checks ChunkFilterPushdown grows for array_contains) because
    // in-memory chunk Datasets carry no stats columns for the rule to see.
    val token = graft.functions.QueryParam(tokenId, IntegerType)
    val pruned = chunks.toDF().filter(ColumnBridge.column(
      graft.plans.TokenLayout.containsToken(UnresolvedAttribute(_), token).reduce(And)))
    graft.plans.GraftPlans.decodeDF(pruned, Seq("doc_id", "tokens"))
      .where(array_contains(col("tokens"), ColumnBridge.column(token)))
      .select(col("doc_id")).as[String]
  }

  /** Compaction: merge several chunk tables (e.g. incremental/streaming
    * runs) into one freshly mass-balanced layout — the table-level analog
    * of the reference's MergeRowGroups + SortingWriter flush
    * (merge.go:20-72, sorting.go:99-133). Decode → union → re-encode;
    * Spark's external sort replaces the reference's hand-rolled k-way
    * heap merge of spilled runs. */
  def compact(spark: SparkSession, chunkDirs: Seq[String], numParts: Int, outDir: String,
              tokensPerChunk: Int = DefaultTokensPerChunk): DataFrame = {
    import spark.implicits._
    val all = chunkDirs
      .map(d => spark.read.parquet(d).as[EncodedChunk])
      .reduce(_ unionByName _)
    encodeCheckpointed(spark, decodeDF(all).as[TokenRow], numParts, outDir, tokensPerChunk)
  }

  /** Sorted-run-aware compaction: merge several chunk tables while
    * re-encoding ONLY chunks whose doc_id ranges overlap a chunk from
    * another (or the same) run. Non-overlapping chunks pass through with
    * their payload bytes untouched — at 100 TB this is the difference
    * between compaction as a metadata shuffle and compaction as a full
    * rewrite (reference merges sorted runs with a k-way heap instead of
    * re-sorting, merge.go:177-273).
    *
    * Grouping is a DISTRIBUTED sweep over chunk [first,last] doc_id
    * intervals (transitively-overlapping chunks form a group; a group
    * boundary falls wherever an interval starts past the running max of
    * every preceding interval's end): the metadata is range-partitioned
    * on first_doc_id and the running max crosses partitions via the same
    * two-phase prefix pattern as `rowIndex` — the driver holds only
    * O(#partitions) carry values, never the chunk list (rounds 1-2 swept
    * all chunk metadata on the driver). Group ids are globally
    * consecutive ordinals, so the compacted table's partition ranges are
    * disjoint and globally ordered. Singleton groups pass through
    * byte-identical; multi-chunk groups decode + merge + re-encode. Use
    * `compact` instead when a fresh mass-balanced layout is wanted.
    *
    * `dropDuplicates = true` drops rows sharing a doc_id while merging
    * overlapping groups, keeping one row per doc_id (the reference's
    * SortingWriter does the same during its k-way merge when
    * DropDuplicatedRows is set — sorting.go:123-126, config.go:671-673,
    * comparator machinery dedupe.go:8-111). Like the reference, which
    * keeps whichever duplicate its merge visits first, the survivor
    * among differing payloads is merge-order-dependent; the result is
    * deterministic when duplicates are identical rows (the usual
    * re-ingest case). Pass-through singleton chunks are untouched —
    * a duplicated doc_id always makes its chunks overlap, so every
    * duplicate lands in a multi-chunk group by construction. */
  def compactSorted(spark: SparkSession, chunkDirs: Seq[String], outDir: String,
                    tokensPerChunk: Int = DefaultTokensPerChunk,
                    dropDuplicates: Boolean = false,
                    packTokens: Option[Long] = None): DataFrame = {
    import spark.implicits._
    val all: Dataset[(Int, EncodedChunk)] = chunkDirs.zipWithIndex.map { case (d, i) =>
      spark.read.parquet(d).as[EncodedChunk].map(c => (i, c))
    }.reduce(_ union _)
    // Metadata-only, genuinely: a column-level select straight off the
    // parquet dirs (column pruning skips every payload stream), sorted by
    // Spark's own UTF8-binary string order — the SAME order the per-row
    // UTF8String comparisons below use.
    val meta = chunkDirs.zipWithIndex.map { case (d, i) =>
      spark.read.parquet(d).select(
        lit(i).as("run"), col("chunk_id"), col("first_doc_id"), col("last_doc_id"),
        col("num_tokens"))
    }.reduce(_ unionByName _)
    compactRuns(spark, all, meta, outDir, tokensPerChunk, dropDuplicates, None,
      packTokens = packTokens)
  }

  /** OPTIMIZE-style bin-packing compaction for the SMALL-FILE problem:
    * incremental ingest leaves many tiny, mutually DISJOINT chunks that
    * [[compactSorted]]'s pure interval sweep passes through untouched
    * (they form singleton overlap groups). This variant coarsens
    * consecutive sweep groups into ≈`tokensPerChunk`-token bins by token
    * waterline — `bin = floor(tokens-before-group / target)` over a
    * distributed prefix sum, the same mass-balancing idea as the encode
    * exchange — then re-encodes only multi-chunk bins; a chunk alone in
    * its bin (already well-sized) still passes through byte-identical.
    * Output bins stay disjoint, globally ordered doc_id intervals (bins
    * are unions of CONSECUTIVE disjoint groups). The reference has no
    * counterpart — its MergeRowGroups (merge.go:20-72) always rewrites
    * every input row group; skip-what's-already-right is the property
    * that matters when 99% of a 100-TB table is already compact. */
  def compactBinPack(spark: SparkSession, chunkDirs: Seq[String], outDir: String,
                     tokensPerChunk: Int = DefaultTokensPerChunk,
                     dropDuplicates: Boolean = false): DataFrame =
    compactSorted(spark, chunkDirs, outDir, tokensPerChunk, dropDuplicates,
      packTokens = Some(tokensPerChunk.toLong))

  /** Core of [[compactSorted]] over pre-built inputs — `all` pairs each
    * chunk with a RUN id (chunk_ids are only unique within one encode
    * run, so the pair is the global key), `metaPlan` is the pruned
    * (run, chunk_id, first_doc_id, last_doc_id) projection. `deletes`,
    * when present, is a (doc_id, del_seq) DataFrame of equality deletes
    * (Iceberg v2 style), SEQUENCE-SCOPED: a delete applies only to runs
    * whose `runAdded` version is strictly below its del_seq, so an
    * upsert's own rows survive the delete committed alongside them
    * (absent runs default to 0 = oldest = every delete applies — the
    * safe direction). Chunks whose key interval may contain an
    * applicable deleted id are forced through the decode path even when
    * they overlap nothing (a pass-through byte copy could smuggle
    * deleted rows through), and decoded rows anti-join the applicable
    * delete set. Both delete passes broadcast the delete table — at a
    * 10^9-id delete set, flip the range check to a shuffle range-join;
    * the sweep itself is unchanged. */
  private[graft] def compactRuns(spark: SparkSession,
                                 all: Dataset[(Int, EncodedChunk)],
                                 metaPlan: DataFrame, outDir: String,
                                 tokensPerChunk: Int,
                                 dropDuplicates: Boolean,
                                 deletes: Option[DataFrame],
                                 runAdded: Map[Int, Int] = Map.empty,
                                 packTokens: Option[Long] = None): DataFrame = {
    import spark.implicits._
    import org.apache.spark.unsafe.types.UTF8String
    // Sweep parallelism derives from the METADATA size (guide §2: no
    // constant partition counts): one row per chunk, so even a 100-TB
    // table has ~10^7 sweep rows — 64k rows per partition keeps partitions
    // real-sized while a toy table sweeps in ONE partition instead of
    // paying a 32-way range sample + 3 passes over 31 empty partitions.
    // Capped at the session's parallelism like every other derived count.
    // The metadata plan (a scan of every input file, plus the run join for
    // snapshot tables) runs once: the sweep and the dirty-chunk probe both
    // read this cache.
    val meta = metaPlan.cache()
    val metaCount = meta.count()
    val sweepParts = math.max(1L, math.min(
      spark.sessionState.conf.numShufflePartitions.toLong,
      (metaCount + 65535) / 65536)).toInt
    val sortedMeta = meta
      .repartitionByRange(sweepParts, col("first_doc_id"), col("chunk_id"))
      .sortWithinPartitions("first_doc_id", "chunk_id")
      .as[(Int, Long, String, String, Long)]
      .cache()
    sortedMeta.count() // pin the partition layout for the three passes
    @inline def max(a: UTF8String, b: UTF8String): UTF8String =
      if (a == null || (b != null && b.compareTo(a) > 0)) b else a
    // pass 1: per-partition max(last) → driver-side prefix = carry-in
    val partMax = sortedMeta.rdd.mapPartitionsWithIndex { (pid, it) =>
      var mx: UTF8String = null
      it.foreach { case (_, _, _, l, _) => mx = max(mx, UTF8String.fromString(l)) }
      Iterator.single((pid, Option(mx).map(_.toString)))
    }.collect().sortBy(_._1)
    val carryIn = new Array[String](partMax.length) // null = no preceding interval
    var acc: UTF8String = null
    partMax.foreach { case (pid, mx) =>
      carryIn(pid) = if (acc == null) null else acc.toString
      mx.foreach(m => acc = max(acc, UTF8String.fromString(m)))
    }
    val bcCarry = spark.sparkContext.broadcast(carryIn)
    // pass 2: per-partition boundary counts → driver-side prefix = group base
    val counts = sortedMeta.rdd.mapPartitionsWithIndex { (pid, it) =>
      var mx = Option(bcCarry.value(pid)).map(UTF8String.fromString).orNull
      var c = 0
      it.foreach { case (_, _, f, l, _) =>
        if (mx == null || UTF8String.fromString(f).compareTo(mx) > 0) c += 1
        mx = max(mx, UTF8String.fromString(l))
      }
      Iterator.single((pid, c))
    }.collect().sortBy(_._1)
    val groupBase = new Array[Int](counts.length)
    var gAcc = 0
    counts.foreach { case (pid, c) => groupBase(pid) = gAcc; gAcc += c }
    val numGroups = gAcc
    val bcBase = spark.sparkContext.broadcast(groupBase)
    // pass 3: the assignment TABLE (run, chunk_id, grp) — distributed, and
    // joined to the payloads instead of broadcast from the driver
    val assignment0 = spark.createDataset(
      sortedMeta.rdd.mapPartitionsWithIndex { (pid, it) =>
        var mx = Option(bcCarry.value(pid)).map(UTF8String.fromString).orNull
        var g = bcBase.value(pid) - 1
        it.map { case (runId, id, f, l, ntok) =>
          if (mx == null || UTF8String.fromString(f).compareTo(mx) > 0) g += 1
          mx = max(mx, UTF8String.fromString(l))
          (runId, id, g, ntok)
        }
      }).toDF("a_run", "a_chunk_id", "grp", "ntok")
    // Optional bin packing (compactBinPack): coarsen consecutive sweep
    // groups into ≈target-token bins. Groups are disjoint ordered
    // intervals numbered 0..G-1, so `bin = floor(tokens-before / target)`
    // over the per-group token totals — a metadata-scale distributed
    // prefix sum, same 2-pass shape as the carries above — combines only
    // CONSECUTIVE groups and preserves the disjoint-interval invariant.
    val assignment = packTokens match {
      case None => assignment0.select("a_run", "a_chunk_id", "grp")
      case Some(target) =>
        require(target > 0, s"packTokens must be positive: $target")
        val grpTok = assignment0.groupBy("grp").agg(sum("ntok").as("gtok"))
          .repartitionByRange(sweepParts, col("grp"))
          .sortWithinPartitions("grp")
          .as[(Int, Long)]
          .cache()
        grpTok.count() // pin the layout for the two passes
        val tokSums = grpTok.rdd.mapPartitionsWithIndex { (pid, it) =>
          var s = 0L
          it.foreach(s += _._2)
          Iterator.single((pid, s))
        }.collect().sortBy(_._1)
        val tokCarry = new Array[Long](tokSums.length)
        var tAcc = 0L
        tokSums.foreach { case (pid, s) => tokCarry(pid) = tAcc; tAcc += s }
        val bcTokCarry = spark.sparkContext.broadcast(tokCarry)
        val binOf = spark.createDataset(
          grpTok.rdd.mapPartitionsWithIndex { (pid, it) =>
            var cum = bcTokCarry.value(pid)
            it.map { case (g, t) =>
              val b = (cum / target).toInt
              cum += t
              (g, b)
            }
          }).toDF("grp", "bin")
        assignment0.join(binOf, "grp")
          .select(col("a_run"), col("a_chunk_id"), col("bin").as("grp"))
    }
    // "dirty" chunks — interval MAY hold a deleted doc_id — cannot pass
    // through byte-identical even as singletons; a broadcast range probe
    // against the delete ids marks them for the decode path
    // run → added-version as a codegen'd map literal (absent run = 0,
    // i.e. "oldest": every delete applies — the safe direction)
    val addedExpr =
      if (runAdded.isEmpty) lit(0)
      else coalesce(element_at(typedLit(runAdded), col("run")), lit(0))
    val dirtyKeys = deletes.map { del =>
      val ids = del.select(col(del.columns.head).as("__del_id"),
        col("del_seq").as("__del_seq"))
      meta.withColumn("__added", addedExpr)
        .join(broadcast(ids),
          col("__del_id") >= col("first_doc_id") &&
            col("__del_id") <= col("last_doc_id") &&
            col("__del_seq") > col("__added"))
        .select(col("run").as("a_run"), col("chunk_id").as("a_chunk_id"))
        .distinct()
        .withColumn("dirty", lit(true))
    }
    // column order after the joins: (grp, a_run, a_chunk_id, gsz, dirty)
    val sizedDf = assignment.join(
      assignment.groupBy("grp").agg(count(lit(1)).as("gsz")), "grp")
    val sized = dirtyKeys
      .map(d => sizedDf.join(d, Seq("a_run", "a_chunk_id"), "left")
        .select(col("grp"), col("a_run"), col("a_chunk_id"), col("gsz"),
          coalesce(col("dirty"), lit(false)).as("dirty")))
      .getOrElse(sizedDf.withColumn("dirty", lit(false)))
      .as[(Int, Int, Long, Long, Boolean)]
      // one row per chunk; both write branches read it, so the assignment,
      // group-size and dirty-chunk plans run once (payloads are not cached:
      // that would hold the whole table)
      .cache()
    val joined = all.joinWith(sized,
      all("_1") === sized("a_run") && all("_2.chunk_id") === sized("a_chunk_id"))

    // clean singleton groups: payload bytes untouched; only the keys move
    val pass = joined
      .filter(t => t._2._4 == 1L && !t._2._5)
      .map { case ((_, c), (g, _, _, _, _)) =>
        c.copy(part_id = g, chunk_id = (g.toLong << 32) | (c.chunk_id & 0xFFFFFFFFL))
      }
    // overlapping or dirty groups: decode, drop applicable deleted rows,
    // co-partition by group, merge-sort, re-encode
    val addedOf = runAdded.withDefaultValue(0)
    val decoded = joined
      .filter(t => t._2._4 > 1L || t._2._5)
      .flatMap { case ((run, c), (g, _, _, _, _)) =>
        decodeChunkRows(c, 0, c.num_rows).map(r =>
          (r.doc_id, r.tokens, r.n_tok, r.source, g, addedOf(run)))
      }
      .toDF("doc_id", "tokens", "n_tok", "source", "part_id", "__added")
    val surviving = (deletes match {
      case Some(del) =>
        val ids = broadcast(del.select(
          col(del.columns.head).as("__del_id"),
          col("del_seq").as("__del_seq")))
        decoded.join(ids,
          decoded("doc_id") === col("__del_id") &&
            col("__del_seq") > decoded("__added"), "left_anti")
      case None => decoded
    }).select("doc_id", "tokens", "n_tok", "source", "part_id")
    // group ids are dense (0..numGroups-1; bins are fewer), so routing by
    // id spreads them round-robin and no task is left empty while there
    // are groups for it
    val rows = surviving
      .repartitionById(math.max(1, math.min(
        spark.sessionState.conf.numShufflePartitions, numGroups)), col("part_id"))
      .sortWithinPartitions("part_id", "doc_id")
    // after the per-partition sort duplicates are adjacent (groups are
    // disjoint doc_id intervals, so equal doc_ids share a group and a
    // partition): a streaming skip-equal pass, no extra shuffle
    val rowRdd = rows.queryExecution.toRdd
    val mergedRdd =
      if (!dropDuplicates) rowRdd
      else rowRdd.mapPartitions { it =>
        // UTF8String comparison straight off the row buffer — no String
        // per row in the merge hot loop; only a RETAINED key is cloned
        // (the unsafe row backing `d` is reused by the iterator)
        var prevPart = Int.MinValue
        var prevDoc: UTF8String = null
        it.filter { r =>
          val p = r.getInt(4)
          val d = r.getUTF8String(0)
          val keep = p != prevPart || prevDoc == null || !d.equals(prevDoc)
          if (keep) { prevPart = p; prevDoc = d.clone() }
          keep
        }
      }
    val reencoded = spark.createDataset(
      mergedRdd.mapPartitions(encodePartition(_, tokensPerChunk)))
    pass.toDF().unionByName(reencoded.toDF())
      .write.mode("overwrite")
      .option("compression", ChunkTableCompression)
      .parquet(outDir)
    sized.unpersist()
    sortedMeta.unpersist()
    meta.unpersist()
    dropEmptyParquet(spark, outDir)
    spark.read.schema(ChunkSchema).parquet(outDir)
  }

  /** Delete the zero-row parquet files of an unpartitioned table: Spark's
    * first write task leaves a schema-only file even when its partition
    * is empty, and every later scan would open it. One file is kept when
    * none holds rows, so the table still carries its schema. */
  private def dropEmptyParquet(spark: SparkSession, dir: String): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val hfs = path.getFileSystem(conf)
    val files = hfs.listStatus(path).map(_.getPath)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val empty = files.filter { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount == 0L finally r.close()
    }
    val drop = if (empty.length == files.length) empty.drop(1) else empty
    drop.foreach { f =>
      if (!hfs.delete(f, false) && hfs.exists(f))
        throw new java.io.IOException(s"could not remove empty output file $f")
    }
  }

  /** Round-trip validation: decoded rows must match the source exactly
    * (the per-row invariant from BASELINE.json). Returns mismatch count —
    * 0 is the pass condition. */
  def verifyRoundTrip(source: Dataset[TokenRow], decoded: Dataset[TokenRow]): Long = {
    val spark = source.sparkSession
    import spark.implicits._
    val a = source.map(r => (r.doc_id, Option(r.tokens).map(_.toSeq), r.n_tok, Option(r.source)))
    val b = decoded.map(r => (r.doc_id, Option(r.tokens).map(_.toSeq), r.n_tok, Option(r.source)))
    // null-safe (<=>) comparisons: nullable tokens/source round-trip as
    // nulls, which must compare EQUAL, while a dropped row still fails
    // via the full-outer join's unmatched side
    val mism = a.toDF("doc_id", "tokens", "n_tok", "source")
      .join(b.toDF("doc_id", "tokens2", "n_tok2", "source2"), Seq("doc_id"), "full_outer")
      .filter(
        !(col("tokens") <=> col("tokens2")) ||
          !(col("n_tok") <=> col("n_tok2")) || !(col("source") <=> col("source2")))
    mism.count()
  }
}
