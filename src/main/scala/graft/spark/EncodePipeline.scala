package graft.spark

import graft.codec._
import graft.plans.{GraftPlans, TokenLayout}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, InSet}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

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
      * CRCs per page, page.go). Every decode checks these; the
      * whole-chunk crc32 is kept in the format but no read checks it. */
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
  *    (no shuffle after the single range exchange); a task hands each
  *    chunk on as it fills ([[TokenChunkIterator]]), so it holds one
  *    chunk's rows at a time however large its partition (the sort before
  *    it spills; the parquet writer after it buffers one row group);
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

  /** Cuts one task's rows into chunks, one chunk per `next`: it pulls rows
    * until the chunk holds `tokensPerChunk` tokens, the part_id (read by
    * `partId`) changes or the input ends. A task can hold several parts
    * (more bounds than tasks, or compaction sub-parts), sorted together;
    * each part's chunk ids start at 0. InternalRows are reused by the scan,
    * so a taken row's bytes are copied out (getBytes / toIntArray); the
    * row that ends a part is only peeked at, and stays valid unconsumed
    * to open the next chunk. Scratch is reused across chunks (reference
    * keeps zero-alloc hot loops, encoding_test.go:852-856). */
  private[graft] final class TokenChunkIterator(
      rows: Iterator[InternalRow], tokensPerChunk: Int, blockCodec: Int,
      partId: InternalRow => Int) extends ChunkCutter[EncodedChunk] {
    private val in = rows.buffered
    private val tokens = new IntBuf(math.min(tokensPerChunk + 8192, 1 << 22))
    private val lens = new IntBuf(4096) // non-null rows only
    private val tokNull = new ArrayBuffer[Boolean](4096) // per row
    private val docIds = new ArrayBuffer[Array[Byte]](4096)
    private val sources = new ArrayBuffer[Array[Byte]](4096) // null entries allowed
    private var part = Int.MinValue // part_id of the chunk being cut
    private var chunkSeq = 0L

    override protected def cut(): EncodedChunk = {
      if (!in.hasNext) return null
      val p = partId(in.head)
      if (p != part) { part = p; chunkSeq = 0 }
      do add(in.next())
      while (tokens.n < tokensPerChunk && in.hasNext && partId(in.head) == part)
      encodeChunk()
    }

    /** `tokens` and `source` may be null (nullable columns, stored via a
      * per-chunk null bitmap). */
    private def add(row: InternalRow): Unit = {
      if (row.isNullAt(1)) tokNull += true
      else {
        val toks = row.getArray(1).toIntArray()
        tokens ++= toks
        lens += toks.length
        tokNull += false
      }
      docIds += row.getUTF8String(0).getBytes
      sources += (if (row.isNullAt(3)) null else row.getUTF8String(3).getBytes)
    }

    private def encodeChunk(): EncodedChunk = {
      val tFlush0 = System.nanoTime()
      val nRows = docIds.length
      val nTokens = tokens.n
      val docArr = docIds.toArray
      val srcArr = sources.toArray
      val tokensNulls = nRows - lens.n
      val srcNulls = srcArr.count(_ == null)
      var (tokensBin0, tokensCodec) = StreamedTokens.encode(tokens.a, lens.a, lens.n, nTokens)
      if (tokensNulls > 0)
        tokensBin0 = Chunks.wrapNullable(tokNull.toArray, nRows, tokensNulls, tokensBin0)
      val lensBin0 = Chunks.encodeInts(lens.a, 0, lens.n)
      val docBin0 = Chunks.encodeStrings(docArr, 0, nRows)
      val srcBin0 =
        if (srcNulls == 0) Chunks.encodeStrings(srcArr, 0, nRows)
        else Chunks.wrapNullable(srcArr.map(_ == null), nRows, srcNulls,
          Chunks.encodeStrings(srcArr.filter(_ != null), 0, nRows - srcNulls))
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
        val v = tokens.a(i)
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
      val rawBytes = 4L * nTokens + 4L * lens.n +
        docArr.map(_.length.toLong).sum +
        srcArr.map(s => if (s == null) 0L else s.length.toLong).sum
      val chunk = EncodedChunk(
        part_id = part,
        chunk_id = (part.toLong << 32) | chunkSeq,
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
      tokens.clear()
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
      .mapPartitions(new TokenChunkIterator(_, tokensPerChunk, blockCodec, _.getInt(4))))
  }

  /** Layout-aligned encode: when the input table is ALREADY range-laid-out
    * on doc_id (an Iceberg table with a sort order / a previous run's
    * layout), skip the exchange entirely — each input split encodes
    * in place with its split id as part_id. Zero shuffle; scales like a
    * pure map job. The full `encode` (with the mass-balanced exchange)
    * remains the path for unordered input. */
  def encodeAligned(ds: Dataset[TokenRow],
                    tokensPerChunk: Int = DefaultTokensPerChunk,
                    blockCodec: Int = BlockCompression.None): Dataset[EncodedChunk] = {
    val spark = ds.sparkSession
    import spark.implicits._
    val rdd = ds.toDF().queryExecution.toRdd.mapPartitions { iter =>
      val pid = TaskContext.getPartitionId()
      new TokenChunkIterator(iter, tokensPerChunk, blockCodec, _ => pid)
    }
    spark.createDataset(rdd)
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
    * n_tok = -1`; NULL sources come back null. Typed callers take
    * `decodeDF(chunks).as[TokenRow]`. Its batch kernel
    * (`plans.ChunkBatchIterator`) is the engine's one token-stream
    * decoder: seeks, compaction, `ChunkJoin` and `TokenIndex` decode
    * through it as well (`GraftPlans.chunkRows`). */
  def decodeDF(chunks: Dataset[EncodedChunk],
               cols: Seq[String] = Seq("doc_id", "tokens", "n_tok", "source")): DataFrame =
    GraftPlans.decodeDF(chunks.toDF(), cols)

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
  private[spark] def param(value: Any, t: DataType): Column =
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
    * each decodes only its needed row range through the decode kernel —
    * reading 10 rows of a 10^9-row table touches one or two chunks and
    * within them only the covering token pages, with every stream it
    * reads CRC-checked. Pass a persisted `index` (encodeCheckpointed
    * writes one under <dir>/row_index) to skip the metadata job. */
  def seekToRows(chunks: Dataset[EncodedChunk], start: Long, count: Long,
                 index: Option[DataFrame] = None): Dataset[TokenRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val ranges = coveringRanges(index.getOrElse(rowIndex(chunks)), start, count)
    GraftPlans.chunkRows(chunks.toDF().filter(coveringChunks(ranges)),
      TokenLayout.TokenCols.map(TokenLayout.attrFor), TokenLayout, ranges = Some(ranges)).as[TokenRow]
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
      TokenLayout.containsToken(UnresolvedAttribute(_), token).reduce(And)))
    GraftPlans.decodeDF(pruned, Seq("doc_id", "tokens"))
      .where(array_contains(col("tokens"), ColumnBridge.column(token)))
      .select(col("doc_id")).as[String]
  }

  /** Sorted-run-aware compaction: merge several chunk tables while
    * re-encoding ONLY chunks whose doc_id ranges overlap a chunk from
    * another (or the same) run. Non-overlapping chunks pass through with
    * their payload bytes untouched — at 100 TB this is the difference
    * between compaction as a metadata shuffle and compaction as a full
    * rewrite (reference merges sorted runs with a k-way heap instead of
    * re-sorting, merge.go:177-273).
    *
    * Grouping is an interval sweep over chunk [first,last] doc_id
    * intervals, one pass over one row per chunk ([[CompactionSweep]]):
    * transitively-overlapping chunks form a group, and a group boundary
    * falls wherever an interval starts past the running max of every
    * preceding interval's end. Singleton groups pass through
    * byte-identical; multi-chunk groups decode + merge + re-encode. A
    * group larger than one sub-part (about its tokens / the shuffle
    * partition count, in whole `tokensPerChunk`s) is cut at chunk starts
    * into sub-parts that re-encode in parallel. Part ids are consecutive
    * ordinals in doc_id order (a group's sub-parts take consecutive ids),
    * so the compacted table's partition ranges are disjoint and globally
    * ordered.
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
    val chunks = chunkDirs.zipWithIndex
      .map { case (d, i) => spark.read.parquet(d).withColumn("run", lit(i)) }
      .reduce(_ unionByName _)
    compactRuns(spark, chunks, outDir, tokensPerChunk, dropDuplicates, None,
      packTokens = packTokens)
  }

  /** OPTIMIZE-style bin-packing compaction for the SMALL-FILE problem:
    * incremental ingest leaves many tiny, mutually DISJOINT chunks that
    * [[compactSorted]]'s pure interval sweep passes through untouched
    * (they form singleton overlap groups). This variant coarsens
    * consecutive sweep groups into ≈`tokensPerChunk`-token bins by token
    * waterline — `bin = floor(tokens-before-group / target)`, the
    * tokens before a group being the sweep's running sum over every
    * earlier group's chunks (the same mass-balancing idea as the encode
    * exchange) — then re-encodes only multi-chunk bins, never cut into
    * sub-parts; a chunk alone in its bin (already well-sized) still
    * passes through byte-identical.
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

  /** Core of [[compactSorted]] over one chunk frame: the chunk columns plus
    * a `run` id (chunk_ids are only unique within one encode run, so
    * (run, chunk_id) is the global key). `deletes`, when present, is a
    * (doc_id, del_seq) DataFrame of equality deletes (Iceberg v2 style),
    * SEQUENCE-SCOPED: a delete applies only to runs whose `runAdded`
    * version is strictly below its del_seq, so an upsert's own rows
    * survive the delete committed alongside them (absent runs default to
    * 0 = oldest = every delete applies — the safe direction). Chunks whose
    * key interval may contain an applicable deleted id are forced through
    * the decode path even when they overlap nothing (a pass-through byte
    * copy could smuggle deleted rows through), and decoded rows that an
    * applicable delete names are dropped.
    *
    * The plan is one [[CompactionSweep]] pass over a projection of the
    * chunks that column pruning keeps metadata-only, sorted into one task;
    * the deletes reach it as one broadcast of sorted id arrays, collected
    * in one job. Its summary gives the driver the count of re-encoded
    * parts and the sub-part cut keys; rows reach their part by the cut
    * keys as the encode exchange routes by its bounds (`PartIdForBounds`).
    *
    * Scale: the sweep sorts the one-row-per-chunk metadata in a single
    * task (with spill) on an executor and holds one overlap group's chunk
    * keys; the driver holds the cut keys (a few per task) and, for the
    * broadcast join of the plan to the chunks, one small row per chunk. A
    * 100-TB table has ~10^7 chunks, about 1 GB of metadata rows for that
    * task. At a 10^9-id delete set, the id arrays outgrow a broadcast;
    * route chunks and rows to delete ranges by a shuffle instead. */
  private[graft] def compactRuns(spark: SparkSession, chunks: DataFrame, outDir: String,
                                 tokensPerChunk: Int,
                                 dropDuplicates: Boolean,
                                 deletes: Option[DataFrame],
                                 runAdded: Map[Int, Int] = Map.empty,
                                 packTokens: Option[Long] = None): DataFrame = {
    import org.apache.spark.storage.StorageLevel
    import org.apache.spark.unsafe.types.UTF8String
    packTokens.foreach(t => require(t > 0, s"packTokens must be positive: $t"))
    val sc = spark.sparkContext
    val parallelism = spark.sessionState.conf.numShufflePartitions
    val dels = sc.broadcast(CompactionDeletes.collect(deletes))
    val sweep = new CompactionSweep(packTokens, tokensPerChunk, parallelism, runAdded, dels)
    // the sweep reads the metadata in Spark's UTF8-binary string order
    val plan = chunks.select("run", "chunk_id", "first_doc_id", "last_doc_id", "num_tokens")
      .repartition(1).sortWithinPartitions("first_doc_id", "run", "chunk_id")
      .queryExecution.toRdd.mapPartitions(sweep.plan)
      // the summary action and the write's join both read it
      .persist(StorageLevel.MEMORY_AND_DISK)
    val (reencodedParts, cuts) = plan.filter(_.getInt(0) < 0)
      .map(r => (r.getLong(1), r.getArray(4).toArray[UTF8String](StringType)))
      .collect().headOption.getOrElse((0L, Array.empty[UTF8String])) // no chunks
    val cutsBc = sc.broadcast(cuts)
    // a chunk's or row's part: its group (or bin) plus the cuts before its key
    def partOf(key: String): Column = col("grp") + ColumnBridge.column(
      graft.functions.PartIdForBounds(UnresolvedAttribute(key), cutsBc))
    val planned = ColumnBridge.internalCreateDataFrame(spark,
      plan.filter(_.getInt(0) >= 0), CompactionSweep.Schema).drop("cuts")
    val joined = chunks.join(broadcast(planned), Seq("run", "chunk_id"))

    // clean singleton parts: payload bytes untouched; only the keys move
    val rekeyed = Map(
      "part_id" -> col("part_id"),
      "chunk_id" -> shiftleft(col("part_id").cast("long"), 32)
        .bitwiseOR(col("chunk_id").bitwiseAND(0xFFFFFFFFL)))
    val pass = joined.where(!col("reencode"))
      .withColumn("part_id", partOf("first_doc_id"))
      .select(ChunkSchema.fields.toIndexedSeq.map(f =>
        declared(rekeyed.getOrElse(f.name, col(f.name)), f).as(f.name)): _*)
    // overlapping or dirty parts: decode, route to (sub-)parts,
    // merge-sort, drop applicable deleted rows, re-encode
    val decoded = GraftPlans.chunkRows(joined.where(col("reencode")),
      TokenLayout.TokenCols.map(TokenLayout.attrFor), TokenLayout, carry = Seq("grp", "run"))
    // part ids of the re-encoded parts are spread (routing takes them
    // modulo the task count), so no task is left empty while there are
    // parts for it
    val rows = decoded
      .select(col("doc_id"), col("tokens"), col("n_tok"), col("source"),
        partOf("doc_id").as("part_id"), col("run"))
      .repartitionById(math.max(1, math.min(parallelism.toLong, reencodedParts).toInt),
        col("part_id"))
      .sortWithinPartitions("part_id", "doc_id")
    // after the per-partition sort duplicates are adjacent (parts are
    // disjoint doc_id intervals, so equal doc_ids share a part and a
    // partition): a streaming skip-equal pass, no extra shuffle
    val mergedRdd = rows.queryExecution.toRdd.mapPartitions { it =>
      val deleted = dels.value
      val live =
        if (deleted.isEmpty) it
        else it.filter { r =>
          val id = r.getUTF8String(0)
          !deleted.any(runAdded.getOrElse(r.getInt(5), 0), id, id)
        }
      if (!dropDuplicates) live
      else {
        // UTF8String comparison straight off the row buffer — no String
        // per row in the merge hot loop; only a RETAINED key is cloned
        // (the unsafe row backing `d` is reused by the iterator)
        var prevPart = Int.MinValue
        var prevDoc: UTF8String = null
        live.filter { r =>
          val p = r.getInt(4)
          val d = r.getUTF8String(0)
          val keep = p != prevPart || prevDoc == null || !d.equals(prevDoc)
          if (keep) { prevPart = p; prevDoc = d.clone() }
          keep
        }
      }
    }
    val reencoded = spark.createDataset(
      mergedRdd.mapPartitions(new TokenChunkIterator(_, tokensPerChunk, BlockCompression.None,
        _.getInt(4))))(Encoders.product[EncodedChunk])
    pass.unionByName(reencoded.toDF())
      .write.mode("overwrite")
      .option("compression", ChunkTableCompression)
      .parquet(outDir)
    plan.unpersist()
    dropEmptyParquet(spark, outDir)
    spark.read.schema(ChunkSchema).parquet(outDir)
  }

  /** `c` with the nullability of chunk field `f`. A frame read from files
    * is all nullable; declaring the never-null numbers and stream CRCs
    * non-null again keeps a written chunk table's parquet schema that of
    * a written Dataset[EncodedChunk]. A null where `f` forbids one fails
    * the task. */
  private def declared(c: Column, f: StructField): Column = {
    import org.apache.spark.sql.catalyst.expressions.objects.AssertNotNull
    def notNull(x: Column) = ColumnBridge.column(AssertNotNull(ColumnBridge.expr(x)))
    val v = f.dataType match {
      case ArrayType(_, false) => transform(c, notNull(_))
      case _ => c
    }
    if (f.nullable) v else notNull(v)
  }

  /** Delete the row-less first file of an unpartitioned table when other
    * files hold the rows. Spark's write gives every empty task except
    * partition 0 a writer that creates no file, so task 0's
    * `part-00000-*` is the only file that can hold no rows, and one
    * footer decides. A table whose only file is empty keeps it, so it
    * still carries its schema. */
  private def dropEmptyParquet(spark: SparkSession, dir: String): Unit = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val path = new org.apache.hadoop.fs.Path(dir)
    val hfs = path.getFileSystem(conf)
    val files = hfs.listStatus(path).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    files.find(_.getName.startsWith("part-00000-")).filter(_ => files.length > 1).foreach { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf))
      val empty = try r.getRecordCount == 0L finally r.close()
      if (empty && !hfs.delete(f, false) && hfs.exists(f))
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
