package graftbench

import graft.spark.{EncodePipeline, EncodedChunk, GraftTables, TokenRow, TokenTableGen}
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable.ArrayBuffer

/** `read`: one chunk table built during set-up, then a seeded mix of full
  * and projected scans and three kinds of lookup. The decode kernels,
  * `DecodeChunksPlan`, the pushdown rules and the bloom probe do the work;
  * nothing is encoded in the loop. Token ids for `search_token` are hot
  * (< 50k, in nearly every chunk), rare (a value of one high-entropy row)
  * or absent (in no row), so bloom quality and decode speed show apart.
  * `point_get` is a lookup the doc_id stats can prune; `search_token` is one
  * the token min/max stats cannot. */
final class ReadWorkload(ctx: Ctx) extends Workload {
  import ctx._

  final val Rows = Sizes.ReadRows
  final val SeekCount = 10
  private val first = cfg.seed * Rows
  private val dir = path("read-table")
  private val rng = new scala.util.Random(cfg.seed)

  /** One cycle: the order is fixed, the ids in it are drawn from the seed. */
  private val cyclePlan: Seq[String] = Seq(
    "full_scan", "search_hot", "point_get", "seek_rows", "projected_scan", "search_rare", "point_get",
    "seek_rows", "full_scan", "search_absent", "point_get", "seek_rows", "point_get")
  private val searchMs = scala.collection.mutable.Map.empty[String, ArrayBuffer[Double]]

  private var chunks: Dataset[EncodedChunk] = _
  private var rowIndex: DataFrame = _
  private var truth: ReadTruth = _
  /** Seconds of each set-up's encodeCheckpointed. */
  private val encodeS = ArrayBuffer.empty[Double]
  private var bytesPerTok = 0.0

  def minCycles: Int = 3

  def opKinds: Seq[String] =
    Seq("full_scan", "projected_scan", "search_token", "seek_rows", "point_get")

  /** The generated rows, cached by the first set-up (the slowest, which the
    * median leaves out), so set-up times the engine's build, not genRow. */
  private var input: Dataset[TokenRow] = _

  def setup(rep: Int): Unit = {
    rmrf(dir)
    if (input == null) {
      input = Gen.rows(spark, first, Rows, 2 * cfg.cores).persist(StorageLevel.MEMORY_ONLY)
      input.count()
    }
    val t0 = System.nanoTime()
    EncodePipeline.encodeCheckpointed(spark, input, cfg.cores, dir)
    encodeS += (System.nanoTime() - t0) / 1e9
    chunks = Chunk.table(spark, s"$dir/chunks")
    rowIndex = spark.read.parquet(s"$dir/row_index")
    GraftTables.registerTokenTable(spark, "tokens", s"$dir/chunks")
  }

  def warmup(): Unit = {
    truth = ReadTruth.compute(first, Rows, cfg.cores, new scala.util.Random(cfg.seed))
    bytesPerTok = parquetBytes(s"$dir/chunks").toDouble / truth.table.tokens
    cyclePlan.distinct.foreach(runOp)
  }

  def cycle(i: Int): Unit = cyclePlan.foreach(runOp)

  private def runOp(kind: String): Unit = kind match {
    case "full_scan" => Checks.scan(ctx, "full_scan", chunks, truth.table)
    case "projected_scan" =>
      ops.runChecked("projected_scan") {
        EncodePipeline.decodeDF(chunks, Seq("doc_id"))
          .agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head()
      }(r => r.getLong(0) == truth.table.rows && r.getLong(1) == truth.table.docXor,
        r => s"projected digest $r, expected ${truth.table}")
    case "search_hot" => search("hot", truth.hot(rng.nextInt(truth.hot.size)))
    case "search_rare" => search("rare", truth.rare(rng.nextInt(truth.rare.size)))
    case "search_absent" => search("absent", truth.absent(rng.nextInt(truth.absent.size)))
    case "seek_rows" =>
      val start = rng.nextLong(Rows - SeekCount + 1)
      val expected = (start until start + SeekCount).map(r => TokenTableGen.genRow(truth.sortedIndex(r.toInt)))
      ops.runChecked("seek_rows") {
        EncodePipeline.seekToRows(chunks, start, SeekCount, Some(rowIndex)).collect()
      }(got => sameRows(got.sortBy(_.doc_id), expected), got => s"seek $start got ${got.map(_.doc_id).toSeq}")
    case "point_get" =>
      val row = TokenTableGen.genRow(first + rng.nextLong(Rows))
      ops.runChecked("point_get") {
        spark.sql(s"SELECT n_tok FROM tokens WHERE doc_id = '${row.doc_id}'").collect()
      }(got => got.length == 1 && got(0).getInt(0) == row.n_tok,
        got => s"point_get ${row.doc_id} got ${got.toSeq}, expected n_tok ${row.n_tok}")
  }

  private def search(cls: String, t: Int): Unit = {
    val (n, x) = truth.search(t)
    val ms = ops.runChecked("search_token") {
      EncodePipeline.searchToken(chunks, t).agg(count(lit(1)), bit_xor(xxhash64(col("doc_id")))).head()
    }(r => r.getLong(0) == n && (n == 0 || r.getLong(1) == x),
      r => s"search $t got $r, expected ($n, $x)")
    if (ops.measuring) searchMs.getOrElseUpdate(cls, ArrayBuffer.empty) += ms
  }

  /** The chunks searchToken decodes for `t`: its stats and bloom filters
    * alone, with no decode. */
  private def prunedChunks(t: Int): DataFrame = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    chunks.toDF()
      .filter(col("tokens_min") <= t && col("tokens_max") >= t)
      .filter(org.apache.spark.sql.graftbridge.ColumnBridge.column(graft.functions.BloomMightContain(
        UnresolvedAttribute("tokens_bloom"), UnresolvedAttribute("stream_crcs"),
        org.apache.spark.sql.catalyst.expressions.Literal(t))))
  }

  private def timeMs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  private def sameRows(got: Seq[TokenRow], exp: Seq[TokenRow]): Boolean =
    got.size == exp.size && got.zip(exp).forall { case (a, b) =>
      a.doc_id == b.doc_id && a.n_tok == b.n_tok && a.source == b.source &&
        java.util.Arrays.equals(a.tokens, b.tokens)
    }

  private def lat(kind: String) = ops.latencies(kind)

  def report(): Unit = {
    val tok = truth.table.tokens.toDouble
    ctx.e2e("ingest_tokens_per_s", Stats.median(encodeS.toSeq.map(tok / _)), "1/s")
    ctx.e2e("stored_bytes_per_token", bytesPerTok, "B/token")
    ctx.e2e("scan_tokens_per_s", Stats.median(lat("full_scan").map(ms => tok / (ms / 1e3))), "1/s")
    layer("op.projected_scan_rows_per_s", Stats.median(lat("projected_scan").map(ms => Rows / (ms / 1e3))), "1/s")
    Seq("search_token", "seek_rows", "point_get").foreach(k => layer(s"op.${k}_p50_ms", Stats.median(lat(k)), "ms"))
    searchMs.foreach { case (cls, v) => layer(s"op.search_token_p50_ms.$cls", Stats.median(v.toSeq), "ms") }
    val lookups = lat("search_token") ++ lat("seek_rows") ++ lat("point_get")
    layer("op.lookup_p50_ms", Stats.median(lookups), "ms")
    layer("op.lookup_p90_ms", Stats.pct(lookups, 0.9), "ms")
    layer("op.lookup_n", lookups.size, "count")
  }

  def layers(): Unit = {
    val meta = chunks.select("first_doc_id", "last_doc_id").collect().map(r => (r.getString(0), r.getString(1)))
    def covering(id: String) = meta.count { case (f, l) => id >= f && id <= l }
    var decoded = 0L
    var useful = 0L
    val ids = truth.hot.take(4) ++ truth.rare.take(4) ++ truth.absent.take(4)
    val filterMs = ids.map { t =>
      val (n, ms) = timeMs(trace.span("functions", "functions.bloom_filter")(prunedChunks(t).count()))
      val docs = EncodePipeline.searchToken(chunks, t).collect()
      decoded += n
      useful += meta.count { case (f, l) => docs.exists(d => d >= f && d <= l) }
      ms
    }
    layer("functions.bloom_filter_ms", Stats.median(filterMs), "ms")
    layer("plans.chunks_decoded_per_search", decoded.toDouble / ids.size, "count")
    layer("plans.useful_chunk_ratio", useful.toDouble / math.max(1L, decoded), "ratio")
    layer("codec.bloom_fp_ratio", CodecLayer.bloomFpRatio(chunks, truth.absent), "ratio")

    val payload = spark.read.parquet(s"$dir/chunks").agg(sum(length(col("tokens_bin")) +
      length(col("lens_bin")) + length(col("docid_bin")) + length(col("source_bin"))))
    val binS = Stats.median((1 to 3).map(_ => timeMs(trace.span("plans", "plans.binary_scan")(payload.head()))._2)) / 1e3
    layer("plans.binary_scan_s", binS, "s")
    layer("plans.decode_self_s", Stats.median(lat("full_scan")) / 1e3 - binS, "s")
    val probe = new scala.util.Random(cfg.seed + 1)
    val docIds = Seq.fill(20)(TokenTableGen.genRow(first + probe.nextLong(Rows)).doc_id)
    layer("plans.chunks_read_per_point_get", docIds.map(covering).sum.toDouble / docIds.size, "count")

    val seeks = (1 to 5).map { _ =>
      val start = probe.nextLong(Rows - SeekCount + 1)
      val (_, idxMs) = timeMs(trace.span("spark.pipeline", "spark.pipeline.row_index")(rowIndex
        .filter(col("row_start") < start + SeekCount && col("row_start") + col("num_rows") > start).collect()))
      val (_, allMs) = timeMs(trace.span("spark.pipeline", "spark.pipeline.seek")(
        EncodePipeline.seekToRows(chunks, start, SeekCount, Some(rowIndex)).collect()))
      (idxMs, allMs - idxMs)
    }
    layer("spark.pipeline.row_index_ms", Stats.median(seeks.map(_._1)), "ms")
    layer("spark.pipeline.seek_decode_ms", Stats.median(seeks.map(_._2)), "ms")
    CodecLayer.measure(ctx, first, CodecLayer.SliceRows, chunks)
  }
}

/** Generator truth for the `read` table: its digest, the doc_id order of
  * its rows, and the doc_id sets of the search token ids. */
final case class ReadTruth(table: Truth.TableSum, sortedIndex: Array[Long],
                           hot: IndexedSeq[Int], rare: IndexedSeq[Int], absent: IndexedSeq[Int],
                           search: Map[Int, (Long, Long)])

object ReadTruth {
  final val PerClass = 16

  def compute(first: Long, n: Long, threads: Int, rng: scala.util.Random): ReadTruth = {
    val hot = IndexedSeq.fill(PerClass)(rng.nextInt(50000))
    // only high-entropy rows hold values outside [0, 2^24); each such value
    // occurs in about one row
    val rare = Iterator.continually(TokenTableGen.genRow(first + rng.nextLong(n)).tokens)
      .flatMap(_.find(v => v >= (1 << 24) || v < 0)).take(PerClass).toIndexedSeq
    val absentCandidates = IndexedSeq.fill(2 * PerClass)((1 << 30) + rng.nextInt(1 << 30))
    val ids = (hot ++ rare ++ absentCandidates).distinct.sorted.toArray
    val parts = Truth.parallel(first, n, threads) { (lo, hi) =>
      var acc = Truth.Empty
      val cnt = new Array[Long](ids.length)
      val xor = new Array[Long](ids.length)
      val docs = new Array[String]((hi - lo).toInt)
      var i = lo
      while (i < hi) {
        val r = TokenTableGen.genRow(i)
        acc = acc + Truth.sumOf(r)
        docs((i - lo).toInt) = r.doc_id
        val seen = scala.collection.mutable.BitSet.empty
        r.tokens.foreach { v =>
          val k = java.util.Arrays.binarySearch(ids, v)
          if (k >= 0) seen += k
        }
        if (seen.nonEmpty) {
          val h = Truth.docHash(r.doc_id)
          seen.foreach { k => cnt(k) += 1; xor(k) ^= h }
        }
        i += 1
      }
      (acc, cnt, xor, docs)
    }
    val cnt = parts.map(_._2).reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
    val xor = parts.map(_._3).reduce((a, b) => a.zip(b).map { case (x, y) => x ^ y })
    val search = ids.indices.map(k => ids(k) -> (cnt(k), xor(k))).toMap
    val docs = parts.flatMap(_._4)
    // doc_ids are ASCII, so String order is the engine's UTF-8 byte order
    val sortedIndex = docs.indices.sortBy(docs(_)).map(first + _).toArray
    val absent = absentCandidates.filter(search(_)._1 == 0).take(PerClass)
    require(absent.nonEmpty && rare.size == PerClass, "could not draw search token ids")
    ReadTruth(parts.map(_._1).reduce(_ + _), sortedIndex, hot, rare, absent, search)
  }
}
