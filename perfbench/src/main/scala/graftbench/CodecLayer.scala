package graftbench

import graft.codec.{Bloom, Chunks, Codecs, StreamedTokens}
import graft.spark.{EncodePipeline, EncodedChunk, TokenTableGen}
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._

/** Codec-layer metrics: the kernels called directly, with no Spark, on
  * chunk-sized slices of the workload's own rows, plus the byte accounting
  * of the workload's chunk table. */
object CodecLayer {
  /** Rows (from the workload's first row) the kernel slices are cut from. */
  final val SliceRows = 30000L

  final case class Slice(flat: Array[Int], lens: Array[Int], docIds: Array[Array[Byte]]) {
    def tokens: Int = flat.length
  }

  /** Slices of rows genRow(first) .. genRow(first + n - 1) in doc_id order,
    * each cut once it holds the engine's chunk token budget, as the encode
    * stage cuts them. */
  def slices(first: Long, n: Long, maxSlices: Int): Seq[Slice] = {
    val rows = (first until first + n).map(TokenTableGen.genRow).sortBy(_.doc_id)
    val out = Seq.newBuilder[Slice]
    var cur = Vector.empty[graft.spark.TokenRow]
    var tok = 0L
    var made = 0
    val it = rows.iterator
    while (it.hasNext && made < maxSlices) {
      val r = it.next()
      cur :+= r
      tok += r.n_tok
      if (tok >= EncodePipeline.DefaultTokensPerChunk) {
        out += Slice(cur.flatMap(_.tokens).toArray, cur.map(_.n_tok).toArray, cur.map(_.doc_id.getBytes(UTF_8)).toArray)
        made += 1
        cur = Vector.empty
        tok = 0
      }
    }
    out.result()
  }

  /** Median seconds of `reps` calls of `f`. */
  private def time(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    })

  /** The int pages the token encoder selects a codec for: each row goes to
    * its family stream (StreamedTokens.classifyRow), each stream is cut into
    * pages of Chunks.DefaultPageValues. */
  private def pages(s: Slice): Seq[Array[Int]] = {
    val fam = Array.fill(StreamedTokens.NumFamilies)(Array.newBuilder[Int])
    var off = 0
    s.lens.foreach { n =>
      fam(StreamedTokens.classifyRow(s.flat, off, n)) ++= s.flat.slice(off, off + n)
      off += n
    }
    fam.toSeq.map(_.result()).flatMap(_.grouped(Chunks.DefaultPageValues))
  }

  private val IntCandidates = Seq(Codecs.PlainInt, Codecs.RleInt, Codecs.DeltaInt, Codecs.DictInt,
    Codecs.ForInt, Codecs.PforInt)

  def measure(ctx: Ctx, first: Long, n: Long, chunks: Dataset[EncodedChunk]): Unit = {
    import ctx.{layer, trace}
    val ss = slices(first, n, 4)
    val tokens = ss.map(_.tokens.toLong).sum.toDouble
    val encoded = ss.map(s => StreamedTokens.encode(s.flat, s.lens, s.lens.length, s.tokens)._1)
    val encS = trace.span("codec", "codec.tokens_encode")(time(3)(ss.foreach(s =>
      StreamedTokens.encode(s.flat, s.lens, s.lens.length, s.tokens))))
    val decS = trace.span("codec", "codec.tokens_decode")(time(3)(ss.zip(encoded).foreach { case (s, b) =>
      StreamedTokens.decode(b, s.lens)
    }))
    val pgs = ss.map(pages)
    val selS = trace.span("codec", "codec.intstats_select")(time(3)(pgs.foreach(_.foreach { p =>
      Chunks.selectIntCodec(Chunks.intStats(p, 0, p.length))
    })))
    val docBins = ss.map(s => Chunks.encodeStrings(s.docIds, 0, s.docIds.length))
    val docS = trace.span("codec", "codec.docid_decode")(time(3)(docBins.foreach(Chunks.decodeStrings)))
    layer("codec.tokens_encode_tokens_per_s", tokens / encS, "1/s")
    layer("codec.tokens_decode_tokens_per_s", tokens / decS, "1/s")
    layer("codec.intstats_select_ms_per_chunk", selS * 1e3 / ss.size, "ms")
    layer("codec.docid_decode_rows_per_s", ss.map(_.docIds.length).sum / docS, "1/s")

    // regret: the auto-selected page's size over the smallest forced codec's
    val (chosen, best) = trace.span("codec", "codec.selector_regret") {
      pgs.flatten.map { p =>
        val auto = Chunks.encodeInts(p, 0, p.length).length.toLong
        val sizes = IntCandidates.flatMap(c =>
          scala.util.Try(Chunks.encodeInts(p, 0, p.length, c).length.toLong).toOption)
        (auto, (auto +: sizes).min)
      }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    }
    layer("codec.selector_regret", chosen.toDouble / best, "ratio")

    val m = chunks.agg(sum(length(col("tokens_bin"))), sum(length(col("lens_bin"))),
      sum(length(col("docid_bin"))), sum(length(col("source_bin"))), sum(length(col("tokens_bloom"))),
      sum(col("enc_bytes")), sum(col("num_tokens"))).head()
    val tok = m.getLong(6).toDouble
    layer("codec.enc_bytes_per_token", m.getLong(5) / tok, "B/token")
    Seq("tokens", "lens", "docid", "source", "bloom").zipWithIndex.foreach { case (s, i) =>
      layer(s"codec.stream_bytes.$s", m.getLong(i) / tok, "B/token")
    }
  }

  /** Share of (chunk, absent id) pairs whose bloom lets the id through. */
  def bloomFpRatio(chunks: Dataset[EncodedChunk], absent: Seq[Int]): Double = {
    val blooms = chunks.select(col("tokens_bloom")).collect().map(_.getAs[Array[Byte]](0))
    val passing = absent.map(t => blooms.count(b => Bloom.mightContain(b, t))).sum
    passing.toDouble / (absent.size * blooms.length)
  }
}
