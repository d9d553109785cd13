package graft.codec

/** Chunk framing + per-chunk codec auto-selection.
  *
  * A chunk is the unit of encoding — the analog of a reference `Page`
  * (reference: page.go:22-85). Frame: 1 codec-id byte, uvarint value
  * count, codec payload.
  *
  * The reference chooses encodings statically per schema node
  * (node.go:417-433, canEncode encoding.go:119-143); the selector here is
  * the data-driven replacement required by the north rule: one cheap stats
  * pass (runs, sortedness, bit widths, sampled cardinality via the probe
  * table) ranks candidate codecs by estimated size; the winner is encoded
  * and kept only if it actually beats PLAIN, so the selector never loses
  * bytes vs the PLAIN baseline (FIXTURES.md §1 requirement).
  */
object Codecs {
  final val PlainInt = 0
  final val RleInt = 1
  final val DeltaInt = 2
  final val DictInt = 3
  final val PlainLong = 4
  final val DeltaLong = 5
  final val PlainBytes = 6
  final val DeltaLengthBytes = 7
  final val DeltaBytes = 8
  final val FsstBytes = 9
  final val DictBytes = 10
  final val PlainDouble = 11
  final val BssDouble = 12
  final val PlainBool = 13
  final val RleBool = 14
  final val PagedInt = 15
  final val ForInt = 16 // frame-of-reference + bit-pack (no delta)
  final val NullableWrap = 17 // row-null bitmap wrapper around any chunk
  final val BssFloat = 18
  final val PforInt = 19 // patched FOR: outlier-tolerant bit width
  final val AlpDouble = 20 // adaptive lossless decimal-double (patched)
  final val XorDouble = 21 // Gorilla-style XOR-prev (smooth series)

  val names: Map[Int, String] = Map(
    PlainInt -> "PLAIN", RleInt -> "RLE", DeltaInt -> "DELTA_BINARY_PACKED",
    DictInt -> "RLE_DICTIONARY", PlainLong -> "PLAIN", DeltaLong -> "DELTA_BINARY_PACKED",
    PlainBytes -> "PLAIN", DeltaLengthBytes -> "DELTA_LENGTH_BYTE_ARRAY",
    DeltaBytes -> "DELTA_BYTE_ARRAY", FsstBytes -> "FSST", DictBytes -> "RLE_DICTIONARY",
    PlainDouble -> "PLAIN", BssDouble -> "BYTE_STREAM_SPLIT",
    PlainBool -> "PLAIN", RleBool -> "RLE", PagedInt -> "PAGED",
    ForInt -> "FOR_BIT_PACKED", NullableWrap -> "NULLABLE",
    BssFloat -> "BYTE_STREAM_SPLIT", PforInt -> "PFOR", AlpDouble -> "ALP",
    XorDouble -> "XOR")
}

final case class IntStats(n: Int, min: Long, max: Long, runs: Int, sorted: Boolean,
                          distinctEst: Int, distinctCapped: Boolean, avgDeltaBits: Double,
                          maxBits: Int,
                          /** Sampled histogram of widthOf(v - min), index
                            * 0..32 — the PFOR cost model's input; counts
                            * cover only the strided sample (sum ≤ cap). */
                          widthHist: Array[Int])

object Chunks {
  import Codecs._

  private final val DistinctCap = 4096

  // ---------------------------------------------------------------- stats

  /** One-pass (plus strided cardinality sample) statistics for selection. */
  def intStats(src: Array[Int], off: Int, n: Int): IntStats = {
    if (n == 0) return IntStats(0, 0, 0, 0, sorted = true, 0,
      distinctCapped = false, 0, 0, new Array[Int](33))
    var mn = src(off).toLong
    var mx = mn
    var runs = 1
    var sorted = true
    var bitsAcc = src(off) // OR accumulator: width(OR) == max width
    var deltaBitsSum = 0L
    var deltaSamples = 0
    var i = 1
    while (i < n) {
      val v = src(off + i)
      val p = src(off + i - 1)
      if (v != p) runs += 1
      if (v < p) sorted = false
      if (v < mn) mn = v
      if (v > mx) mx = v
      bitsAcc |= v
      if ((i & 7) == 0) { // sampled zigzag-delta width (estimate only)
        val d = v.toLong - p.toLong
        deltaBitsSum += BitPack.widthOfUnsignedLong((d << 1) ^ (d >> 63))
        deltaSamples += 1
      }
      i += 1
    }
    val maxBits = BitPack.widthOfUnsignedInt(bitsAcc)
    // sampled cardinality via the probe table (reference hashprobe
    // semantics); the same strided pass feeds the PFOR width histogram
    // (min is known by now, so widthOf(v - min) is exact per sample)
    val dict = new IntDict(512)
    val hist = new Array[Int](33)
    val step = math.max(1, n / DistinctCap)
    var capped = false
    i = 0
    while (i < n && !capped) {
      val v = src(off + i)
      dict.probe(v)
      hist(BitPack.widthOfUnsignedLong(v.toLong - mn)) += 1
      if (dict.size > DistinctCap) capped = true
      i += step
    }
    IntStats(n, mn, mx, runs, sorted, dict.size, capped,
      if (deltaSamples > 0) deltaBitsSum.toDouble / deltaSamples else 0.0,
      maxBits, hist)
  }

  /** Size-estimate-ranked codec choice for an int chunk. */
  def selectIntCodec(s: IntStats): Int = {
    if (s.n == 0) return PlainInt
    val plain = 4.0 * s.n
    val rle = s.runs.toDouble * (2 + (s.maxBits + 7) / 8)
    val delta = s.n * (s.avgDeltaBits + 1.0) / 8.0 + (s.n / 128.0 + 1) * 8
    val range = s.max - s.min // both tracked as Long: never overflows
    val forBits = if (range <= 0) 0 else BitPack.widthOfUnsignedLong(range)
    val forSz = if (forBits > 32) Double.MaxValue else s.n * forBits / 8.0 + 8
    val dict =
      if (s.distinctCapped) Double.MaxValue
      else {
        val iw = if (s.distinctEst <= 1) 0 else BitPack.widthOfUnsignedInt(s.distinctEst - 1)
        s.distinctEst * 4.0 + s.n * (iw + 1.0) / 8.0
      }
    // PFOR: scale the sampled width-histogram cost to the full chunk.
    // Demands a clear win over FOR (0.9) — at equal size FOR's decode
    // has no patch pass and no exception stream.
    val pforSz = {
      val m = s.widthHist.sum
      if (m == 0) Double.MaxValue
      else Pfor.costForWidth(s.widthHist, m,
        Pfor.bestWidth(s.widthHist, m)) * (s.n.toDouble / m)
    }
    var best = PlainInt
    var bestSz = plain
    if (forSz < bestSz) { best = ForInt; bestSz = forSz }
    if (pforSz < bestSz * 0.9) { best = PforInt; bestSz = pforSz }
    if (rle < bestSz) { best = RleInt; bestSz = rle }
    // prefer FOR over dict/delta at near-equal size: it packs and unpacks
    // at memcpy-like speed with no table state
    if (dict < bestSz * 0.85) { best = DictInt; bestSz = dict }
    if (delta < bestSz * 0.85) { best = DeltaInt; bestSz = delta }
    best
  }

  // ------------------------------------------------------------------ ints

  def encodeInts(src: Array[Int], off: Int, n: Int, forced: Int = -1): Array[Byte] = {
    val out = new ByteWriter(math.max(64, n))
    encodeIntsInto(src, off, n, forced, out)
    out.toArray
  }

  /** Append one int chunk to `out` (auto-selected unless forced), never
    * losing more than the frame header vs PLAIN. */
  def encodeIntsInto(src: Array[Int], off: Int, n: Int, forced: Int, out: ByteWriter): Unit = {
    val codec = if (forced >= 0) forced else selectIntCodec(intStats(src, off, n))
    val start = out.length
    writeIntChunk(src, off, n, codec, out)
    if (forced < 0 && codec != PlainInt && out.length - start > 5 + 4L * n) {
      out.truncate(start)
      writeIntChunk(src, off, n, PlainInt, out)
    }
  }

  /** Multi-page int chunk: the page is the codec-selection unit (the
    * reference analog: one encoding per Page, page.go:22-85; default page
    * holds 64Ki values). Mixed-family data gets per-page codecs instead
    * of one compromise codec, and per-page dictionaries stay cache-
    * resident. */
  final val DefaultPageValues: Int = 64 * 1024

  /** Paged encode that also reports the distinct page codecs chosen (for
    * the chunk metrics row) without a decode pass.
    *
    * Frame: [PagedInt][uvarint n][uvarint numPages][uvarint pageValues]
    * [uvarint byteLen x numPages][pages]. The per-page byte lengths are
    * the OFFSET INDEX (reference: file.go:684-709 seeks via the page
    * offset index): a reader slicing a value range skips non-covering
    * pages by bytes without touching their payloads. */
  def encodeIntsPagedWithStats(src: Array[Int], off: Int, n: Int,
                               pageValues: Int = DefaultPageValues): (Array[Byte], String) = {
    val numPages = if (n == 0) 0 else (n + pageValues - 1) / pageValues
    val body = new ByteWriter(math.max(64, n))
    val pageLens = new Array[Int](numPages)
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    var p = 0
    while (p < numPages) {
      val pOff = p * pageValues
      val pN = math.min(pageValues, n - pOff)
      val pageStart = body.length
      encodeIntsInto(src, off + pOff, pN, -1, body)
      pageLens(p) = body.length - pageStart
      seen += Codecs.names.getOrElse(body.raw(pageStart) & 0xFF, "UNKNOWN")
      p += 1
    }
    val out = new ByteWriter(body.length + 16 + numPages * 3)
    out.writeByte(PagedInt)
    out.writeUvarint(n)
    out.writeUvarint(numPages)
    out.writeUvarint(pageValues)
    p = 0
    while (p < numPages) { out.writeUvarint(pageLens(p)); p += 1 }
    out.writeBytes(body.raw, 0, body.length)
    (out.toArray, if (seen.isEmpty) "PAGED" else seen.mkString("+"))
  }

  private def writeIntChunk(src: Array[Int], off: Int, n: Int, codec: Int, out: ByteWriter): Unit = {
    out.writeByte(codec)
    out.writeUvarint(n)
    codec match {
      case PlainInt => Plain.encodeInts(src, off, n, out)
      case RleInt =>
        var bw = 0
        var i = 0
        while (i < n) {
          val w = BitPack.widthOfUnsignedInt(src(off + i)); if (w > bw) bw = w; i += 1
        }
        out.writeByte(bw)
        Rle.encode(src, off, n, bw, out)
      case DeltaInt => DeltaBinaryPacked.encodeInts(src, off, n, out)
      case DictInt => DictIntCodec.encode(src, off, n, out)
      case ForInt =>
        var mn = if (n > 0) src(off).toLong else 0L
        var mx = mn
        var i = 1
        while (i < n) {
          val v = src(off + i).toLong
          if (v < mn) mn = v
          if (v > mx) mx = v
          i += 1
        }
        val bits = if (mx - mn <= 0) 0 else BitPack.widthOfUnsignedLong(mx - mn)
        out.writeZigZag(mn)
        out.writeByte(bits)
        if (bits > 0) {
          // shift into the frame; reuse a scratch pass (values fit 32 bits)
          val shifted = new Array[Int](n)
          i = 0
          while (i < n) { shifted(i) = (src(off + i).toLong - mn).toInt; i += 1 }
          BitPack.packInts(shifted, 0, n, bits, out)
        }
      case PforInt => Pfor.encode(src, off, n, out)
      case other => throw new IllegalArgumentException(s"not an int codec: $other")
    }
  }

  def decodeInts(bytes: Array[Byte]): Array[Int] = decodeIntsFrom(new ByteReader(bytes))

  def decodeIntsFrom(r: ByteReader): Array[Int] = {
    val codec = r.readByte()
    val n = r.readUvarint().toInt
    codec match {
      case PlainInt => Plain.decodeInts(r, n)
      case RleInt =>
        val bw = r.readByte()
        val dst = new Array[Int](n)
        Rle.decode(r, bw, dst, 0, n)
        dst
      case DeltaInt => DeltaBinaryPacked.decodeInts(r)
      case DictInt => DictIntCodec.decode(r)
      case ForInt =>
        val mn = r.readZigZag()
        val bits = r.readByte()
        val dst = new Array[Int](n)
        if (bits == 0) java.util.Arrays.fill(dst, mn.toInt)
        else {
          r.skip(BitPack.unpackInts(r.buf, r.pos, bits, dst, 0, n))
          var i = 0
          while (i < n) { dst(i) = ((dst(i).toLong & 0xFFFFFFFFL) + mn).toInt; i += 1 }
        }
        dst
      case PforInt => Pfor.decode(r, n)
      case PagedInt =>
        val numPages = r.readUvarint().toInt
        r.readUvarint() // pageValues (used by slice reads)
        var p = 0
        while (p < numPages) { r.readUvarint(); p += 1 } // offset index
        val dst = new Array[Int](n)
        p = 0
        var pos = 0
        while (p < numPages) {
          val page = decodeIntsFrom(r)
          System.arraycopy(page, 0, dst, pos, page.length)
          pos += page.length
          p += 1
        }
        require(pos == n, s"paged chunk: $pos of $n values")
        dst
      case other => throw new IllegalArgumentException(s"not an int codec: $other")
    }
  }

  /** Slice [from, from+count) out of an int chunk. For a PAGED chunk only
    * the covering pages are decoded — non-covering pages are skipped by
    * BYTES via the offset index (the reference's SeekToRow mechanism,
    * file.go:684-709). Non-paged codecs fall back to full decode + copy.
    * Returns (values, pagesDecoded, pagesTotal) so callers (and specs)
    * can see the skipping. Consumes exactly one chunk from `r` (by bytes
    * when pages are skipped). */
  def decodeIntsSliceFrom(r: ByteReader, from: Int, count: Int): (Array[Int], Int, Int) = {
    if ((r.buf(r.pos) & 0xFF) != PagedInt) {
      val all = decodeIntsFrom(r)
      return (java.util.Arrays.copyOfRange(all, from, from + count), 1, 1)
    }
    r.readByte()
    val n = r.readUvarint().toInt
    require(from >= 0 && count >= 0 && from + count <= n, s"slice [$from,+$count) of $n")
    val numPages = r.readUvarint().toInt
    val pageValues = r.readUvarint().toInt
    val pageLens = new Array[Int](numPages)
    var p = 0
    while (p < numPages) { pageLens(p) = r.readUvarint().toInt; p += 1 }
    val dst = new Array[Int](count)
    if (count == 0) {
      p = 0
      while (p < numPages) { r.skip(pageLens(p)); p += 1 }
      return (dst, 0, numPages)
    }
    val firstPage = from / pageValues
    val lastPage = (from + count - 1) / pageValues
    p = 0
    while (p < firstPage) { r.skip(pageLens(p)); p += 1 }
    var written = 0
    while (p <= lastPage) {
      val page = decodeIntsFrom(r)
      val pStart = p * pageValues
      val s = math.max(from, pStart) - pStart
      val e = math.min(from + count, pStart + page.length) - pStart
      System.arraycopy(page, s, dst, written, e - s)
      written += e - s
      p += 1
    }
    while (p < numPages) { r.skip(pageLens(p)); p += 1 } // leave r at chunk end
    require(written == count, s"slice decoded $written of $count")
    (dst, lastPage - firstPage + 1, numPages)
  }

  // ----------------------------------------------------------------- longs

  def encodeLongs(src: Array[Long], off: Int, n: Int, forced: Int = -1): Array[Byte] = {
    val codec =
      if (forced >= 0) forced
      else {
        // sorted-ish or small deltas → delta; else plain
        var deltaBits = 0L
        var i = 1
        while (i < n) {
          val d = src(off + i) - src(off + i - 1)
          deltaBits += BitPack.widthOfUnsignedLong((d << 1) ^ (d >> 63))
          i += 1
        }
        val deltaEst = (if (n > 1) n * (deltaBits.toDouble / (n - 1) + 1) / 8 else 8.0) + (n / 128.0 + 1) * 10
        if (deltaEst < 8.0 * n) DeltaLong else PlainLong
      }
    val out = new ByteWriter(math.max(64, n * 2))
    out.writeByte(codec)
    out.writeUvarint(n)
    codec match {
      case PlainLong => Plain.encodeLongs(src, off, n, out)
      case DeltaLong => DeltaBinaryPacked.encodeLongs(src, off, n, out)
      case other => throw new IllegalArgumentException(s"not a long codec: $other")
    }
    out.toArray
  }

  def decodeLongs(bytes: Array[Byte]): Array[Long] = {
    val r = new ByteReader(bytes)
    val codec = r.readByte()
    val n = r.readUvarint().toInt
    codec match {
      case PlainLong => Plain.decodeLongs(r, n)
      case DeltaLong => DeltaBinaryPacked.decodeLongs(r)
      case other => throw new IllegalArgumentException(s"not a long codec: $other")
    }
  }

  // --------------------------------------------------------------- strings

  def encodeStrings(src: Array[Array[Byte]], off: Int, n: Int, forced: Int = -1): Array[Byte] = {
    val codec = if (forced >= 0) forced else selectStringCodec(src, off, n)
    val out = new ByteWriter(256)
    writeStringChunk(src, off, n, codec, out)
    if (forced < 0 && codec != DeltaLengthBytes) {
      // Never lose to DELTA_LENGTH (the reference's BYTE_ARRAY default) —
      // but its size is EXACTLY computable from the packed lengths alone
      // (lengths block + raw payload bytes), so only pay the second full
      // encode when it actually wins (round 2 always double-encoded: ~2x
      // string-encode CPU for a guarantee a size formula provides).
      val lengths = new Array[Int](n)
      var total = 0L
      var i = 0
      while (i < n) { lengths(i) = src(off + i).length; total += lengths(i); i += 1 }
      val lensProbe = new ByteWriter(64 + n / 2)
      DeltaBinaryPacked.encodeInts(lengths, 0, n, lensProbe)
      val header = new ByteWriter(8)
      header.writeByte(DeltaLengthBytes)
      header.writeUvarint(n)
      val fallbackSize = header.length + lensProbe.length + total
      if (fallbackSize < out.length) {
        val fallback = new ByteWriter(fallbackSize.toInt)
        writeStringChunk(src, off, n, DeltaLengthBytes, fallback)
        return fallback.toArray
      }
    }
    out.toArray
  }

  private def selectStringCodec(src: Array[Array[Byte]], off: Int, n: Int): Int = {
    if (n == 0) return DeltaLengthBytes
    val step = math.max(1, n / 1024)
    val dict = new BytesDict
    var totalLen = 0L
    var prefixShare = 0L
    var sampled = 0
    var i = 0
    var capped = false
    while (i < n) {
      val b = src(off + i)
      totalLen += b.length
      if (!capped) {
        dict.probe(b)
        if (dict.size > DistinctCap) capped = true
      }
      if (i > 0) {
        val p = src(off + i - 1)
        val m = math.min(p.length, b.length)
        var j = 0
        while (j < m && p(j) == b(j)) j += 1
        prefixShare += j
      }
      sampled += 1
      i += step
    }
    val avgLen = totalLen.toDouble / sampled
    if (!capped && dict.size <= math.max(1, sampled / 4)) DictBytes
    else if (avgLen > 0 && prefixShare.toDouble / math.max(1, totalLen) > 0.4) DeltaBytes
    else if (avgLen >= 6) FsstBytes
    else DeltaLengthBytes
  }

  private def writeStringChunk(src: Array[Array[Byte]], off: Int, n: Int, codec: Int, out: ByteWriter): Unit = {
    out.writeByte(codec)
    out.writeUvarint(n)
    codec match {
      case PlainBytes => Plain.encodeByteArrays(src, off, n, out)
      case DeltaLengthBytes => DeltaLengthByteArray.encode(src, off, n, out)
      case DeltaBytes => DeltaByteArray.encode(src, off, n, out)
      case DictBytes => DictBytesCodec.encode(src, off, n, out)
      case FsstBytes =>
        // lengths delta-packed, then one FSST blob over the concatenation
        val lengths = new Array[Int](n)
        var total = 0
        var i = 0
        while (i < n) { lengths(i) = src(off + i).length; total += lengths(i); i += 1 }
        DeltaBinaryPacked.encodeInts(lengths, 0, n, out)
        val blob = new Array[Byte](total)
        var p = 0
        i = 0
        while (i < n) {
          System.arraycopy(src(off + i), 0, blob, p, src(off + i).length)
          p += src(off + i).length
          i += 1
        }
        Fsst.encode(blob, 0, total, out)
      case other => throw new IllegalArgumentException(s"not a string codec: $other")
    }
  }

  /** Decode a string chunk straight into a consumer — ZERO per-value
    * allocation (the reference's decode-into-caller-buffer contract,
    * encoding/encoding.go:69-71): PLAIN/DELTA_LENGTH values are slices of
    * the chunk buffer itself, FSST values are slices of the one decoded
    * blob, dictionary values are slices of the symbol table, and
    * DELTA_BYTE_ARRAY front-coding reconstructs in a reused scratch
    * buffer (the prefix is already in place from the previous value).
    * Values arrive in row order; the buffer contents are only valid
    * until the next `put` — the sink must copy what it keeps (column
    * vectors do). Returns the value count. */
  def decodeStringsInto(bytes: Array[Byte], sink: BytesSink): Int = {
    val r = new ByteReader(bytes)
    val codec = r.readByte()
    val n = r.readUvarint().toInt
    codec match {
      case PlainBytes =>
        var i = 0
        while (i < n) {
          val len = r.readLE32()
          sink.put(r.buf, r.pos, len)
          r.skip(len)
          i += 1
        }
      case DeltaLengthBytes =>
        val lengths = DeltaBinaryPacked.decodeInts(r)
        var i = 0
        while (i < n) {
          sink.put(r.buf, r.pos, lengths(i))
          r.skip(lengths(i))
          i += 1
        }
      case DeltaBytes => DeltaByteArray.decodeInto(r, sink)
      case DictBytes => DictBytesCodec.decodeInto(r, sink)
      case FsstBytes =>
        val lengths = DeltaBinaryPacked.decodeInts(r)
        val blob = Fsst.decode(r)
        var p = 0
        var i = 0
        while (i < n) {
          sink.put(blob, p, lengths(i))
          p += lengths(i)
          i += 1
        }
      case other => throw new IllegalArgumentException(s"not a string codec: $other")
    }
    n
  }

  def decodeStrings(bytes: Array[Byte]): Array[Array[Byte]] = {
    val r = new ByteReader(bytes)
    val codec = r.readByte()
    val n = r.readUvarint().toInt
    codec match {
      case PlainBytes => Plain.decodeByteArrays(r, n)
      case DeltaLengthBytes => DeltaLengthByteArray.decode(r)
      case DeltaBytes => DeltaByteArray.decode(r)
      case DictBytes => DictBytesCodec.decode(r)
      case FsstBytes =>
        val lengths = DeltaBinaryPacked.decodeInts(r)
        val blob = Fsst.decode(r)
        val dst = new Array[Array[Byte]](n)
        var p = 0
        var i = 0
        while (i < n) {
          dst(i) = java.util.Arrays.copyOfRange(blob, p, p + lengths(i))
          p += lengths(i)
          i += 1
        }
        dst
      case other => throw new IllegalArgumentException(s"not a string codec: $other")
    }
  }

  // --------------------------------------------------------------- doubles

  /** Auto mode probes ALP first (decimal doubles → small integers →
    * long codec stack), then XOR on ALP-ineligible columns (smooth
    * series — probed on a CONTIGUOUS prefix, since XOR's win lives in
    * adjacency); the PLAIN floor guard keeps the selector from ever
    * losing bytes when either probe mispredicts the tail. */
  def encodeDoubles(src: Array[Double], off: Int, n: Int, forced: Int = -1): Array[Byte] = {
    val alpExp =
      if (forced == AlpDouble) math.max(0, Alp.chooseExponent(src, off, n, 0.0))
      else if (forced < 0 && n > 0) Alp.chooseExponent(src, off, n)
      else -1
    val codec =
      if (forced >= 0) forced
      else if (alpExp >= 0) AlpDouble
      // decisive-win threshold (<7 of PLAIN's 8 B/val): a marginal probe
      // must not trade PLAIN's branch-free decode for bit twiddling
      else if (n >= 64 && Xor.probeBytesPerValue(src, off, n) < 7.0) XorDouble
      else PlainDouble
    val out = new ByteWriter(16 + 8 * n)
    out.writeByte(codec)
    out.writeUvarint(n)
    codec match {
      case PlainDouble => Plain.encodeDoubles(src, off, n, out)
      case BssDouble => ByteStreamSplit.encodeDoubles(src, off, n, out)
      case AlpDouble => Alp.encodeDoubles(src, off, n, alpExp, out)
      case XorDouble => Xor.encodeDoubles(src, off, n, out)
      case other => throw new IllegalArgumentException(s"not a double codec: $other")
    }
    if (forced < 0 && codec != PlainDouble && out.length > 10 + 8L * n) {
      val plain = new ByteWriter(16 + 8 * n)
      plain.writeByte(PlainDouble)
      plain.writeUvarint(n)
      Plain.encodeDoubles(src, off, n, plain)
      return plain.toArray
    }
    out.toArray
  }

  def decodeDoubles(bytes: Array[Byte]): Array[Double] = {
    val r = new ByteReader(bytes)
    val codec = r.readByte()
    val n = r.readUvarint().toInt
    codec match {
      case PlainDouble => Plain.decodeDoubles(r, n)
      case BssDouble => ByteStreamSplit.decodeDoubles(r, n)
      case AlpDouble => Alp.decodeDoubles(r, n)
      case XorDouble => Xor.decodeDoubles(r, n)
      case other => throw new IllegalArgumentException(s"not a double codec: $other")
    }
  }

  // ---------------------------------------------------------------- floats

  /** float32 chunks use BYTE_STREAM_SPLIT (same size as PLAIN, strictly
    * more compressible under a block codec; reference float path:
    * bytestreamsplit.go:23-51). */
  def encodeFloats(src: Array[Float], off: Int, n: Int): Array[Byte] = {
    val out = new ByteWriter(16 + 4 * n)
    out.writeByte(BssFloat)
    out.writeUvarint(n)
    ByteStreamSplit.encodeFloats(src, off, n, out)
    out.toArray
  }

  def decodeFloats(bytes: Array[Byte]): Array[Float] = {
    val r = new ByteReader(bytes)
    val codec = r.readByte()
    val n = r.readUvarint().toInt
    codec match {
      case BssFloat => ByteStreamSplit.decodeFloats(r, n)
      case other => throw new IllegalArgumentException(s"not a float codec: $other")
    }
  }

  // -------------------------------------------------------------- booleans

  def encodeBooleans(src: Array[Boolean], off: Int, n: Int, forced: Int = -1): Array[Byte] = {
    val codec =
      if (forced >= 0) forced
      else {
        var runs = 1
        var i = 1
        while (i < n) { if (src(off + i) != src(off + i - 1)) runs += 1; i += 1 }
        if (n > 0 && runs.toLong * 3 < n / 8) RleBool else PlainBool
      }
    val out = new ByteWriter(16 + n / 8)
    out.writeByte(codec)
    out.writeUvarint(n)
    codec match {
      case PlainBool => Plain.encodeBooleans(src, off, n, out)
      case RleBool =>
        val ints = new Array[Int](n)
        var i = 0
        while (i < n) { ints(i) = if (src(off + i)) 1 else 0; i += 1 }
        Rle.encode(ints, 0, n, 1, out)
      case other => throw new IllegalArgumentException(s"not a boolean codec: $other")
    }
    out.toArray
  }

  def decodeBooleans(bytes: Array[Byte]): Array[Boolean] = {
    val r = new ByteReader(bytes)
    val codec = r.readByte()
    val n = r.readUvarint().toInt
    codec match {
      case PlainBool => Plain.decodeBooleans(r, n)
      case RleBool =>
        val ints = new Array[Int](n)
        Rle.decode(r, 1, ints, 0, n)
        val dst = new Array[Boolean](n)
        var i = 0
        while (i < n) { dst(i) = ints(i) == 1; i += 1 }
        dst
      case other => throw new IllegalArgumentException(s"not a boolean codec: $other")
    }
  }

  def codecName(bytes: Array[Byte]): String = Codecs.names.getOrElse(bytes(0) & 0xFF, "UNKNOWN")

  // -------------------------------------------------------------- nullables

  /** Row-null bitmap wrapper (the engine's definition levels — reference
    * semantics: null kernels null.go:22-60, optional-column write path
    * column_buffer_go18.go:90-140). The inner chunk encodes only the
    * non-null values; bit set = NULL. Frame:
    * [17][uvarint n][uvarint null_count][bitmap ceil(n/8)][inner chunk].
    */
  def wrapNullable(nullFlags: Array[Boolean], n: Int, nullCount: Int,
                   inner: Array[Byte]): Array[Byte] = {
    val bitmap = new Array[Byte]((n + 7) >> 3)
    var i = 0
    while (i < n) {
      if (nullFlags(i)) bitmap(i >> 3) = (bitmap(i >> 3) | (1 << (i & 7))).toByte
      i += 1
    }
    val out = new ByteWriter(16 + bitmap.length + inner.length)
    out.writeByte(Codecs.NullableWrap)
    out.writeUvarint(n)
    out.writeUvarint(nullCount)
    out.writeBytes(bitmap)
    out.writeBytes(inner)
    out.toArray
  }

  /** Read ONLY the null bitmap of a possibly-wrapped chunk — no copy of
    * the inner payload and no inner decode (used by projected reads that
    * need row nullity, e.g. n_tok, without the token values). Returns
    * null when the chunk carries no nulls. */
  def nullFlagsOf(bytes: Array[Byte]): Array[Boolean] = {
    if ((bytes(0) & 0xFF) != Codecs.NullableWrap) return null
    val r = new ByteReader(bytes, 1)
    val n = r.readUvarint().toInt
    r.readUvarint() // nullCount (revalidated by full decodes)
    val bitmap = r.readBytes((n + 7) >> 3)
    val flags = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      flags(i) = ((bitmap(i >> 3) >> (i & 7)) & 1) == 1
      i += 1
    }
    flags
  }

  /** Split a possibly-wrapped chunk into (nullFlags, innerBytes).
    * nullFlags is null when the chunk carries no nulls (fast path: the
    * wrapper is only written when null_count > 0). */
  def unwrapNullable(bytes: Array[Byte]): (Array[Boolean], Array[Byte]) = {
    if ((bytes(0) & 0xFF) != Codecs.NullableWrap) return (null, bytes)
    val r = new ByteReader(bytes, 1)
    val n = r.readUvarint().toInt
    val nullCount = r.readUvarint().toInt
    val bitmap = r.readBytes((n + 7) >> 3)
    val flags = new Array[Boolean](n)
    var i = 0
    var c = 0
    while (i < n) {
      val f = ((bitmap(i >> 3) >> (i & 7)) & 1) == 1
      flags(i) = f
      if (f) c += 1
      i += 1
    }
    require(c == nullCount, s"null bitmap mismatch: $c vs declared $nullCount")
    (flags, java.util.Arrays.copyOfRange(r.buf, r.pos, r.buf.length))
  }
}
