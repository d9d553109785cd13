package graft

import graft.codec._
import org.scalatest.funsuite.AnyFunSuite

/** Round-trip tests over the reference's adversarial vector families
  * (reference: encoding/encoding_test.go:30-204 and the
  * internal/quick/quick.go:12-33 size schedule — boundary sizes around
  * miniblock/group edges are exactly where bugs live).
  */
class CodecSpec extends AnyFunSuite {

  // size schedule cloned from reference internal/quick/quick.go:12-33
  val sizes: Seq[Int] =
    (0 to 39) ++ Seq(99, 100, 101, 127, 128, 129, 255, 256, 257,
      1000, 1023, 1024, 1025, 2000, 2048, 2049, 2095, 4000, 4095, 4096, 4097)

  def rng(seed: Long) = new java.util.Random(seed)

  val intVectors: Seq[(String, Array[Int])] = Seq(
    "empty" -> Array.empty[Int],
    "single0" -> Array(0),
    "single1" -> Array(1),
    "signs+max" -> Array(-1, 0, 1, 0, 2, 3, 4, 5, 6, Int.MaxValue, Int.MaxValue, 0),
    "repeat42" -> Array.fill(24)(42),
    "increasing" -> (0 until 32).toArray,
    "streaks" -> (0 until 10).flatMap(v => Array.fill(4)(v)).toArray,
    "deltaRegression" -> Array(24, 36, 47, 32, 29, 4, 9, 20, 2, 18),
    "minmax" -> Array(Int.MinValue, Int.MaxValue, Int.MinValue, Int.MaxValue, 0),
    "negatives" -> Array(-5, -4, -3, -100, -1000000, 7)
  ) ++ sizes.map { n =>
    val r = rng(n)
    s"rand$n" -> Array.fill(n)(r.nextInt(100))
  } ++ sizes.map { n =>
    val r = rng(n + 7919)
    s"randFull$n" -> Array.fill(n)(r.nextInt())
  } ++ sizes.map { n =>
    var acc = 0
    val r = rng(n + 13)
    s"sorted$n" -> Array.fill(n) { acc += r.nextInt(50); acc }
  }

  test("BitPack int round-trip all widths") {
    for (bw <- 0 to 32; n <- Seq(8, 32, 64)) {
      val r = rng(bw * 1000 + n)
      val mask = if (bw == 32) -1 else (1 << bw) - 1
      val src = Array.fill(n)(r.nextInt() & mask)
      val out = new ByteWriter()
      BitPack.packInts(src, 0, n, bw, out)
      val dst = new Array[Int](n)
      BitPack.unpackInts(out.toArray, 0, bw, dst, 0, n)
      assert(dst.toSeq == src.toSeq, s"bw=$bw n=$n")
    }
  }

  test("BitPack long round-trip all widths") {
    for (bw <- 0 to 64; n <- Seq(8, 32)) {
      val r = rng(bw * 31 + n)
      val mask = if (bw == 64) -1L else (1L << bw) - 1L
      val src = Array.fill(n)(r.nextLong() & mask)
      val out = new ByteWriter()
      BitPack.packLongs(src, 0, n, bw, out)
      val dst = new Array[Long](n)
      BitPack.unpackLongs(out.toArray, 0, bw, dst, 0, n)
      assert(dst.toSeq == src.toSeq, s"bw=$bw n=$n")
    }
  }

  test("RLE round-trip (levels + index shapes)") {
    val levelVectors = Seq(
      Array(0, 1, 0, 2, 3, 4, 5, 6, 127, 127, 0),
      Array.fill(100)(3),
      (0 until 100).toArray.map(_ % 128),
      (0 until 10).flatMap(v => Array.fill(9)(v)).toArray
    ) ++ sizes.map { n => val r = rng(n); Array.fill(n)(r.nextInt(8)) }
    for (v <- levelVectors) {
      val bw = if (v.isEmpty) 0 else math.max(1, v.map(BitPack.widthOfUnsignedInt).max)
      val out = new ByteWriter()
      Rle.encode(v, 0, v.length, bw, out)
      val dst = new Array[Int](v.length)
      Rle.decode(new ByteReader(out.toArray), bw, dst, 0, v.length)
      assert(dst.toSeq == v.toSeq)
    }
  }

  test("DELTA_BINARY_PACKED int32 round-trip") {
    for ((name, v) <- intVectors) {
      val out = new ByteWriter()
      DeltaBinaryPacked.encodeInts(v, 0, v.length, out)
      val back = DeltaBinaryPacked.decodeInts(new ByteReader(out.toArray))
      assert(back.toSeq == v.toSeq, name)
    }
  }

  test("DELTA_BINARY_PACKED int64 round-trip incl MinInt64/MaxInt64 alternation") {
    val vectors: Seq[Array[Long]] = Seq(
      Array.empty[Long],
      Array(0L), Array(Long.MinValue),
      Array.fill(5)(Seq(Long.MinValue, Long.MaxValue)).flatten.toArray,
      (0L until 1000L).toArray
    ) ++ sizes.map { n => val r = rng(n); Array.fill(n)(r.nextLong()) }
    for (v <- vectors) {
      val out = new ByteWriter()
      DeltaBinaryPacked.encodeLongs(v, 0, v.length, out)
      val back = DeltaBinaryPacked.decodeLongs(new ByteReader(out.toArray))
      assert(back.toSeq == v.toSeq)
    }
  }

  val stringVectors: Seq[Array[Array[Byte]]] = {
    val basic = Seq(
      Array.empty[Array[Byte]],
      Array("".getBytes),
      Array("A".getBytes, "B".getBytes, "C".getBytes),
      Array(("hello world!" * 84).getBytes),
      Array("ab".getBytes, "".getBytes, "abc".getBytes, "abcd".getBytes)
    )
    val gens = sizes.filter(_ <= 1025).map { n =>
      val r = rng(n)
      Array.fill(n) {
        val len = r.nextInt(20)
        val b = new Array[Byte](len); r.nextBytes(b); b
      }
    }
    val sortedIds = Seq(Array.tabulate(500)(i => f"web/$i%012d".getBytes))
    basic ++ gens ++ sortedIds
  }

  test("DELTA_LENGTH_BYTE_ARRAY round-trip") {
    for (v <- stringVectors) {
      val out = new ByteWriter()
      DeltaLengthByteArray.encode(v, 0, v.length, out)
      val back = DeltaLengthByteArray.decode(new ByteReader(out.toArray))
      assert(back.map(_.toSeq).toSeq == v.map(_.toSeq).toSeq)
    }
  }

  test("DELTA_BYTE_ARRAY round-trip") {
    for (v <- stringVectors) {
      val out = new ByteWriter()
      DeltaByteArray.encode(v, 0, v.length, out)
      val back = DeltaByteArray.decode(new ByteReader(out.toArray))
      assert(back.map(_.toSeq).toSeq == v.map(_.toSeq).toSeq)
    }
  }

  test("DELTA_BYTE_ARRAY compresses sorted ids well") {
    val ids = Array.tabulate(1000)(i => f"web/$i%012d".getBytes)
    val dba = new ByteWriter(); DeltaByteArray.encode(ids, 0, ids.length, dba)
    val dlba = new ByteWriter(); DeltaLengthByteArray.encode(ids, 0, ids.length, dlba)
    assert(dba.length < dlba.length / 2, s"dba=${dba.length} dlba=${dlba.length}")
  }

  test("FSST round-trip") {
    val blobs = Seq(
      Array.empty[Byte],
      "hello".getBytes,
      ("the quick brown fox jumps over the lazy dog " * 200).getBytes,
      { val b = new Array[Byte](5000); rng(1).nextBytes(b); b },
      ("aaaaaaaaaaaaaaaa" * 100).getBytes
    )
    for (b <- blobs) {
      val out = new ByteWriter()
      Fsst.encode(b, 0, b.length, out)
      val back = Fsst.decode(new ByteReader(out.toArray))
      assert(back.toSeq == b.toSeq)
    }
  }

  test("FSST beats raw on repetitive text") {
    val text = ("the quick brown fox jumps over the lazy dog. " * 500).getBytes
    val out = new ByteWriter()
    Fsst.encode(text, 0, text.length, out)
    assert(out.length < text.length / 2, s"fsst=${out.length} raw=${text.length}")
  }

  test("IntDict probe semantics (lookup-or-insert, dense ids)") {
    val d = new IntDict(4)
    assert(d.probe(10) == 0)
    assert(d.probe(20) == 1)
    assert(d.probe(10) == 0)
    assert(d.probe(0) == 2) // zero key must work
    val r = rng(99)
    val keys = Array.fill(10000)(r.nextInt(3000))
    val seen = scala.collection.mutable.HashMap[Int, Int]()
    for (k <- keys) {
      val idx = d.probe(k)
      seen.get(k) match {
        case Some(prev) => assert(idx == prev)
        case None => seen(k) = idx
      }
    }
    assert(d.size == seen.size + 3 - seen.keySet.intersect(Set(10, 20, 0)).size)
  }

  test("Dict int codec round-trip") {
    for ((name, v) <- intVectors) {
      val out = new ByteWriter()
      DictIntCodec.encode(v, 0, v.length, out)
      val back = DictIntCodec.decode(new ByteReader(out.toArray))
      assert(back.toSeq == v.toSeq, name)
    }
  }

  test("chunk encode/decode ints with auto-selection, all vector families") {
    for ((name, v) <- intVectors) {
      val enc = Chunks.encodeInts(v, 0, v.length)
      assert(Chunks.decodeInts(enc).toSeq == v.toSeq, name)
      // selector never loses to PLAIN by more than the frame header
      assert(enc.length <= 10 + 4L * v.length, s"$name: ${enc.length} vs plain ${4 * v.length}")
    }
  }

  test("chunk auto-selection picks the right codec per family") {
    val const = Array.fill(10000)(7)
    assert(Chunks.codecName(Chunks.encodeInts(const, 0, const.length)) == "RLE")
    val sorted = Array.tabulate(10000)(i => i * 3)
    assert(Chunks.codecName(Chunks.encodeInts(sorted, 0, sorted.length)) == "DELTA_BINARY_PACKED")
    val r = rng(5)
    val lowCard = Array.fill(10000)(r.nextInt(64) * 1000000)
    val chosen = Chunks.codecName(Chunks.encodeInts(lowCard, 0, lowCard.length))
    assert(chosen == "RLE_DICTIONARY" || chosen == "RLE", chosen)
    val zipf = Array.fill(10000)(r.nextInt(100)) // reference bench generator shape
    val z = Chunks.encodeInts(zipf, 0, zipf.length)
    assert(z.length < 2 * zipf.length, s"${z.length}") // < half of plain
  }

  test("FOR bit-pack round-trip (forced) on all vector families") {
    for ((name, v) <- intVectors) {
      val enc = Chunks.encodeInts(v, 0, v.length, Codecs.ForInt)
      assert(Chunks.decodeInts(enc).toSeq == v.toSeq, name)
    }
    // zipf-vocab shape: FOR should be ~bitwidth(range)/8 bytes per token
    val r = rng(77)
    val zipf = Array.fill(100000)(r.nextInt(50000))
    val enc = Chunks.encodeInts(zipf, 0, zipf.length)
    assert(Chunks.codecName(enc) == "FOR_BIT_PACKED", Chunks.codecName(enc))
    assert(enc.length <= zipf.length * 2 + 16, s"${enc.length}")
  }

  test("PFOR round-trip (forced) on all vector families") {
    for ((name, v) <- intVectors) {
      val enc = Chunks.encodeInts(v, 0, v.length, Codecs.PforInt)
      assert(Chunks.decodeInts(enc).toSeq == v.toSeq, name)
    }
  }

  test("PFOR beats FOR on outlier-contaminated chunks and the selector knows") {
    val r = rng(123)
    // 99.5% small values, 0.5% huge outliers: FOR's width is dictated by
    // the outliers (31 bits/value), PFOR packs ~7 bits + sparse patches
    val v = Array.fill(100000)(
      if (r.nextInt(200) == 0) 1000000000 + r.nextInt(1000) else r.nextInt(100))
    val forEnc = Chunks.encodeInts(v, 0, v.length, Codecs.ForInt)
    val pforEnc = Chunks.encodeInts(v, 0, v.length, Codecs.PforInt)
    assert(Chunks.decodeInts(pforEnc).toSeq == v.toSeq)
    assert(pforEnc.length < forEnc.length / 3,
      s"pfor=${pforEnc.length} for=${forEnc.length}")
    val auto = Chunks.encodeInts(v, 0, v.length)
    assert(Chunks.codecName(auto) == "PFOR", Chunks.codecName(auto))
    // and on outlier-free data the selector must NOT flap to PFOR
    val clean = Array.fill(100000)(r.nextInt(100))
    assert(Chunks.codecName(Chunks.encodeInts(clean, 0, clean.length)) != "PFOR")
  }

  test("PFOR width choice is cost-driven across exception densities") {
    val r = rng(321)
    for (excPct <- Seq(0, 1, 5, 20)) {
      val v = Array.fill(50000)(
        if (r.nextInt(100) < excPct) r.nextInt(1 << 28) else r.nextInt(64))
      val enc = Chunks.encodeInts(v, 0, v.length, Codecs.PforInt)
      assert(Chunks.decodeInts(enc).toSeq == v.toSeq, s"excPct=$excPct")
      // never worse than plain by more than the frame
      assert(enc.length <= 10 + 4L * v.length, s"excPct=$excPct: ${enc.length}")
    }
  }

  test("paged int chunks round-trip and pick per-page codecs") {
    for ((name, v) <- intVectors) {
      val enc = Chunks.encodeIntsPagedWithStats(v, 0, v.length, pageValues = 1024)._1
      assert(Chunks.decodeInts(enc).toSeq == v.toSeq, name)
    }
    // mixed families in one chunk → different codecs per page
    val r = rng(42)
    val mixed =
      Array.fill(70000)(r.nextInt(100)) ++ // dict/rle friendly
        Array.tabulate(70000)(i => i * 2) ++ // delta friendly
        Array.fill(70000)(r.nextInt()) // plain
    val (enc, codecs) = Chunks.encodeIntsPagedWithStats(mixed, 0, mixed.length)
    assert(Chunks.decodeInts(enc).toSeq == mixed.toSeq)
    assert(codecs.contains("+"), s"expected multiple page codecs, got $codecs")
    val plainSize = 4L * mixed.length
    assert(enc.length < plainSize * 0.8, s"paged=${enc.length} plain=$plainSize")
  }

  test("streamed token chunks: row-family separation round-trips and compresses") {
    val r = rng(9)
    // build rows of each family, interleaved (the adversarial layout for
    // position-based paging)
    val rows = (0 until 2000).map { i =>
      (i % 4) match {
        case 0 => Array.fill(200)(r.nextInt(50000) / (1 + r.nextInt(20))) // zipf-ish
        case 1 => { var a = r.nextInt(1000); Array.fill(150) { a += 1 + r.nextInt(60); a } }
        case 2 => { val v = r.nextInt(30000); Array.fill(300)(v) }
        case _ => Array.fill(100)(r.nextInt())
      }
    }
    val lens = rows.map(_.length).toArray
    val flat = rows.toArray.flatten
    val (enc, codecs) = StreamedTokens.encode(flat, lens, rows.length, flat.length)
    assert(StreamedTokens.decode(enc, lens).toSeq == flat.toSeq)
    // separation must reach multiple distinct codec families
    assert(codecs.split('+').length >= 2, codecs)
    // and beat single-codec whole-chunk encoding
    val whole = Chunks.encodeInts(flat, 0, flat.length)
    assert(enc.length < whole.length, s"streamed=${enc.length} whole=${whole.length}")
    // empty + degenerate shapes
    val (e0, _) = StreamedTokens.encode(Array.empty, Array.empty, 0, 0)
    assert(StreamedTokens.decode(e0, Array.empty).isEmpty)
    val (e1, _) = StreamedTokens.encode(Array(7), Array(1), 1, 1)
    assert(StreamedTokens.decode(e1, Array(1)).toSeq == Seq(7))
  }

  test("chunk strings round-trip with auto-selection") {
    for (v <- stringVectors) {
      val enc = Chunks.encodeStrings(v, 0, v.length)
      assert(Chunks.decodeStrings(enc).map(_.toSeq).toSeq == v.map(_.toSeq).toSeq)
    }
    // low-cardinality → dictionary
    val sources = Array.tabulate(5000)(i => Seq("web", "books", "code", "wiki")(i % 4).getBytes)
    assert(Chunks.codecName(Chunks.encodeStrings(sources, 0, sources.length)) == "RLE_DICTIONARY")
    // sorted ids → prefix coding
    val ids = Array.tabulate(5000)(i => f"web/$i%012d".getBytes)
    assert(Chunks.codecName(Chunks.encodeStrings(ids, 0, ids.length)) == "DELTA_BYTE_ARRAY")
  }

  test("chunk longs / doubles / booleans round-trip") {
    val r = rng(11)
    val longs = Array.fill(5000)(r.nextLong())
    assert(Chunks.decodeLongs(Chunks.encodeLongs(longs, 0, longs.length)).toSeq == longs.toSeq)
    val sortedLongs = Array.tabulate(5000)(i => 1000000L + i * 7L)
    val sl = Chunks.encodeLongs(sortedLongs, 0, sortedLongs.length)
    assert(Chunks.decodeLongs(sl).toSeq == sortedLongs.toSeq)
    assert(sl.length < 2 * sortedLongs.length, s"delta longs should be small: ${sl.length}")
    val doubles = Array.fill(1000)(r.nextDouble() * 1e6)
    assert(Chunks.decodeDoubles(Chunks.encodeDoubles(doubles, 0, doubles.length)).toSeq == doubles.toSeq)
    val bss = Chunks.encodeDoubles(doubles, 0, doubles.length, Codecs.BssDouble)
    assert(Chunks.decodeDoubles(bss).toSeq == doubles.toSeq)
    val bools = Array.fill(1000)(r.nextBoolean())
    assert(Chunks.decodeBooleans(Chunks.encodeBooleans(bools, 0, bools.length)).toSeq == bools.toSeq)
    val constBools = Array.fill(1000)(true)
    assert(Chunks.decodeBooleans(Chunks.encodeBooleans(constBools, 0, constBools.length)).toSeq == constBools.toSeq)
  }

  test("auto selection never exceeds the reference writer's default encodings") {
    // reference defaults: PLAIN for int32, DELTA_LENGTH_BYTE_ARRAY for
    // BYTE_ARRAY (node.go:417-433); dictionary only when configured.
    // Our sizes must be <= those defaults (+frame byte) on every family.
    for ((name, v) <- intVectors) {
      val auto = Chunks.encodeInts(v, 0, v.length)
      val refDefault = Chunks.encodeInts(v, 0, v.length, Codecs.PlainInt)
      assert(auto.length <= refDefault.length + 8, s"$name: ${auto.length} > ${refDefault.length}")
    }
    for (v <- stringVectors) {
      val auto = Chunks.encodeStrings(v, 0, v.length)
      val w = new ByteWriter()
      DeltaLengthByteArray.encode(v, 0, v.length, w)
      assert(auto.length <= w.length + 8, s"${auto.length} > ${w.length}")
    }
  }

  test("ByteStreamSplit float round-trip") {
    val r = rng(3)
    val floats = Array.fill(777)(r.nextFloat())
    val out = new ByteWriter()
    ByteStreamSplit.encodeFloats(floats, 0, floats.length, out)
    val back = ByteStreamSplit.decodeFloats(new ByteReader(out.toArray), floats.length)
    assert(back.toSeq == floats.toSeq)
  }
}
