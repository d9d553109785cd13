package graft

import graft.codec._
import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property-based round-trips, mirroring the reference fuzz harness
  * (encoding/fuzz/fuzz.go:16-80) and quick.go size schedule. */
class CodecPropertySpec extends AnyFunSuite {

  /** Deterministic sampling harness over ScalaCheck generators (the
    * scalatestplus bridge is not in the offline cache). */
  def forAll[A](g: Gen[A], n: Int = 60)(f: A => Unit): Unit = {
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, Seed(i.toLong * 7919 + 1)).foreach(f)
      i += 1
    }
  }
  def forAll[A, B](g1: Gen[A], g2: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(Gen.zip(g1, g2))(t => f(t._1, t._2))
  def forAll[A, B, C](g1: Gen[A], g2: Gen[B], g3: Gen[C])(f: (A, B, C) => Unit): Unit =
    forAll(Gen.zip(g1, g2, g3))(t => f(t._1, t._2, t._3))

  val quickSizes: Gen[Int] = Gen.oneOf(
    (0 to 39) ++ Seq(99, 100, 101, 127, 128, 129, 255, 256, 257,
      1000, 1023, 1024, 1025, 2000, 2048, 2049, 2095, 4000, 4095, 4096, 4097))

  val intArrays: Gen[Array[Int]] = for {
    n <- quickSizes
    shape <- Gen.oneOf("full", "small", "sorted", "runs")
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
  } yield {
    val r = new java.util.Random(seed)
    shape match {
      case "full" => Array.fill(n)(r.nextInt())
      case "small" => Array.fill(n)(r.nextInt(1000))
      case "sorted" => { var a = r.nextInt(1 << 20); Array.fill(n) { a += r.nextInt(100); a } }
      case _ => { var v = r.nextInt(100); Array.fill(n) { if (r.nextInt(10) == 0) v = r.nextInt(100); v } }
    }
  }

  test("int chunk auto round-trip (property)") {
    forAll(intArrays) { a =>
      assert(Chunks.decodeInts(Chunks.encodeInts(a, 0, a.length)).toSeq == a.toSeq)
    }
  }

  test("every forced int codec round-trips (property)") {
    forAll(intArrays, Gen.oneOf(Codecs.PlainInt, Codecs.RleInt, Codecs.DeltaInt,
      Codecs.DictInt, Codecs.ForInt)) { (a, codec) =>
      assert(Chunks.decodeInts(Chunks.encodeInts(a, 0, a.length, codec)).toSeq == a.toSeq)
    }
  }

  val byteArrays: Gen[Array[Array[Byte]]] = for {
    n <- Gen.choose(0, 300)
    seed <- Gen.choose(Long.MinValue, Long.MaxValue)
    maxLen <- Gen.oneOf(0, 3, 40, 300)
  } yield {
    val r = new java.util.Random(seed)
    Array.fill(n) { val b = new Array[Byte](if (maxLen == 0) 0 else r.nextInt(maxLen + 1)); r.nextBytes(b); b }
  }

  test("every string codec round-trips (property)") {
    forAll(byteArrays, Gen.oneOf(Codecs.PlainBytes, Codecs.DeltaLengthBytes,
      Codecs.DeltaBytes, Codecs.DictBytes, Codecs.FsstBytes)) { (a, codec) =>
      val enc = Chunks.encodeStrings(a, 0, a.length, codec)
      val back = Chunks.decodeStrings(enc)
      assert(back.map(_.toSeq).toSeq == a.map(_.toSeq).toSeq)
      // the allocation-free sink decode yields the SAME values in the
      // same order for every codec (values copied out per the contract)
      val sunk = scala.collection.mutable.ArrayBuffer.empty[Seq[Byte]]
      val n = Chunks.decodeStringsInto(enc, (buf: Array[Byte], off: Int, len: Int) =>
        sunk += java.util.Arrays.copyOfRange(buf, off, off + len).toSeq)
      assert(n == a.length && sunk.toSeq == a.map(_.toSeq).toSeq)
    }
  }

  test("streamed tokens round-trip (property)") {
    forAll(Gen.choose(0, 60), Gen.choose(Long.MinValue, Long.MaxValue)) { (nRows, seed) =>
      val r = new java.util.Random(seed)
      val rows = Array.fill(nRows) {
        r.nextInt(4) match {
          case 0 => Array.fill(r.nextInt(300))(r.nextInt(50))
          case 1 => { var a = 0; Array.fill(r.nextInt(300)) { a += r.nextInt(9); a } }
          case 2 => Array.fill(r.nextInt(300))(r.nextInt())
          case _ => Array.empty[Int]
        }
      }
      val lens = rows.map(_.length)
      val flat = rows.flatten
      val (enc, _) = StreamedTokens.encode(flat, lens, nRows, flat.length)
      assert(StreamedTokens.decode(enc, lens).toSeq == flat.toSeq)
    }
  }

  test("block compression wrap/unwrap (property)") {
    forAll(Gen.choose(0, 100000),
      Gen.oneOf(BlockCompression.Lz4, BlockCompression.Zstd,
        BlockCompression.Snappy, BlockCompression.Gzip),
      Gen.choose(Long.MinValue, Long.MaxValue)) { (n, codec, seed) =>
      val r = new java.util.Random(seed)
      // compressible-ish payload
      val raw = new Array[Byte](n)
      var i = 0
      while (i < n) { raw(i) = (r.nextInt(16) + (i % 32)).toByte; i += 1 }
      val c = BlockCompression.compress(codec, raw)
      assert(BlockCompression.decompress(c).toSeq == raw.toSeq)
      val m = BlockCompression.maybeCompress(codec, raw)
      assert(BlockCompression.decompress(m).toSeq == raw.toSeq)
      // when a codec was requested the result is ALWAYS framed — the
      // frame records compressed-ness, it is never sniffed from payload
      assert(BlockCompression.isFramed(m))
    }
  }

  test("float chunks round-trip bit-exactly (property)") {
    forAll(Gen.choose(0, 5000), Gen.choose(Long.MinValue, Long.MaxValue)) { (n, seed) =>
      val r = new java.util.Random(seed)
      val a = Array.fill(n)(java.lang.Float.intBitsToFloat(r.nextInt()))
      val back = Chunks.decodeFloats(Chunks.encodeFloats(a, 0, n))
      assert(back.length == n)
      var i = 0
      while (i < n) {
        assert(java.lang.Float.floatToRawIntBits(back(i)) ==
          java.lang.Float.floatToRawIntBits(a(i)))
        i += 1
      }
    }
  }

  test("nullable wrapper preserves bitmap and inner bytes (property)") {
    forAll(Gen.choose(1, 2000), Gen.choose(Long.MinValue, Long.MaxValue)) { (n, seed) =>
      val r = new java.util.Random(seed)
      val flags = Array.fill(n)(r.nextInt(4) == 0)
      val nulls = flags.count(identity)
      val inner = Array.fill(64)(r.nextInt().toByte)
      inner(0) = 0x2A // a real chunk never starts with the wrapper id
      val wrapped = Chunks.wrapNullable(flags, n, nulls, inner)
      val (back, innerBack) = Chunks.unwrapNullable(wrapped)
      assert(back != null && back.toSeq == flags.toSeq)
      assert(innerBack.toSeq == inner.toSeq)
      // unwrapped bytes pass through untouched
      val (noFlags, same) = Chunks.unwrapNullable(inner)
      assert(noFlags == null)
      assert(same eq inner)
    }
  }

  test("paged slice decode equals full-decode slice (property)") {
    forAll(Gen.choose(1, 300000), Gen.choose(Long.MinValue, Long.MaxValue)) { (n, seed) =>
      val r = new java.util.Random(seed)
      // mixed regimes so pages pick different codecs
      val a = Array.tabulate(n) { i =>
        r.nextInt(4) match {
          case 0 => r.nextInt(100)
          case 1 => i
          case 2 => 7
          case _ => r.nextInt()
        }
      }
      val enc = Chunks.encodeIntsPagedWithStats(a, 0, n)._1
      val full = Chunks.decodeInts(enc)
      assert(full.toSeq == a.toSeq)
      val from = r.nextInt(n)
      val count = r.nextInt(n - from + 1)
      val (slice, decoded, total) = Chunks.decodeIntsSliceFrom(new ByteReader(enc), from, count)
      assert(slice.toSeq == a.slice(from, from + count).toSeq)
      assert(decoded <= total)
    }
  }

  test("utf8 stats truncation: boundary prefixes are valid UTF-8 lower bounds") {
    import java.nio.charset.StandardCharsets.UTF_8
    val strings: Gen[String] = for {
      n <- Gen.choose(0, 120)
      cs <- Gen.listOfN(n, Gen.oneOf(
        Gen.alphaNumChar, Gen.const('é'), Gen.const('€'), Gen.const('齉'),
        Gen.const('ÿ'), Gen.choose(0x0400, 0x9FFF).map(_.toChar) // 2-3 byte encodings
      ))
    } yield new String(cs.toArray)
    forAll(strings, Gen.choose(0, 80)) { (s, limit) =>
      val b = s.getBytes(UTF_8) // any String encodes to valid UTF-8
      val p = graft.spark.GenericEncode.utf8BoundaryPrefix(b, limit)
      assert(p.length <= math.max(limit, 0) || b.length <= limit)
      // the prefix must round-trip through String byte-identically —
      // exactly the property the rendered min stat needs to stay a
      // SOUND lower bound under UTF8 binary comparison
      assert(graft.spark.GenericEncode.isValidUtf8(p), p.mkString(","))
      assert(java.util.Arrays.equals(new String(p, UTF_8).getBytes(UTF_8), p))
      // prefix sorts <= the original byte-wise
      val cmp = java.util.Arrays.compare(p, b)
      assert(cmp <= 0)
    }
    // the validator rejects classic invalid shapes
    for (bad <- Seq(
      Array(0xC0, 0x80), // overlong
      Array(0xED, 0xA0, 0x80), // surrogate
      Array(0xF5, 0x80, 0x80, 0x80), // > U+10FFFF lead
      Array(0xC3), // truncated tail
      Array(0x80) // bare continuation
    )) assert(!graft.spark.GenericEncode.isValidUtf8(bad.map(_.toByte)), bad.mkString(","))
  }

  test("no chunk stream can collide with the compression frame magic") {
    // decompress() passes unframed bytes through by checking the first
    // byte against 0xC2 — sound only while no chunk stream starts there
    assert(graft.codec.Codecs.names.keys.max < 0xC2)
    val ints = Chunks.encodeInts(Array(1, 2, 3), 0, 3)
    val strs = Chunks.encodeStrings(Array("ab".getBytes, "cd".getBytes), 0, 2)
    val (toks, _) = StreamedTokens.encode(Array(1, 2, 3), Array(3), 1, 3)
    for (b <- Seq(ints, strs, toks)) assert((b(0) & 0xFF) != BlockCompression.Magic)
  }
}
