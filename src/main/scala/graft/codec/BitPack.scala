package graft.codec

/** LSB-first bit packing at widths 0..32 (ints) / 0..64 (longs).
  *
  * Same bit layout as the parquet RLE/bit-packed hybrid and
  * DELTA_BINARY_PACKED miniblocks (reference: internal/bitpack package,
  * encoding/rle/rle.go:502-526). The reference uses amd64 asm; here the
  * kernels are tight JVM loops over primitive arrays so C2 can vectorize.
  */
object BitPack {

  def bytesFor(n: Int, bitWidth: Int): Int = (n.toLong * bitWidth + 7).toInt / 8

  /** Pack n int values from src(off..) at `bitWidth` bits each, appending
    * ceil(n*bitWidth/8) bytes to out. Values are masked to bitWidth bits.
    */
  def packInts(src: Array[Int], off: Int, n: Int, bitWidth: Int, out: ByteWriter): Unit = {
    if (bitWidth == 0 || n == 0) return
    val mask = if (bitWidth == 32) 0xFFFFFFFFL else (1L << bitWidth) - 1L
    var acc = 0L
    var bits = 0
    var i = 0
    while (i < n) {
      acc |= (src(off + i).toLong & mask) << bits
      bits += bitWidth
      while (bits >= 8) {
        out.writeByte((acc & 0xFF).toInt)
        acc >>>= 8
        bits -= 8
      }
      i += 1
    }
    if (bits > 0) out.writeByte((acc & 0xFF).toInt)
  }

  /** Unpack n ints packed at bitWidth from buf(off..) into dst(dstOff..).
    * Returns the number of bytes consumed: ceil(n*bitWidth/8).
    */
  def unpackInts(buf: Array[Byte], off: Int, bitWidth: Int,
                 dst: Array[Int], dstOff: Int, n: Int): Int = {
    if (bitWidth == 0) { java.util.Arrays.fill(dst, dstOff, dstOff + n, 0); return 0 }
    val mask = if (bitWidth == 32) 0xFFFFFFFFL else (1L << bitWidth) - 1L
    var acc = 0L
    var bits = 0
    var p = off
    var i = 0
    while (i < n) {
      while (bits < bitWidth) {
        acc |= (buf(p).toLong & 0xFFL) << bits
        p += 1
        bits += 8
      }
      dst(dstOff + i) = (acc & mask).toInt
      acc >>>= bitWidth
      bits -= bitWidth
      i += 1
    }
    bytesFor(n, bitWidth)
  }

  /** Pack n longs at bitWidth 0..64, bit-cursor addressed (handles widths
    * > 56 where a single 64-bit accumulator would overflow).
    */
  def packLongs(src: Array[Long], off: Int, n: Int, bitWidth: Int, out: ByteWriter): Unit = {
    if (bitWidth == 0 || n == 0) return
    val nBytes = ((n.toLong * bitWidth + 7) / 8).toInt
    val start = out.reserve(nBytes)
    val raw = out.raw
    java.util.Arrays.fill(raw, start, start + nBytes, 0.toByte)
    var bitPos = 0L
    var i = 0
    while (i < n) {
      val v = src(off + i)
      var written = 0
      while (written < bitWidth) {
        val byteIdx = start + (bitPos >> 3).toInt
        val bitOff = (bitPos & 7).toInt
        val take = math.min(8 - bitOff, bitWidth - written)
        val chunk = ((v >>> written) & ((1L << take) - 1L)).toInt
        raw(byteIdx) = (raw(byteIdx) | (chunk << bitOff)).toByte
        written += take
        bitPos += take
      }
      i += 1
    }
  }

  /** Unpack n longs at bitWidth from buf(off..). Returns bytes consumed. */
  def unpackLongs(buf: Array[Byte], off: Int, bitWidth: Int,
                  dst: Array[Long], dstOff: Int, n: Int): Int = {
    if (bitWidth == 0) { java.util.Arrays.fill(dst, dstOff, dstOff + n, 0L); return 0 }
    var bitPos = 0L
    var i = 0
    while (i < n) {
      var v = 0L
      var read = 0
      while (read < bitWidth) {
        val byteIdx = off + (bitPos >> 3).toInt
        val bitOff = (bitPos & 7).toInt
        val take = math.min(8 - bitOff, bitWidth - read)
        val chunk = ((buf(byteIdx) >>> bitOff) & ((1 << take) - 1)).toLong
        v |= chunk << read
        read += take
        bitPos += take
      }
      dst(dstOff + i) = v
      i += 1
    }
    ((n.toLong * bitWidth + 7) / 8).toInt
  }

  /** Bits needed for an int treated as unsigned-after-wrap (reference
    * uses bits.Len32, rle/dictionary.go:52-59). */
  def widthOfUnsignedInt(v: Int): Int = 32 - java.lang.Integer.numberOfLeadingZeros(v)
  def widthOfUnsignedLong(v: Long): Int = 64 - java.lang.Long.numberOfLeadingZeros(v)
}
