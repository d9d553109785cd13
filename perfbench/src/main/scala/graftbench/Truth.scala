package graftbench

import graft.spark.{TokenRow, TokenTableGen}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{Callable, Executors}
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.Platform

/** Truth derived from the generator alone, never from the engine: the
  * workloads' rows are `TokenTableGen.genRow(first + i)`, and every check
  * compares an engine result with what these functions compute from the
  * same indices. Hashes follow Spark's `xxhash64` (seed 42), so a query can
  * fold its output into `bit_xor(xxhash64(...))` and compare one number. */
object Truth {
  final val HashSeed = 42L

  def hashStr(s: String, seed: Long): Long = {
    val b = s.getBytes(UTF_8)
    XXH64.hashUnsafeBytes(b, Platform.BYTE_ARRAY_OFFSET, b.length, seed)
  }

  def docHash(docId: String): Long = hashStr(docId, HashSeed)

  /** Spark's `xxhash64(doc_id, tokens, n_tok, source)`. */
  def rowHash(r: TokenRow): Long = {
    var h = hashStr(r.doc_id, HashSeed)
    var k = 0
    while (k < r.tokens.length) { h = XXH64.hashInt(r.tokens(k), h); k += 1 }
    h = XXH64.hashInt(r.n_tok, h)
    hashStr(r.source, h)
  }

  /** Order-independent digest of a set of rows. */
  final case class TableSum(rows: Long, tokens: Long, rowXor: Long, docXor: Long) {
    def +(o: TableSum): TableSum =
      TableSum(rows + o.rows, tokens + o.tokens, rowXor ^ o.rowXor, docXor ^ o.docXor)
  }
  val Empty: TableSum = TableSum(0, 0, 0, 0)

  def sumOf(r: TokenRow): TableSum = TableSum(1, r.n_tok, rowHash(r), docHash(r.doc_id))

  /** Map `f` over index ranges of [first, first + n) on `threads` threads and
    * return the per-range results in range order. */
  def parallel[T](first: Long, n: Long, threads: Int)(f: (Long, Long) => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val step = (n + threads - 1) / threads
      val futures = (0 until threads).map { t =>
        val lo = first + t * step
        val hi = math.min(first + n, lo + step)
        pool.submit(new Callable[T] { def call(): T = f(lo, hi) })
      }
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Digest of rows genRow(first) .. genRow(first + n - 1). */
  def table(first: Long, n: Long, threads: Int): TableSum =
    parallel(first, n, threads) { (lo, hi) =>
      var acc = Empty
      var i = lo
      while (i < hi) { acc = acc + sumOf(TokenTableGen.genRow(i)); i += 1 }
      acc
    }.reduce(_ + _)
}
