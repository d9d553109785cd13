package graft

import graft.codec.BlockCompression
import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The token chunk cutter streams: each chunk it returns was cut from the
  * rows it had read so far, at most one row past the chunk's own. */
class ChunkCutterSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark

  private val NTok = 100

  /** Rows of the exchanged encode layout (doc_id, tokens, n_tok, source,
    * part_id) as a scan hands them out: one UnsafeRow whose buffer each
    * row overwrites. `read` counts the rows handed out. */
  private final class Rows(parts: Seq[Int]) extends Iterator[InternalRow] {
    var read = 0
    private val toUnsafe = UnsafeProjection.create(Array[DataType](
      StringType, ArrayType(IntegerType, containsNull = false), IntegerType, StringType,
      IntegerType))
    override def hasNext: Boolean = read < parts.length
    override def next(): InternalRow = {
      val i = read
      read += 1
      toUnsafe(new GenericInternalRow(Array[Any](UTF8String.fromString(f"d/$i%06d"),
        new GenericArrayData(Array.tabulate(NTok)(k => i * 7 + k)), NTok,
        UTF8String.fromString("web"), parts(i))))
    }
  }

  private def cutter(rows: Rows, tokensPerChunk: Int) =
    new EncodePipeline.TokenChunkIterator(rows, tokensPerChunk, BlockCompression.None, _.getInt(4))

  /** Decoded (doc_id, tokens) of `chunks`, sorted by doc_id. */
  private def decoded(chunks: Seq[EncodedChunk]): Seq[(String, Seq[Int])] = {
    import spark.implicits._
    EncodePipeline.decodeDF(chunks.toDS()).as[TokenRow].collect()
      .map(r => (r.doc_id, r.tokens.toSeq)).toSeq.sortBy(_._1)
  }

  private def want(n: Int): Seq[(String, Seq[Int])] =
    (0 until n).map(i => (f"d/$i%06d", (0 until NTok).map(k => i * 7 + k)))

  test("a token-budget cut returns its chunk having read only that chunk's rows") {
    val rows = new Rows(Seq.fill(50)(0))
    val it = cutter(rows, tokensPerChunk = 10 * NTok)
    val first = it.next()
    assert(first.num_rows == 10 && first.num_tokens == 10 * NTok)
    assert(rows.read <= first.num_rows + 1, s"read ${rows.read} rows for a ${first.num_rows}-row chunk")
    val rest = it.toSeq
    assert(rest.map(_.num_rows) == Seq.fill(4)(10))
    assert((first +: rest).map(_.chunk_id) == (0L until 5L))
    assert(decoded(first +: rest) == want(50))
  }

  test("a part_id-change cut returns its chunk having read one row of the next part") {
    val rows = new Rows(Seq.fill(5)(0) ++ Seq.fill(7)(1) ++ Seq.fill(3)(4))
    val it = cutter(rows, tokensPerChunk = 1 << 20)
    val first = it.next()
    assert(first.part_id == 0 && first.num_rows == 5)
    assert(rows.read <= first.num_rows + 1, s"read ${rows.read} rows for a ${first.num_rows}-row chunk")
    // the row read past part 0 opens part 1's chunk with its own bytes,
    // although the reused input row has been overwritten since
    val second = it.next()
    assert(second.part_id == 1 && second.num_rows == 7 && second.chunk_id == (1L << 32))
    assert(second.first_doc_id == "d/000005" && second.last_doc_id == "d/000011")
    assert(rows.read <= 5 + 7 + 1)
    val third = it.next()
    assert(third.part_id == 4 && third.num_rows == 3 && third.chunk_id == (4L << 32))
    assert(!it.hasNext)
    assert(decoded(Seq(first, second, third)) == want(15))
  }
}
