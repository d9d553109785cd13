package graftbench

import graft.spark.{EncodePipeline, EncodedChunk, TokenRow, TokenTableGen}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Workload sizes. Fixed, so every run and every commit measures the same
  * amount of work; see perfbench/README.md for why each is what it is. */
object Sizes {
  /** Rows per bulk ingest (~40 M tokens, ~75 MB of chunk table). */
  final val IngestRows = 200000L
  /** Rows of the chunk table the `read` workload queries (~20 M tokens,
    * 20 chunks). */
  final val ReadRows = 100000L
  /** Rows of the base table every `maintain` cycle starts from. */
  final val MaintainBaseRows = 10000L
  /** Rows per micro-batch append in `maintain`. */
  final val AppendRows = 5000L
}

object Gen {
  /** Rows genRow(first) .. genRow(first + n - 1) as a Dataset. */
  def rows(spark: SparkSession, first: Long, n: Long, parts: Int): Dataset[TokenRow] = {
    import spark.implicits._
    spark.range(first, first + n, 1L, parts).as[Long].mapPartitions(_.map(TokenTableGen.genRow))
  }
}

object Chunk {
  def table(spark: SparkSession, path: String): Dataset[EncodedChunk] = {
    import spark.implicits._
    spark.read.parquet(path).as[EncodedChunk]
  }
}

object Checks {
  /** count, Σ n_tok and xor of xxhash64 over all four columns. */
  def digest(rows: DataFrame): DataFrame =
    rows.agg(count(lit(1)), sum(col("n_tok")),
      bit_xor(xxhash64(col("doc_id"), col("tokens"), col("n_tok"), col("source"))))

  def matches(r: Row, t: Truth.TableSum): Boolean =
    r.getLong(0) == t.rows && r.getLong(1) == t.tokens && r.getLong(2) == t.rowXor

  /** A full four-column decodeDF scan as one operation of `kind`, checked
    * against `truth`; returns its wall time in ms. */
  def scan(ctx: Ctx, kind: String, chunks: Dataset[EncodedChunk], truth: Truth.TableSum): Double =
    ctx.ops.runChecked(kind) {
      ctx.trace.span("plans", "plans.decode_df")(digest(EncodePipeline.decodeDF(chunks)).head())
    }(matches(_, truth), r => s"scan digest $r, expected $truth")
}
