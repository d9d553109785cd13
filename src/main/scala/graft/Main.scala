package graft

import graft.spark.{EncodePipeline, EncodedChunk, TokenRow, TokenTableGen}
import org.apache.spark.sql.SparkSession

/** spark-submit entry for the encode job (north rule: batch job with
  * checkpoint/resume, run at two cluster sizes).
  *
  * Usage: graft.Main <numRowsOrInputPath> <numParts> <checkpointDir> [local[N]]
  *
  * The first argument is either a row count (deterministic synth table)
  * or a path to an existing parquet/Iceberg-style table with the
  * (doc_id, tokens, n_tok, source) schema. Encodes to the chunk table
  * under `checkpointDir` (resuming any incomplete partitions), decodes
  * back, asserts the per-row token-array invariant, prints one JSON
  * metrics line.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val input = if (args.length > 0) args(0) else "100000"
    val numParts = if (args.length > 1) args(1).toInt else 32
    val ckptDir = if (args.length > 2) args(2)
      else java.nio.file.Files.createTempDirectory("graft-encode").toString
    val master = if (args.length > 3) args(3) else "local[32]"

    val spark = SparkSession.builder()
      .master(master)
      .appName("graft-encode")
      .config("spark.sql.shuffle.partitions", math.max(numParts, 32).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val src =
      if (input.forall(_.isDigit)) TokenTableGen.generate(spark, input.toLong, math.max(numParts, 1))
      else spark.read.parquet(input).as[graft.spark.TokenRow]
    // numParts <= 0 → size partitions to ~256 MB of raw tokens each
    val effParts =
      if (numParts > 0) numParts
      else EncodePipeline.autoNumParts(src)
    val t0 = System.nanoTime()
    val metrics = EncodePipeline.encodeCheckpointed(spark, src, effParts, ckptDir)
    val wallSec = (System.nanoTime() - t0) / 1e9
    val m = metrics.selectExpr(
      "sum(num_rows) rows", "sum(num_tokens) toks",
      "sum(raw_bytes) raw", "sum(enc_bytes) enc", "count(*) parts").head()
    val rows = m.getLong(0); val toks = m.getLong(1)
    val raw = m.getLong(2); val enc = m.getLong(3); val parts = m.getLong(4)

    val chunks = spark.read.parquet(s"$ckptDir/chunks").as[EncodedChunk]
    val mismatches = EncodePipeline.verifyRoundTrip(src, EncodePipeline.decodeDF(chunks).as[TokenRow])

    println(
      s"""{"rows":$rows,"tokens":$toks,"partitions":$parts,""" +
      s""""raw_bytes":$raw,"enc_bytes":$enc,""" +
      s""""bytes_per_token":${enc.toDouble / toks},""" +
      s""""compression_ratio":${raw.toDouble / enc},""" +
      s""""encode_wall_sec":$wallSec,""" +
      s""""tokens_per_sec":${toks / wallSec},""" +
      s""""roundtrip_mismatches":$mismatches,"checkpoint":"$ckptDir"}""")
    if (mismatches != 0) sys.exit(1)
    spark.stop()
  }
}
