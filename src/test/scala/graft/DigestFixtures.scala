package graft

import graft.spark._
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import java.nio.charset.StandardCharsets.UTF_8

/** Writes the chunk tables of every encode and compaction entry point from
  * fixed, generated input, so two builds can be checked for the same
  * bytes with `tools/chunk_digest.py`:
  *
  * {{{
  * sbt "Test/runMain graft.DigestFixtures <outDir>"
  * while read t; do python3 tools/chunk_digest.py <outA>/$t <outB>/$t; done < <outA>/TABLES
  * }}}
  *
  * `<outDir>/TABLES` lists the written tables (paths relative to
  * `<outDir>`), one per line. The inputs hold null token arrays and null
  * sources, rows larger than a chunk's token budget, several parts per
  * encode task, overlapping and duplicate runs, and a snapshot with
  * appends, a delete and an upsert. Only long-standing public entry points
  * are called, so the same file runs against an older checkout. */
object DigestFixtures {

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: DigestFixtures <outDir>")
    val out = new java.io.File(args(0)).getAbsolutePath
    val spark = SparkTestSession.spark
    try {
      val tables = write(spark, out)
      java.nio.file.Files.write(java.nio.file.Paths.get(out, "TABLES"),
        tables.mkString("", "\n", "\n").getBytes(UTF_8))
      tables.foreach(t => println(s"wrote $out/$t"))
    } finally spark.stop()
  }

  /** Generated rows with every 17th token array and every 13th source
    * null (a null token array has n_tok = -1). */
  private def rows(spark: SparkSession, n: Long, parts: Int): Dataset[TokenRow] = {
    import spark.implicits._
    TokenTableGen.generate(spark, n, parts).map { r =>
      val i = r.doc_id.hashCode
      val t = if (Math.floorMod(i, 17) == 0) r.copy(tokens = null, n_tok = -1) else r
      if (Math.floorMod(i, 13) == 0) t.copy(source = null) else t
    }
  }

  private def write(spark: SparkSession, out: String): Seq[String] = {
    import spark.implicits._
    val src = rows(spark, 3000, 4).cache()
    def save(name: String, chunks: Dataset[EncodedChunk]): String = {
      chunks.write.mode("overwrite")
        .option("compression", EncodePipeline.ChunkTableCompression).parquet(s"$out/$name")
      name
    }
    val encoded = save("encode", EncodePipeline.encode(src, 4, tokensPerChunk = 16 * 1024))
    // 8 parts on 2 tasks: each task cuts at part_id changes; a 4096-token
    // budget is smaller than many single rows
    val multi = save("encode-multipart", EncodePipeline.encode(src, 2,
      tokensPerChunk = 4096,
      boundsOverride = Some(EncodePipeline.massBalancedBounds(src, 8))))
    val aligned = save("aligned", EncodePipeline.encodeAligned(
      src.repartitionByRange(4, col("doc_id")).sortWithinPartitions("doc_id"),
      tokensPerChunk = 16 * 1024))
    EncodePipeline.encodeCheckpointed(spark, src, 4, s"$out/checkpointed",
      tokensPerChunk = 16 * 1024)

    // three runs: two disjoint, one overlapping their boundary with
    // copies of rows of both (duplicate doc_ids)
    val runs = Seq(
      "runs/a" -> src.filter(col("doc_id") < "web/000000001500"),
      "runs/b" -> src.filter(col("doc_id") >= "web/000000001500"),
      "runs/c" -> src.filter(col("doc_id").between("web/000000001400", "web/000000001600")))
      .map { case (name, ds) => save(name, EncodePipeline.encode(ds, 2, tokensPerChunk = 8192)) }
    val dirs = runs.map(r => s"$out/$r")
    EncodePipeline.compactSorted(spark, dirs, s"$out/compact-sorted", tokensPerChunk = 8192)
    EncodePipeline.compactSorted(spark, dirs, s"$out/compact-sorted-dedupe",
      tokensPerChunk = 8192, dropDuplicates = true)
    EncodePipeline.compactBinPack(spark, dirs, s"$out/compact-binpack", tokensPerChunk = 64 * 1024)

    // snapshot: base, two appends, a delete and an upsert, then compactTable
    val snap = s"$out/snapshot"
    val all = src.collect().sortBy(_.doc_id)
    def append(rs: Seq[TokenRow]): Unit = {
      EncodePipeline.encode(rs.toDS(), 2, tokensPerChunk = 8192)
        .write.mode("append")
        .option("compression", EncodePipeline.ChunkTableCompression).parquet(s"$snap/chunks")
      SnapshotLog.commit(spark, snap, "append")
    }
    append(all.take(2000).toSeq)
    append(all.slice(2000, 2600).toSeq)
    append(all.drop(2600).toSeq)
    SnapshotLog.deleteWhere(spark, snap,
      col("doc_id").isin(all.filter(_.doc_id.hashCode % 9 == 0).map(_.doc_id).toSeq: _*))
    SnapshotLog.upsert(spark, snap,
      all.slice(1000, 1300).map(_.copy(source = "UPD")).toSeq.toDS(), tokensPerChunk = 8192)
    val before = SnapshotLog.currentVersion(spark, snap).get
    SnapshotLog.compactTable(spark, snap, tokensPerChunk = 8192)
    src.unpersist()
    Seq(encoded, multi, aligned, "checkpointed/chunks") ++ runs ++
      Seq("compact-sorted", "compact-sorted-dedupe", "compact-binpack",
        f"snapshot/chunks/compact-v$before%05d")
  }
}
