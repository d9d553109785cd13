package graft.spark

import graft.plans.{GraftPlans, TokenLayout}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted token→chunk secondary index over a TOKEN chunk table.
  *
  * The chunk table's own pruning (min/max stats + split-block bloom,
  * `EncodePipeline.searchToken` / the automatic pushdown rules) still has
  * to SCAN every chunk's metadata row per query and accepts bloom false
  * positives. The inverted index flips the access pattern: one offline
  * pass extracts each chunk's distinct-token set (tokens+lens streams
  * only — the doc_id/source streams are never fetched) and persists
  * posting lists `token → [chunk_id...]` as a GENERIC chunk table keyed
  * by token — so an index lookup rides the engine's own generic
  * stats/bloom pushdown, reads a handful of index chunks, and decodes
  * EXACTLY the covering data chunks (no false positives, no full
  * metadata scan). At 100 TB a token lookup touches KBs of index plus
  * the matching chunks, independent of table width.
  *
  * The lookup is a broadcast semi-join on chunk_id (posting lists for
  * one token are small by definition of "selective query"; nothing is
  * ever collected to the driver).
  *
  * The reference's ColumnIndex (search.go:31-101) prunes with per-page
  * min/max only; an inverted index is the extension its layout cannot
  * express. Same trade as any secondary index: built offline, rebuilt on
  * compaction (chunk_ids change), additive to — not a replacement for —
  * the always-on stats/bloom pruning.
  */
object TokenIndex {

  /** (token, chunk_id) once per distinct token of each chunk of `chunks`.
    * The decode reads the tokens and lens streams only and checks their
    * stream CRCs, so corruption fails loudly without the doc_id and
    * source streams ever being fetched. */
  private def chunkTokens(chunks: DataFrame): DataFrame =
    GraftPlans.chunkRows(chunks, Seq(TokenLayout.attrFor("tokens")), TokenLayout,
      carry = Seq("chunk_id"))
      .select(explode(col("tokens")).as("token"), col("chunk_id"))
      .distinct()

  /** The posting lists at `indexDir` as `(token, chunk_ids)` rows; an
    * index with no postings (every indexed token array null or empty)
    * reads as an empty frame of that shape, so lookups and merges still
    * resolve `token`. */
  private def postings(spark: SparkSession, indexDir: String): DataFrame = {
    val t = GenericEncode.readTable(spark, indexDir)
    if (t.columns.nonEmpty) t
    else t.select(lit(null).cast("int").as("token"),
      lit(null).cast("array<bigint>").as("chunk_ids"))
  }

  /** Build the index: one distributed pass over the chunk table, posting
    * lists written as a generic chunk table at `indexDir` sorted by
    * token — so equality lookups prune by the generic min/max stats.
    * A sibling `indexDir/.indexed` manifest records WHICH chunk_ids the
    * index covers, making incremental maintenance possible without
    * decoding the posting lists themselves. */
  def build(chunks: Dataset[EncodedChunk], indexDir: String): Unit = {
    val postings = chunkTokens(chunks.toDF())
      .groupBy("token")
      .agg(sort_array(collect_list("chunk_id")).as("chunk_ids"))
      .orderBy("token")
    GenericEncode.encodeWrite(postings, indexDir)
    chunks.toDF().select("chunk_id").write.mode("overwrite")
      .parquet(s"$indexDir/.indexed")
  }

  /** INCREMENTAL index maintenance: extend the index to cover chunks
    * appended since the last build, touching ONLY the new chunks' token
    * streams. At 100 TB this is the difference that matters — a full
    * rebuild re-reads every chunk's tokens on every ingest tick; this
    * reads the (vocabulary-sized) old posting table plus the delta
    * chunks, full-outer-merges the posting lists, and atomically swaps
    * the index via the Hadoop FS (stage → delete → rename, the same
    * crash-safe pattern as the encode checkpoint). Already-indexed
    * chunks are excluded by a broadcast anti-join against the
    * `.indexed` manifest, so re-running after a partial append is
    * idempotent. Same trade as any secondary index (reference
    * ColumnIndex has no counterpart, search.go:31-101): compaction
    * still invalidates chunk_ids and needs a rebuild. */
  def buildIncremental(chunks: Dataset[EncodedChunk], indexDir: String): Unit = {
    val spark = chunks.sparkSession
    val indexed = spark.read.parquet(s"$indexDir/.indexed")
    val newChunks = chunks.toDF()
      .join(broadcast(indexed), Seq("chunk_id"), "left_anti")
    if (newChunks.isEmpty) return
    val newPostings = chunkTokens(newChunks)
      .groupBy("token")
      .agg(sort_array(collect_list("chunk_id")).as("new_ids"))
    val empty = array().cast("array<bigint>")
    val merged = postings(spark, indexDir)
      .join(newPostings, Seq("token"), "full_outer")
      .select(col("token"),
        sort_array(concat(coalesce(col("chunk_ids"), empty),
          coalesce(col("new_ids"), empty))).as("chunk_ids"))
      .orderBy("token")
    val stage = s"$indexDir.stage"
    GenericEncode.encodeWrite(merged, stage)
    chunks.toDF().select("chunk_id").write.mode("overwrite")
      .parquet(s"$stage/.indexed")
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(indexDir)
    val fs = dst.getFileSystem(conf)
    fs.delete(dst, true)
    require(fs.rename(new org.apache.hadoop.fs.Path(stage), dst),
      s"index swap failed: $stage -> $indexDir")
  }

  /** doc_ids whose token array contains `tokenId`, driven by the index:
    * posting-list read (generic pushdown prunes the index scan) →
    * broadcast semi-join selects EXACTLY the covering chunks → projected
    * columnar decode of the doc_id+tokens streams → exact membership
    * filter. */
  def lookup(spark: SparkSession, indexDir: String,
             chunks: Dataset[EncodedChunk], tokenId: Int): Dataset[String] = {
    import spark.implicits._
    val covering = postings(spark, indexDir)
      .filter(col("token") === tokenId)
      .select(explode(col("chunk_ids")).as("chunk_id"))
    val pruned = chunks.toDF()
      .join(broadcast(covering), Seq("chunk_id"), "left_semi")
    GraftPlans.decodeDF(pruned, Seq("doc_id", "tokens"))
      .where(array_contains(col("tokens"), tokenId))
      .select(col("doc_id")).as[String]
  }

  /** PHRASE lookup: doc_ids whose token array contains `phrase` as a
    * CONSECUTIVE subsequence. The index prunes by posting-list
    * INTERSECTION — a chunk can hold the phrase only if it holds every
    * phrase token, so the covering set is the AND of the per-token
    * posting lists (the classic search-engine conjunctive-query plan,
    * here at chunk granularity). Only the surviving chunks are decoded;
    * the exact positional check then runs as a codegen'd higher-order
    * `exists` over the array — no explode, no per-position shuffle.
    * Pruning is sound (containment of all tokens is implied by the
    * phrase), so the result equals the full-scan answer. */
  def lookupPhrase(spark: SparkSession, indexDir: String,
                   chunks: Dataset[EncodedChunk], phrase: Seq[Int]): Dataset[String] = {
    import spark.implicits._
    require(phrase.nonEmpty, "phrase must have at least one token")
    val k = phrase.size
    val covering = postings(spark, indexDir)
      .filter(col("token").isin(phrase.distinct.map(Int.box): _*))
      .select(col("token"), explode(col("chunk_ids")).as("chunk_id"))
      .groupBy("chunk_id")
      .agg(countDistinct("token").as("n_tok_hit"))
      .filter(col("n_tok_hit") === phrase.distinct.size)
      .select("chunk_id")
    val pruned = chunks.toDF()
      .join(broadcast(covering), Seq("chunk_id"), "left_semi")
    val conds = phrase.zipWithIndex
      .map { case (t, j) => s"tokens[i + $j] = $t" }.mkString(" AND ")
    // CASE guards the sequence bounds (ANSI array subscripts throw on
    // out-of-range; AND conjunct order is not a short-circuit guarantee)
    val positional =
      s"CASE WHEN size(tokens) >= $k THEN " +
        s"exists(sequence(0, size(tokens) - $k), i -> $conds) ELSE false END"
    GraftPlans.decodeDF(pruned, Seq("doc_id", "tokens"))
      .where(expr(positional))
      .select(col("doc_id")).as[String]
  }
}
