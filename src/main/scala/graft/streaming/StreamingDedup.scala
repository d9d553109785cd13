package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming exact-dedup with keyed state: documents arriving across
  * micro-batches are deduped on their 128-bit content fingerprint via
  * `flatMapGroupsWithState` — the first occurrence of a fingerprint is
  * emitted downstream, every later re-ingest (same batch or any later
  * batch) is dropped. This is the ingest-time stage a training pipeline
  * puts IN FRONT of the encoder so re-crawled/replayed documents never
  * reach the corpus twice.
  *
  * Scale shape: state is one 16-byte fingerprint key + 8-byte id per
  * DISTINCT document, hash-partitioned across executors by the state
  * store (RocksDB-backed in production), so memory per executor is
  * bounded by distinct-docs/executors — never by stream length. The
  * reference has no streaming runtime (SURVEY.md §2.6); engine-native
  * capability alongside [[StreamingEncode]].
  */
object StreamingDedup {

  /** `source` must be a STREAMING DataFrame with (doc_id: long,
    * text: string). Returns the streaming first-occurrences, one row
    * per distinct content: (doc_id, fp). First-seen wins: if a later
    * batch re-ingests the same content under another doc_id, the
    * originally emitted doc_id stands (within one batch, the smallest
    * doc_id of the group is emitted, making replays deterministic). */
  def dedupByContent(source: DataFrame): DataFrame = {
    val spark = source.sparkSession
    import spark.implicits._
    source
      .select(md5(col("text").cast("binary")).as("fp"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (fp: String, rows: Iterator[(String, Long)], state: GroupState[Long]) =>
          if (state.exists) {
            rows.foreach(_ => ()) // drain: re-ingests of known content
            Iterator.empty
          } else {
            var minId = Long.MaxValue
            rows.foreach { case (_, id) => if (id < minId) minId = id }
            state.update(minId)
            Iterator.single((minId, fp))
          }
      }
      .toDF("doc_id", "fp")
  }

  /** Convenience for tests/queries: run `dedupByContent` over an
    * in-memory stream fed batch-by-batch, materializing to a memory
    * sink, and return the (batch) result table. */
  def runBatches(spark: SparkSession, batches: Seq[Seq[(Long, String)]],
                 queryName: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val ms = MemoryStream[(Long, String)](spark)
    val out = dedupByContent(ms.toDF().toDF("doc_id", "text"))
    // state fan-out sized to the data, not the session constant — see
    // [[StateScope]] (result-invariant)
    StateScope.withStateParts(spark, batches.map(_.size.toLong).sum) {
      val q = out.writeStream.outputMode("append")
        .format("memory").queryName(queryName).start()
      try batches.foreach { b => ms.addData(b); q.processAllAvailable() }
      finally q.stop()
    }
    spark.table(queryName)
  }
}
