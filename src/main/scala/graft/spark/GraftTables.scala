package graft.spark

import org.apache.spark.sql.SparkSession

/** SQL-surface registration for persisted chunk tables: one call turns a
  * chunk directory into a temp view, after which plain `spark.sql` over
  * the DECODED rows gets the whole engine read path — columnar decode,
  * automatic projection pruning down to the byte level, and the
  * automatic filter→chunk-stats/bloom pushdown rules. The Spark-native
  * answer to the reference's `parquet.OpenFile` + typed `Reader`
  * (file.go:45-120, reader.go): a reference user's read-side workflow
  * becomes `registerTokenTable(...)` + SQL. */
object GraftTables {

  /** Register a persisted TOKEN chunk table (EncodedChunk schema) as SQL
    * view `name` over its decoded (doc_id, tokens, n_tok, source) rows.
    * The table is read under the pinned chunk schema: no inference job. */
  def registerTokenTable(spark: SparkSession, name: String, path: String): Unit = {
    import spark.implicits._
    EncodePipeline.decodeDF(
        spark.read.schema(EncodePipeline.ChunkSchema).parquet(path).as[EncodedChunk])
      .createOrReplaceTempView(name)
  }
}
