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
    * view `name` over its decoded (doc_id, tokens, n_tok, source) rows. */
  def registerTokenTable(spark: SparkSession, name: String, path: String): Unit = {
    import spark.implicits._
    EncodePipeline.decodeDF(spark.read.parquet(path).as[EncodedChunk])
      .createOrReplaceTempView(name)
  }

  /** Register a persisted GENERIC chunk table (`bin_<i>` layout; see
    * `GenericEncode.readTable`) as SQL view `name` over its decoded rows
    * in the original schema. */
  def registerGenericTable(spark: SparkSession, name: String, path: String): Unit =
    GenericEncode.readTable(spark, path).createOrReplaceTempView(name)
}
