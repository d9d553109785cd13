package graft.spark

import graft.functions.PartIdKernels
import graft.plans.{GraftPlans, TokenLayout}
import org.apache.spark.HashPartitioner
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions.col
import org.apache.spark.unsafe.types.UTF8String

/** One joined output row: the chunk table's payload columns next to the
  * probe side's value. */
final case class ChunkJoinRow(doc_id: String, source: String, n_tok: Int, weight: Long)

/** Chunk-aligned merge join: inner-join a TOKEN chunk table against an
  * arbitrary (doc_id, weight) probe set WITHOUT ever shuffling or sorting
  * the decoded rows.
  *
  * The encode layout is the join strategy. Chunk tables are range
  * partitioned on doc_id by persisted bounds (EncodePipeline.withPartId:
  * binary search, stable across runs) and each partition's chunks decode
  * in global doc_id order (chunks sorted by chunk_id, rows sorted within).
  * So a join on doc_id only has to
  *
  *   1. assign each probe row its part_id with the SAME bounds kernel
  *      (graft.functions.PartIdKernels — byte-wise UTF8 order),
  *   2. route both sides by part_id, part p to task p — the chunk side
  *      crosses the exchange ENCODED (~2.2x fewer bytes than its decoded
  *      rows at the measured compression ratio) and the probe side is the
  *      small update/delta set by assumption,
  *   3. per task: sort the probe rows in UTF8 byte order (the order
  *      Spark's own string sort used at encode time), then stream-decode
  *      only the chunks whose [first_doc_id, last_doc_id] range contains
  *      a probe key and merge — the decoded rows need NO sort because the
  *      layout already is one. The decode is the engine's one decode
  *      kernel (`GraftPlans.decodeRows`), into doc_id, n_tok and source
  *      only: the token payload is never decoded.
  *
  * Contrast with the naive `decodeDF(chunks).join(probe, "doc_id")` plan:
  * two exchanges of DECODED rows plus two full sorts (or a build-side
  * hash table). Here the big side moves compressed and pre-sorted, and
  * chunks outside the probe key range never decode at all. At 100 TB the
  * probe-side exchange is the only cost that scales with the update set;
  * the chunk side cost is bounded by the compressed bytes of the
  * partitions the probe actually touches.
  *
  * A partition's encoded chunks are materialized in memory before the
  * merge — bounded by construction, since encode sizes partitions to fit
  * an executor (the same invariant every other per-partition pass in this
  * pipeline relies on).
  *
  * Duplicate keys are honored on BOTH sides (full inner-join semantics):
  * the merge keeps the probe cursor on the first equal key, so a run of
  * equal decoded rows fans out over the whole equal probe run.
  *
  * Reference mapping: the reference has no join operator at all (SURVEY.md
  * §2.6) — this is the Spark-native capability its sorted row-group layout
  * enables but never exploits (sorting.go's SortingWriter produces exactly
  * this layout).
  */
object ChunkJoin {

  /** Inner join `chunks` (encoded with `bounds`) with `probe` rows of
    * (doc_id, weight) on doc_id. Returns one row per matching pair. */
  def joinByDocId(
      chunks: Dataset[EncodedChunk],
      bounds: Array[String],
      probe: Dataset[(String, Long)]): Dataset[ChunkJoinRow] = {
    val spark = chunks.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(bounds.map(UTF8String.fromString))
    // n_tok reads only the tokens stream's null bitmap: the token payload
    // is never decoded
    val output = Seq("doc_id", "n_tok", "source").map(TokenLayout.attrFor)
    // an Int key hashes to itself: part p lands in task p on both sides
    val byPart = new HashPartitioner(bounds.length + 1)
    val chunkFrame = chunks.toDF().select((Seq("part_id", "first_doc_id", "last_doc_id") ++
      TokenLayout.chunkCols(output)).map(col): _*)
    val names = chunkFrame.columns.toSeq
    val iChunkId = names.indexOf("chunk_id")
    val chunkSide = chunkFrame.queryExecution.toRdd.map(r => (r.getInt(0), r.copy()))
      .partitionBy(byPart)
    val probeSide = probe.rdd.map { case (doc, w) =>
      val id = UTF8String.fromString(doc)
      (PartIdKernels.assign(bc.value, id), (id, w))
    }.partitionBy(byPart)

    val joined = chunkSide.zipPartitions(probeSide) { (chunkIt, probeIt) =>
      val probeArr = probeIt.map(_._2).toArray
      if (probeArr.isEmpty) Iterator.empty
      else {
        // UTF8 byte order == the order Spark sorted doc_id by at encode time
        java.util.Arrays.sort(probeArr,
          (a: (UTF8String, Long), b: (UTF8String, Long)) => a._1.compareTo(b._1))
        // first probe index with key >= k
        def lowerBound(k: UTF8String): Int = {
          var lo = 0; var hi = probeArr.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (probeArr(mid)._1.compareTo(k) < 0) lo = mid + 1 else hi = mid
          }
          lo
        }
        // chunk-level prune: any probe key inside [first, last]?
        val touched = chunkIt.map(_._2).toArray.sortBy(_.getLong(iChunkId)).iterator.filter { c =>
          val lb = lowerBound(c.getUTF8String(1))
          lb < probeArr.length && probeArr(lb)._1.compareTo(c.getUTF8String(2)) <= 0
        }
        var i = 0 // probe cursor, monotone across the whole partition
        // lazy end-to-end: one decoded chunk in flight, matches stream out
        GraftPlans.decodeRows(touched, names, output, TokenLayout).flatMap { row =>
          val key = row.getUTF8String(0)
          while (i < probeArr.length && probeArr(i)._1.compareTo(key) < 0) i += 1
          var j = i
          var matches = List.empty[ChunkJoinRow]
          while (j < probeArr.length && probeArr(j)._1.compareTo(key) == 0) {
            matches = ChunkJoinRow(key.toString,
              if (row.isNullAt(2)) null else row.getUTF8String(2).toString,
              row.getInt(1), probeArr(j)._2) :: matches
            j += 1
          }
          matches
        }
      }
    }
    spark.createDataset(joined)
  }
}
