package graft.spark

import org.apache.spark.sql.{Dataset, SparkSession}
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
  *   2. cogroup both sides on part_id — the chunk side crosses the
  *      exchange ENCODED (~2.2x fewer bytes than its decoded rows at the
  *      measured compression ratio) and the probe side is the small
  *      update/delta set by assumption,
  *   3. per partition: sort the probe group in UTF8 byte order (the order
  *      Spark's own string sort used at encode time), then stream-decode
  *      only the chunks whose [first_doc_id, last_doc_id] range contains
  *      a probe key and merge — the chunk side needs NO sort because the
  *      layout already is one.
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

    val keyedChunks = chunks.groupByKey(_.part_id)
    val keyedProbe = probe
      .map { case (id, w) =>
        (graft.functions.PartIdKernels.assign(bc.value, UTF8String.fromString(id)), id, w)
      }
      .groupByKey(_._1)

    keyedChunks.cogroup(keyedProbe) { (_, chunkIt, probeIt) =>
      val probeArr = probeIt.map(t => (UTF8String.fromString(t._2), t._3)).toArray
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
        val sortedChunks = chunkIt.toArray.sortBy(_.chunk_id)
        var i = 0 // probe cursor, monotone across the whole partition
        // lazy end-to-end: one decoded chunk in flight, matches stream out
        sortedChunks.iterator.flatMap { c =>
          // chunk-level prune: any probe key inside [first, last]?
          val lb = lowerBound(UTF8String.fromString(c.first_doc_id))
          if (lb >= probeArr.length ||
              probeArr(lb)._1.compareTo(UTF8String.fromString(c.last_doc_id)) > 0)
            Iterator.empty
          else EncodePipeline.decodeChunkRows(c, 0, c.num_rows).flatMap { row =>
            val key = UTF8String.fromString(row.doc_id)
            while (i < probeArr.length && probeArr(i)._1.compareTo(key) < 0) i += 1
            var j = i
            var matches = List.empty[ChunkJoinRow]
            while (j < probeArr.length && probeArr(j)._1.compareTo(key) == 0) {
              matches = ChunkJoinRow(row.doc_id, row.source, row.n_tok,
                probeArr(j)._2) :: matches
              j += 1
            }
            matches
          }
        }
      }
    }
  }
}
