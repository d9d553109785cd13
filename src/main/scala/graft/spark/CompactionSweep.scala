package graft.spark

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.mutable.ArrayBuffer

/** The equality deletes a compaction applies: one sorted doc_id array per
  * delete version (`seqs(i)` is the version of `ids(i)`). A delete at
  * version s applies to the runs added at a version strictly below s.
  * Ids compare as UTF8 bytes, the order of the chunk key ranges. */
private[graft] final class CompactionDeletes(seqs: Array[Int], ids: Array[Array[UTF8String]])
    extends Serializable {

  def isEmpty: Boolean = seqs.isEmpty

  /** The index of the first id of `a` at or past `key`. */
  private def lowerBound(a: Array[UTF8String], key: UTF8String): Int = {
    var lo = 0
    var hi = a.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (a(mid).compareTo(key) < 0) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Does a delete that applies to a run added at `added` name an id in
    * [lo, hi]? (A chunk's key range, or one row's id as lo = hi.) */
  def any(added: Int, lo: UTF8String, hi: UTF8String): Boolean =
    seqs.indices.exists { i =>
      seqs(i) > added && {
        val j = lowerBound(ids(i), lo)
        j < ids(i).length && ids(i)(j).compareTo(hi) <= 0
      }
    }
}

private[graft] object CompactionDeletes {
  /** A (doc_id, del_seq) delete frame, collected (one job) and sorted on
    * the driver; no frame, no deletes. */
  def collect(deletes: Option[DataFrame]): CompactionDeletes = {
    val pairs = deletes.fold(Array.empty[(Int, UTF8String)]) { del =>
      del.select(col(del.columns.head), col("del_seq")).queryExecution.toRdd
        // the scan reuses its row: keep a copy of each id
        .flatMap(r => if (r.isNullAt(0)) None else Some((r.getInt(1), r.getUTF8String(0).clone())))
        .collect()
    }
    val classes = pairs.groupBy(_._1).toSeq.sortBy(_._1)
    new CompactionDeletes(classes.map(_._1).toArray, classes.map { case (_, ps) =>
      val a = ps.map(_._2)
      java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]])
      a
    }.toArray)
  }
}

/** Compaction's plan as one pass over the one-row-per-chunk metadata
  * (run, chunk_id, first_doc_id, last_doc_id, num_tokens), sorted by
  * (first_doc_id, run, chunk_id) into one task: the sweep the reference's
  * streaming merge does over sorted row groups (merge.go:177-273).
  *
  *  - A chunk opens a new overlap group when it starts past the reach, the
  *    largest last_doc_id of every chunk before it.
  *  - A chunk's output part `grp` is its group's ordinal, or with
  *    `packTokens` its bin, the tokens before its group divided by the
  *    target (bins join consecutive groups, so they stay disjoint).
  *  - A chunk is re-encoded when its part holds other chunks, or when a
  *    delete that applies to its run falls in its key range; otherwise it
  *    passes through byte-identical. One chunk of lookahead decides.
  *  - Without `packTokens`, a re-encoded group of more than one sub-part's
  *    tokens is cut into sub-parts at chunk first_doc_ids weighted by
  *    num_tokens (the mass balance of [[EncodePipeline.massBalancedBounds]]).
  *    A sub-part holds about the group's tokens / `parallelism`, at least
  *    `tokensPerChunk` and rounded up to whole chunks, so the sub-parts of
  *    one group re-encode in parallel.
  *
  * Output: one (run, chunk_id, grp, reencode, cuts = null) row per chunk,
  * then one summary row (run = -1, chunk_id = the number of re-encoded
  * parts, grp = the number of groups, reencode = false, cuts = every cut
  * key in order). Rows are routed to part `grp + (cut keys below their
  * doc_id)`: cuts lie inside their group's key range, so the part ids of
  * a cut group's sub-parts follow its grp and shift every later part.
  * Buffered state: the current group's (first_doc_id, num_tokens). */
private[graft] final class CompactionSweep(packTokens: Option[Long], tokensPerChunk: Int,
                                           parallelism: Int, runAdded: Map[Int, Int],
                                           deletes: Broadcast[CompactionDeletes])
    extends Serializable {

  def plan(in: Iterator[InternalRow]): Iterator[InternalRow] = {
    val dels = deletes.value
    var reach: UTF8String = null
    var groups = 0
    var tokensSeen = 0L
    var groupStart = 0L // tokens before the current group
    val keys = ArrayBuffer.empty[(UTF8String, Long)] // the group's chunks
    val cuts = ArrayBuffer.empty[UTF8String]
    var part = -1 // the current part (group or bin) and its chunk count
    var partChunks = 0
    // the part's first chunk, held until a second one shows or the part ends
    var firstRun = 0
    var firstId = 0L
    var firstDirty = false
    var reencoded = 0
    val out = ArrayBuffer.empty[InternalRow] // the rows of one step

    def emit(run: Int, id: Long, reencode: Boolean): Unit =
      out += new GenericInternalRow(Array[Any](run, id, part, reencode, null))

    def drain(): List[InternalRow] = { val rows = out.toList; out.clear(); rows }

    def closePart(): Unit =
      if (partChunks == 1) {
        emit(firstRun, firstId, firstDirty)
        if (firstDirty) reencoded += 1
      }

    // cut the group that just ended (sorted mode: its part is its group)
    def closeGroup(): Unit = {
      if (keys.length > 1) {
        val total = keys.map(_._2).sum
        val perPart = tokensPerChunk.toLong *
          math.max(1L, ceilDiv(total, parallelism.toLong * tokensPerChunk))
        val quota = total.toDouble / ceilDiv(total, perPart)
        var acc = 0L
        var nextCut = quota
        var prev = keys.head._1
        keys.foreach { case (first, n) =>
          // cut before the chunk once the chunks before it hold the quota;
          // cut keys strictly increase, so equal doc_ids share a sub-part
          if (acc >= nextCut && acc < total && first.compareTo(prev) > 0) {
            cuts += first
            reencoded += 1
            prev = first
            nextCut += quota
          }
          acc += n
        }
      }
      keys.clear()
    }

    def step(r: InternalRow): List[InternalRow] = {
      val run = r.getInt(0)
      val first = r.getUTF8String(2)
      val last = r.getUTF8String(3)
      val n = r.getLong(4)
      if (reach == null || first.compareTo(reach) > 0) {
        closeGroup()
        groups += 1
        groupStart = tokensSeen
        reach = last.clone()
      } else if (last.compareTo(reach) > 0) reach = last.clone()
      tokensSeen += n
      if (packTokens.isEmpty) keys += ((first.clone(), n))
      val grp = packTokens.fold(groups - 1)(t => (groupStart / t).toInt)
      if (grp != part) {
        closePart()
        part = grp
        partChunks = 0
      }
      partChunks += 1
      if (partChunks == 1) {
        firstRun = run
        firstId = r.getLong(1)
        firstDirty = dels.any(runAdded.getOrElse(run, 0), first, last)
      } else {
        if (partChunks == 2) {
          emit(firstRun, firstId, reencode = true)
          reencoded += 1
        }
        emit(run, r.getLong(1), reencode = true)
      }
      drain()
    }

    def finish(): List[InternalRow] = {
      closeGroup()
      closePart()
      out += new GenericInternalRow(Array[Any](-1, reencoded.toLong, groups, false,
        new GenericArrayData(cuts.toArray[Any])))
      drain()
    }

    in.flatMap(step) ++ finish()
  }

  private def ceilDiv(a: Long, b: Long): Long = (a + b - 1) / b
}

private[graft] object CompactionSweep {
  /** The schema of [[CompactionSweep.plan]]'s rows. */
  val Schema: StructType = StructType(Seq(
    StructField("run", IntegerType, nullable = false),
    StructField("chunk_id", LongType, nullable = false),
    StructField("grp", IntegerType, nullable = false),
    StructField("reencode", BooleanType, nullable = false),
    StructField("cuts", ArrayType(StringType, containsNull = false))))
}
