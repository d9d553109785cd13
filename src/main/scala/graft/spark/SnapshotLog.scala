package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import graft.functions.PartIdForBounds
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}

/** Iceberg-style snapshot log over a chunk-table checkpoint directory.
  *
  * The north rule frames the input as an Iceberg table; this gives the
  * OUTPUT side the matching guarantees: every commit is an immutable,
  * numbered snapshot whose manifest pins the exact set of data files,
  * so readers get snapshot isolation (a reader planned against v1 never
  * sees v2's files, and a compaction that rewrites files cannot yank
  * them out from under an in-flight read), appends are atomic, and any
  * historical version stays queryable until explicitly expired.
  *
  * Layout (all I/O through the Hadoop FS API, so `dir` may be file:,
  * hdfs:, or s3a:). The managed data is an UNPARTITIONED chunk-table
  * parquet sink (part_id as a data column, the plain
  * `write.parquet(<dir>/chunks)` path) — directory-partitioned
  * checkpoints keep their own resume protocol in [[EncodePipeline]]:
  * {{{
  *   <dir>/chunks/...                    data files (appends land here)
  *   <dir>/chunks/u-vNNNNN/...           an upsert's new rows
  *   <dir>/chunks/compact-vNNNNN/...     compaction generations
  *   <dir>/_deletes/...                  equality-delete files (doc_id)
  *   <dir>/_snapshots/v00001.json        manifest: parent, operation,
  *                                       data files + sizes, tombstoned
  *                                       files, delete files in effect
  * }}}
  *
  * The manifest WRITE is the commit point: `create(path, overwrite =
  * false)` is atomic in HDFS/local semantics, so two racing committers
  * produce two distinct versions (the loser retries with the next
  * number) — optimistic concurrency exactly as Iceberg's version-file
  * swap, with no lock service. There is deliberately no LATEST pointer
  * file: the current version is the max manifest number, derived by one
  * directory listing, so a crash between "write manifest" and "update
  * pointer" cannot exist.
  *
  * Two commit flavors, as in Iceberg:
  *  - [[commit]] (append): the next manifest = parent's files that still
  *    exist, plus files on disk not referenced (or tombstoned) by ANY
  *    existing manifest — so files logically removed by a compaction are
  *    never "rediscovered" while they await physical GC.
  *  - [[commitRewrite]] (compact / delete): an explicit
  *    (removed, added, delete-files) delta against the parent manifest.
  *    Removed files stay ON DISK — older snapshots still plan them —
  *    until [[expireSnapshots]] proves them unreachable.
  *
  * Row-level deletes are EQUALITY deletes on doc_id (Iceberg v2
  * merge-on-read): [[deleteWhere]] writes the matching ids as a parquet
  * delete file and commits a same-files snapshot referencing it;
  * [[readRows]] anti-joins the delete set at read time; [[compactTable]]
  * applies deletes physically and drops them from the new manifest.
  *
  * Scale note: manifests hold the file list as JSON — right up to ~10^5
  * files per table. Past that, Iceberg splits the list into parquet/avro
  * manifest FILES plus a manifest list; the commit protocol (atomic
  * create of the numbered version file) is unchanged, so that growth
  * path swaps the payload format only. At 10^12 sequences the table is
  * partitioned into O(10^4) part_id directories of large files, which
  * this format covers.
  *
  * No reference counterpart (parquet-go writes single files and leaves
  * table semantics to the catalog above it); the snapshot layer is what
  * makes an encoded chunk directory a TABLE rather than a listing.
  */
object SnapshotLog {
  private final val SnapDirName = "_snapshots"
  private final val DeleteDirName = "_deletes"
  /** Every delete file holds one column: the deleted doc_ids. */
  private val DeleteSchema = StructType(Seq(StructField("doc_id", StringType)))

  final case class Snapshot(
      version: Int,
      parent: Int, // 0 = root (no parent)
      operation: String, // "append" | "compact" | "delete" | "upsert" | ...
      files: Seq[String], // data files, relative to <dir>, sorted
      fileBytes: Seq[Long], // parallel to files
      /** Version at which each data file was first committed (parallel to
        * files) — Iceberg's data sequence number. An equality delete
        * applies only to files STRICTLY OLDER than itself, which is what
        * lets an upsert commit its new rows and the delete of their old
        * versions atomically without the delete eating the new rows. */
      fileAdded: Seq[Int],
      removed: Seq[String], // data files this commit logically removed
      deletes: Seq[String], // equality-delete files in effect, relative
      deleteSeqs: Seq[Int], // effect version of each delete (parallel)
      numFiles: Int,
      bytes: Long)

  private def fs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  private def manifestPath(dir: Path, v: Int): Path =
    new Path(new Path(dir, SnapDirName), f"v$v%05d.json")

  private val VersionRe = "v(\\d{5})\\.json".r

  /** All committed versions, ascending. One listing, no pointer file. */
  def versions(spark: SparkSession, dir: String): Seq[Int] = {
    val (hfs, root) = fs(spark, dir)
    val snapDir = new Path(root, SnapDirName)
    if (!hfs.exists(snapDir)) return Seq.empty
    hfs.listStatus(snapDir).toSeq
      .map(_.getPath.getName)
      .collect { case VersionRe(n) => n.toInt }
      .sorted
  }

  def currentVersion(spark: SparkSession, dir: String): Option[Int] =
    versions(spark, dir).lastOption

  /** Parquet files under a subtree, relative to <dir> → size. Qualified
    * prefixes on both sides: listFiles returns fully-qualified paths
    * (file:/..., hdfs://nn/...) and an unqualified prefix would silently
    * fail to strip, recording absolute paths in the manifest. */
  private def listParquet(hfs: FileSystem, root: Path,
                          sub: String): Map[String, Long] = {
    val base = hfs.makeQualified(new Path(root, sub))
    if (!hfs.exists(base)) return Map.empty
    val baseStr = base.toString.stripSuffix("/")
    val it = hfs.listFiles(base, true)
    val buf = scala.collection.mutable.Map.empty[String, Long]
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && f.getPath.getName.endsWith(".parquet"))
        buf(sub + "/" + f.getPath.toString.stripPrefix(baseStr + "/")) = f.getLen
    }
    buf.toMap
  }

  /** Refuse data files that are not chunk files. Reads see the data
    * through the pinned [[EncodePipeline.ChunkSchema]], which would turn
    * the rows of a file lacking a chunk column into nulls, so every file
    * a commit adds must carry every chunk column. One parquet footer per
    * file, read on the driver: no Spark job. The footer's row-group
    * metadata is skipped: converting it cost ~10 ms per 0.5 MB chunk
    * file, against ~0.4 ms for the schema alone (local FS, 4-vCPU VM). */
  private def requireChunkFiles(hfs: FileSystem, root: Path, files: Seq[String]): Unit = {
    import org.apache.parquet.HadoopReadOptions
    import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val schemaOnly = HadoopReadOptions.builder(hfs.getConf).withMetadataFilter(SKIP_ROW_GROUPS).build()
    files.foreach { f =>
      val p = new Path(root, f)
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(p, hfs.getConf), schemaOnly)
      val schema = try r.getFileMetaData.getSchema finally r.close()
      val missing = EncodePipeline.ChunkSchema.fieldNames.filterNot(schema.containsField)
      require(missing.isEmpty,
        s"$p is not a chunk file: it lacks ${missing.mkString(", ")}")
    }
  }

  private def render(s: Snapshot): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    JsonMethods.compact(JsonMethods.render(
      ("version" -> s.version) ~ ("parent" -> s.parent) ~
        ("operation" -> s.operation) ~ ("num_files" -> s.numFiles) ~
        ("bytes" -> s.bytes) ~ ("files" -> s.files) ~
        ("file_bytes" -> s.fileBytes) ~ ("file_added" -> s.fileAdded) ~
        ("removed" -> s.removed) ~ ("deletes" -> s.deletes) ~
        ("delete_seqs" -> s.deleteSeqs)))
  }

  private def parse(text: String): Snapshot = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val j = JsonMethods.parse(text)
    Snapshot(
      version = (j \ "version").extract[Int],
      parent = (j \ "parent").extract[Int],
      operation = (j \ "operation").extract[String],
      files = (j \ "files").extract[Seq[String]],
      fileBytes = (j \ "file_bytes").extract[Seq[Long]],
      fileAdded = (j \ "file_added").extract[Seq[Int]],
      removed = (j \ "removed").extract[Seq[String]],
      deletes = (j \ "deletes").extract[Seq[String]],
      deleteSeqs = (j \ "delete_seqs").extract[Seq[Int]],
      numFiles = (j \ "num_files").extract[Int],
      bytes = (j \ "bytes").extract[Long])
  }

  /** Atomic manifest write with optimistic retry. `build` receives the
    * freshly-re-read parent (None at root) and the version to commit —
    * on a lost race the parent is re-read and the delta re-derived, so a
    * stale file list can never be committed over a winner's. */
  private def commitWith(spark: SparkSession, dir: String)
                        (build: (Option[Snapshot], Int) => Snapshot): Int = {
    val (hfs, root) = fs(spark, dir)
    hfs.mkdirs(new Path(root, SnapDirName))
    var attempts = 0
    while (attempts < 64) {
      val parentV = currentVersion(spark, dir).getOrElse(0)
      val parent = if (parentV == 0) None else Some(snapshot(spark, dir, parentV))
      val snap = build(parent, parentV + 1)
      val p = manifestPath(root, parentV + 1)
      try {
        val out = hfs.create(p, false) // overwrite=false IS the lock
        try out.write(render(snap).getBytes(UTF_8)) finally out.close()
        return parentV + 1
      } catch {
        case _: java.io.IOException => attempts += 1 // lost the race; re-list
      }
    }
    sys.error(s"snapshot commit at $dir: lost the version race 64 times")
  }

  /** An operation's own staging dirs under `chunks/` (`u-vNNNNN`,
    * `compact-vNNNNN`): only that operation's rewrite commit adds their
    * files. */
  private val StagedFile = "chunks/(u|compact)-v\\d{5}/.+".r

  /** Commit the CURRENT contents of <dir>/chunks as the next snapshot:
    * parent's files that still exist on disk, plus any file no existing
    * manifest references or tombstones (a compaction's logically-removed
    * files are therefore NOT re-adopted while they await GC). Files in an
    * upsert's or a compaction's staging dir are never discovered: a crash
    * between that operation's write and its commit leaves rows (or a
    * copy of rows) whose commit never happened. Delete files in effect
    * carry over. A discovered file that is not a chunk file fails the
    * commit before any manifest names it. Returns the committed
    * version. */
  def commit(spark: SparkSession, dir: String, operation: String): Int = {
    val (hfs, root) = fs(spark, dir)
    commitWith(spark, dir) { (parent, v) =>
      val listing = listParquet(hfs, root, "chunks")
      val known: Set[String] = versions(spark, dir).flatMap { pv =>
        val s = snapshot(spark, dir, pv); s.files ++ s.removed
      }.toSet
      val parentAdded: Map[String, Int] = parent
        .map(p => p.files.zip(p.fileAdded).toMap).getOrElse(Map.empty)
      val kept = parent.map(_.files).getOrElse(Nil).filter(listing.contains)
      val discovered = (listing.keySet -- known).toSeq.filterNot(StagedFile.matches)
      requireChunkFiles(hfs, root, discovered)
      val files = (kept ++ discovered).sorted
      val bytes = files.map(listing)
      val added = files.map(f => parentAdded.getOrElse(f, v))
      Snapshot(v, v - 1, operation, files, bytes, added,
        removed = Nil, deletes = parent.map(_.deletes).getOrElse(Nil),
        deleteSeqs = parent.map(_.deleteSeqs).getOrElse(Nil),
        numFiles = files.size, bytes = bytes.sum)
    }
  }

  /** Commit an explicit delta against the parent manifest: `removed`
    * data files drop out (they must all be parent files; they stay on
    * disk for older snapshots), `added` data files (relative paths,
    * already written) join, `newDeletes` equality-delete files take
    * effect, and `dropDeletes` clears inherited delete files (a
    * compaction that applied them physically). An added file that is not
    * a chunk file fails the commit. */
  def commitRewrite(spark: SparkSession, dir: String, operation: String,
                    removed: Set[String], added: Seq[String],
                    newDeletes: Seq[String] = Nil,
                    dropDeletes: Boolean = false): Int = {
    val (hfs, root) = fs(spark, dir)
    requireChunkFiles(hfs, root, added)
    commitWith(spark, dir) { (parentOpt, v) =>
      val parent = parentOpt.getOrElse(
        sys.error(s"rewrite commit at $dir requires an existing snapshot"))
      val unknown = removed -- parent.files.toSet
      require(unknown.isEmpty,
        s"rewrite at $dir removes files not in snapshot v${parent.version}: " +
          unknown.take(3).mkString(", "))
      val keptTriples = parent.files.lazyZip(parent.fileBytes)
        .lazyZip(parent.fileAdded).toSeq
        .filterNot { case (f, _, _) => removed(f) }
      val addedTriples = added.map { f =>
        (f, hfs.getFileStatus(new Path(root, f)).getLen, v)
      }
      val triples = (keptTriples ++ addedTriples).sortBy(_._1)
      val (keptDel, keptSeq) =
        if (dropDeletes) (Nil, Nil)
        else (parent.deletes, parent.deleteSeqs)
      Snapshot(v, v - 1, operation,
        triples.map(_._1), triples.map(_._2), triples.map(_._3),
        removed.toSeq.sorted,
        deletes = keptDel ++ newDeletes,
        deleteSeqs = keptSeq ++ newDeletes.map(_ => v),
        numFiles = triples.size, bytes = triples.map(_._2).sum)
    }
  }

  def snapshot(spark: SparkSession, dir: String, version: Int): Snapshot = {
    val (hfs, root) = fs(spark, dir)
    val p = manifestPath(root, version)
    require(hfs.exists(p), s"snapshot v$version does not exist at $dir " +
      s"(have: ${versions(spark, dir).mkString(", ")})")
    val in = hfs.open(p)
    try parse(scala.io.Source.fromInputStream(in, "UTF-8").mkString)
    finally in.close()
  }

  /** Read the chunk table AS OF a snapshot: exactly the manifest's files,
    * nothing newer (time travel), nothing removed since (isolation from
    * compaction). `version = None` reads the latest snapshot — which is
    * still pinned planning: files that land mid-query are invisible.
    * NOTE: raw chunks — equality deletes are NOT applied here (a
    * projected/pruned scan must not pay for them); use [[readRows]] for
    * the merge-on-read row view. */
  def readChunks(spark: SparkSession, dir: String,
                 version: Option[Int] = None): DataFrame = {
    val snap = resolve(spark, dir, version)
    require(snap.files.nonEmpty, s"snapshot v${snap.version} at $dir is empty")
    chunkFiles(spark, dir, snap.files)
  }

  /** One scan of data files under the pinned chunk schema: no
    * schema-inference job (commits refuse files it does not fit). */
  private def chunkFiles(spark: SparkSession, dir: String, files: Seq[String]): DataFrame =
    spark.read.schema(EncodePipeline.ChunkSchema).parquet(files.map(f => s"$dir/$f"): _*)

  /** One scan of delete files under the pinned delete schema. */
  private def deleteFiles(spark: SparkSession, dir: String, files: Seq[String]): DataFrame =
    spark.read.schema(DeleteSchema).parquet(files.map(f => s"$dir/$f"): _*)

  private def resolve(spark: SparkSession, dir: String,
                      version: Option[Int]): Snapshot = {
    val v = version.orElse(currentVersion(spark, dir)).getOrElse(
      sys.error(s"no snapshots committed at $dir"))
    snapshot(spark, dir, v)
  }

  /** The equality-delete set in effect at a snapshot, if any, as
    * (doc_id, del_seq) — del_seq is each delete's effect version, which
    * scopes it to data files STRICTLY older than itself. The version is a
    * query parameter, so snapshots that differ only in their delete
    * versions share compiled code. */
  private def deletesOf(spark: SparkSession, dir: String,
                        snap: Snapshot): Option[DataFrame] =
    if (snap.deletes.isEmpty) None
    else Some(snap.deletes.zip(snap.deleteSeqs).groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (s, fs) =>
        deleteFiles(spark, dir, fs.map(_._1))
          .select(col("doc_id"), EncodePipeline.param(s, IntegerType).as("del_seq"))
      }.reduce(_ unionAll _))

  /** Decoded token rows of `files` (each paired with its added-version)
    * minus the equality deletes of `snap` that apply to them (broadcast
    * anti-join — delete sets are mutation-sized; compaction folds them
    * away). "Applicable" is sequence-scoped: a delete at version s hides
    * rows only from files added BEFORE s, so an upsert's own rows survive
    * the delete it committed alongside them. A file's smallest applicable
    * delete version is therefore its whole delete class: every delete at
    * or after it applies, none before it does. Files of one class decode
    * as one branch, one scan and one anti-join against one scan of the
    * class's delete files; the class with no applicable delete skips the
    * anti-join. Branch count ≤ distinct delete versions + 1, whatever
    * the number of appends. The decode is the columnar `decodeDF`, so a
    * count or a projection decodes only the streams it needs. */
  private def liveRows(spark: SparkSession, dir: String, snap: Snapshot,
                       files: Seq[(String, Int)]): Dataset[TokenRow] = {
    import spark.implicits._
    val deletes = snap.deletes.zip(snap.deleteSeqs)
    files.groupBy { case (_, added) => deletes.map(_._2).filter(_ > added).minOption }
      .toSeq.sortBy(_._1)
      .map { case (cls, fs) =>
        val rows = EncodePipeline.decodeDF(chunkFiles(spark, dir, fs.map(_._1)).as[EncodedChunk])
        cls.fold(rows) { c =>
          val ids = deleteFiles(spark, dir, deletes.collect { case (f, s) if s >= c => f })
          rows.join(broadcast(ids), Seq("doc_id"), "left_anti")
        }
      }
      .reduce(_ unionByName _).as[TokenRow]
  }

  /** Merge-on-read row view AS OF a snapshot: decoded token rows minus
    * the equality deletes that apply to them (see [[liveRows]]). */
  def readRows(spark: SparkSession, dir: String,
               version: Option[Int] = None): Dataset[TokenRow] = {
    val snap = resolve(spark, dir, version)
    require(snap.files.nonEmpty, s"snapshot v${snap.version} at $dir is empty")
    liveRows(spark, dir, snap, snap.files.zip(snap.fileAdded))
  }

  /** Incremental read (CDC-style consumption): the rows APPENDED between
    * two snapshots — exactly the data files whose added-version lies in
    * (fromVersion, toVersion], minus the deletes in effect at
    * `toVersion` that apply to them. This is how a training pipeline
    * consumes only each epoch's new data instead of rescanning the
    * table: the manifest diff names the files, so the cost is
    * O(new data), never O(table). Rows REMOVED in the interval (deletes,
    * upsert-replaced versions) are not reported — appends-only change
    * feed, like Iceberg's incremental append scan. Compaction rewrites
    * files without changing rows; its output files carry a new
    * added-version, so incremental reads across a compaction would
    * re-surface old rows — callers consume BETWEEN compactions
    * (compactions are the epoch boundaries), and this refuses intervals
    * that cross one. */
  def readIncremental(spark: SparkSession, dir: String,
                      fromVersion: Int, toVersion: Int): Dataset[TokenRow] = {
    import spark.implicits._
    require(fromVersion < toVersion,
      s"incremental read needs fromVersion < toVersion " +
        s"(got $fromVersion >= $toVersion)")
    val compacted = (fromVersion + 1 to toVersion).filter { v =>
      val op = snapshot(spark, dir, v).operation
      op == "compact" || op == "overwrite"
    }
    require(compacted.isEmpty,
      s"incremental read $fromVersion->$toVersion at $dir crosses rewrite " +
        s"commit(s) v${compacted.mkString(", v")}: rewrites re-version " +
        "unchanged rows; consume up to the rewrite, then restart from it")
    val to = snapshot(spark, dir, toVersion)
    val fresh = to.files.zip(to.fileAdded)
      .filter { case (_, a) => a > fromVersion && a <= toVersion }
    if (fresh.isEmpty) spark.emptyDataset[TokenRow]
    else liveRows(spark, dir, to, fresh)
  }

  /** MERGE-style upsert, one atomic commit: the incoming rows are
    * encoded as NEW data files and an equality-delete of their doc_ids
    * is committed alongside. The delete's sequence number equals the
    * new files' added-version, so (strict ordering) it hides only the
    * PREVIOUS versions of those keys — the classic Iceberg v2 upsert.
    * The new files are staged under `chunks/u-vNNNNN` and the commit
    * adds exactly those, so a stray file elsewhere under `chunks` is
    * never adopted (nor shielded from the delete). The deleted ids are
    * the doc_id stream of exactly those files, so `rows` is not run a
    * second time for them (a nondeterministic plan would give another
    * key set). Cost is O(incoming), no existing file or manifest is read
    * or rewritten; the next [[compactTable]] folds everything flat. */
  def upsert(spark: SparkSession, dir: String, rows: Dataset[TokenRow],
             numParts: Int = 4,
             tokensPerChunk: Int = EncodePipeline.DefaultTokensPerChunk): Int = {
    val cur = currentVersion(spark, dir).getOrElse(
      sys.error(s"no snapshots committed at $dir"))
    val (hfs, root) = fs(spark, dir)
    // the upsert's own staging dirs: its manifest adds exactly these files
    // (an overwrite re-stages after a crashed attempt)
    val sub = f"u-v$cur%05d"
    EncodePipeline.encode(rows, numParts, tokensPerChunk)
      .write.mode("overwrite")
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$dir/chunks/$sub")
    val added = listParquet(hfs, root, s"chunks/$sub").keys.toSeq.sorted
    graft.plans.GraftPlans.decodeDF(chunkFiles(spark, dir, added), Seq("doc_id")).distinct()
      .write.mode("overwrite").parquet(s"$dir/$DeleteDirName/$sub")
    val delFiles = listParquet(hfs, root, s"$DeleteDirName/$sub").keys.toSeq.sorted
    commitRewrite(spark, dir, "upsert",
      removed = Set.empty, added = added, newDeletes = delFiles)
  }

  /** Equality delete (Iceberg v2 merge-on-read): rows of the CURRENT
    * snapshot matching `predicate` (over decoded TokenRow columns) have
    * their doc_ids written as a parquet delete file; the commit pins the
    * same data files plus the new delete file. No data file is touched —
    * the delete costs O(matches), is itself snapshot-isolated (v-1 still
    * reads the rows), and is folded away by the next [[compactTable]].
    * Returns the committed version, or the current one when nothing
    * matched (no empty commits). */
  def deleteWhere(spark: SparkSession, dir: String,
                  predicate: Column): Int = {
    val cur = currentVersion(spark, dir).getOrElse(
      sys.error(s"no snapshots committed at $dir"))
    val ids = readRows(spark, dir, Some(cur))
      .filter(predicate).select("doc_id").distinct()
    val sub = f"$DeleteDirName/d-v$cur%05d"
    // ONE action: the match count rides the write job as an observed
    // metric (the previous cache + isEmpty probe + write + unpersist ran
    // two extra jobs and re-planned the read twice per delete)
    val obs = org.apache.spark.sql.Observation()
    ids.observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").parquet(s"$dir/$sub")
    val matched = obs.get("n").asInstanceOf[Long]
    val (hfs, root) = fs(spark, dir)
    if (matched == 0L) { // no empty commits
      // an aborted removal must not leave a stray d-vNNNNN dir unannounced
      val stray = new Path(root, sub)
      if (!hfs.delete(stray, true) && hfs.exists(stray))
        throw new java.io.IOException(
          s"deleteWhere at $dir matched no rows but could not remove $stray")
      return cur
    }
    val written = listParquet(hfs, root, sub).keys.toSeq.sorted
    commitRewrite(spark, dir, "delete",
      removed = Set.empty, added = Nil, newDeletes = written)
  }

  /** Snapshot-native compaction: merge the CURRENT snapshot's chunk
    * files into disjoint, globally-ordered chunks (the
    * [[EncodePipeline.compactSorted]] interval sweep — clean singleton
    * chunks pass through byte-identical), apply equality deletes
    * physically, and commit the result as a REWRITE: the new manifest
    * pins only the new generation, the old files stay on disk for older
    * snapshots until [[expireSnapshots]], and the delete files are
    * dropped (their effect is now in the data). Chunk_ids are only
    * unique within one encode run, so each manifest FILE becomes one
    * run: the rank of its qualified path (what input_file_name gives)
    * among the snapshot's, found per chunk row by a binary search over
    * the broadcast sorted paths — one scan regardless of file count, and
    * files in different directories under `chunks/` may share a name. */
  def compactTable(spark: SparkSession, dir: String,
                   tokensPerChunk: Int = EncodePipeline.DefaultTokensPerChunk,
                   dropDuplicates: Boolean = false): Int = {
    import org.apache.spark.unsafe.types.UTF8String
    val cur = currentVersion(spark, dir).getOrElse(
      sys.error(s"no snapshots committed at $dir"))
    val snap = snapshot(spark, dir, cur)
    val sub = f"chunks/compact-v$cur%05d"
    val (hfs, root) = fs(spark, dir)
    hfs.delete(new Path(root, sub), true) // crashed attempt: re-stage
    val paths = snap.files.zip(snap.fileAdded)
      .map { case (f, a) =>
        (UTF8String.fromString(hfs.makeQualified(new Path(root, f)).toUri.toString), a)
      }
      .sortBy(_._1)(Ordering.comparatorToOrdering(java.util.Comparator.naturalOrder[UTF8String]()))
    val sorted = spark.sparkContext.broadcast(paths.map(_._1).toArray)
    val chunks = chunkFiles(spark, dir, snap.files).withColumn("run", ColumnBridge.column(
      PartIdForBounds(ColumnBridge.expr(input_file_name()), sorted)))
    val runAdded = paths.map(_._2).zipWithIndex.map { case (a, i) => i -> a }.toMap
    EncodePipeline.compactRuns(spark, chunks, s"$dir/$sub",
      tokensPerChunk, dropDuplicates, deletesOf(spark, dir, snap),
      runAdded)
    val added = listParquet(hfs, root, sub).keys.toSeq.sorted
    commitRewrite(spark, dir, "compact",
      removed = snap.files.toSet, added = added, dropDeletes = true)
  }

  /** Expire snapshots older than `keepLast` versions: drops their
    * manifests and deletes data AND delete files unreachable from any
    * RETAINED snapshot (the file GC a 100-TB table needs —
    * compacted-away chunk files are only physically deleted once no
    * live snapshot can plan them). Returns (#manifests dropped,
    * #files deleted). */
  def expireSnapshots(spark: SparkSession, dir: String,
                      keepLast: Int): (Int, Int) = {
    require(keepLast >= 1, "must keep at least the current snapshot")
    val (hfs, root) = fs(spark, dir)
    val all = versions(spark, dir)
    val (drop, keep) = all.splitAt(math.max(0, all.size - keepLast))
    if (drop.isEmpty) return (0, 0)
    val live: Set[String] = keep.flatMap { v =>
      val s = snapshot(spark, dir, v); s.files ++ s.deletes
    }.toSet
    val dead = drop.flatMap { v =>
      val s = snapshot(spark, dir, v); s.files ++ s.deletes
    }.toSet -- live
    var deleted = 0
    dead.foreach { rel =>
      if (hfs.delete(new Path(root, rel), false)) deleted += 1
    }
    drop.foreach(v => hfs.delete(manifestPath(root, v), false))
    (drop.size, deleted)
  }
}
