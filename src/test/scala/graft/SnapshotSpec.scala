package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** SnapshotLog: commit/read/time-travel/expiry semantics over a chunk
  * table dir. The invariants under test are Iceberg's: a committed
  * snapshot's visible row set never changes (later appends invisible,
  * later compactions can't yank files), versions are monotone, and
  * expiry deletes exactly the files no retained snapshot can reach. */
class SnapshotSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark

  /** A path that does not exist yet, inside a directory the spec removes. */
  private def freshDir(tag: String): String = s"${tmpDir(s"snap-$tag")}/t"

  private def writeSlice(dir: String, rows: org.apache.spark.sql.Dataset[TokenRow],
                         mode: String = "append"): Unit =
    EncodePipeline.encode(rows, numParts = 2, tokensPerChunk = 4096)
      .write.mode(mode)
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$dir/chunks")

  private def docIdsAt(dir: String, v: Option[Int]): Set[String] = {
    import spark.implicits._
    EncodePipeline.decodeDF(
        SnapshotLog.readChunks(spark, dir, v).as[EncodedChunk], Seq("doc_id"))
      .as[String].collect().toSet
  }

  test("time travel: v1 sees only the first slice after a later append") {
    import spark.implicits._
    val dir = freshDir("travel")
    val all = TokenTableGen.generate(spark, 600, 5).cache()
    val a = all.filter(r => r.doc_id.hashCode % 2 == 0)
    val b = all.filter(r => r.doc_id.hashCode % 2 != 0)
    writeSlice(dir, a)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    writeSlice(dir, b)
    val v2 = SnapshotLog.commit(spark, dir, "append")
    assert(v1 == 1 && v2 == 2)
    assert(SnapshotLog.versions(spark, dir) == Seq(1, 2))
    val wantA = a.map(_.doc_id).collect().toSet
    val wantAll = all.map(_.doc_id).collect().toSet
    assert(docIdsAt(dir, Some(v1)) == wantA)
    assert(docIdsAt(dir, Some(v2)) == wantAll)
    assert(docIdsAt(dir, None) == wantAll) // latest = v2
    assert(wantA != wantAll) // non-vacuous
  }

  test("snapshot isolation across a compaction-style rewrite") {
    import spark.implicits._
    val dir = freshDir("isolate")
    val rows = TokenTableGen.generate(spark, 400, 5).cache()
    writeSlice(dir, rows)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    val want = rows.map(_.doc_id).collect().toSet
    // rewrite: same logical rows, different files (fewer partitions) —
    // overwrite replaces chunks/ contents, but v1's manifest still pins
    // the OLD files... which overwrite deletes. So a safe rewrite must
    // write NEW files alongside (as compaction staging does): emulate by
    // appending the rewrite then expiring the old snapshot.
    writeSlice(dir, rows)
    val v2 = SnapshotLog.commit(spark, dir, "compact")
    // v1 still reads exactly the original row set
    assert(docIdsAt(dir, Some(v1)) == want)
    // v2 sees both file generations (append-emulated rewrite = 2x rows)
    val v2Rows = EncodePipeline.decodeDF(
      SnapshotLog.readChunks(spark, dir, Some(v2)).as[EncodedChunk]).count()
    assert(v2Rows == 2L * rows.count())
  }

  test("expiry deletes only files unreachable from retained snapshots") {
    import spark.implicits._
    val dir = freshDir("expire")
    val rows = TokenTableGen.generate(spark, 300, 5).cache()
    writeSlice(dir, rows)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    val v1Files = SnapshotLog.snapshot(spark, dir, v1).files.toSet
    writeSlice(dir, rows.filter(r => r.doc_id.hashCode % 3 == 0))
    val v2 = SnapshotLog.commit(spark, dir, "append")
    val v2Files = SnapshotLog.snapshot(spark, dir, v2).files.toSet
    // v2 is a superset here (pure append): nothing is unreachable, so
    // expiring v1 deletes 0 data files but drops the manifest
    assert(v1Files.subsetOf(v2Files))
    val (dropped, deleted) = SnapshotLog.expireSnapshots(spark, dir, keepLast = 1)
    assert(dropped == 1 && deleted == 0)
    assert(SnapshotLog.versions(spark, dir) == Seq(v2))
    assert(docIdsAt(dir, None) == rows.map(_.doc_id).collect().toSet)
    intercept[IllegalArgumentException](SnapshotLog.snapshot(spark, dir, v1))
  }

  test("expiry physically deletes files only the dropped snapshot held") {
    import spark.implicits._
    val dir = freshDir("gc")
    val gen1 = TokenTableGen.generate(spark, 200, 5)
    writeSlice(dir, gen1)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    val v1Files = SnapshotLog.snapshot(spark, dir, v1).files.toSet
    // generation 2: REPLACE the table contents (overwrite) — v2's
    // manifest shares no files with v1, so expiring v1 must delete
    // every v1-only file
    val gen2 = TokenTableGen.generate(spark, 150, 7)
    writeSlice(dir, gen2, mode = "overwrite")
    val v2 = SnapshotLog.commit(spark, dir, "overwrite")
    val v2Files = SnapshotLog.snapshot(spark, dir, v2).files.toSet
    val v1Only = v1Files -- v2Files
    // overwrite already removed the old files from disk; expiry must
    // count 0 deletions for already-gone files without erroring, OR
    // delete them if the FS kept them. Either way: after expiry no
    // manifest references a missing file.
    SnapshotLog.expireSnapshots(spark, dir, keepLast = 1)
    assert(SnapshotLog.versions(spark, dir) == Seq(v2))
    val hfs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    SnapshotLog.snapshot(spark, dir, v2).files.foreach { f =>
      assert(hfs.exists(new org.apache.hadoop.fs.Path(s"$dir/$f")), f)
    }
    assert(docIdsAt(dir, None) ==
      gen2.map(_.doc_id).collect().toSet)
    assert(v1Only.nonEmpty) // the overwrite really turned over the files
  }

  test("equality delete: merge-on-read hides rows, time travel restores them") {
    import spark.implicits._
    val dir = freshDir("del")
    val rows = TokenTableGen.generate(spark, 500, 5).cache()
    writeSlice(dir, rows)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    val victim = rows.map(_.source).collect().head
    val v2 = SnapshotLog.deleteWhere(spark, dir, col("source") === victim)
    assert(v2 == v1 + 1)
    val all = rows.map(_.doc_id).collect().toSet
    val kept = rows.filter(_.source != victim).map(_.doc_id).collect().toSet
    assert(kept != all) // non-vacuous
    // merge-on-read at v2, full set at v1, raw chunks untouched at v2
    assert(SnapshotLog.readRows(spark, dir, Some(v2))
      .map(_.doc_id).collect().toSet == kept)
    assert(SnapshotLog.readRows(spark, dir, Some(v1))
      .map(_.doc_id).collect().toSet == all)
    assert(SnapshotLog.snapshot(spark, dir, v2).files ==
      SnapshotLog.snapshot(spark, dir, v1).files) // no data file rewritten
    // a no-match delete commits nothing
    assert(SnapshotLog.deleteWhere(spark, dir,
      col("doc_id") === "no-such-id") == v2)
  }

  test("compaction applies deletes, dedupes, and commits a rewrite") {
    import spark.implicits._
    val dir = freshDir("ctab")
    val rows = TokenTableGen.generate(spark, 400, 5).cache()
    val a = rows.filter(r => r.doc_id.hashCode % 2 == 0)
    writeSlice(dir, a)
    SnapshotLog.commit(spark, dir, "append")
    writeSlice(dir, rows) // overlaps a: every a-doc now duplicated
    SnapshotLog.commit(spark, dir, "append")
    val victim = rows.map(_.source).collect().head
    val v3 = SnapshotLog.deleteWhere(spark, dir, col("source") === victim)
    val preFiles = SnapshotLog.snapshot(spark, dir, v3).files.toSet
    val v4 = SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096,
      dropDuplicates = true)
    val snap4 = SnapshotLog.snapshot(spark, dir, v4)
    // full turnover: new generation only, deletes folded away
    assert(snap4.files.toSet.intersect(preFiles).isEmpty)
    assert(snap4.deletes.isEmpty && snap4.removed.toSet == preFiles)
    val want = rows.filter(_.source != victim).map(_.doc_id).collect().toSet
    val got = SnapshotLog.readRows(spark, dir, Some(v4))
      .map(_.doc_id).collect()
    assert(got.toSet == want)
    assert(got.length == want.size) // dedupe: one row per doc_id
    // pre-compaction snapshot: deletes already in effect (merge-on-read)
    // but the physical duplicates are still there
    val v3Rows = SnapshotLog.readRows(spark, dir, Some(v3)).collect()
    assert(v3Rows.map(_.doc_id).toSet == want) // deletes already in effect
    assert(v3Rows.length > want.size) // but duplicates still present
    // an append after the rewrite must not re-adopt the tombstoned files
    writeSlice(dir, rows.filter(r => r.doc_id.hashCode % 7 == 0))
    val v5 = SnapshotLog.commit(spark, dir, "append")
    val snap5 = SnapshotLog.snapshot(spark, dir, v5)
    assert(snap5.files.toSet.intersect(preFiles).isEmpty)
    assert(snap5.files.toSet.size > snap4.files.toSet.size)
    // expiry GCs the replaced generation AND the applied delete files
    val (hfs0, _) = (new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration), ())
    val (dropped, deleted) = SnapshotLog.expireSnapshots(spark, dir, 2)
    assert(dropped == 3 && deleted > 0)
    preFiles.foreach { f =>
      assert(!hfs0.exists(new org.apache.hadoop.fs.Path(s"$dir/$f")), f)
    }
  }

  test("every data file of a compacted snapshot holds at least one chunk") {
    import spark.implicits._
    val dir = freshDir("nonempty")
    val rows = TokenTableGen.generate(spark, 900, 5).cache()
    // the shape of a maintained table: a base, four appends, a delete and
    // an upsert, then one compaction
    (0 until 5).foreach { k =>
      writeSlice(dir, rows.filter(r => math.floorMod(r.doc_id.hashCode, 5) == k))
      SnapshotLog.commit(spark, dir, "append")
    }
    val victim = rows.map(_.source).collect().head
    SnapshotLog.deleteWhere(spark, dir, col("source") === victim)
    val updated = rows.filter(r => r.source != victim && r.doc_id.hashCode % 9 == 0)
      .map(r => r.copy(source = "UPD"))
    SnapshotLog.upsert(spark, dir, updated)
    val want = SnapshotLog.readRows(spark, dir, None)
      .map(r => (r.doc_id, r.source)).collect().sorted.toSeq
    val v = SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096)
    val files = SnapshotLog.snapshot(spark, dir, v).files
    assert(files.nonEmpty)
    files.foreach { f =>
      assert(spark.read.parquet(s"$dir/$f").count() >= 1, s"$f holds no chunk")
    }
    assert(SnapshotLog.readRows(spark, dir, Some(v))
      .map(r => (r.doc_id, r.source)).collect().sorted.toSeq == want)
  }

  test("upsert: sequence-scoped delete spares its own rows; compaction folds") {
    import spark.implicits._
    val dir = freshDir("ups")
    val base = TokenTableGen.generate(spark, 300, 5).cache()
    writeSlice(dir, base)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    val updated = base.filter(r => r.doc_id.hashCode % 3 == 0)
      .map(r => r.copy(source = "UPD"))
    val fresh = base.map(r => r.copy(doc_id = r.doc_id + "-new", source = "NEW"))
      .limit(15)
    val incoming = updated.unionAll(fresh).cache()
    assert(incoming.count() > 15) // non-vacuous update slice
    val v2 = SnapshotLog.upsert(spark, dir, incoming)
    val updKeys = updated.map(_.doc_id).collect().toSet
    val baseKeys = base.map(_.doc_id).collect().toSet
    val rows2 = SnapshotLog.readRows(spark, dir, Some(v2)).collect()
    // one row per key: every base key + 15 new, updated keys carry UPD
    assert(rows2.length == baseKeys.size + 15)
    assert(rows2.filter(r => updKeys(r.doc_id)).forall(_.source == "UPD"))
    assert(rows2.count(_.source == "NEW") == 15)
    // time travel: v1 still reads the pre-upsert sources
    assert(SnapshotLog.readRows(spark, dir, Some(v1))
      .collect().forall(r => r.source != "UPD" && r.source != "NEW"))
    // compaction folds the upsert: the scoped delete must NOT eat the
    // upserted rows even though their doc_ids are in the delete file
    val v3 = SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096)
    val rows3 = SnapshotLog.readRows(spark, dir, Some(v3)).collect()
    assert(rows3.map(r => (r.doc_id, r.source)).sorted.toSeq ==
      rows2.map(r => (r.doc_id, r.source)).sorted.toSeq)
    assert(SnapshotLog.snapshot(spark, dir, v3).deletes.isEmpty)
    // a delete AFTER the upsert applies to the upserted files too
    val v4 = SnapshotLog.deleteWhere(spark, dir, col("source") === "UPD")
    assert(SnapshotLog.readRows(spark, dir, Some(v4))
      .collect().forall(_.source != "UPD"))
  }

  test("upsert commits only its own files, never a stray file under chunks") {
    import spark.implicits._
    val dir = freshDir("ups-stray")
    val rows = TokenTableGen.generate(spark, 300, 5).cache()
    writeSlice(dir, rows)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    val updated = rows.filter(r => r.doc_id.hashCode % 3 == 0).map(r => r.copy(source = "UPD"))
    // a chunk file no commit names (a crashed writer's leftover), holding
    // the keys the upsert replaces
    writeSlice(dir, updated.map(r => r.copy(source = "STRAY")))
    val v1Files = SnapshotLog.snapshot(spark, dir, v1).files.toSet
    val stray = new java.io.File(s"$dir/chunks").listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(n => s"chunks/$n").toSet -- v1Files
    assert(stray.nonEmpty)
    val v2 = SnapshotLog.upsert(spark, dir, updated)
    val files2 = SnapshotLog.snapshot(spark, dir, v2).files
    assert(files2.toSet.intersect(stray).isEmpty, files2)
    assert(files2.filterNot(v1Files).forall(_.startsWith(f"chunks/u-v$v1%05d/")), files2)
    val updKeys = updated.map(_.doc_id).collect().toSet
    assert(updKeys.nonEmpty)
    val want = rows.map(r => (r.doc_id, r.source)).collect()
      .map { case (d, src) => (d, if (updKeys(d)) "UPD" else src) }.sorted.toSeq
    assert(SnapshotLog.readRows(spark, dir, Some(v2))
      .map(r => (r.doc_id, r.source)).collect().sorted.toSeq == want)
  }

  test("compaction keeps apart two data files that share a name in different directories") {
    import spark.implicits._
    val dir = freshDir("same-name")
    val rows = TokenTableGen.generate(spark, 600, 5).collect().sortBy(_.doc_id)
    val (a, b) = rows.partition(_.doc_id.hashCode % 2 == 0)
    def encodeTo(path: String, rs: Seq[TokenRow]): java.io.File = {
      EncodePipeline.encode(rs.toDS(), numParts = 1, tokensPerChunk = 4096)
        .coalesce(1).write.option("compression", EncodePipeline.ChunkTableCompression)
        .parquet(path)
      new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet")).head
    }
    val first = encodeTo(s"$dir/chunks", a.toSeq)
    // the other rows under chunks/extra/, in a file of the same name
    val other = encodeTo(s"${tmpDir("same-name-src")}/b", b.toSeq)
    new java.io.File(s"$dir/chunks/extra").mkdirs()
    java.nio.file.Files.copy(other.toPath, new java.io.File(s"$dir/chunks/extra/${first.getName}").toPath)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    assert(SnapshotLog.snapshot(spark, dir, v1).files.map(_.split('/').last).distinct.length == 1)
    val want = rows.map(r => (r.doc_id, r.source)).toSeq
    def got(v: Int) =
      SnapshotLog.readRows(spark, dir, Some(v)).map(r => (r.doc_id, r.source)).collect().sorted.toSeq
    assert(got(v1) == want)
    val v2 = SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096)
    assert(got(v2) == want)
  }

  test("an append never adopts a crashed compaction's or upsert's staged files") {
    import spark.implicits._
    val dir = freshDir("staged")
    val rows = TokenTableGen.generate(spark, 900, 4).cache()
    val base = rows.filter(r => math.floorMod(r.doc_id.hashCode, 3) != 0)
    val more = rows.filter(r => math.floorMod(r.doc_id.hashCode, 3) == 0)
    writeSlice(dir, base)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    // what a compactTable and an upsert that died between their write and
    // their commit leave on disk: a re-encoded copy of the table, and new
    // versions of some rows whose delete was never committed
    EncodePipeline.encode(base, 1, tokensPerChunk = 4096)
      .write.parquet(f"$dir/chunks/compact-v$v1%05d")
    EncodePipeline.encode(base.limit(50).map(r => r.copy(source = "LOST")), 1, tokensPerChunk = 4096)
      .write.parquet(f"$dir/chunks/u-v$v1%05d")
    writeSlice(dir, more)
    val v2 = SnapshotLog.commit(spark, dir, "append")
    def pairs(v: Int) =
      SnapshotLog.readRows(spark, dir, Some(v)).map(r => (r.doc_id, r.source)).collect().sorted.toSeq
    val want = rows.map(r => (r.doc_id, r.source)).collect().sorted.toSeq
    assert(pairs(v2) == want)
    // files an upsert and a compaction DID commit from their staging dirs
    // stay in the snapshots appended after them
    val upd = more.limit(40).map(r => r.copy(source = "UPD")).collect()
    val v3 = SnapshotLog.upsert(spark, dir, spark.createDataset(upd), numParts = 2,
      tokensPerChunk = 4096)
    val v4 = SnapshotLog.commit(spark, dir, "append")
    val updated = upd.map(_.doc_id).toSet
    val wantUpd = want.map { case (d, s) => (d, if (updated(d)) "UPD" else s) }
    assert(pairs(v4) == wantUpd)
    assert(SnapshotLog.snapshot(spark, dir, v4).files.exists(_.startsWith(f"chunks/u-v$v2%05d/")))
    val v5 = SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096)
    val v6 = SnapshotLog.commit(spark, dir, "append")
    assert(SnapshotLog.snapshot(spark, dir, v6).files ==
      SnapshotLog.snapshot(spark, dir, v5).files)
    assert(pairs(v6) == wantUpd && v3 == v2 + 1)
  }

  test("upsert deletes exactly the doc_ids it wrote, even when its input plan is nondeterministic") {
    import spark.implicits._
    val dir = freshDir("ups-nondet")
    val base = TokenTableGen.generate(spark, 400, 4).cache()
    writeSlice(dir, base)
    val v1 = SnapshotLog.commit(spark, dir, "append")
    // a different random subset on every evaluation (Spark's rand() fixes
    // its seed when the plan is built, so it would repeat its choice)
    val incoming = base
      .filter(_ => java.util.concurrent.ThreadLocalRandom.current().nextBoolean())
      .map(r => r.copy(source = "UPD"))
    val v2 = SnapshotLog.upsert(spark, dir, incoming, numParts = 2, tokensPerChunk = 4096)
    val snap = SnapshotLog.snapshot(spark, dir, v2)
    val written = snap.files.filterNot(SnapshotLog.snapshot(spark, dir, v1).files.toSet)
    val writtenIds = EncodePipeline.decodeDF(
        spark.read.parquet(written.map(f => s"$dir/$f"): _*).as[EncodedChunk], Seq("doc_id"))
      .as[String].collect().sorted.toSeq
    val newDeletes = snap.deletes.zip(snap.deleteSeqs).collect { case (f, s) if s == v2 => f }
    val deleted = spark.read.parquet(newDeletes.map(f => s"$dir/$f"): _*)
      .as[String].collect().sorted.toSeq
    assert(writtenIds.nonEmpty && writtenIds.size < 400)
    assert(deleted == writtenIds)
    val upd = writtenIds.toSet
    assert(SnapshotLog.readRows(spark, dir, Some(v2)).map(r => (r.doc_id, r.source))
      .collect().sorted.toSeq ==
      base.map(r => (r.doc_id, if (upd(r.doc_id)) "UPD" else r.source)).collect().sorted.toSeq)
  }

  test("incremental read returns exactly the appended slice") {
    import spark.implicits._
    val dir = freshDir("incr")
    val all = TokenTableGen.generate(spark, 450, 5).cache()
    val a = all.filter(r => math.abs(r.doc_id.hashCode % 3) == 0)
    val b = all.filter(r => math.abs(r.doc_id.hashCode % 3) == 1)
    val c = all.filter(r => math.abs(r.doc_id.hashCode % 3) == 2)
    writeSlice(dir, a); val v1 = SnapshotLog.commit(spark, dir, "append")
    writeSlice(dir, b); val v2 = SnapshotLog.commit(spark, dir, "append")
    writeSlice(dir, c); val v3 = SnapshotLog.commit(spark, dir, "append")
    def ids(from: Int, to: Int) = SnapshotLog
      .readIncremental(spark, dir, from, to).map(_.doc_id).collect().toSet
    val (ka, kb, kc) = (a.map(_.doc_id).collect().toSet,
      b.map(_.doc_id).collect().toSet, c.map(_.doc_id).collect().toSet)
    assert(ids(v1, v2) == kb)
    assert(ids(v2, v3) == kc)
    assert(ids(v1, v3) == kb ++ kc)
    assert(kb.nonEmpty && kc.nonEmpty && (kb ++ kc) != kb) // non-vacuous
    // a delete in the interval hides its rows from the feed
    val victim = all.map(_.source).collect().head
    val v4 = SnapshotLog.deleteWhere(spark, dir, col("source") === victim)
    assert(ids(v1, v4) ==
      (kb ++ kc) -- all.filter(_.source == victim).map(_.doc_id).collect())
    // a compaction in the interval is refused (it re-versions old rows)
    val v5 = SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096)
    intercept[IllegalArgumentException](
      SnapshotLog.readIncremental(spark, dir, v1, v5))
    // and consumption restarts cleanly from the compaction
    writeSlice(dir, a.map(r => r.copy(doc_id = r.doc_id + "-x")))
    val v6 = SnapshotLog.commit(spark, dir, "append")
    assert(ids(v5, v6) == ka.map(_ + "-x"))
  }

  test("merge-on-read keeps NULL tokens and sources exactly; corruption fails loudly") {
    import spark.implicits._
    val dir = freshDir("nulls")
    def row(i: Long): TokenRow = {
      val tokens =
        if (i % 4 == 0) null else Array.tabulate((i % 5).toInt + 1)(k => (i * 7 + k).toInt)
      val source = if (i % 3 == 0) null else s"src${i % 2}"
      TokenRow(f"doc/$i%06d", tokens, if (tokens == null) -1 else tokens.length, source)
    }
    def norm(rs: Seq[TokenRow]) = rs
      .map(r => (r.doc_id, Option(r.tokens).map(_.toSeq), r.n_tok, Option(r.source)))
      .sortBy(_._1)
    val a = (0L until 300L).map(row)
    val b = (300L until 500L).map(row)
    assert(a.exists(_.tokens == null) && a.exists(_.source == null)) // non-vacuous
    writeSlice(dir, spark.createDataset(a))
    val v1 = SnapshotLog.commit(spark, dir, "append")
    writeSlice(dir, spark.createDataset(b))
    val v2 = SnapshotLog.commit(spark, dir, "append")
    val got = SnapshotLog.readRows(spark, dir, Some(v2)).collect().toSeq
    assert(norm(got) == norm(a ++ b))
    assert(got.filter(_.tokens == null).forall(_.n_tok == -1))
    assert(norm(SnapshotLog.readIncremental(spark, dir, v1, v2).collect().toSeq) == norm(b))
    // with an equality delete in effect (the anti-join path)
    val v3 = SnapshotLog.deleteWhere(spark, dir, col("n_tok") === 2)
    assert(v3 == v2 + 1)
    assert(norm(SnapshotLog.readRows(spark, dir, Some(v3)).collect().toSeq) ==
      norm((a ++ b).filter(_.n_tok != 2)))
    assert(norm(SnapshotLog.readIncremental(spark, dir, v1, v3).collect().toSeq) ==
      norm(b.filter(_.n_tok != 2)))
    // a data file whose chunk has one flipped payload byte fails the read
    // with a CRC error instead of returning wrong rows
    val cdir = freshDir("nulls-crc")
    val good = EncodePipeline.encode(spark.createDataset(a), numParts = 1,
      tokensPerChunk = 4096).collect()
    val bin = good.head.tokens_bin.clone()
    bin(bin.length / 2) = (bin(bin.length / 2) ^ 0x20).toByte
    (good.head.copy(tokens_bin = bin) +: good.tail).toSeq.toDS()
      .write.option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$cdir/chunks")
    SnapshotLog.commit(spark, cdir, "append")
    val ex = intercept[Exception](SnapshotLog.readRows(spark, cdir).collect())
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("CRC mismatch")), ex.toString)
  }

  /** (count, Σ n_tok, xor of doc_id hashes) of a row set. */
  private def digest(rows: Iterable[(String, Int)]): (Long, Long, Int) =
    (rows.size.toLong, rows.map(_._2.toLong).sum, rows.map(_._1.hashCode).foldLeft(0)(_ ^ _))

  private def digestOf(rows: org.apache.spark.sql.Dataset[TokenRow]): (Long, Long, Int) = {
    import spark.implicits._
    digest(rows.select("doc_id", "n_tok").as[(String, Int)].collect().toSeq)
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf(body: => Unit): Int = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ColumnBridge.drainListeners(spark)
    spark.sparkContext.addSparkListener(listener)
    try body
    finally {
      ColumnBridge.drainListeners(spark)
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get()
  }

  test("merge-on-read runs the same number of jobs whatever the version count") {
    import spark.implicits._
    val rows = TokenTableGen.generate(spark, 600, 4).cache()
    def readJobs(appends: Int): Int = {
      val dir = freshDir(s"jobs$appends")
      (0 until appends).foreach { k =>
        writeSlice(dir, rows.filter(r => math.floorMod(r.doc_id.hashCode, appends) == k))
        SnapshotLog.commit(spark, dir, "append")
      }
      val victim = rows.map(_.source).collect().head
      val v = SnapshotLog.deleteWhere(spark, dir, col("source") === victim)
      val want = rows.filter(_.source != victim).count()
      assert(SnapshotLog.snapshot(spark, dir, v).deletes.nonEmpty)
      var n = -1L
      val jobs = jobsOf { n = SnapshotLog.readRows(spark, dir).count() }
      assert(n == want)
      jobs
    }
    val (few, many) = (readJobs(2), readJobs(6))
    assert(few == many, s"2 appends: $few jobs, 6 appends: $many jobs")
  }

  test("deletes apply by sequence across several delete classes") {
    import spark.implicits._
    val dir = freshDir("classes")
    def gen(lo: Int, hi: Int) = (lo until hi).map(i => TokenTableGen.genRow(i.toLong))
    // the model: doc_id -> (row, added-version) of every live row, per version
    var live = Map.empty[String, (TokenRow, Int)]
    val at = scala.collection.mutable.Map.empty[Int, Map[String, (TokenRow, Int)]]
    def append(rs: Seq[TokenRow]): Unit = {
      writeSlice(dir, spark.createDataset(rs))
      val v = SnapshotLog.commit(spark, dir, "append")
      live ++= rs.map(r => r.doc_id -> (r, v)); at(v) = live
    }
    def deleteEvery(k: Int): Unit = {
      val ids = live.keys.toSeq.sorted.zipWithIndex.collect { case (d, i) if i % k == 0 => d }
      val v = SnapshotLog.deleteWhere(spark, dir, col("doc_id").isin(ids: _*))
      live --= ids; at(v) = live
    }
    append(gen(0, 400))
    append(gen(400, 600))
    deleteEvery(7)
    append(gen(600, 800))
    // upsert: every 5th live row gets a one-token version, plus 50 new rows
    val replaced = live.keys.toSeq.sorted.zipWithIndex.collect { case (d, i) if i % 5 == 0 =>
      val r = live(d)._1; r.copy(tokens = r.tokens.take(1), n_tok = 1, source = "UPD")
    }
    val incoming = replaced ++ gen(800, 850)
    val vu = SnapshotLog.upsert(spark, dir, spark.createDataset(incoming), numParts = 2,
      tokensPerChunk = 4096)
    live ++= incoming.map(r => r.doc_id -> (r, vu)); at(vu) = live
    deleteEvery(6)
    append(gen(850, 1000))
    val last = SnapshotLog.currentVersion(spark, dir).get
    assert(last == 7 && at.keySet == (1 to 7).toSet)
    // files added at 1-2, 4, 5 and 7: three delete classes and one class with none
    val snap = SnapshotLog.snapshot(spark, dir, last)
    assert(snap.deleteSeqs.distinct.sorted == Seq(3, 5, 6))
    assert(snap.fileAdded.distinct.sorted == Seq(1, 2, 4, 5, 7))
    def truth(v: Int, from: Int = 0) =
      digest(at(v).values.collect { case (r, a) if a > from => (r.doc_id, r.n_tok) })
    (1 to last).foreach { v =>
      assert(digestOf(SnapshotLog.readRows(spark, dir, Some(v))) == truth(v), s"readRows v$v")
    }
    for (from <- 1 until last; to <- from + 1 to last)
      assert(digestOf(SnapshotLog.readIncremental(spark, dir, from, to)) == truth(to, from),
        s"readIncremental $from->$to")
    assert(truth(last) != digest(gen(0, 1000).map(r => (r.doc_id, r.n_tok)))) // non-vacuous
    val vc = SnapshotLog.compactTable(spark, dir, tokensPerChunk = 4096)
    assert(SnapshotLog.snapshot(spark, dir, vc).deletes.isEmpty)
    assert(digestOf(SnapshotLog.readRows(spark, dir, Some(vc))) == truth(last))
  }

  test("a commit refuses a parquet file that is not a chunk file") {
    import spark.implicits._
    val dir = freshDir("foreign")
    writeSlice(dir, TokenTableGen.generate(spark, 200, 4))
    val v1 = SnapshotLog.commit(spark, dir, "append")
    writeSlice(dir, TokenTableGen.generate(spark, 100, 4).map(r => r.copy(doc_id = r.doc_id + "-b")))
    spark.range(5).toDF("doc_id").write.parquet(s"$dir/chunks/foreign")
    val ex = intercept[IllegalArgumentException](SnapshotLog.commit(spark, dir, "append"))
    assert(ex.getMessage.contains("chunks/foreign/part-") &&
      ex.getMessage.contains("not a chunk file"), ex.getMessage)
    assert(SnapshotLog.versions(spark, dir) == Seq(v1))
    val hfs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val foreign = hfs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/chunks/foreign"))
      .map(_.getPath.getName).filter(_.endsWith(".parquet")).map(n => s"chunks/foreign/$n")
    assert(foreign.nonEmpty)
    intercept[IllegalArgumentException](SnapshotLog.commitRewrite(spark, dir, "append",
      removed = Set.empty, added = foreign.toSeq))
    assert(SnapshotLog.versions(spark, dir) == Seq(v1))
    SnapshotLog.versions(spark, dir).foreach { v =>
      assert(SnapshotLog.snapshot(spark, dir, v).files.intersect(foreign.toSeq).isEmpty)
    }
    assert(SnapshotLog.readRows(spark, dir, Some(v1)).count() == 200L)
  }

  test("rewrite commit validates removed files against the parent") {
    import spark.implicits._
    val dir = freshDir("rwv")
    writeSlice(dir, TokenTableGen.generate(spark, 100, 4))
    SnapshotLog.commit(spark, dir, "append")
    intercept[IllegalArgumentException](
      SnapshotLog.commitRewrite(spark, dir, "compact",
        removed = Set("chunks/not-a-file.parquet"), added = Nil))
    intercept[RuntimeException](
      SnapshotLog.commitRewrite(spark, freshDir("rwv2"), "compact",
        removed = Set.empty, added = Nil))
  }

  test("reading an uncommitted or unknown version fails loudly") {
    val dir = freshDir("err")
    import spark.implicits._
    writeSlice(dir, TokenTableGen.generate(spark, 50, 4))
    intercept[RuntimeException](SnapshotLog.readChunks(spark, dir, None))
    SnapshotLog.commit(spark, dir, "append")
    intercept[IllegalArgumentException](
      SnapshotLog.readChunks(spark, dir, Some(99)))
  }
}
