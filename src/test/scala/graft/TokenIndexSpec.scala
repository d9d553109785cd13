package graft

import graft.spark._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class TokenIndexSpec extends AnyFunSuite with TempDirs {
  lazy val spark: SparkSession = SparkTestSession.spark


  test("index lookup equals brute-force membership for several tokens") {
    import spark.implicits._
    val rows = TokenTableGen.generate(spark, 3000, 5)
    val base = tmpDir("tis-rt")
    EncodePipeline.encode(rows, numParts = 4, tokensPerChunk = 8 * 1024)
      .write.mode("overwrite")
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$base/chunks")
    val chunks = spark.read.parquet(s"$base/chunks").as[EncodedChunk]
    TokenIndex.build(chunks, s"$base/index")
    // probe a frequent token, a rare token, and one absent from the corpus
    val freq = rows.flatMap(_.tokens.iterator).toDF("t")
      .groupBy("t").count().orderBy(desc("count")).head().getInt(0)
    val some = rows.flatMap(_.tokens.iterator).distinct().head(5).toSeq
    for (tok <- (some :+ freq).distinct :+ Int.MinValue) {
      val got = TokenIndex.lookup(spark, s"$base/index", chunks, tok)
        .collect().sorted.toSeq
      val want = rows.filter(r => r.tokens != null && r.tokens.contains(tok))
        .map(_.doc_id).collect().sorted.toSeq
      assert(got == want, s"token $tok: got ${got.size}, want ${want.size}")
    }
  }

  test("lookup decodes only posting-listed chunks (exactness of the index)") {
    import spark.implicits._
    val rows = TokenTableGen.generate(spark, 2000, 4)
    val base = tmpDir("tis-prune")
    EncodePipeline.encode(rows, numParts = 4, tokensPerChunk = 8 * 1024)
      .write.mode("overwrite")
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$base/chunks")
    val chunks = spark.read.parquet(s"$base/chunks").as[EncodedChunk]
    TokenIndex.build(chunks, s"$base/index")
    val tok = rows.head().tokens.head
    // the posting list is exact: every listed chunk REALLY contains tok
    val listed = GenericEncode.readTable(spark, s"$base/index")
      .filter(col("token") === tok)
      .select(explode(col("chunk_ids")).as("chunk_id"))
      .as[Long].collect().toSet
    assert(listed.nonEmpty)
    // a range-partitioned encode's chunks hold disjoint doc_id ranges, so
    // a chunk's rows are the generated rows inside its range
    val truth = rows.collect()
    val containing = chunks.collect()
      .filter(c => truth.exists(r => r.doc_id >= c.first_doc_id && r.doc_id <= c.last_doc_id &&
        r.tokens != null && r.tokens.contains(tok)))
      .map(_.chunk_id).toSet
    assert(listed == containing)
  }

  test("phrase lookup equals brute-force consecutive-subsequence scan") {
    import spark.implicits._
    val rows = TokenTableGen.generate(spark, 2500, 6)
    val base = tmpDir("tis-phrase")
    EncodePipeline.encode(rows, numParts = 4, tokensPerChunk = 8 * 1024)
      .write.mode("overwrite")
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$base/chunks")
    val chunks = spark.read.parquet(s"$base/chunks").as[EncodedChunk]
    TokenIndex.build(chunks, s"$base/index")
    def contains(hay: Array[Int], needle: Seq[Int]): Boolean =
      hay != null && hay.length >= needle.size &&
        (0 to hay.length - needle.size).exists(i =>
          needle.indices.forall(j => hay(i + j) == needle(j)))
    // a 2-gram present in the corpus, a 3-gram, a repeated-token 2-gram,
    // a single token, and a phrase with an absent token
    val sample = rows.head(20)
    val present2 = sample.collectFirst {
      case r if r.tokens != null && r.tokens.length >= 2 => r.tokens.take(2).toSeq
    }.get
    val present3 = sample.collectFirst {
      case r if r.tokens != null && r.tokens.length >= 4 =>
        r.tokens.slice(1, 4).toSeq
    }.getOrElse(present2)
    val doubled = Seq(present2.head, present2.head)
    for (phrase <- Seq(present2, present3, doubled,
        Seq(present2.head), Seq(present2.head, Int.MinValue))) {
      val got = TokenIndex.lookupPhrase(spark, s"$base/index", chunks, phrase)
        .collect().sorted.toSeq
      val want = rows.filter(r => contains(r.tokens, phrase))
        .map(_.doc_id).collect().sorted.toSeq
      assert(got == want, s"phrase $phrase: got ${got.size}, want ${want.size}")
    }
  }

  test("incremental build covers appended chunks; repeat call is a no-op") {
    import spark.implicits._
    val all = TokenTableGen.generate(spark, 2400, 5)
    val a = all.filter(_.doc_id.hashCode % 3 != 0)
    val b = all.filter(_.doc_id.hashCode % 3 == 0)
    val base = tmpDir("tis-incr")
    val aParts = 3
    EncodePipeline.encode(a, aParts, tokensPerChunk = 8 * 1024)
      .write.mode("overwrite")
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$base/chunks")
    TokenIndex.build(
      spark.read.parquet(s"$base/chunks").as[EncodedChunk], s"$base/index")
    // appended run: remap chunk_ids into a fresh part range (the index
    // keys on chunk_id, so appended runs must not collide)
    EncodePipeline.encode(b, 2, tokensPerChunk = 8 * 1024)
      .map(c => c.copy(part_id = c.part_id + aParts,
        chunk_id = ((c.part_id + aParts).toLong << 32) | (c.chunk_id & 0xFFFFFFFFL)))
      .write.mode("append")
      .option("compression", EncodePipeline.ChunkTableCompression)
      .parquet(s"$base/chunks")
    val chunks = spark.read.parquet(s"$base/chunks").as[EncodedChunk]
    assert(chunks.select("chunk_id").distinct().count() == chunks.count(),
      "appended chunk_ids collide")
    TokenIndex.buildIncremental(chunks, s"$base/index")
    def listing(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$base/index")).map(f => f.getPath -> f.length()).toMap
    }
    val before = listing()
    TokenIndex.buildIncremental(chunks, s"$base/index") // fully indexed
    assert(listing() == before, "no-op incremental call rewrote the index")
    val some = all.flatMap(_.tokens.iterator).distinct().head(5).toSeq
    for (tok <- some :+ Int.MinValue) {
      val got = TokenIndex.lookup(spark, s"$base/index", chunks, tok)
        .collect().sorted.toSeq
      val want = all.filter(r => r.tokens != null && r.tokens.contains(tok))
        .map(_.doc_id).collect().sorted.toSeq
      assert(got == want, s"token $tok: got ${got.size}, want ${want.size}")
    }
  }

  test("an index with no postings answers lookups and extends incrementally") {
    import spark.implicits._
    val all = TokenTableGen.generate(spark, 250, 2)
    val base = tmpDir("tis-empty")
    def write(rows: org.apache.spark.sql.Dataset[TokenRow], partOffset: Int, mode: String): Unit =
      EncodePipeline.encode(rows, 1, tokensPerChunk = 8 * 1024)
        .map(c => c.copy(part_id = c.part_id + partOffset,
          chunk_id = ((c.part_id + partOffset).toLong << 32) | (c.chunk_id & 0xFFFFFFFFL)))
        .write.mode(mode)
        .option("compression", EncodePipeline.ChunkTableCompression)
        .parquet(s"$base/chunks")
    // 50 rows whose token arrays are all null: the index holds no postings
    write(all.limit(50).map(_.copy(tokens = null, n_tok = -1)), 0, "overwrite")
    val nullOnly = spark.read.parquet(s"$base/chunks").as[EncodedChunk]
    TokenIndex.build(nullOnly, s"$base/index")
    val tok = all.filter(r => r.tokens != null && r.tokens.nonEmpty).head().tokens.head
    assert(TokenIndex.lookup(spark, s"$base/index", nullOnly, tok).count() == 0)
    assert(TokenIndex.lookupPhrase(spark, s"$base/index", nullOnly, Seq(tok, tok)).count() == 0)
    // appended chunks with tokens merge into the empty posting table
    write(all, 1, "append")
    val chunks = spark.read.parquet(s"$base/chunks").as[EncodedChunk]
    TokenIndex.buildIncremental(chunks, s"$base/index")
    val want = all.filter(r => r.tokens != null && r.tokens.contains(tok))
      .map(_.doc_id).collect().sorted.toSeq
    assert(want.nonEmpty)
    assert(TokenIndex.lookup(spark, s"$base/index", chunks, tok).collect().sorted.toSeq == want)
  }

  test("tokens stream corruption fails loudly at index build") {
    import spark.implicits._
    val rows = TokenTableGen.generate(spark, 300, 2)
    val chunks = EncodePipeline.encode(rows, numParts = 1, tokensPerChunk = 1 << 20)
      .collect()
    val bad = chunks.head.copy(tokens_bin = chunks.head.tokens_bin.clone())
    bad.tokens_bin(bad.tokens_bin.length / 2) = (bad.tokens_bin(bad.tokens_bin.length / 2) ^ 0x5a).toByte
    val base = tmpDir("tis-crc")
    val ex = intercept[Throwable] {
      TokenIndex.build(spark.createDataset(Seq(bad)), s"$base/index")
    }
    val messages = Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("CRC"), s"no CRC failure in: $messages")
  }
}
