package graft

import graft.queries.TextOps
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed model check for the CCNet-style bigram-LM perplexity
  * filter: a corpus small enough to evaluate the add-one-smoothed
  * cross-entropy on paper, plus the no-bigram edge (a one-word document
  * has nothing to score and must be ABSENT, not zero/null — the driver
  * oracle's GROUP BY has the same convention).
  */
class PerplexitySpec extends AnyFunSuite with TempDirs {
  lazy val spark = SparkTestSession.spark

  private def docsDir(rows: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tmpDir("ppl-")
    rows.map { case (id, t) => (id, t, "en", "web", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("bigram LM cross-entropy matches the hand computation; one-word doc absent") {
    // corpus bigrams: (a,b) x2 [docs 1+2], (b,a) x1 [doc 1]
    // context counts: a->2, b->1; vocabulary V = |{a,b,x}| = 3
    val dir = docsDir(Seq(1L -> "a b a", 2L -> "a b", 3L -> "x"))
    val out = TextOps.perplexityLm(spark, dir).collect()
    assert(out.map(_.getAs[Long]("doc_id")).toSeq == Seq(1L, 2L), "one-word doc must be absent")

    // doc 1: -ln p(b|a) = ln((2+3)/(2+1)), -ln p(a|b) = ln((1+3)/(1+1))
    val d1 = (math.log(5.0 / 3.0) + math.log(2.0)) / 2.0
    // doc 2: single bigram (a,b)
    val d2 = math.log(5.0 / 3.0)
    assert(out(0).getAs[Long]("n_bigrams") == 2L)
    assert(out(1).getAs[Long]("n_bigrams") == 1L)
    assert(math.abs(out(0).getAs[Double]("cross_entropy") - d1) < 1.1e-6)
    assert(math.abs(out(1).getAs[Double]("cross_entropy") - d2) < 1.1e-6)

    // gibberish (unseen bigrams over a widened vocab) must score ABOVE the
    // repetitive doc — the property the filter exists for
    val dir2 = docsDir(Seq(
      1L -> "the cat sat the cat sat the cat sat the cat sat",
      2L -> "qq zz pp rr ww kk jj vv"))
    val scored = TextOps.perplexityLm(spark, dir2).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("cross_entropy")).toMap
    assert(scored(2L) > scored(1L),
      s"gibberish ${scored(2L)} must out-score boilerplate ${scored(1L)}")
  }
}
