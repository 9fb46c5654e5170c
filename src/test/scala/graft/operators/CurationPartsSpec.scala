package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamFixture.spark

/** The building blocks [[CurationState]] and the incremental curation
  * server compose, each pinned directly on hand-checkable inputs:
  * contamination grams and their hit count, per-document bigrams, content
  * fingerprints, the smoothed bigram LM score, and the frozen-count
  * domain mix. */
class CurationPartsSpec extends AnyFunSuite {

  private def docs(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text", "source")
  }

  test("contamGrams emits every contiguous ContamK-gram; shorter docs emit none") {
    val toks = Curation.tokens(docs((1L, "a b c d e f", "s"), (2L, "a b c d", "s")))
    val got = Curation.contamGrams(toks).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("g"))).sorted.toSeq
    assert(Curation.ContamK == 5)
    assert(got == Seq((1L, "a b c d e"), (1L, "b c d e f")))
  }

  test("contaminationAgainst counts each doc's distinct grams and its benchmark hits") {
    import spark.implicits._
    val bench = Seq("a b c d e").toDF("g")
    val grams = Seq((1L, "a b c d e"), (1L, "b c d e f"), (1L, "b c d e f"),
      (2L, "x y z w v"), (3L, "a b c d e")).toDF("doc_id", "g")
    val got = Curation.contaminationAgainst(bench, grams).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_contaminated"), r.getAs[Boolean]("contaminated"))).toMap
    assert(got == Map(1L -> (2L, 1L, 0.5 >= Curation.ContamFracMin),
      2L -> (1L, 0L, false), 3L -> (1L, 1L, true)))
  }

  test("bigramsOf pairs each token with its successor in position order") {
    val toks = Curation.tokens(docs((1L, "the cat sat", "s"), (2L, "solo", "s")))
    val got = CurationState.bigramsOf(toks).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("w1"), r.getAs[String]("w2")))
      .sorted.toSeq
    assert(got == Seq((1L, "cat", "sat"), (1L, "the", "cat")))
  }

  test("contentFp is the md5 of the normalized text: case and spacing do not matter") {
    val got = CurationState.contentFp(docs((1L, "Hello   World", "s"),
        (2L, " hello world ", "s"), (3L, "hello there", "s")))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("fp")).toMap
    assert(got(1L) == got(2L))
    assert(got(1L) != got(3L))
    val md5 = java.security.MessageDigest.getInstance("MD5")
      .digest("hello world".getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got(1L) == md5)
  }

  test("lmScores applies the smoothed, interpolated bigram surprisal per doc") {
    import spark.implicits._
    val c1 = Seq(("a", 2L), ("b", 1L)).toDF("w", "c")
    val c2 = Seq(("a", "b", 1L)).toDF("w1", "w2", "c2")
    val stats = Seq((3L, 2L)).toDF("t", "v")
    // doc 1: a seen bigram; doc 2: an unseen bigram ending in an unseen word
    val bg = Seq((1L, "a", "b"), (2L, "b", "z")).toDF("doc_id", "w1", "w2")
    val got = CurationState.lmScores(bg, c1, c2, stats).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("avg_surprisal")).toMap
    def surprisal(c2: Long, c1w: Long, c1u: Long) = {
      val (t, v) = (3.0, 2.0)
      val p2 = (c2 + 1.0) / (c1w + v + 1.0)
      val p1 = (c1u + 1.0) / (t + v + 1.0)
      -math.log(Curation.BigramLambda * p2 + Curation.UnigramLambda * p1)
    }
    assert(math.abs(got(1L) - surprisal(1, 2, 1)) < 1e-6, got)
    assert(math.abs(got(2L) - surprisal(0, 1, 0)) < 1e-6, got)
  }

  test("domainMixFromCounts keeps sources by the frozen counts, not the batch's") {
    import spark.implicits._
    // frozen counts: a = 9, b = 1 → sum_w = 3 + 1 = 4, n_total = 10;
    // keep_prob(a) = 3/4 · 5 / 9, keep_prob(b) = min(1, 1/4 · 5 / 1) = 1
    val counts = Seq(("a", 9L), ("b", 1L)).toDF("source", "n_source")
    val batch = docs((1L, "x", "a"), (2L, "y", "b"), (3L, "z", "c"))
    val got = Pipeline.domainMixFromCounts(counts, batch).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_source"), r.getAs[Double]("keep_prob"), r.getAs[Boolean]("kept")))
      .toMap
    assert(got("a")._1 == 9L && got("a")._2 == BigDecimal(0.75 * 5 / 9)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    assert(got("b") == (1L, 1.0, true), "keep_prob 1 keeps every bucket")
    assert(got("c") == (0L, 0.0, false), "a source absent from the counts keeps nothing")
  }
}
