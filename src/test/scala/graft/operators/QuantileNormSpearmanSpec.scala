package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class QuantileNormSpearmanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quantile norm: lenient and strict sources calibrate comparably") {
    // strict source scores 0.1/0.2/0.3; lenient scores 0.7/0.8/0.9 —
    // after normalization the middle doc of EACH source sits at the
    // same percentile
    val df = Seq(
      (1L, "strict", 0.1), (2L, "strict", 0.2), (3L, "strict", 0.3),
      (4L, "lenient", 0.7), (5L, "lenient", 0.8), (6L, "lenient", 0.9)
    ).toDF("doc_id", "source", "score")
    val out = Quantiles.quantileNormalize(df, "doc_id", "source", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(2L) === out(5L), s"middles align: $out")
    assert(out(1L) === 0.0 && out(4L) === 0.0)
    assert(out(3L) === out(6L))
    assert(math.abs(out(2L) - 1.0 / 3.0) < 1e-6)
  }

  test("quantile norm: ties share a percentile (strictly-below mass)") {
    // source "c" is a constant-score group: every member at 0
    val df = Seq((1L, "g", 5.0), (2L, "g", 5.0), (3L, "g", 7.0), (4L, "g", 9.0),
      (5L, "c", 0.5), (6L, "c", 0.5), (7L, "c", 0.5))
      .toDF("doc_id", "source", "score")
    val out = Quantiles.quantileNormalize(df, "doc_id", "source", "score")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out.size === 7)
    assert(out(1L) === 0.0 && out(2L) === 0.0)
    assert(out(3L) === 0.5) // two of four strictly below
    assert(out(4L) === 0.75)
    assert(out(5L) === 0.0 && out(6L) === 0.0 && out(7L) === 0.0)
  }

  test("spearman: monotone +1, antitone -1, permuted in between") {
    val mono = (1L to 100L).map(i => (i, i.toDouble, i * 3L))
    val anti = (1L to 100L).map(i => (i, i.toDouble, 300L - i * 3))
    def rho(rows: Seq[(Long, Double, Long)]): Double =
      Ranks.spearman(rows.toDF("id", "x", "y"), "id", "x", "y")
        .collect()(0).getDouble(2)
    assert(rho(mono) === 1.0)
    assert(rho(anti) === -1.0)
    val shuffled = (1L to 100L).map(i => (i, i.toDouble, (i * 37) % 101))
    val r = rho(shuffled)
    assert(r > -0.9 && r < 0.9, s"decorrelated permutation: $r")
  }
}
