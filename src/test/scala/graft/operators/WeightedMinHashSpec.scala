package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class WeightedMinHashSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("weighted jaccard sees frequency where set jaccard cannot") {
    val docs = Seq(
      (1L, "spam spam spam spam"),
      (2L, "spam"),
      (3L, "spam spam spam spam"),
      (4L, "alpha beta beta gamma"),
      (5L, "alpha beta delta")
    ).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val out = WeightedMinHash.pairJaccard(docs, "doc_id", "text", pairs)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getDouble(2), r.getDouble(3), r.getLong(4)))).toMap
    // set jaccard of 1-2 is 1.0; capped-weighted exact = 1/4
    val (est12, ex12, n12) = out((1L, 2L))
    assert(ex12 === 0.25 && n12 === 1L)
    assert(est12 >= 0.0 && est12 <= 1.0)
    // identical multisets: every seed min matches — est exactly 1
    assert(out((1L, 3L)) === ((1.0, 1.0, 1L)))
    // alpha+beta shared (min 1+1), union alpha1 beta2 delta1 gamma1
    val (_, ex45, n45) = out((4L, 5L))
    assert(ex45 === 0.4 && n45 === 4L) // 2 / 5
  }

  test("sibling pairs: identical multisets score exact = est = 1, " +
      "disjoint ones exact 0") {
    // pair (2m, 2m+1): even m share a 10-token multiset (tf 4 each),
    // odd m share nothing
    val docs = (0L until 40L).map { id =>
      val m = id / 2
      (id, (0 until 40).map(i =>
        if (m % 2 == 0) s"tok${m}_${i % 10}" else s"u${id}_$i").mkString(" "))
    }.toDF("doc_id", "text")
    val pairs = (0L until 20L).map(m => (2 * m, 2 * m + 1)).toDF("id_a", "id_b")
    val out = WeightedMinHash.pairJaccard(docs, "doc_id", "text", pairs)
      .select("id_a", "est_jaccard", "exact_jaccard")
      .collect().map(r => (r.getLong(0) / 2, r.getDouble(1), r.getDouble(2)))
    assert(out.length == 20)
    for ((m, est, exact) <- out)
      if (m % 2 == 0) assert(est == 1.0 && exact == 1.0, s"pair $m")
      else assert(exact == 0.0, s"pair $m")
  }
}
