package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class WinnowingBitextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("winnowing: every window is covered by a selected fingerprint") {
    val df = Seq(
      (1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12 w13 w14 w15 w16"),
      (2L, "a b c d e f g h i j")
    ).toDF("doc_id", "text")
    val fps = Winnowing.fingerprints(df, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).sorted.toSeq).toMap
    // doc 1: 13 grams, windows start 0..9; every window [i, i+4) must
    // contain a selected position (the coverage guarantee)
    val sel1 = fps(1L)
    (0 to 9).foreach { i =>
      assert(sel1.exists(p => p >= i && p < i + 4),
        s"window $i uncovered by $sel1")
    }
    // density stays near 2/(w+1): far fewer fingerprints than grams
    assert(sel1.length < 13 && sel1.length >= 3)
  }

  test("winnowing: shared passage of length >= w+k-1 shares a fingerprint") {
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8" // 8 tokens ≥ w+k−1 = 7
    val df = Seq(
      (1L, s"x1 x2 x3 x4 $passage y1 y2"),
      (2L, s"$passage z1 z2 z3 z4 z5")
    ).toDF("doc_id", "text")
    val fps = Winnowing.fingerprints(df, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    val h1 = fps.filter(_._1 == 1L).map(_._2).toSet
    val h2 = fps.filter(_._1 == 2L).map(_._2).toSet
    assert((h1 & h2).nonEmpty,
      "the winnowing guarantee: a shared 8-token passage must share ≥ 1 fingerprint")
  }

  test("winnowing: too-short docs yield no fingerprints but appear in profile") {
    val df = Seq((1L, "a b c"), (2L, "a b c d e f g h"))
      .toDF("doc_id", "text")
    val prof = Winnowing.sketchProfile(df, "doc_id", "text", k = 4, w = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    assert(prof(0) === ((1L, 0L, 0L)))     // 3 tokens: no grams at all
    assert(prof(1)._2 === 5L)              // 8 tokens → 5 grams
    assert(prof(1)._3 >= 1L && prof(1)._3 <= 2L) // 2 windows → ≤ 2 fps
  }

  test("winnowing matches: duplicate pair found; df-capped fp excluded") {
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    val df = Seq(
      (1L, s"$passage alpha beta gamma"),
      (2L, s"$passage delta epsilon zeta"),
      (3L, "unrelated content with completely different words here")
    ).toDF("doc_id", "text")
    val out = Winnowing.matchPairs(df, "doc_id", "text",
        k = 4, w = 4, minShared = 2, dfCap = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length === 1 && out(0)._1 === 1L && out(0)._2 === 2L)
    assert(out(0)._3 >= 2L, s"shared passage yields shared fps: ${out(0)}")
    // with dfCap = 1 every shared fingerprint is dropped → no pairs
    assert(Winnowing.matchPairs(df, "doc_id", "text",
      k = 4, w = 4, minShared = 1, dfCap = 2).count() >= 1L)
  }

  test("winnowing matches: a universal passage is df-capped away while " +
      "every planted (2i, 2i+1) pair is found with >= 3 shared fps") {
    // 40 docs × 60 tokens: positions 10-19 are in EVERY doc (df = n),
    // positions 30-45 are shared by each (2i, 2i+1) pair only
    val n = 40L
    val df = (0L until n).map { id =>
      (id, (0 until 60).map { i =>
        if (i >= 10 && i < 20) s"boiler$i"
        else if (i >= 30 && i < 46) s"pair${id / 2}_$i"
        else s"u${id}_$i"
      }.mkString(" "))
    }.toDF("doc_id", "text")
    val out = Winnowing.matchPairs(df, "doc_id", "text",
        k = 4, w = 4, minShared = 3, dfCap = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(p => (p._1, p._2)).sorted.toSeq ==
      (0L until n by 2).map(a => (a, a + 1)))
    // coverage: 13 internal 4-grams → 10 full windows → ≥ ⌈10/w⌉ = 3
    assert(out.forall(_._3 >= 3L), out.toSeq)
  }

  test("bitext margin: hub correction demotes a globally-close candidate") {
    // query 1 ≡ e1, query 2 ≡ e2; hub is equally close to both
    // queries, spoke is very close to query 1 only: raw cosine ties
    // hub near 0.95+, but the margin lifts spoke (its neighbourhood
    // mean is lower) relative to hub for query 1
    def v(xs: Double*) = xs.toArray.map(_.toFloat)
    val queries = Seq((1L, v(1, 0, 0, 0)), (2L, v(0, 1, 0, 0)))
      .toDF("vec_id", "embedding")
    val corpus = Seq(
      (10L, v(0.7, 0.7, 0.1, 0.1)),  // hub: close to both queries
      (11L, v(0.99, 0.05, 0, 0)),    // spoke for query 1
      (12L, v(0, 0, 1, 0)), (13L, v(0, 0, 0, 1))
    ).toDF("vec_id", "embedding")
    val out = BitextMining.marginMine(queries, corpus,
        "vec_id", "embedding", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getInt(4)))
    val q1 = out.filter(_._1 == 1L).sortBy(_._5)
    assert(q1.head._2 === 11L, s"spoke must out-margin the hub: ${q1.toSeq}")
    val spokeMargin = q1.find(_._2 == 11L).get._4
    val hubMargin = q1.find(_._2 == 10L).get._4
    assert(spokeMargin > hubMargin)
    assert(spokeMargin > 1.0, "an outstanding pair has margin > 1")
  }

  test("bitext margin: ranks are dense per query and margins finite") {
    val emb = (0L until 20L).map(i =>
      (i, Array.tabulate(8)(d => math.sin(i * 8 + d + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val out = BitextMining.marginMine(
        emb.filter($"vec_id" < 3), emb.filter($"vec_id" >= 3),
        "vec_id", "embedding", k = 4)
      .collect()
    assert(out.length === 12) // 3 queries × top-4
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.keySet === Set(0L, 1L, 2L))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getInt(4)).sorted.toSeq === Seq(1, 2, 3, 4))
      rows.foreach(r => assert(!r.getDouble(3).isNaN && !r.getDouble(3).isInfinite))
    }
  }
}
