package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IncrementalDedupKmvSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("incremental near-dup: base×base pairs never surface") {
    val base = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon zeta"), // base-internal dup
      (3L, "completely different words in here now")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "alpha beta gamma delta epsilon zeta"), // dup of 1 and 2
      (11L, "totally novel content nothing shared")
    ).toDF("doc_id", "text")
    val out = PortableMinHash.incrementalNearDupPairs(
        base, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .sortBy(t => (t._1, t._2))
    // (1,2) is base×base: structurally excluded; (1,10) and (2,10)
    // are batch_vs_base
    assert(out.toSeq === Seq(
      (1L, 10L, "batch_vs_base"), (2L, 10L, "batch_vs_base")))
  }

  test("incremental near-dup: batch-internal pairs labeled as such") {
    val base = Seq((1L, "some base document with words")).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "duplicated batch text one two three"),
      (11L, "duplicated batch text one two three")
    ).toDF("doc_id", "text")
    val out = PortableMinHash.incrementalNearDupPairs(
        base, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
    assert(out.toSeq === Seq((10L, 11L, "batch_internal")))
  }

  test("kmv set ops: small exact cohorts give exact union/intersection") {
    // A = {0..29}, B = {20..49}: union 50, intersection 10 — both
    // cohorts under k=64, so the sketch degenerates to exact sets
    val rows = (0L until 30L).map(u => ("a", u)) ++
      (20L until 50L).map(u => ("b", u))
    val out = Kmv.setOperations(rows.toDF("c", "u"), "c", "u",
        "a", "b", k = 64)
      .collect()(0)
    assert(out.getLong(2) === 30L && out.getLong(3) === 30L)
    assert(out.getDouble(4) === 50.0, s"exact union: $out")
    // ρ = 10/50 over the exact merged set → 0.2 · 50 = 10
    assert(out.getDouble(5) === 10.0, s"exact intersection: $out")
  }

  test("kmv timeline: growth curve is exact below k, monotone always") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L + 1000L)
    // 10 new values on each of 5 days → exact counts 10,20,...,50
    val rows = (0L until 50L).map(v => (v, ts(v / 10)))
    val out = Kmv.distinctTimeline(rows.toDF("user_id", "ts"),
        "user_id", "ts", k = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(_._1)
    assert(out.map(_._2).toSeq === Seq(10L, 20L, 30L, 40L, 50L))
    assert(out.map(_._3).toSeq === Seq(10.0, 20.0, 30.0, 40.0, 50.0),
      "below k the sketch is exact")
  }

  test("kmv set ops: large cohorts estimate within the k=64 error band") {
    val rows = (0L until 3000L).map(u => ("a", u)) ++
      (1000L until 4000L).map(u => ("b", u))
    val out = Kmv.setOperations(rows.toDF("c", "u"), "c", "u",
        "a", "b", k = 64).collect()(0)
    val (unionEst, interEst) = (out.getDouble(4), out.getDouble(5))
    // true union 4000, intersection 2000; 3/√64 = 37.5% relative band
    assert(math.abs(unionEst / 4000.0 - 1.0) < 0.375, s"union: $out")
    assert(interEst > 500.0 && interEst < 3500.0, s"intersect: $out")
  }

  test("incremental near-dup: exactly the planted batch-vs-base pairs " +
      "surface from a 200-doc base and a 40-doc batch") {
    // doc text is a 40-token stream drawn from its seed; batch docs
    // 1000-1009 replay base docs 0-9, the other 30 are novel
    def text(seed: Long): String = {
      val rnd = new scala.util.Random(seed)
      Seq.fill(40)("w" + rnd.nextInt(1000000)).mkString(" ")
    }
    val base = (0L until 200L).map(id => (id, text(id))).toDF("doc_id", "text")
    val batch = (1000L until 1040L)
      .map(id => (id, text(if (id < 1010L) id - 1000L else id)))
      .toDF("doc_id", "text")
    val out = PortableMinHash.incrementalNearDupPairs(
        base, batch, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .toSet
    assert(out == (0L until 10L).map(i => (i, 1000L + i, "batch_vs_base")).toSet)
  }

  test("kmv timeline above k: one row per first-seen day, exact final " +
      "count, non-decreasing estimate, final day inside 3/sqrt(k)") {
    def ts(day: Long) = new java.sql.Timestamp(day * 86400000L + 1000L)
    val rnd = new scala.util.Random(23L)
    // 30 days × 100 events over a 1500-value space: later days add
    // ever fewer first-seen values
    val rows = (0L until 30L).flatMap(d =>
      Seq.fill(100)((rnd.nextInt(1500).toLong, ts(d))))
    val firstSeen = rows.groupBy(_._1).map(_._2.map(_._2.getTime).min)
    val out = Kmv.distinctTimeline(rows.toDF("user_id", "ts"),
        "user_id", "ts", k = 64)
      .collect().sortBy(_.getLong(0))
    assert(out.length == firstSeen.toSet.size)
    assert(out.last.getLong(1) == rows.map(_._1).distinct.size.toLong)
    assert(out.last.getBoolean(3), s"final estimate outside 3/sqrt(k): ${out.last}")
    assert(out.sliding(2).forall(w => w(0).getDouble(2) <= w(1).getDouble(2)))
  }
}
