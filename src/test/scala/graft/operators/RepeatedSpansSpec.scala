package graft.operators

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RepeatedSpansSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // a 10-token passage planted in docs 1 and 2; doc 3 is clean
  private val passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"

  private def docs = Seq(
    (1L, s"one two three $passage tail1 tail2"),
    (2L, s"$passage closing words here now extra"),
    (3L, "totally different text with no shared passage at all ok")
  ).toDF("doc_id", "text")

  test("planted shared passage becomes one maximal span per doc") {
    val spans = RepeatedSpans.repeatedSpans(docs, "doc_id", "text",
        k = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(4)))
      .sortBy(_._1)
    // doc 1: passage occupies tokens [3, 13) → flagged 8-gram starts
    // at 3..5 merge into one span [3, 13); doc 2: [0, 10)
    assert(spans.toSeq === Seq((1L, 3, 13, 3L), (2L, 0, 10, 3L)))
  }

  test("gap > k splits spans; gap = k merges") {
    // two copies of an 8-token phrase separated by exactly 8 tokens of
    // unique filler in doc 10 → flagged starts at 0 and 16: gap 16 > 8
    // splits; doc 11 has them back-to-back → starts 0 and 8: gap 8 merges
    val p = "p1 p2 p3 p4 p5 p6 p7 p8"
    val df = Seq(
      (10L, s"$p f1 f2 f3 f4 f5 f6 f7 f8 $p"),
      (11L, s"$p $p"),
      (12L, s"$p only one copy of the phrase here")
    ).toDF("doc_id", "text")
    val spans = RepeatedSpans.repeatedSpans(df, "doc_id", "text",
        k = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(t => (t._1, t._2))
    assert(spans.toSeq === Seq(
      (10L, 0, 8), (10L, 16, 24), // split: two exact-phrase spans
      (11L, 0, 16),               // merged: one contiguous span
      (12L, 0, 8)))
  }

  test("budget accounts every document, including span-free ones") {
    val b = RepeatedSpans.repeatedTokenBudget(docs, "doc_id", "text",
        k = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).sortBy(_._1)
    assert(b.length === 3)
    assert(b(0) === ((1L, 15L, 10L, 1L, 0.666667))) // round(10/15, 6)
    assert(b(1)._3 === 10L)
    assert(b(2) === ((3L, 10L, 0L, 0L, 0.0)))
  }

  test("self-repetition profile: hand-computed coverage on planted docs") {
    // doc 1 "a b a b a b c": modal 2-gram "a b" (count 3, pos 0/2/4)
    //   → touching spans union [0,6) → top2 = 6/7; 5-grams all
    //   distinct → dup5 = 0; too short for 10-grams → dup10 = 0
    // doc 2 "x y z w": all grams unique; modal 2-gram = lexicographic
    //   min "x y" (pos 0) → top2 = 2/4; modal 3-gram "x y z" → 3/4
    // doc 3: a 5-gram repeated with a gap — "p q r s t u u p q r s t"
    //   5-grams: pos 0 [p q r s t], pos 7 [p q r s t] repeat →
    //   spans [0,5) ∪ [7,12) → dup5 = 10/12
    val docs = Seq(
      (1L, "a b a b a b c"),
      (2L, "x y z w"),
      (3L, "p q r s t u u p q r s t")).toDF("doc_id", "text")
    val got = RepeatedSpans.selfRepetitionProfile(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getDouble(6), r.getBoolean(7)))).toMap
    val (n1, t2a, _, _, d5a, d10a, keep1) = got(1L)
    assert(n1 == 7L && t2a == math.rint(6.0 / 7.0 * 1e6) / 1e6)
    assert(d5a == 0.0 && d10a == 0.0 && !keep1) // top2 0.857 ≥ 0.20
    val (n2, t2b, t3b, _, _, _, _) = got(2L)
    assert(n2 == 4L && t2b == 0.5 && t3b == 0.75)
    val (n3, _, _, _, d5c, _, keep3) = got(3L)
    assert(n3 == 12L && d5c == math.rint(10.0 / 12.0 * 1e6) / 1e6)
    assert(!keep3)
  }

  test("no repeats → empty spans") {
    val df = Seq((1L, "a b c d e f g h i j"), (2L, "k l m n o p q r s t"))
      .toDF("doc_id", "text")
    assert(RepeatedSpans.repeatedSpans(df, "doc_id", "text").count() === 0L)
  }

  test("a universal passage (in every doc) is one span [20, 30) per doc") {
    // 40 docs × 100 tokens, unique per (doc, pos) except positions
    // [20, 30): the df = n worst case the frequent-gram flag-join
    // must handle without a pair-join
    val n = 40L
    val df = (0L until n).map { id =>
      (id, (0 until 100).map(i =>
        if (i >= 20 && i < 30) s"boiler$i" else s"u${id}_$i").mkString(" "))
    }.toDF("doc_id", "text")
    val spans = RepeatedSpans.repeatedSpans(df, "doc_id", "text",
        k = 8, minDocs = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
    assert(spans.sortBy(_._1).toSeq == (0L until n).map(id => (id, 20, 30)))
  }
}
