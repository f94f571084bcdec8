package graft.operators

import org.apache.spark.sql.functions.{col, lit, pmod}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Integer-lattice HITS. */
class HitsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("hand-walked 2-round fixed point on a bipartite graph; pure " +
      "hubs/authorities score exact zero on the other side") {
    // s1 -> {p1, p2}, s2 -> {p1}; N = 4, scale = 4e6
    // unnormalized: r1 a=(2e6,1e6) h=(3e6,2e6);
    //               r2 a=(5e6,3e6) h=(8e6,5e6)
    // closing L1 normalization: a = (2500000, 1500000),
    //   h = (8·4e12 div 13e6, 5·4e12 div 13e6) = (2461538, 1538461)
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L))
      .toDF("src", "dst")
    val out = Hits.microHits(edges, iterations = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(1L) === ((2461538L, 0L)))
    assert(out(2L) === ((1538461L, 0L)))
    assert(out(10L) === ((0L, 2500000L)))
    assert(out(11L) === ((0L, 1500000L)))
  }

  test("convergeEarly: a perfect matching repeats its boundary state " +
      "and stops at round 4 of 6, bit-equal to the full run") {
    // matching 1→11, 2→12, 3→13: every half-step carries 10⁶ per
    // node, but the FIRST boundary renormalizes the 3-src hub frame
    // to scale N·10⁶ (N = 6 nodes) = 2·10⁶ each ≠ the 10⁶ initial
    // state, so the exit legitimately waits for the second boundary
    // (h4n == h2n) — the test is support-aware, not magnitude-naive
    val edges = Seq((1L, 11L), (2L, 12L), (3L, 13L)).toDF("src", "dst")
    val plain = Hits.microHits(edges, iterations = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val early = Hits.microHits(edges, iterations = 6, convergeEarly = true)
      .collect()
    assert(early.forall(_.getInt(3) == 4))
    assert(early.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == plain)
  }

  test("convergeEarly: a non-converged bipartite graph runs all 4 " +
      "rounds, bit-equal to the plain path") {
    val edges = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("src", "dst")
    val plain = Hits.microHits(edges, iterations = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val early = Hits.microHits(edges, iterations = 4, convergeEarly = true)
      .collect()
    assert(early.forall(_.getInt(3) == 4))
    assert(early.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet == plain)
  }

  test("duplicate edges collapse before the rounds") {
    val edges = Seq((1L, 10L), (1L, 10L), (2L, 10L)).toDF("src", "dst")
    val once = Hits.microHits(Seq((1L, 10L), (2L, 10L))
      .toDF("src", "dst"), 3).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dup = Hits.microHits(edges, 3).collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(once === dup)
  }

  test("complete bipartite K_{2000,500} at 4 and 8 rounds: every hub " +
      "and authority exact, inside the 38-digit envelope") {
    // regularity forces hub = (N·10⁶) div S and auth = (N·10⁶) div P
    // after any round count. Growth is ×|E| = ×10⁶ per round, so a
    // 4-round unnormalized stretch overflows DECIMAL(38,0) here (the
    // normalize step raises); the 2-round stretch must hold through 8
    val (s0, p0) = (2000L, 500L)
    val edges = spark.range(s0 * p0).select(
      (col("id") / p0).cast("long").as("src"),
      (lit(s0) + pmod(col("id"), lit(p0))).as("dst"))
    val hub = (s0 + p0) * 1000000L / s0
    val auth = (s0 + p0) * 1000000L / p0
    for (rounds <- Seq(4, 8)) {
      val out = Hits.microHits(edges, rounds).collect()
      assert(out.length == s0 + p0)
      assert(out.forall { r =>
        val (node, h, a) = (r.getLong(0), r.getLong(1), r.getLong(2))
        if (node < s0) h == hub && a == 0L else h == 0L && a == auth
      }, s"$rounds rounds: regular-graph invariant broken " +
        s"(want hub=$hub auth=$auth)")
    }
  }
}
