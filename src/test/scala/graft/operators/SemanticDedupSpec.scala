package graft.operators

import org.apache.spark.sql.functions.{col, max}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** SemanticDedup must equal an independent plain-Scala replay of its
  * own contract: md5-rank centroid draw, index-order squared-L2
  * argmin with lower-cell ties, within-cell-only lower-id cosine
  * prune, smallest qualifying partner wins.
  */
class SemanticDedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  // two tight clusters plus an outlier; ids chosen so both clusters
  // have intra-cluster near-duplicates
  private val vecs: Seq[(Long, Seq[Float])] = Seq(
    0L -> Seq(1.0f, 0.1f, 0.0f),
    1L -> Seq(1.0f, 0.12f, 0.0f),  // near-dup of 0
    2L -> Seq(0.9f, 0.1f, 0.05f),  // near-dup of 0/1
    3L -> Seq(0.0f, 1.0f, 0.1f),
    4L -> Seq(0.0f, 1.0f, 0.12f),  // near-dup of 3
    5L -> Seq(0.1f, -0.9f, 0.9f))  // outlier

  private val Nlist = 2
  private val T = 0.95
  private val Salt = "semdedup_v1"

  /** Independent replay in plain Scala. */
  private def reference(): Map[Long, (Int, Option[Long], Boolean)] = {
    val byId = vecs.toMap.map { case (k, v) => k -> v.map(_.toDouble) }
    val centIds = vecs.map(_._1)
      .sortBy(id => (md5hex(s"$id:$Salt"), id)).take(Nlist)
    val cents = centIds.map(byId)
    def d2(a: Seq[Double], b: Seq[Double]): Double =
      a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + (x - y) * (x - y) }
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x * y }
      val na = math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x * x))
      val nb = math.sqrt(b.foldLeft(0.0)((acc, x) => acc + x * x))
      if (na == 0 || nb == 0) 0.0 else dot / (na * nb)
    }
    val cell = byId.map { case (id, v) =>
      id -> cents.zipWithIndex.minBy { case (c, i) => (d2(v, c), i) }._2
    }
    byId.keys.map { id =>
      val dups = byId.keys.filter(o =>
        o < id && cell(o) == cell(id) && cos(byId(o), byId(id)) >= T).toSeq
      val dupOf = if (dups.isEmpty) None else Some(dups.min)
      id -> ((cell(id), dupOf, dupOf.isEmpty))
    }.toMap
  }

  test("matches the independent replay: cells, dup_of, keep") {
    val df = vecs.toDF("vec_id", "embedding")
    val got = SemanticDedup.semanticDedup(df, "vec_id", "embedding",
        nlist = Nlist, threshold = T, salt = Salt)
      .select("vec_id", "cell", "dup_of", "keep")
      .collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          r.getBoolean(3))))
      .toMap
    assert(got == reference())
    // fixture sanity: at least one duplicate found and one survivor
    assert(got.values.exists(!_._3) && got.values.exists(_._3))
  }

  test("runaway cell splits at the second level: hot members spread " +
      "over sub-cells, composite ids collide with nothing, identical " +
      "pairs still caught, deterministic") {
    // 60 near-identical vectors on a tight 1-D line (one first-level
    // cell under nlist=2 captures them all: 60 > 2·targetCellSize=16)
    // plus 6 scattered; two planted identical pairs inside the hot
    // region must still dedup — identical values assign identically
    // at BOTH levels
    val hot = (0 until 60).map(j =>
      (100L + j, Seq(10f + 0.001f * j, 10f - 0.001f * j, 0f)))
    val planted = Seq(
      (300L, Seq(10.5f, 10.5f, 0f)), (301L, Seq(10.5f, 10.5f, 0f)),
      (302L, Seq(10.2f, 10.2f, 0.001f)), (303L, Seq(10.2f, 10.2f, 0.001f)))
    val cold = Seq(
      (1L, Seq(-5f, 0f, 0f)), (2L, Seq(0f, -5f, 0f)),
      (3L, Seq(0f, 0f, -5f)), (4L, Seq(-3f, -3f, 0f)),
      (5L, Seq(0f, -3f, 3f)), (6L, Seq(3f, 0f, -4f)))
    val df = (hot ++ planted ++ cold).toDF("vec_id", "embedding")
    def run() = SemanticDedup.semanticDedup(df, "vec_id", "embedding",
        nlist = 2, threshold = 0.999, salt = Salt, targetCellSize = 8L)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(4))).sortBy(_._1)
    val out = run()
    assert(out.map(_._1).toSeq == df.select("vec_id").collect()
      .map(_.getLong(0)).sorted.toSeq)
    val hotIds = (hot ++ planted).map(_._1).toSet
    val hotCells = out.filter(r => hotIds(r._1)).map(_._2).distinct
    assert(hotCells.length >= 4,
      s"oversized cell did not split: ${hotCells.toSeq}")
    // composite id arithmetic: cell mod nlist recovers the
    // first-level cell, so split ids never collide with the other
    // first-level cell's
    val cellSizes = out.groupBy(_._2).view.mapValues(_.length)
    assert(cellSizes.values.max < 30,
      s"split left a runaway cell: ${cellSizes.toMap}")
    // the scale bound: Σ|cell|² ≤ n·4·target, linear in n
    assert(cellSizes.values.map(c => c.toLong * c).sum <= out.length * 4L * 8L,
      s"quadratic cells: ${cellSizes.toMap}")
    // identical planted pairs: the higher id is ALWAYS a duplicate
    // (its twin shares every assignment decision, so they co-locate
    // at both levels and cosine is exactly 1) — dup_of is the
    // smallest qualifying cell-mate, which may be an even lower
    // hot-line id in the same sub-cell
    val byId = out.map(r => r._1 -> r).toMap
    assert(byId(301L)._3.exists(_ <= 300L) && !byId(301L)._4)
    assert(byId(303L)._3.exists(_ <= 302L) && !byId(303L)._4)
    // within every final cell exactly the minimum id survives among
    // mutually-duplicate hot members ⇒ keep-count equals cell count
    // on the tight line (all mutual cosines > 0.999)
    val lineIds = hot.map(_._1).toSet
    val lineCells = out.filter(r => lineIds(r._1))
    assert(lineCells.count(_._4) == lineCells.map(_._2).distinct.length)
    // value-determinism: a second run replays bit-identically
    assert(out.toSeq == run().toSeq)
  }

  test("adaptive nlist derives the first level from the corpus") {
    assert(SemanticDedup.derivedNlist(100L, 65536L) == 16)
    assert(SemanticDedup.derivedNlist(1000000L, 65536L) == 16)
    assert(SemanticDedup.derivedNlist(10000000L, 65536L) == 153)
    assert(SemanticDedup.derivedNlist(Long.MaxValue / 2, 65536L) == 65536)
    // derived path end-to-end: 90 vectors, target 8 → 12 clamps to 16
    val df = (0 until 90).map(j =>
      (j.toLong, Seq((j % 9).toFloat, (j % 7).toFloat, 1f)))
      .toDF("vec_id", "embedding")
    val out = SemanticDedup.semanticDedup(df, "vec_id", "embedding",
      nlist = 0, threshold = 0.9999, salt = Salt, targetCellSize = 8L)
    assert(out.count() == 90)
    assert(out.select(max(col("cell"))).head.getInt(0) < 16 * 1024)
  }

  test("an explicit nlist big enough to wrap the Int composite id " +
      "fails fast when splitting engages") {
    // 10 identical vectors all tie into cell 0 (> 2·targetCellSize=4,
    // so the split engages); nlist=3M would make cell + nlist·sub
    // overflow the 32-bit cast — the guard must fire BEFORE any
    // reassignment instead of silently merging unrelated cells
    val rows = (0L until 10L).map(i => (i, Seq(1.0f, 2.0f)))
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      SemanticDedup.semanticDedup(rows, "id", "vec",
        nlist = 3000000, targetCellSize = 2L).collect()
    }
    assert(e.getMessage.contains("composite"))
  }

  test("keep is exactly dup_of IS NULL and dup_of is a lower id") {
    val df = vecs.toDF("vec_id", "embedding")
    SemanticDedup.semanticDedup(df, "vec_id", "embedding",
        nlist = Nlist, threshold = T, salt = Salt)
      .collect().foreach { r =>
        val id = r.getLong(0)
        val dupOf = if (r.isNullAt(2)) None else Some(r.getLong(2))
        assert(r.getBoolean(4) == dupOf.isEmpty)
        dupOf.foreach(d => assert(d < id))
      }
  }

  test("thresholdCalibration: the profile-once table is monotone and " +
      "equals semanticDedup's own removal count at every threshold") {
    val df = vecs.toDF("vec_id", "embedding")
    val thresholds = Seq(0.25, 0.5, 0.75, 0.9375)
    val cal = SemanticDedup.thresholdCalibration(df, "vec_id",
        "embedding", thresholds = thresholds, nlist = Nlist, salt = Salt)
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(cal.keySet === thresholds.toSet)
    // population constant across thresholds; removal monotone
    // non-increasing in threshold
    assert(thresholds.map(cal(_)._1).distinct === Seq(vecs.size.toLong))
    val rms = thresholds.map(cal(_)._2)
    assert(rms === rms.sorted.reverse, s"not monotone: $rms")
    // each row equals the dedup operator's own removal count — the
    // sufficient-statistic contract (max lower cos >= t ⟺ removed)
    for (t <- thresholds) {
      val removed = SemanticDedup.semanticDedup(df, "vec_id",
          "embedding", nlist = Nlist, threshold = t, salt = Salt)
        .filter(!col("keep")).count()
      assert(cal(t)._2 === removed, s"threshold $t")
      assert(cal(t)._3 === removed.toDouble / vecs.size.toDouble)
    }
    intercept[IllegalArgumentException] {
      SemanticDedup.thresholdCalibration(df, "vec_id", "embedding",
        thresholds = Seq(0.5, 0.25), nlist = Nlist, salt = Salt)
    }
  }

  test("apply-at-committed-threshold: output equals semanticDedup at " +
      "exactly the committed threshold, commit carried on every row — " +
      "both the qualified and the fallback regime") {
    val df = vecs.toDF("vec_id", "embedding")
    val thresholds = Seq(0.25, 0.5, 0.75, 0.9375)
    for (budget <- Seq(600000L, 0L)) { // generous (qualifies) / impossible
      val commit = SemanticDedup.thresholdSelect(df, "vec_id", "embedding",
        thresholds = thresholds, nlist = Nlist, salt = Salt,
        maxRemovalMicro = budget).collect().head
      val (ct, cq) = (commit.getDouble(0), commit.getBoolean(4))
      val got = SemanticDedup.semanticDedupAtCommitted(df, "vec_id",
        "embedding", thresholds = thresholds, nlist = Nlist, salt = Salt,
        maxRemovalMicro = budget).collect()
      assert(got.length === vecs.size)
      got.foreach { r =>
        assert(r.getDouble(2) === ct, s"budget $budget")
        assert(r.getBoolean(6) === cq, s"budget $budget")
      }
      val viaStatic = SemanticDedup.semanticDedup(df, "vec_id", "embedding",
          nlist = Nlist, threshold = ct, salt = Salt)
        .collect().map(r => (r.getLong(0), r.getInt(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3)),
          r.getBoolean(4))).toSet
      val viaApply = got.map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        r.getBoolean(5))).toSet
      assert(viaApply === viaStatic, s"budget $budget")
    }
    // the impossible budget must have fallen back to the mildest
    // threshold, flagged — otherwise the loop above proved nothing
    // about the fallback regime
    val fb = SemanticDedup.semanticDedupAtCommitted(df, "vec_id",
      "embedding", thresholds = thresholds, nlist = Nlist, salt = Salt,
      maxRemovalMicro = 0L).collect()
    assert(fb.forall(r => r.getDouble(2) == thresholds.last && !r.getBoolean(6)))
  }

  test("apply-at-committed-threshold under the two-level scale config " +
      "agrees with semanticDedup at the committed threshold") {
    // the oversized-cell fixture from the split test: the apply path
    // must route through the SAME two-level cellAssign
    val hot = (0 until 60).map(j =>
      (100L + j, Seq(10f + 0.001f * j, 10f - 0.001f * j, 0f)))
    val cold = Seq(
      (1L, Seq(-5f, 0f, 0f)), (2L, Seq(0f, -5f, 0f)),
      (3L, Seq(0f, 0f, -5f)))
    val df = (hot ++ cold).toDF("vec_id", "embedding")
    val thresholds = Seq(0.5, 0.9999)
    val commit = SemanticDedup.thresholdSelect(df, "vec_id", "embedding",
      thresholds = thresholds, nlist = 2, salt = Salt,
      targetCellSize = 8L, maxRemovalMicro = 1000000L).collect().head
    val got = SemanticDedup.semanticDedupAtCommitted(df, "vec_id",
        "embedding", thresholds = thresholds, nlist = 2, salt = Salt,
        targetCellSize = 8L, maxRemovalMicro = 1000000L)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(3)) None else Some(r.getLong(3)),
        r.getBoolean(5))).toSet
    val ref = SemanticDedup.semanticDedup(df, "vec_id", "embedding",
        nlist = 2, threshold = commit.getDouble(0), salt = Salt,
        targetCellSize = 8L)
      .collect().map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)),
        r.getBoolean(4))).toSet
    assert(got === ref)
  }

  test("thresholdSelect: commits the most aggressive threshold within " +
      "the removal budget; an impossible budget falls back mildest, " +
      "flagged") {
    val df = vecs.toDF("vec_id", "embedding")
    val thresholds = Seq(0.25, 0.5, 0.75, 0.9375)
    val cal = SemanticDedup.thresholdCalibration(df, "vec_id",
        "embedding", thresholds = thresholds, nlist = Nlist, salt = Salt)
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2)))).toMap
    def sel(budget: Long) = SemanticDedup.thresholdSelect(df, "vec_id",
      "embedding", thresholds = thresholds, nlist = Nlist, salt = Salt,
      maxRemovalMicro = budget).collect()
    // budget = exactly the mildest threshold's share → at least one
    // qualifies; the commit is the SMALLEST qualifying threshold
    val (n, rmMild) = cal(thresholds.last)
    val budget = rmMild * 1000000L / n
    val qualifying = thresholds.filter(t =>
      cal(t)._2 * 1000000L <= budget * n)
    assert(qualifying.nonEmpty)
    val got = sel(budget)
    assert(got.length === 1)
    assert(got.head.getBoolean(4))
    assert(got.head.getDouble(0) === qualifying.min)
    assert(got.head.getLong(2) === cal(qualifying.min)._2)
    // a budget below the mildest share (when it removes anything)
    // disqualifies every plan → fallback = mildest, flagged — only
    // meaningful when rmMild > 0, which this fixture guarantees
    assert(rmMild > 0L, "fixture must have a dup at the top threshold")
    val fb = sel(budget - 1L)
    assert(fb.length === 1)
    if (qualifying.size == thresholds.size && cal(thresholds.head)._2 == rmMild) {
      // degenerate: all thresholds remove the same count — budget-1
      // disqualifies all, fallback mildest
      assert(!fb.head.getBoolean(4))
      assert(fb.head.getDouble(0) === thresholds.last)
    } else {
      // budget-1 at least disqualifies the mildest-share plans that
      // sat exactly on the budget; the commit stays consistent with
      // the calibration table by the same rule
      val q2 = thresholds.filter(t => cal(t)._2 * 1000000L <= (budget - 1L) * n)
      if (q2.isEmpty) {
        assert(!fb.head.getBoolean(4))
        assert(fb.head.getDouble(0) === thresholds.last)
      } else {
        assert(fb.head.getBoolean(4))
        assert(fb.head.getDouble(0) === q2.min)
      }
    }
  }
}
