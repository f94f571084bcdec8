package graft.operators

import org.apache.spark.sql.functions.{col, sum}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** PQ encode + ADC search. */
class ProductQuantizationSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("encode: nearest code wins, ties to the smaller code") {
    val subVecs = Seq((1L, 0, Seq(0L))).toDF("id", "m", "sub")
    val cb = Seq((0, 0L, Seq(1000L)), (0, 1L, Seq(-1000L)))
      .toDF("m", "code", "c3")
    val got = ProductQuantization.encode(subVecs, "id", cb)
      .select("code").as[Long].collect()
    assert(got.toSeq === Seq(0L))
  }

  test("adcTopK: a self-codebook corpus makes ADC exact; the cut is " +
      "ranked and self-free") {
    // 8 vectors, k = 8 → the codebook IS the corpus, every vector
    // encodes to itself (zero reconstruction error), so ADC must
    // equal the exact lattice distance on every returned pair
    val vecs = (0 until 8).map(i =>
      (i.toLong, Seq(i.toFloat, i + 0.5f, 2f * i, -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val out = ProductQuantization.adcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3,
      cbSalt = "t_cb", qSalt = "t_q").collect()
    assert(out.length === 6)
    for (r <- out) assert(r.getLong(3) === r.getLong(4))
    for ((q, rows) <- out.groupBy(_.getLong(0))) {
      val sorted = rows.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq === Seq(1, 2, 3))
      val dists = sorted.map(_.getLong(3)).toSeq
      assert(dists === dists.sorted)
      assert(rows.forall(_.getLong(2) !== q))
    }
  }

  test("planted twins: with zero encoding error every query's rank-1 " +
      "sits at ADC distance 0 — flat, IVF-pruned and residual IVFADC") {
    // 8 distinct vectors, each with an exact twin (id 2j and 2j+1); a
    // 16-code book holds every corpus (and residual) subvector, so the
    // twin reconstructs the query exactly, and it shares the query's
    // coarse cell, so pruning (nprobe < nlist) cannot lose it
    val vecs = (0 until 16).map { i =>
      val j = i / 2
      (i.toLong, Seq(j.toFloat, j + 0.5f, 2f * j, -j.toFloat))
    }
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val nq = 6
    def rankOne(df: org.apache.spark.sql.DataFrame) =
      df.filter(col("rank") === 1).select("adc_dist").as[Long].collect()
    val flat = rankOne(ProductQuantization.adcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 16, nQueries = nq, topK = 3,
      cbSalt = "t_cb", qSalt = "t_q"))
    val ivf = rankOne(ProductQuantization.ivfAdcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 16, nQueries = nq, topK = 3,
      nlist = 4, nprobe = 2, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf"))
    val residual = rankOne(ProductQuantization.ivfAdcResidualTopK(lattice,
      "vec_id", dims = 4, m = 2, k = 16, nQueries = nq, topK = 3,
      nlist = 4, nprobe = 2, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf"))
    for ((name, d) <- Seq("flat" -> flat, "ivf" -> ivf, "residual" -> residual))
      assert(d.length == nq && d.forall(_ == 0L), s"$name: ${d.toSeq}")
  }

  test("residual IVFADC with encoding error: every rank-1 lies in the " +
      "exact [min probed-cell floor, own-cell floor] sandwich") {
    // 16 random vectors, each with a twin (id 2j, 2j+1), coded by only
    // k = 4 residual codes. A probed cell's floor is the query
    // residual's min-code sum Σ_m min_code ‖qres_m − c‖²: no candidate
    // scored in that cell can undercut it, and the twin (same cell,
    // same residual) achieves the own-cell floor
    val rnd = new scala.util.Random(5L)
    val base = Seq.fill(16)(Seq.fill(4)(rnd.nextInt(4001) / 1000f - 2f))
    val vecs = (0 until 32).map(i => (i.toLong, base(i / 2)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val (m, subDim, k, nlist, nprobe, nq) = (2, 2, 4, 4, 2, 8)
    val v3 = lattice.as[(Long, Seq[Long])].collect().toMap
    def d2(a: Seq[Long], b: Seq[Long]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    def minus(a: Seq[Long], b: Seq[Long]) = a.zip(b).map { case (x, y) => x - y }
    val cents = ProductQuantization.mdRanked(lattice, "vec_id", nlist, "t_ivf")
      .select(col("rank0"), col("v3")).as[(Long, Seq[Long])].collect().toSeq
    def byDist(v: Seq[Long]) = cents.sortBy { case (c, cv) => (d2(v, cv), c) }
    val residuals = v3.map { case (id, v) => (id, minus(v, byDist(v).head._2)) }
    val codebook = ProductQuantization.subspaces(
        ProductQuantization.mdRanked(residuals.toSeq.toDF("vec_id", "v3"),
          "vec_id", k, "t_cb").select(col("rank0").as("code"), col("v3")),
        m, subDim, out = "c3")
      .select("m", "c3").as[(Int, Seq[Long])].collect().groupBy(_._1)
    def floor(qres: Seq[Long]) = (0 until m).map { j =>
      codebook(j).map(c => d2(qres.slice(j * subDim, (j + 1) * subDim), c._2)).min
    }.sum
    val got = ProductQuantization.ivfAdcResidualTopK(lattice, "vec_id",
        dims = 4, m = m, k = k, nQueries = nq, topK = 3, nlist = nlist,
        nprobe = nprobe, cbSalt = "t_cb", qSalt = "t_q", ivfSalt = "t_ivf")
      .filter(col("rank") === 1).select("q_id", "adc_dist")
      .as[(Long, Long)].collect()
    assert(got.length == nq)
    for ((q, adc) <- got) {
      val floors = byDist(v3(q)).take(nprobe).map(c => floor(minus(v3(q), c._2)))
      assert(adc >= floors.min && adc <= floors.head,
        s"query $q: rank-1 $adc outside [${floors.min}, ${floors.head}]")
    }
    // the k = 4 book cannot hold 16 distinct residuals: real error
    assert(residuals.values.toSeq.distinct.exists(r => floor(r) > 0L))
  }

  test("adcTopK: the |Q| regime guard fires past maxAdcQueries with " +
      "the IVF cutover in the message") {
    val vecs = (0 until 8).map(i =>
      (i.toLong, Seq(i.toFloat, i + 0.5f, 2f * i, -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      ProductQuantization.adcTopK(lattice, "vec_id",
        dims = 4, m = 2, k = 8, nQueries = 5, topK = 3,
        cbSalt = "t_cb", qSalt = "t_q", maxAdcQueries = 4)
    }
    assert(e.getMessage.contains("ivfAdcTopK"))
    // at the cap it still runs (the guard is >, not >=)
    assert(ProductQuantization.adcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 4, topK = 3,
      cbSalt = "t_cb", qSalt = "t_q", maxAdcQueries = 4).count() > 0)
  }

  test("ivfAdcTopK: nprobe = nlist degenerates to the flat ADC cut; " +
      "pruning keeps only probed-cell candidates") {
    val vecs = (0 until 8).map(i =>
      (i.toLong, Seq(i.toFloat, i + 0.5f, 2f * i, -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    // probing every cell = no pruning: must equal adcTopK row for row
    val flat = ProductQuantization.adcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3,
      cbSalt = "t_cb", qSalt = "t_q").collect().toSet
    val all = ProductQuantization.ivfAdcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3,
      nlist = 4, nprobe = 4, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf").collect().toSet
    assert(all === flat)
    // real pruning: the pruned cut is a subset of each query's
    // candidates, self-free, ranked densely from 1, ADC still exact
    // (self-codebook) on every returned pair
    val pruned = ProductQuantization.ivfAdcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3,
      nlist = 4, nprobe = 2, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf").collect()
    for (r <- pruned) assert(r.getLong(3) === r.getLong(4))
    for ((q, rows) <- pruned.groupBy(_.getLong(0))) {
      assert(rows.forall(_.getLong(2) !== q))
      assert(rows.map(_.getInt(1)).sorted.toSeq ===
        (1 to rows.length).toSeq)
    }
  }

  test("ivfAdcTopK: the derived nlist (ceil-sqrt clamped to 16) equals " +
      "the explicit value") {
    val vecs = (0 until 8).map(i =>
      (i.toLong, Seq(i.toFloat, i + 0.5f, 2f * i, -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    // ceil(sqrt(8)) = 3 clamps to the floor of 16
    val derived = ProductQuantization.ivfAdcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3, nprobe = 2,
      cbSalt = "t_cb", qSalt = "t_q", ivfSalt = "t_ivf")
      .collect().toSet
    val explicit = ProductQuantization.ivfAdcTopK(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3, nprobe = 2,
      cbSalt = "t_cb", qSalt = "t_q", ivfSalt = "t_ivf", nlist = 16)
      .collect().toSet
    assert(derived === explicit)
  }

  test("ivfAdcRecall: full probing recalls the exact cut fully; " +
      "pruned recall never exceeds it") {
    val vecs = (0 until 8).map(i =>
      (i.toLong, Seq(i.toFloat, i + 0.5f, 2f * i, -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val full = ProductQuantization.ivfAdcRecall(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3,
      nlist = 4, nprobe = 4, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf").collect()
    for (r <- full) assert(r.getDouble(3) === 1.0)
    val pruned = ProductQuantization.ivfAdcRecall(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3,
      nlist = 4, nprobe = 1, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf").collect()
    for (r <- pruned) {
      assert(r.getLong(1) === 3L)
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
  }

  test("adcRecall: a self-codebook corpus recalls the exact cut fully") {
    val vecs = (0 until 8).map(i =>
      (i.toLong, Seq(i.toFloat, i + 0.5f, 2f * i, -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val out = ProductQuantization.adcRecall(lattice, "vec_id",
      dims = 4, m = 2, k = 8, nQueries = 2, topK = 3,
      cbSalt = "t_cb", qSalt = "t_q").collect()
    assert(out.length === 2)
    for (r <- out) {
      assert(r.getLong(1) === 3L && r.getLong(2) === 3L)
      assert(r.getDouble(3) === 1.0)
    }
  }

  test("ivfAdcResidualNprobeSweep: each plan row aggregates the " +
      "per-query residual recall at that nprobe; candidates grow with " +
      "probe width; malformed plans are rejected") {
    val vecs = (0 until 32).map(i =>
      (i.toLong, Seq(i.toFloat, (i % 7).toFloat, 2f * (i % 5), -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val plans = Seq(1, 2, 4)
    val sweep = ProductQuantization.ivfAdcResidualNprobeSweep(lattice,
      "vec_id", dims = 4, m = 2, k = 8, nQueries = 4, topK = 3,
      nprobes = plans, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf", nlist = 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(sweep.keySet === plans.toSet)
    // the sweep's shared-frame cut must agree with the standalone
    // per-plan operator: same overlap totals, recall = one division
    for (np <- plans) {
      val rec = ProductQuantization.ivfAdcResidualRecall(lattice,
        "vec_id", dims = 4, m = 2, k = 8, nQueries = 4, topK = 3,
        nprobe = np, cbSalt = "t_cb", qSalt = "t_q",
        ivfSalt = "t_ivf", nlist = 4)
        .agg(sum(col("k_exact")), sum(col("n_overlap"))).head()
      val (cand, ke, ov, mr) = sweep(np)
      assert(ke === rec.getLong(0), s"nprobe $np k_exact")
      assert(ov === rec.getLong(1), s"nprobe $np overlap")
      assert(mr === ov.toDouble / ke.toDouble)
      assert(cand > 0L)
    }
    val cands = plans.map(sweep(_)._1)
    assert(cands === cands.sorted && cands.last > cands.head,
      s"candidates must grow with probe width: $cands")
    // plans must be distinct ascending and fit under nlist
    intercept[IllegalArgumentException] {
      ProductQuantization.ivfAdcResidualNprobeSweep(lattice, "vec_id",
        dims = 4, m = 2, k = 8, nQueries = 4, topK = 3,
        nprobes = Seq(2, 1), cbSalt = "t_cb", qSalt = "t_q",
        ivfSalt = "t_ivf", nlist = 4)
    }
    intercept[IllegalArgumentException] {
      ProductQuantization.ivfAdcResidualNprobeSweep(lattice, "vec_id",
        dims = 4, m = 2, k = 8, nQueries = 4, topK = 3,
        nprobes = Seq(1, 8), cbSalt = "t_cb", qSalt = "t_q",
        ivfSalt = "t_ivf", nlist = 4)
    }
  }

  test("ivfAdcResidualNprobeSelect: commits the smallest qualifying " +
      "plan from the sweep's own table; unreachable targets fall back " +
      "to best recall with the downgrade flagged") {
    val vecs = (0 until 32).map(i =>
      (i.toLong, Seq(i.toFloat, (i % 7).toFloat, 2f * (i % 5), -i.toFloat)))
    val lattice = ProductQuantization.latticeFrame(
      vecs.toDF("vec_id", "embedding"), "vec_id", "embedding")
    val plans = Seq(1, 2, 4)
    def sel(target: Long) =
      ProductQuantization.ivfAdcResidualNprobeSelect(lattice, "vec_id",
        dims = 4, m = 2, k = 8, nQueries = 4, topK = 3,
        nprobes = plans, cbSalt = "t_cb", qSalt = "t_q",
        ivfSalt = "t_ivf", nlist = 4, minRecallMicro = target)
        .collect()
    val sweep = ProductQuantization.ivfAdcResidualNprobeSweep(lattice,
      "vec_id", dims = 4, m = 2, k = 8, nQueries = 4, topK = 3,
      nprobes = plans, cbSalt = "t_cb", qSalt = "t_q",
      ivfSalt = "t_ivf", nlist = 4)
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    // target = the widest plan's exact micro recall, so at least that
    // plan qualifies; the commit must be the SMALLEST qualifier and
    // carry that plan's sweep row verbatim
    val (_, keW, ovW, _) = sweep(plans.last)
    val target = ovW * 1000000L / keW
    val qualifying = plans.filter(np =>
      sweep(np)._3 * 1000000L >= target * sweep(np)._2)
    assert(qualifying.nonEmpty)
    val got = sel(target)
    assert(got.length === 1)
    val r = got.head
    assert(r.getBoolean(5), "chosen plan must be flagged qualified")
    assert(r.getInt(0) === qualifying.min)
    val (c, ke, ov, mr) = sweep(r.getInt(0))
    assert((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      === ((c, ke, ov, mr)))
    // recall cannot exceed 1, so a >10⁶ target disqualifies every
    // plan → fallback = largest overlap, ties to the smaller nprobe,
    // qualified = false
    val fb = sel(1000001L).head
    assert(!fb.getBoolean(5), "fallback must be flagged unqualified")
    assert(fb.getInt(0) === plans.minBy(np => (-sweep(np)._3, np)))
  }
}
