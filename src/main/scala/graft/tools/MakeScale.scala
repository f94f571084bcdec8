package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.GraftSession

/** Builds a k× scaled copy of a testdata dir for the cross-cutting
  * scale leg (r12 verdict #3: one real-data 10× board catches the
  * composition effects — AQE coalescing, spill thresholds, broadcast
  * regime flips — that per-operator synthetic probes can't).
  *
  * Shape: each fact/dim table is the union of k key-offset replicas.
  * Offsets are per-key-family (computed once from the source maxima),
  * and every foreign key in a replica shifts by the SAME offset as
  * its referenced table, so referential integrity and per-key
  * cardinalities survive exactly — joins meet the same matches, 10×
  * as often. nation/region stay fixed (the TPC-H scaling rule).
  * Deliberate non-goals, adjudicated in BASELINE.md: document texts
  * replicate as per-copy ROTATIONS (length-preserving, so `n_chars`
  * stays true; exact-hash dedup sees distinct rows, near-dup ops see
  * k-clusters of near-identical docs — the honest worst shape for an
  * LSH family at 10×), and each embedding replica perturbs one
  * dimension by a copy-specific 1e-3 step so the lattice keeps
  * vectors distinct.
  *
  * Usage: runMain graft.tools.MakeScale <srcDir> <outDir> <k>
  */
object MakeScale {

  def main(args: Array[String]): Unit = {
    val Array(src, out, kStr) = args
    val k = kStr.toInt
    require(k >= 1)
    val spark = GraftSession.local(appName = "graft-make-scale")

    def tbl(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).first().getLong(0) + 1L

    val oCust = maxOf(tbl("customer"), "c_custkey")
    val oSupp = maxOf(tbl("supplier"), "s_suppkey")
    val oPart = maxOf(tbl("part"), "p_partkey")
    val oOrd = maxOf(tbl("orders"), "o_orderkey")
    val oEvt = maxOf(tbl("events"), "event_id")
    val oUsr = maxOf(tbl("events"), "user_id")
    val oDoc = maxOf(tbl("documents"), "doc_id")
    val oVec = maxOf(tbl("embeddings"), "vec_id")

    /** Union of k replicas of `base`, each transformed by `f(i)`. */
    def replicate(base: DataFrame)(f: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until k).map(i => f(base, i)).reduce(_ unionByName _)

    def shift(c: String, offset: Long, i: Int) =
      (col(c) + lit(offset * i)).as(c)

    val outTables: Seq[(String, DataFrame)] = Seq(
      "region" -> tbl("region"),
      "nation" -> tbl("nation"),
      "customer" -> replicate(tbl("customer")) { (d, i) =>
        d.select(shift("c_custkey", oCust, i), col("c_name"),
          col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
      },
      "supplier" -> replicate(tbl("supplier")) { (d, i) =>
        d.select(shift("s_suppkey", oSupp, i), col("s_name"),
          col("s_nationkey"), col("s_acctbal"))
      },
      "part" -> replicate(tbl("part")) { (d, i) =>
        d.select(shift("p_partkey", oPart, i), col("p_name"),
          col("p_brand"), col("p_type"), col("p_size"),
          col("p_retailprice"))
      },
      "orders" -> replicate(tbl("orders")) { (d, i) =>
        d.select(shift("o_orderkey", oOrd, i), shift("o_custkey", oCust, i),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority"))
      },
      "lineitem" -> replicate(tbl("lineitem")) { (d, i) =>
        d.select(shift("l_orderkey", oOrd, i), shift("l_partkey", oPart, i),
          shift("l_suppkey", oSupp, i), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"), col("l_discount"),
          col("l_tax"), col("l_returnflag"), col("l_linestatus"),
          col("l_shipdate"))
      },
      "events" -> replicate(tbl("events")) { (d, i) =>
        d.select(shift("event_id", oEvt, i), col("ts"),
          shift("user_id", oUsr, i), col("event_type"), col("value"),
          col("props"))
      },
      "documents" -> replicate(tbl("documents")) { (d, i) =>
        // length-preserving rotation: copy 0 is the original corpus.
        // Distinctness across replicas of ONE doc is the property the
        // scale board leans on, so the rotation must be INJECTIVE in
        // i wherever lengths allow (review r14: any fixed-stride
        // (37·i) mod len collides whenever len divides 37·(i−j), e.g.
        // len = 74 at i ∈ {1, 3} — the r13-advice fallback only fixed
        // the rot = 0 class). Rule: texts longer than 37·(k−1) chars
        // rotate by 37·i (no mod wrap — absolutely distinct); shorter
        // texts rotate by i itself — distinct whenever len ≥ k. Below
        // k chars, k distinct rotations cannot exist by pigeonhole
        // (r14 advice: i % len == 0 replicas were byte-identical to
        // copy 0, a silent exact-dup class), so THAT class appends
        // the replica index instead — distinct by construction, with
        // n_chars grown by the digits of i to match (see the nChars
        // branch below — r15 advice #2).
        val len = length(col("text"))
        val rot = when(len > lit(37 * (k - 1)), lit(37 * i))
          .otherwise(lit(i) % greatest(len, lit(1)))
        val text =
          if (i == 0) col("text")
          else when(len < lit(k), concat(col("text"), lit(i.toString)))
            .otherwise(concat(
              substring(col("text"), (rot + 1).cast("int"), len),
              substring(col("text"), lit(1), rot.cast("int"))))
        // n_chars stays TRUE on every branch (r15 advice #2): the
        // append-suffix class grows by the digits of i, so its
        // n_chars grows with it — any query asserting n_chars =
        // length(text) consistency holds on scaled data too
        val nChars =
          if (i == 0) col("n_chars")
          else when(len < lit(k),
            col("n_chars") + lit(i.toString.length))
            .otherwise(col("n_chars")).cast("long")
        d.select(shift("doc_id", oDoc, i), text.as("text"), col("lang"),
          col("source"), nChars.as("n_chars"))
      },
      "embeddings" -> replicate(tbl("embeddings")) { (d, i) =>
        val emb =
          if (i == 0) col("embedding")
          else transform(col("embedding"), (x, j) =>
            when(j === lit(i % 64), x + lit((i * 0.001).toFloat))
              .otherwise(x))
        d.select(shift("vec_id", oVec, i), emb.as("embedding"),
          col("label"))
      })

    outTables.foreach { case (name, df) =>
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      println(s"[makescale] $name written")
    }
    spark.stop()
  }
}
