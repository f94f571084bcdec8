package graft

import graft.core.GraftSession

/** Times a single declared query in isolation:
  * `runMain graft.BenchOne <queryName> [reps]` with
  * `SPARK_GRAFT_SF_DIR` set — the per-query iteration loop the full
  * Bench is too slow for.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val reps = if (args.length > 1) args(1).toInt else 2
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(appName = "graft-bench-one")
    val q = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      val t0 = System.nanoTime()
      // SAME sink as the full Bench (noop write): count() would let
      // Catalyst prune every output-only expression subtree and
      // under-report queries whose cost is in the projected columns
      // (q143 reads 0.6 s under count vs its true 2.4 s materialized)
      q(spark, sfDir).write.mode("overwrite").format("noop").save()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[benchone] $name rep$i: $sec%.2f s")
      // same per-rep cleanup as Bench.runOnce (apples-to-apples):
      // drop leaked result-checkpoint blocks before the next rep
      spark.sharedState.cacheManager.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }
}
