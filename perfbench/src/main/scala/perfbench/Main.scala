package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Benchmark JVM: sets up a session the program's way, runs one workload
  * as a closed loop for a measured number of seconds, checks each
  * operation's outputs outside the timed window, and writes the metrics
  * to `--out` (and, traced, the spans next to it).
  *
  * Args: --workload W --seconds S --trace 0|1 --inputs DIR --work DIR --out FILE
  */
object Main {
  /** Set-ups per run; `setup_s` is their median. Only the first is timed
    * from JVM start, so the median is a warm in-JVM re-setup: a new
    * session plus the warm-up. The first, cold one is reported, traced,
    * as `bench.setup_cold_s`.
    */
  val SetupRounds = 3
  /** Fewest operations a run measures, however long they take; a traced
    * run also makes at least `MinTraced` traced ones.
    */
  val MinOps = 3
  val MinTraced = 2

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val inputs = new File(opt("inputs"))
    val work = new File(opt("work"))
    val workload: Workload = opt("workload") match {
      case "query-mix" => new QueryMixWorkload(inputs, work)
      case w if w.startsWith("pipeline-") => new PipelineWorkload(inputs, work)
      case w => sys.error(s"unknown workload $w")
    }

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    var spark: SparkSession = null
    val setups = (1 to SetupRounds).map { round =>
      val t0 = if (round == 1) jvmStartMs else System.currentTimeMillis()
      if (spark != null) spark.stop()
      spark = session()
      workload.reset("warmup")
      workload.warmUp(spark)
      val dt = (System.currentTimeMillis() - t0) / 1e3
      System.err.println(f"[perfbench] setup $round: $dt%.3f s")
      dt
    }

    workload.reset("timed")
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val plain = ArrayBuffer.empty[Double]
    val counts = ArrayBuffer.empty[Map[String, Double]]
    val gcPerTraced = ArrayBuffer.empty[Double]
    var attempted, failed = 0
    val failedOps = mutable.Set.empty[Int]
    var heapPeak = 0L
    var measured = 0.0
    while (measured < seconds || attempted < MinOps ||
        (traced && counts.size < MinTraced)) {
      // a traced run alternates plain and traced operations, each traced
      // one on the input of the plain one before it
      val t = tracer.filter(_ => attempted % 2 == 1)
      val input = if (traced) attempted / 2 else attempted
      val gc0 = gcSeconds()
      val t0 = System.nanoTime()
      val ok =
        try {
          (tracer, t) match {
            case (_, Some(tr)) => tr.beginOp(); workload.tracedOp(spark, tr, input)
            case (Some(tr), None) => tr.plain(workload.op(spark, input))
            case (None, None) => workload.op(spark, input)
          }
          true
        } catch { case e: Exception => e.printStackTrace(); false }
      val dt = (System.nanoTime() - t0) / 1e9
      if (t.isDefined) gcPerTraced += gcSeconds() - gc0
      measured += dt
      attempted += 1
      System.err.println(f"[perfbench] op $attempted${if (t.isDefined) " (traced)" else ""}: $dt%.3f s")
      if (t.isEmpty) plain += dt
      val checked =
        if (!ok) Checked(Seq("operation threw"), Map.empty)
        else try workload.check(spark)
        catch { case e: Exception => e.printStackTrace(); Checked(Seq(s"check threw: $e"), Map.empty) }
      checked.failures.foreach(f => System.err.println(s"[perfbench] op $attempted failed: $f"))
      if (checked.failures.nonEmpty) failedOps += attempted - 1
      if (t.isDefined) counts += checked.counts
      // post-GC occupancy between operations: the live set an operation leaves
      System.gc()
      heapPeak = math.max(heapPeak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    }
    Thread.sleep(1000) // let the listener bus deliver the last task ends

    // tracedOp is a copy of op's calls: a traced operation that makes other
    // jobs than its plain twin on the same input no longer times op
    tracer.foreach { tr =>
      for (k <- 1 to counts.size if !failedOps(2 * k - 1) && !failedOps(2 * k - 2)) {
        val (tracedJobs, plainJobs) = (tr.jobsUnder(k, workload.opSpan), tr.plainJobs(k - 1))
        if (tracedJobs != plainJobs) {
          System.err.println(s"[perfbench] op ${2 * k} failed: traced ${workload.opSpan} " +
            s"ran $tracedJobs jobs, its plain twin $plainJobs")
          failedOps += 2 * k - 1
        }
      }
    }
    failed = failedOps.size

    val metrics: Map[String, Double] = tracer match {
      case None => Map(
        "setup_s" -> median(setups),
        "op_p50_s" -> median(plain.toSeq),
        "input_rows_per_s" -> workload.inputRowsPerOp * plain.size / plain.sum,
        "heap_peak_mb" -> heapPeak / 1048576.0)
      case Some(tr) =>
        tr.writeJsonl(new File(work, "spans.jsonl"))
        layerMetrics(tr.spans, counts.toSeq) ++ Map(
          "bench.setup_cold_s" -> setups.head,
          "jvm.gc_s" -> median(gcPerTraced.toSeq),
          "bench.trace_overhead" ->
            (median(tr.spans.filter(_.name == workload.opSpan).map(_.seconds)) /
              median(plain.toSeq) - 1.0))
    }
    spark.stop()

    val writer = new PrintWriter(new File(opt("out")))
    try writer.write(
      s"""{"attempted": $attempted, "failed": $failed, "metrics": {""" +
        metrics.toSeq.sorted.map { case (k, v) => s""""$k": $v""" }.mkString(", ") + "}}\n")
    finally writer.close()
  }

  /** The program's own session factory, sized to the machine. The
    * factory leaves ANSI mode on, under which the generated edge rows'
    * casts throw, so it is switched off at runtime.
    */
  private def session(): SparkSession = {
    val spark = GraftSession.local(Runtime.getRuntime.availableProcessors, "perfbench")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    spark
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per span name: the median over traced operations of its summed
    * time and Spark counters; per count: its median over operations.
    */
  private def layerMetrics(spans: Seq[Span], counts: Seq[Map[String, Double]]): Map[String, Double] = {
    val perOp = spans.groupBy(_.op).values.toSeq
    val names = spans.map(_.name).distinct
    val timed = names.flatMap { n =>
      def m(f: Span => Double) = median(perOp.map(_.filter(_.name == n).map(f).sum))
      Seq(
        s"${n}_s" -> m(_.seconds),
        s"$n.jobs" -> m(_.counters.jobs.toDouble),
        s"$n.tasks" -> m(_.counters.tasks.toDouble),
        s"$n.cpu_s" -> m(_.counters.cpuNs / 1e9),
        s"$n.gc_s" -> m(_.counters.gcMs / 1e3),
        s"$n.shuffle_bytes" -> m(_.counters.shuffleBytes.toDouble),
        s"$n.shuffle_records" -> m(_.counters.shuffleRecords.toDouble),
        s"$n.spill_bytes" -> m(_.counters.spillBytes.toDouble)) ++
        spans.filter(_.name == n).flatMap(_.counts.keys).distinct.map { k =>
          k -> median(perOp.map(_.filter(_.name == n).flatMap(_.counts.get(k)).sum))
        }
    }
    val counted = counts.flatMap(_.keys).distinct.map(k => k -> median(counts.flatMap(_.get(k))))
    (timed ++ counted).toMap
  }
}
