package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Spark counters attributed to one span through its job group. */
final class Counters {
  @volatile var jobs = 0L
  @volatile var tasks = 0L
  @volatile var cpuNs = 0L
  @volatile var gcMs = 0L
  @volatile var shuffleBytes = 0L
  @volatile var shuffleRecords = 0L
  @volatile var spillBytes = 0L
}

/** Job-group keyed listener: every job started under a span's group, and
  * every task of such a job, is counted into that span's [[Counters]].
  * Events arrive on the single listener-bus thread.
  */
final class GroupListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Counters]()
  private val groupOfStage = new ConcurrentHashMap[Int, Counters]()

  def counters(group: String): Counters =
    byGroup.computeIfAbsent(group, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    group.foreach { g =>
      val c = counters(g)
      c.jobs += 1
      e.stageIds.foreach(s => groupOfStage.put(s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = groupOfStage.get(e.stageId)
    val m = e.taskMetrics
    if (c != null && m != null) {
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }
}

/** One closed span: name, interval, parent, the operation it belongs to,
  * its Spark counters and any counts recorded at the same boundary.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long, counters: Counters,
    counts: Map[String, Double]) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder. Spans of one operation share `op`; the
  * innermost open span's id is the Spark job group, so the listener
  * attributes each job to exactly one span. Spans are only written out
  * by [[writeJsonl]], after the run.
  */
final class Tracer(spark: SparkSession) {
  private val listener = new GroupListener
  spark.sparkContext.addSparkListener(listener)

  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Int]
  private var nextId = 0
  private var op = 0

  private val plainOps = mutable.ArrayBuffer.empty[Counters]

  def beginOp(): Unit = op += 1

  def spans: Seq[Span] = done.toSeq

  /** Runs an untraced operation under a job group of its own, so that
    * its jobs are counted as well.
    */
  def plain[T](body: => T): T = {
    val group = s"plain-${plainOps.size}"
    plainOps += listener.counters(group)
    spark.sparkContext.setJobGroup(group, "", interruptOnCancel = false)
    try body finally spark.sparkContext.clearJobGroup()
  }

  /** Spark jobs of each untraced operation, in order. */
  def plainJobs: Seq[Long] = plainOps.map(_.jobs).toSeq

  /** Spark jobs of the span `name` of traced operation `op`, its
    * nested spans included.
    */
  def jobsUnder(opId: Int, name: String): Long = {
    val ofOp = done.filter(_.op == opId)
    def under(id: Int): Seq[Span] =
      ofOp.filter(_.parent == id).flatMap(s => s +: under(s.id)).toSeq
    ofOp.find(_.name == name).map(r => (r +: under(r.id)).map(_.counters.jobs).sum)
      .getOrElse(0L)
  }

  /** Times `body` as span `name`. */
  def span[T](name: String)(body: => T): T = counted(name)(body)(_ => Map.empty)

  /** Times `body` as span `name`, recording the boundary counts that
    * `counts` derives from its result.
    */
  def counted[T](name: String)(body: => T)(counts: T => Map[String, Double]): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    open.push(id)
    sc.setJobGroup(s"span-$id", name, interruptOnCancel = false)
    val t0 = System.nanoTime()
    val result =
      try body
      finally {
        open.pop()
        open.headOption match {
          case Some(p) => sc.setJobGroup(s"span-$p", "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    val t1 = System.nanoTime()
    done += Span(id, parent, op, name, t0, t1, listener.counters(s"span-$id"),
      counts(result))
    result
  }

  def writeJsonl(file: File): Unit = {
    val w = new PrintWriter(file)
    try done.foreach { s =>
      val c = s.counters
      val counts = s.counts.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      w.println(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs},""" +
        s""""jobs":${c.jobs},"tasks":${c.tasks},"cpu_ns":${c.cpuNs},""" +
        s""""gc_ms":${c.gcMs},"shuffle_bytes":${c.shuffleBytes},""" +
        s""""shuffle_records":${c.shuffleRecords},""" +
        s""""spill_bytes":${c.spillBytes},"counts":{$counts}}""")
    }
    finally w.close()
  }
}
