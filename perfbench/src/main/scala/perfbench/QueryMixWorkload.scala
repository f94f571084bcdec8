package perfbench

import java.io.{File, PrintWriter}

import scala.io.Source
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.SparkEntry

/** One operation is one pass over a fixed list of `SparkEntry.queries`,
  * each written to the noop sink, over the generated tables.
  */
final class QueryMixWorkload(inputs: File, work: File) extends Workload {
  import QueryMixWorkload._

  private val dir = new File(inputs, "tables").getAbsolutePath
  private val tableRows: Map[String, Long] =
    Using.resource(Source.fromFile(new File(inputs, "tables.tsv")))(
      _.getLines().map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap)

  override def inputRowsPerOp: Double =
    Mix.map { case (_, tables) => tables.map(tableRows).sum }.sum.toDouble

  override def opSpan: String = "queries.pass"
  override def reset(tag: String): Unit = ()
  /** Short passes keep speeding up over the first few; two passes of
    * warm-up leave the timed ones flat.
    */
  override def warmUp(spark: SparkSession): Unit = (1 to 2).foreach(op(spark, _))

  override def op(spark: SparkSession, input: Int): Unit =
    Mix.foreach { case (q, _) => run(spark, q) }

  override def tracedOp(spark: SparkSession, t: Tracer, input: Int): Unit =
    t.span(opSpan) {
      Mix.foreach { case (q, _) => t.span(s"queries.$q")(run(spark, q)) }
    }

  private def run(spark: SparkSession, q: String): Unit =
    SparkEntry.queries(q)(spark, dir).write.format("noop").mode(SaveMode.Overwrite).save()

  private var written = false

  /** Writes each query's result and oracle SQL once, for the DuckDB
    * comparison the runner makes after the JVM exits (the tables are
    * read-only, so every pass returns the same rows).
    */
  override def check(spark: SparkSession): Checked = {
    if (written) return Checked(Nil, Map.empty)
    written = true
    val out = new File(work, "query-outputs")
    out.mkdirs()
    Mix.foreach { case (q, _) =>
      SparkEntry.queries(q)(spark, dir).write.mode(SaveMode.Overwrite)
        .parquet(new File(out, q).getAbsolutePath)
    }
    Using.resource(new PrintWriter(new File(out, "oracle_sql.json")))(
      _.write(new ObjectMapper().writeValueAsString(
        Mix.map { case (q, _) => q -> SparkEntry.oracleSql(q) }.toMap.asJava)))
    Checked(Nil, Map.empty)
  }
}

object QueryMixWorkload {
  /** The queries of one pass and the tables each reads. */
  val Mix: Seq[(String, Seq[String])] = Seq(
    "q01_pricing_summary" -> Seq("lineitem"),
    "q11_join_star" -> Seq("lineitem", "orders", "customer", "nation"),
    "q21_risk_case" -> Seq("lineitem"),
    "q35_nearest_station_window" -> Seq("customer"),
    "q36_nearest_station_minby" -> Seq("customer"))
}
