package perfbench

import java.io.File

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark workload: a closed loop of operations on one session. */
trait Workload {
  /** Input rows one operation consumes. */
  def inputRowsPerOp: Double
  /** Fresh output state; `tag` separates warm-up from timed output. */
  def reset(tag: String): Unit
  def warmUp(spark: SparkSession): Unit
  /** One operation on input number `input` (the workload maps it onto
    * its inputs, cycling).
    */
  def op(spark: SparkSession, input: Int): Unit
  /** Same calls as [[op]], each layer wrapped in spans of `t`. */
  def tracedOp(spark: SparkSession, t: Tracer, input: Int): Unit
  /** The span of [[tracedOp]] that times what [[op]] does. */
  def opSpan: String
  /** Checks the outputs of the last operation; untimed. */
  def check(spark: SparkSession): Checked
}

/** Names of failed checks, and per-layer counts read off the outputs. */
final case class Checked(failures: Seq[String], counts: Map[String, Double])

/** The generator's manifest (gen.py). */
final case class Manifest(states: Int, stations: Int, snapshots: IndexedSeq[Manifest.Snapshot])

object Manifest {
  final case class Snapshot(dir: String, time: Long, states: Int, survivors: Int)

  def read(f: File): Manifest = {
    val j = new ObjectMapper().readTree(f)
    Manifest(j.get("states").asInt, j.get("stations").asInt,
      j.get("snapshots").elements().asScala.map(s =>
        Snapshot(s.get("dir").asText, s.get("time").asLong, s.get("states").asInt,
          s.get("survivors").asInt)).toIndexedSeq)
  }
}

object Files {
  private def visible(f: File): Seq[File] =
    if (!f.exists || f.getName.startsWith(".")) Nil
    else if (f.isDirectory) f.listFiles().toSeq.flatMap(visible)
    else Seq(f)

  /** Bytes of the non-hidden files under `path` (checksums excluded). */
  def bytes(path: String): Long = visible(new File(path)).map(_.length).sum

  /** Number of non-hidden files under `path`. */
  def files(path: String): Long = visible(new File(path)).size.toLong

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(deleteTree)
    f.delete()
  }
}

/** Plain-Scala references the outputs are checked against. */
object Checks {

  /** The program's Haversine (GeoFunctions.haversineKm), evaluated with
    * the same java.lang.Math / StrictMath calls Spark generates for it.
    */
  def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = Math.toRadians(lat2 - lat1)
    val dLon = Math.toRadians(lon2 - lon1)
    val a = StrictMath.pow(Math.sin(dLat / 2), 2) +
      Math.cos(Math.toRadians(lat1)) * Math.cos(Math.toRadians(lat2)) *
        StrictMath.pow(Math.sin(dLon / 2), 2)
    2.0 * 6371.0 * Math.atan2(Math.sqrt(a), Math.sqrt(1.0 - a))
  }

  /** Brute-force nearest station, ties to the smaller (lat, lon). */
  def nearestStation(lat: Double, lon: Double,
      stations: Array[(Double, Double)]): (Double, Double) =
    stations.minBy { case (sl, so) => (haversineKm(lat, lon, sl, so), sl, so) }

  def riskOk(score: Any, category: String): Boolean = score match {
    case s: Int =>
      s >= 0 && s <= 130 &&
        category == (if (s >= 60) "HIGH" else if (s >= 30) "MEDIUM" else "LOW")
    case _ => false
  }

  /** The rule labels the phase classifier falls back to. */
  def rulePhase(alt: Any, vel: Any, vr: Any): String = {
    def d(x: Any) = x match { case v: Double => v; case _ => 0.0 }
    if (d(alt) < 300 && d(vel) < 60) "Takeoff / Landing"
    else if (d(alt) > 3000 && math.abs(d(vr)) < 2.5) "Cruise"
    else "Climb / Descent"
  }
}
