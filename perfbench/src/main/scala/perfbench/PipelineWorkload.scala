package perfbench

import java.io.File
import java.time.LocalDateTime

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.lake.{ContractSink, JsonDirSink, LakePaths, ServingContract}
import graft.operators.NearestJoin
import graft.pipeline.{CombineJob, FileReplaySource, FormatFlights, FormatWeather,
  PipelineRunner, RunMetrics, UsageProjection}

/** Drives `PipelineRunner.runOnce` over the generated raw snapshots, one
  * snapshot per operation, the simulated clock advancing one minute per
  * run. Snapshots are replayed in order and cycled.
  */
final class PipelineWorkload(inputs: File, work: File) extends Workload {

  private val manifest = Manifest.read(new File(inputs, "manifest.json"))
  private val snaps = manifest.snapshots
  private val start = LocalDateTime.of(2026, 2, 26, 16, 0)

  private var lake: LakePaths = _
  private var sink: JsonDirSink = _
  /** Runs made on the current lake; the clock of run `i` is minute `i`. */
  private var runs = 0
  private var lastSnap: Manifest.Snapshot = _

  override def inputRowsPerOp: Double = manifest.states.toDouble
  override def opSpan: String = "pipeline.run"

  override def reset(tag: String): Unit = {
    val root = new File(work, s"lake-$tag")
    Files.deleteTree(root)
    lake = LakePaths(root.getAbsolutePath)
    sink = new JsonDirSink(s"${lake.root}/index/sky_safe/flights")
    runs = 0
  }

  private def snap(i: Int): Manifest.Snapshot = snaps(i % snaps.size)
  private def flightsSrc(i: Int) =
    new FileReplaySource(new File(inputs, s"${snap(i).dir}/flights/flights_raw.json").getAbsolutePath)
  private def weatherSrc(i: Int) =
    new FileReplaySource(new File(inputs, s"${snap(i).dir}/weather/weather_raw.json").getAbsolutePath)
  private def clock(i: Int): LocalDateTime = start.plusMinutes(i.toLong)

  override def warmUp(spark: SparkSession): Unit = op(spark, 0)

  override def op(spark: SparkSession, input: Int): Unit = {
    val at = next(input)
    new PipelineRunner(lake, flightsSrc(input), weatherSrc(input), sink).runOnce(spark, at)
  }

  /** Starts a run on snapshot `input`; returns its clock. */
  private def next(input: Int): LocalDateTime = {
    lastSnap = snap(input)
    runs += 1
    clock(runs - 1)
  }

  /** The body of `runOnce`, call for call and in the same order, each
    * layer's calls wrapped in a span; then the nearest join alone.
    */
  override def tracedOp(spark: SparkSession, t: Tracer, input: Int): Unit = {
    val i = input
    val at = next(input)
    val paths = lake
    t.span(opSpan) {
      val rawFlightsDir = paths.partitionPath("raw", "opensky", "flights", at)
      val rawWeatherDir = paths.partitionPath("raw", "open_meteo", "weather", at)
      t.counted("sources.extract") {
        flightsSrc(i).extract(spark, rawFlightsDir)
        weatherSrc(i).extract(spark, rawWeatherDir)
      }(_ => Map("sources.raw_bytes" -> (Files.bytes(rawFlightsDir) + Files.bytes(rawWeatherDir)).toDouble))

      t.span("pipeline.format") {
        val formattedFlights = FormatFlights.fromRawJson(spark, rawFlightsDir)
        val formattedWeather = FormatWeather.fromRawJson(spark, rawWeatherDir)
        val fFlightsDir = paths.partitionPath("formatted", "opensky", "flights", at)
        val fWeatherDir = paths.partitionPath("formatted", "open_meteo", "weather", at)
        formattedFlights.write.mode(SaveMode.Overwrite).parquet(fFlightsDir)
        formattedWeather.write.mode(SaveMode.Overwrite).parquet(fWeatherDir)
      }

      val (flightsDir, weatherDir) = t.span("lake.latest_partition") {
        (paths.latestPartition(spark, "formatted", "opensky", "flights").get,
          paths.latestPartition(spark, "formatted", "open_meteo", "weather").get)
      }
      val flights = spark.read.parquet(flightsDir)
      val weather = spark.read.parquet(weatherDir)
      val enrichedDir = paths.partitionPath("enriched", "sky_safe", "flights_weather", at)
      t.span("pipeline.combine") {
        val enriched = CombineJob.enrich(flights, weather)
        enriched.write.mode(SaveMode.Overwrite).parquet(enrichedDir)
      }

      val docs = t.span("pipeline.usage") {
        val usage = UsageProjection.usage(spark.read.parquet(enrichedDir))
        val usageDir = paths.partitionPath("usage", "sky_safe", "dashboard", at)
        usage.write.mode(SaveMode.Overwrite).parquet(usageDir)
        UsageProjection.latestPerAircraft(
          UsageProjection.documents(spark.read.parquet(usageDir)))
      }
      t.span("lake.upsert") {
        new ContractSink(sink, ServingContract.flightDocuments).upsert(docs, "icao24")
      }

      t.span("pipeline.metrics") {
        val row = spark.read.parquet(enrichedDir).selectExpr(
          "count(*) AS rows",
          "sum(CASE WHEN is_anomaly THEN 1 ELSE 0 END) AS anomalies").first()
        RunMetrics(row.getLong(0), if (row.isNullAt(1)) 0L else row.getLong(1))
      }
    }

    // the nearest join alone, on the partitions this run formatted
    val flights = spark.read.parquet(lake.partitionPath("formatted", "opensky", "flights", at))
    val weather = spark.read.parquet(lake.partitionPath("formatted", "open_meteo", "weather", at))
    t.span("operators.nearest") {
      NearestJoin.flightsToNearestWeather(flights, weather).write.format("noop")
        .mode(SaveMode.Overwrite).save()
    }
  }

  /** Output checks of the run just made; untimed. Returns the names of
    * the failed checks and the per-layer counts of the run.
    */
  override def check(spark: SparkSession): Checked = {
    val at = clock(runs - 1)
    val expected = lastSnap.survivors
    val failures = Seq.newBuilder[String]

    val enriched = spark.read.parquet(lake.partitionPath("enriched", "sky_safe", "flights_weather", at))
      .select("latitude", "longitude", "w_latitude", "w_longitude", "risk_score",
        "risk_category", "flight_phase", "baro_altitude", "velocity",
        "vertical_rate", "is_anomaly", "observation_time")
      .collect()
    if (enriched.length != expected)
      failures += s"enriched rows ${enriched.length} != generated rows with a position $expected"

    val stations = spark.read.parquet(lake.partitionPath("formatted", "open_meteo", "weather", at))
      .select("latitude", "longitude").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    var wrongStation, wrongRisk, stale = 0
    var ruleLabelled = true
    var anomalies = 0
    enriched.foreach { r =>
      val best = Checks.nearestStation(r.getDouble(0), r.getDouble(1), stations)
      if (r.isNullAt(2) || r.isNullAt(3) || (r.getDouble(2), r.getDouble(3)) != best)
        wrongStation += 1
      if (!Checks.riskOk(r.get(4), r.getString(5))) wrongRisk += 1
      if (r.getString(6) != Checks.rulePhase(r.get(7), r.get(8), r.get(9))) ruleLabelled = false
      if (r.getBoolean(10)) anomalies += 1
      if (r.getTimestamp(11).getTime != lastSnap.time * 1000) stale += 1
    }
    if (wrongStation > 0) failures += s"$wrongStation flights not on their brute-force nearest station"
    if (wrongRisk > 0) failures += s"$wrongRisk risk scores outside 0..130 or miscategorised"
    if (stale > 0) failures += s"$stale enriched rows not from this run's snapshot"

    val index = latestGeneration()
    val docs = spark.read.json(index.getAbsolutePath).select("icao24")
    val (nDocs, nKeys) = {
      val r = docs.agg(count(lit(1)), countDistinct(col("icao24"))).first()
      (r.getLong(0), r.getLong(1))
    }
    if (nDocs != expected || nKeys != expected)
      failures += s"index generation holds $nDocs docs / $nKeys keys, expected $expected distinct"

    val layers = Seq(
      "raw" -> Seq(lake.partitionPath("raw", "opensky", "flights", at),
        lake.partitionPath("raw", "open_meteo", "weather", at)),
      "formatted" -> Seq(lake.partitionPath("formatted", "opensky", "flights", at),
        lake.partitionPath("formatted", "open_meteo", "weather", at)),
      "enriched" -> Seq(lake.partitionPath("enriched", "sky_safe", "flights_weather", at)),
      "usage" -> Seq(lake.partitionPath("usage", "sky_safe", "dashboard", at)),
      "index" -> Seq(index.getAbsolutePath))
    val written = layers.flatMap { case (layer, dirs) =>
      Seq(s"lake.bytes_written.$layer" -> dirs.map(Files.bytes).sum.toDouble,
        s"lake.files_written.$layer" -> dirs.map(Files.files).sum.toDouble)
    }.toMap
    val totalBytes = layers.flatMap(_._2).map(Files.bytes).sum.toDouble
    val formatted = spark.read.parquet(lake.partitionPath("formatted", "opensky", "flights", at)).count()
    Checked(failures.result(), written ++ Map(
      "pipeline.format_rows_in" -> lastSnap.states.toDouble,
      "pipeline.format_rows_out" -> formatted.toDouble,
      "pipeline.format_rows_dropped" -> (lastSnap.states - formatted).toDouble,
      "pipeline.phase_kmeans_ratio" -> (if (ruleLabelled) 0.0 else 1.0),
      "pipeline.anomaly_ratio" -> anomalies.toDouble / math.max(1, enriched.length),
      "lake.index_docs" -> nDocs.toDouble,
      "lake.bytes_per_state" -> totalBytes / lastSnap.states))
  }

  private def latestGeneration(): File =
    new File(s"${lake.root}/index/sky_safe/flights").listFiles()
      .filter(_.getName.startsWith("gen=")).maxBy(_.getName)
}
