package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.engine.{Analysis, Pipeline, Sinks}

/** The layered pipelines end to end on tiny hand-written landings (the
  * FIXTURES.md A1/A2 shapes and edge cases), written to a temp dir:
  *  - weather: a metric array shorter than `time` (null-padded), a metric
  *    key missing from a file, and hours where every metric is missing
  *    (dropped);
  *  - air quality: a city known only from the file stem, a duplicate
  *    (city,time) across two files of one city (collapsed by mean), a
  *    ragged pollutant array, a pollutant key missing from a file, and an
  *    hour where every pollutant is missing (dropped).
  * Every processed CSV must be byte-identical to the same `Analysis`
  * function written sequentially over the staged table read back with
  * schema inference. */
class PipelineSpec extends SparkSpec {

  private def write(dir: Path, name: String, json: String): Unit =
    Files.write(dir.resolve(name), json.getBytes(UTF_8))

  private def hours(day: String, hs: Range): String =
    hs.map(h => "\"" + f"${day}T$h%02d:00" + "\"").mkString("[", ",", "]")

  private def weatherLanding(): Path = {
    val dir = Files.createTempDirectory("pipe-weather-raw")
    // humidity shorter than time: hours 04-05 carry temperature and wind only
    write(dir, "weather_20251211_100303.json",
      s"""{"latitude": 17.375, "longitude": 78.5, "timezone": "GMT", "utc_offset_seconds": 0,
         | "hourly": {"time": ${hours("2025-12-11", 0 to 5)},
         |  "temperature_2m": [14.8, 14.1, 13.5, 13.0, 16.2, 21.7],
         |  "relativehumidity_2m": [54, 57, 60, 62],
         |  "windspeed_10m": [1.6, 2.2, 3.1, 2.9, 4.0, 5.5]}}""".stripMargin)
    // humidity key missing; temperature and wind cover only hours 00-01,
    // so hours 02-03 have no metric at all and are dropped
    write(dir, "weather_20251212_100602.json",
      s"""{"latitude": 17.375, "longitude": 78.5, "timezone": "GMT", "utc_offset_seconds": 0,
         | "hourly": {"time": ${hours("2025-12-12", 0 to 3)},
         |  "temperature_2m": [-3.5, 31.0],
         |  "windspeed_10m": [7.25, 0.0]}}""".stripMargin)
    dir
  }

  private def aqLanding(): Path = {
    val dir = Files.createTempDirectory("pipe-aq-raw")
    // no city in the payload: "delhi" comes from the file stem; ozone is
    // ragged (hours 02-03 null), uv_index is absent everywhere
    write(dir, "delhi_raw_20251211T000000Z.json",
      s"""{"latitude": 28.6, "longitude": 77.2,
         | "hourly": {"time": ${hours("2025-12-11", 0 to 3)},
         |  "pm10": [120.0, 180.5, 260.0, 90.0], "pm2_5": [55.0, 101.0, 210.5, 40.0],
         |  "carbon_monoxide": [900.0, 1100.0, 1500.0, 800.0],
         |  "nitrogen_dioxide": [30.0, 42.0, 61.0, 25.0],
         |  "sulphur_dioxide": [8.0, 9.5, 12.0, 7.0], "ozone": [20.0, 18.0]}}""".stripMargin)
    // the same city again, overlapping hours 02-03: duplicate (city,time)
    write(dir, "delhi_raw_20251211T020000Z.json",
      s"""{"latitude": 28.6, "longitude": 77.2,
         | "hourly": {"time": ${hours("2025-12-11", 2 to 5)},
         |  "pm10": [240.0, 110.0, 75.0, 60.0], "pm2_5": [190.5, 60.0, 35.0, 20.0],
         |  "carbon_monoxide": [1400.0, 850.0, 700.0, 650.0],
         |  "nitrogen_dioxide": [58.0, 27.0, 22.0, 20.0],
         |  "sulphur_dioxide": [11.0, 7.5, 6.0, 5.0], "ozone": [22.0, 24.0, 30.0, 33.0]}}""".stripMargin)
    // city in the payload; carbon_monoxide key missing; hour 03 has no
    // pollutant at all and is dropped
    write(dir, "x_raw_20251211T000000Z.json",
      s"""{"city": "mumbai", "latitude": 19.1, "longitude": 72.9,
         | "hourly": {"time": ${hours("2025-12-11", 0 to 3)},
         |  "pm10": [60.0, 70.0, 82.5], "pm2_5": [25.0, 30.0, 49.5],
         |  "nitrogen_dioxide": [15.0, 16.0, 18.0],
         |  "sulphur_dioxide": [4.0, 4.5, 5.0], "ozone": [40.0, 42.0, 45.0]}}""".stripMargin)
    dir
  }

  /** Contents of the single CSV part file a report directory holds. */
  private def csv(dir: String): String = {
    val parts = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".csv"))
    assert(parts.length == 1, s"$dir: ${parts.length} csv part files")
    new String(Files.readAllBytes(parts.head.toPath), UTF_8)
  }

  /** Writes each report sequentially under `dir` and returns name -> CSV. */
  private def sequentialReports(dir: String, reports: Seq[(String, DataFrame)]): Map[String, String] =
    reports.map { case (name, df) =>
      Sinks.reportCsv(df, s"$dir/$name")
      name -> csv(s"$dir/$name")
    }.toMap

  private val aqNames = Seq("summary_metrics", "city_risk_distribution", "pollution_trends",
    "hist_pm2_5", "hourly_pm2_5_trends")

  private def aqReports(back: DataFrame): Seq[(String, DataFrame)] = aqNames.zip(Seq(
    Analysis.summaryMetrics(back), Analysis.cityRiskDistribution(back),
    Analysis.pollutionTrends(back), Analysis.histogram(back, col("pm2_5"), 40),
    Analysis.topCitiesHourlyPm25(back)))

  test("runWeather: reports equal the sequential Analysis output over the staged read-back") {
    val out = Files.createTempDirectory("pipe-weather").toString
    Pipeline.runWeather(spark, s"${weatherLanding()}/weather_*.json", out)
    val back = spark.read.parquet(s"$out/staged/weather")
    // 6 hours of the first file + 2 of the second; the 2 metric-less hours dropped
    assert(back.count() == 8)
    assert(back.where(col("relative_humidity").isNull).count() == 4)
    val want = sequentialReports(s"$out/expected", Seq(
      "analysis_summary" -> Analysis.analysisSummary(back),
      "hourly_avg_temp" -> Analysis.hourlyAvgTemp(back),
      "hist_temperature" -> Analysis.histogram(back, col("temperature_c"), 30)))
    want.foreach { case (name, bytes) => assert(csv(s"$out/processed/$name") == bytes, name) }
    assert(want("analysis_summary").linesIterator.drop(1).next().startsWith("8,"))
  }

  test("runAq: reports equal the sequential Analysis output; a rerun is idempotent") {
    val out = Files.createTempDirectory("pipe-aq").toString
    val glob = s"${aqLanding()}/*_raw_*.json"
    Pipeline.runAq(spark, glob, out)
    val staged = s"$out/staged/air_quality"
    def snapshot(): (Seq[String], Map[String, String]) = {
      val rows = spark.read.parquet(staged).collect().map(_.toString).sorted.toSeq
      (rows, aqNames.map(n => n -> csv(s"$out/processed/$n")).toMap)
    }
    val (rows1, reports1) = snapshot()
    // delhi 00-05 (02/03 collapsed from two files) + mumbai 00-02
    assert(rows1.size == 9)
    val back = spark.read.parquet(staged)
    assert(back.select("city").distinct().collect().map(_.getString(0)).toSet == Set("delhi", "mumbai"))
    val dup = back.where(col("city") === "delhi" && hour(col("time")) === 2).collect()
    assert(dup.length == 1 && dup.head.getAs[Double]("pm2_5") == (210.5 + 190.5) / 2)
    assert(back.where(col("uv_index").isNotNull || col("severity").isNull).count() == 0)
    val want = sequentialReports(s"$out/expected", aqReports(back))
    reports1.foreach { case (name, bytes) => assert(bytes == want(name), name) }

    Pipeline.runAq(spark, glob, out)
    val (rows2, reports2) = snapshot()
    assert(rows2 == rows1)
    assert(reports2 == reports1)
  }

  test("runAq throws when one report's write fails, after the other reports are written") {
    val out = Files.createTempDirectory("pipe-aq-fail")
    val processed = Files.createDirectories(out.resolve("processed"))
    // the report path is a link into a regular file: it can be neither
    // cleared nor created
    val blocker = Files.write(out.resolve("blocker"), Array[Byte](1))
    Files.createSymbolicLink(processed.resolve("hist_pm2_5"), blocker.resolve("sub"))
    intercept[Exception](Pipeline.runAq(spark, s"${aqLanding()}/*_raw_*.json", out.toString))
    val written = aqNames.filter(n =>
      Files.exists(processed.resolve(n).resolve("_SUCCESS")))
    assert(written.toSet == Set("summary_metrics", "city_risk_distribution",
      "pollution_trends", "hourly_pm2_5_trends"))
  }

  test("Sinks.concurrently: input order, the caller's local properties, first failure rethrown") {
    val sc = spark.sparkContext
    sc.setLocalProperty("pipeline.spec.tag", "caller")
    try {
      val seen = Sinks.concurrently((0 until 4).map(i => () =>
        (i, sc.getLocalProperty("pipeline.spec.tag"), Thread.currentThread().getName)))
      assert(seen.map(_._1) == (0 until 4))
      assert(seen.forall(_._2 == "caller"))
      assert(seen.map(_._3).distinct.size == 4)
      val finished = new java.util.concurrent.atomic.AtomicInteger
      val e = intercept[IllegalStateException](Sinks.concurrently(Seq(
        () => { Thread.sleep(200); finished.incrementAndGet() },
        () => throw new IllegalStateException("first"),
        () => throw new IllegalArgumentException("second"))))
      assert(e.getMessage == "first")
      assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("second"))
      assert(finished.get == 1)
    } finally sc.setLocalProperty("pipeline.spec.tag", null)
  }
}
