package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analysis stage (SURVEY.md §2.7) as reusable DataFrame
  * functions over the staged schemas — every processed artifact is one
  * query. Scale shape notes inline; all aggregates are partial-agg
  * friendly and the only windows are per-key rank windows.
  */
object Analysis {

  /** P12 — conditional column compute: (re)derive severity / risk_class
    * / aqi_pm25 when the column is absent or entirely null, and null-fill
    * any missing pollutant column first
    * (ETL_Multi_Lvl_API/etl_analysis.py:146-165). The "all null" probe is
    * one aggregate job over the derived columns present, none if absent;
    * a re-derived column never feeds another's probe, so all three probe
    * the input. */
  def ensureDerived(df0: DataFrame): DataFrame = {
    val df = Schemas.pollutants.foldLeft(df0)((d, c) =>
      if (d.schema.fieldNames.contains(c)) d
      else d.withColumn(c, lit(null).cast("double")))
    val present = Seq("severity", "risk_class", "aqi_pm25").filter(df.columns.contains)
    val nonNull: Map[String, Long] =
      if (present.isEmpty) Map.empty
      else {
        val r = df.select(present.map(c => count(col(c))): _*).head()
        present.zipWithIndex.map { case (c, i) => c -> r.getLong(i) }.toMap
      }
    def missingOrAllNull(c: String): Boolean = nonNull.getOrElse(c, 0L) == 0L
    val withSev =
      if (missingOrAllNull("severity"))
        df.withColumn("severity", Features.severity(col("pm2_5"), col("pm10"),
          col("nitrogen_dioxide"), col("sulphur_dioxide"), col("carbon_monoxide"), col("ozone")))
      else df
    val withRisk =
      if (missingOrAllNull("risk_class"))
        withSev.withColumn("risk_class", Features.riskClass(col("severity")))
      else withSev
    if (missingOrAllNull("aqi_pm25"))
      withRisk.withColumn("aqi_pm25", Features.aqiCategory(col("pm2_5")))
    else withRisk
  }

  /** A6 argmax as a 1-row DataFrame: top key by avg(metric), null metric
    * rows excluded (pandas idxmax over mean().dropna()). */
  private def argmaxByAvg(df: DataFrame, key: Column, metric: Column,
                          label: String): DataFrame =
    df.groupBy(key.cast("string").as("k"))
      .agg(avg(metric).as("m")).where(col("m").isNotNull)
      .orderBy(col("m").desc, col("k").asc).limit(1)
      .select(lit(label).as("metric"), col("k").as("value"))

  /** summary_metrics.csv — the three argmax KPIs unpivoted to
    * (metric, value) rows (ETL_Multi_Lvl_API/etl_analysis.py:359-380). */
  def summaryMetrics(aq: DataFrame): DataFrame =
    argmaxByAvg(aq, col("city"), col("pm2_5"), "city_highest_avg_pm2_5")
      .unionAll(argmaxByAvg(aq, col("city"), col("severity"), "city_highest_severity"))
      .unionAll(argmaxByAvg(aq, hour(col("time")), col("pm2_5"), "hour_with_worst_avg_pm2_5"))

  /** city_risk_distribution.csv — R8 crosstab with row totals and
    * percentages (ETL_Multi_Lvl_API/etl_analysis.py:227-245). */
  def cityRiskDistribution(aq: DataFrame): DataFrame =
    aq.groupBy(col("city"))
      .pivot("risk_class", Seq("High Risk", "Moderate Risk", "Low Risk"))
      .count().na.fill(0)
      .withColumn("total_hours", col("High Risk") + col("Moderate Risk") + col("Low Risk"))
      .withColumn("pct_high", col("High Risk") / col("total_hours") * 100)
      .withColumn("pct_moderate", col("Moderate Risk") / col("total_hours") * 100)
      .withColumn("pct_low", col("Low Risk") / col("total_hours") * 100)
      .orderBy(col("city"))

  /** pollution_trends.csv — A4 dedup-mean at (city,time) + O1 sort
    * (ETL_Multi_Lvl_API/etl_analysis.py:248-262). */
  def pollutionTrends(aq: DataFrame): DataFrame = {
    val p = Schemas.pollutants.filter(_ != "uv_index")
    aq.groupBy(col("city"), col("time"))
      .agg(p.map(c => avg(col(c)).as(c)).head, p.map(c => avg(col(c)).as(c)).tail: _*)
      .orderBy(col("city"), col("time"))
  }

  /** A9 — equal-width histogram over non-null values, matplotlib bin
    * formula (min/max from data, last bin right-closed); min/max ride a
    * broadcast 1-row cross join, not a global window
    * (ETL_Weather_API/etl_analysis.py:134-142; AQ :266-275). */
  def histogram(df: DataFrame, c: Column, bins: Int): DataFrame = {
    val v = df.select(c.as("v")).where(col("v").isNotNull)
    val mm = v.agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    v.crossJoin(broadcast(mm))
      // degenerate range (all values equal): bin 0 explicitly — the
      // division would be 0/0 = NaN and floor(NaN) lands in bin 0 only
      // by accident (matplotlib widens the range to [v-0.5, v+0.5])
      .withColumn("bin", when(col("mx") === col("mn"), lit(0)).otherwise(least(
        floor((col("v") - col("mn")) / ((col("mx") - col("mn")) / bins.toDouble)),
        lit((bins - 1).toDouble))).cast("int"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      .orderBy(col("bin"))
  }

  /** analysis_summary.csv — A1 grand aggregate over weather_staged
    * (ETL_Weather_API/etl_analysis.py:107-122). */
  def analysisSummary(weather: DataFrame): DataFrame =
    weather.agg(
      count(lit(1)).as("rows"),
      min(col("time")).as("time_min"), max(col("time")).as("time_max"),
      avg(col("temperature_c")).as("avg_temperature_c"),
      avg(col("relative_humidity")).as("avg_relative_humidity"),
      avg(col("wind_speed_kmh")).as("avg_wind_speed_kmh"))

  /** hourly_avg_temp.csv — A2 composite-key group mean
    * (ETL_Weather_API/etl_analysis.py:126-130). */
  def hourlyAvgTemp(weather: DataFrame): DataFrame =
    weather.groupBy(col("date"), col("hour"))
      .agg(avg(col("temperature_c")).as("avg_temperature_c"))
      .orderBy(col("date"), col("hour"))

  /** hourly_pm2_5_trends data — O3 top-k cities by record count, then W1
    * tumbling-hour mean per kept city
    * (ETL_Multi_Lvl_API/etl_analysis.py:294-332). The top-k set is tiny
    * and broadcasts as a semi-join filter. */
  def topCitiesHourlyPm25(aq: DataFrame, k: Int = 6): DataFrame = {
    val top = aq.groupBy(col("city")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("city").asc).limit(k)
      .select(col("city"))
    aq.join(broadcast(top), Seq("city"), "left_semi")
      .groupBy(col("city"), window(col("time"), "1 hour").as("w"))
      .agg(avg(col("pm2_5")).as("avg_pm2_5"))
      .select(col("city"), col("w.start").as("hour_start"), col("avg_pm2_5"))
      .orderBy(col("city"), col("hour_start"))
  }
}
