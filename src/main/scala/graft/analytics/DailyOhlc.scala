package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Daily OHLC candles over the event value stream — the tumbling
  * open/high/low/close rollup every metrics store and trading system
  * materializes. The two subtle cells are OPEN and CLOSE: "first/last
  * value of the day" needs a total event order, so both come from one
  * day-partitioned window ordered by (ts, event_id) — event_id breaks
  * timestamp ties deterministically, the difference between a
  * reproducible candle and a shuffle-dependent one.
  *
  * Volume-weighted totals ride fixed-point cents (floor(100·v + 0.5) as
  * BIGINT — the repo's rule that no float sum crosses a shuffle),
  * converted back to a double at the boundary by one division.
  *
  * Scale: one day-partitioned window pass + one keyed aggregate; day keys
  * partition evenly and the window never sees more than a day's events.
  */
object DailyOhlc extends graft.QueryModule {

  def dailyOhlc(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val base = Tables.events(spark, dir)
      .filter($"ts".isNotNull && $"value".isNotNull)
      .select(to_date($"ts").as("d"), $"ts", $"event_id",
        $"value",
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
    val w = Window.partitionBy($"d").orderBy($"ts", $"event_id")
    base
      .withColumn("rk", row_number().over(w))
      .withColumn("rk_desc", row_number().over(
        Window.partitionBy($"d").orderBy($"ts".desc, $"event_id".desc)))
      .groupBy($"d")
      .agg(
        max(when($"rk" === 1, $"value")).as("open"),
        max($"value").as("high"),
        min($"value").as("low"),
        max(when($"rk_desc" === 1, $"value")).as("close"),
        count(lit(1)).as("n_events"),
        sum($"cents").as("cents"))
      .select($"d".cast("string").as("day"), $"open", $"high", $"low",
        $"close", $"n_events",
        ($"cents".cast("double") / 100).as("total_value"))
      .orderBy($"day")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ts_daily_ohlc" -> (dailyOhlc _))

  val oracle: Map[String, String] = Map(
    "ts_daily_ohlc" -> s"""WITH base AS (
  SELECT ts::DATE AS d, ts, event_id, value,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
ranked AS (
  SELECT *,
         ROW_NUMBER() OVER (PARTITION BY d ORDER BY ts, event_id) AS rk,
         ROW_NUMBER() OVER (PARTITION BY d
                            ORDER BY ts DESC, event_id DESC) AS rk_desc
  FROM base)
SELECT d::VARCHAR AS day,
       max(CASE WHEN rk = 1 THEN value END) AS open,
       max(value) AS high,
       min(value) AS low,
       max(CASE WHEN rk_desc = 1 THEN value END) AS close,
       count(*)::BIGINT AS n_events,
       sum(cents)::BIGINT::DOUBLE / 100 AS total_value
FROM ranked
GROUP BY d
ORDER BY day""")
}
