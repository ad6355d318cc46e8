package graft.ingest

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-lateness profile — the table a watermark is SIZED from, instead
  * of folklore: for every event, lateness is how far its event time lags
  * the maximum event time already seen in arrival order (event_id order —
  * the synthetic feed assigns ids at arrival; a production feed uses its
  * ingestion offset). The banded histogram plus the maximum answer the
  * two streaming design questions directly: what fraction of events does
  * a 1-minute/1-hour/1-day watermark drop, and how big is the worst
  * straggler the state must survive. The repo's streaming entries all
  * declare "1 day" — this operator is the evidence that bound sits on.
  * (On the in-order synthetic feed the profile truthfully collapses to
  * the single on-time band; LatenessProfileSpec pins the banding on a
  * constructed out-of-order frame.)
  *
  * The running max looks inherently sequential, but max is associative,
  * so it shards: partition arrival order into contiguous shards of
  * `ShardSize` ids, run the within-shard prefix max as a shard-keyed
  * window (bounded rows per task), reduce each shard to its max, and
  * prefix-max THAT tiny per-shard table (n/ShardSize rows) before
  * broadcasting it back. seen = max(within-shard prefix, previous
  * shards' prefix) — two bounded window passes instead of one global
  * single-partition pass. Lateness is integer milliseconds end to end;
  * bands are CASE cuts; nothing floats.
  */
object LatenessProfile extends graft.QueryModule {

  /** Contiguous arrival ids per shard; each within-shard window task sees
    * at most this many rows regardless of corpus size. */
  val ShardSize: Long = 4096L

  /** (band label, inclusive upper bound in ms; last band unbounded). */
  val Bands: Seq[(String, Long)] = Seq(
    ("0_on_time", 0L),
    ("1_under_1m", 60L * 1000),
    ("2_under_1h", 3600L * 1000),
    ("3_under_1d", 86400L * 1000),
    ("4_over_1d", Long.MaxValue))

  private def bandCase(l: String): String =
    Bands.init.map { case (b, hi) => s"WHEN $l <= $hi THEN '$b'" }
      .mkString("CASE ", " ", s" ELSE '${Bands.last._1}' END")

  /** Per-event lateness for an (arrival_id: BIGINT, tms: BIGINT) frame:
    * adds `late_ms` = running max of tms in arrival_id order minus tms.
    * Two-phase: within-shard prefix max + per-shard prefix max joined
    * back on the shard key (the per-shard table is n/ShardSize rows, so
    * its global window is bounded by design, not by luck). */
  def withLateness(events: DataFrame): DataFrame = {
    val sharded = events.withColumn("shard", col("arrival_id") / lit(ShardSize))
      .withColumn("shard", col("shard").cast("bigint"))
    val inShard = sharded.withColumn("seen_in_shard",
      max(col("tms")).over(Window.partitionBy(col("shard"))
        .orderBy(col("arrival_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val shardMax = sharded.groupBy(col("shard"))
      .agg(max(col("tms")).as("shard_max"))
      .withColumn("prev_shards_max",
        max(col("shard_max")).over(Window.orderBy(col("shard"))
          .rowsBetween(Window.unboundedPreceding, -1)))
      .select(col("shard"), col("prev_shards_max"))
    inShard.join(broadcast(shardMax), Seq("shard"))
      .withColumn("seen",
        greatest(col("seen_in_shard"), coalesce(col("prev_shards_max"),
          col("seen_in_shard"))))
      .withColumn("late_ms", col("seen") - col("tms"))
  }

  /** Banded histogram + worst straggler over a frame with `late_ms`. */
  def bandProfile(lagged: DataFrame): DataFrame =
    lagged
      .groupBy(expr(bandCase("late_ms")).as("band"))
      .agg(count(lit(1)).as("n_events"),
        max(col("late_ms")).as("max_late_ms"))
      .crossJoin(broadcast(lagged.agg(count(lit(1)).as("n_total"))))
      .select(col("band"), col("n_events"),
        (col("n_events").cast("double") / col("n_total")).as("share"),
        col("max_late_ms"))
      .orderBy(col("band"))

  def latenessProfile(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val evs = Tables.events(spark, dir)
      .filter($"ts".isNotNull)
      .select($"event_id".cast("bigint").as("arrival_id"),
        expr("unix_millis(ts)").as("tms"))
    bandProfile(withLateness(evs))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_lateness_profile" -> (latenessProfile _))

  val oracle: Map[String, String] = Map(
    "etl_lateness_profile" -> s"""WITH evs AS (
  SELECT event_id, epoch_ms(ts)::BIGINT AS tms
  FROM events WHERE ts IS NOT NULL),
lagged AS (
  SELECT event_id, tms,
         max(tms) OVER (ORDER BY event_id
                        ROWS UNBOUNDED PRECEDING)::BIGINT - tms AS late_ms
  FROM evs),
tot AS (SELECT count(*)::BIGINT AS n_total FROM lagged)
SELECT ${bandCase("late_ms")} AS band,
       count(*)::BIGINT AS n_events,
       count(*)::BIGINT::DOUBLE / t.n_total AS share,
       max(late_ms)::BIGINT AS max_late_ms
FROM lagged CROSS JOIN tot t
GROUP BY 1, t.n_total
ORDER BY band""")
}
