package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Versioned-table time travel and retention — the Delta/Iceberg commit
  * ledger reduced to its algebra: a table is a LOG of (file, add_version,
  * remove_version) entries, a snapshot "as of v" is the file set where
  * `add ≤ v < remove`, and vacuum deletes files whose remove_version has
  * aged out of the retention window. The reference's single-Postgres
  * warehouse gets this for free from MVCC; a 100 TB lake must reify it,
  * and the two queries here are the ones every lakehouse runbook runs:
  * "what did the table look like at v?" and "what can I reclaim?".
  *
  * The fixture ledger derives deterministically from the data (same
  * philosophy as [[DataVault]]'s ledger and [[FileManifest]]'s per-year
  * landing): one commit per calendar year of `orders` (version = year
  * rank, file `y<year>.parquet`, row count = that year's orders), then two
  * compaction commits — version m+1 rewrites the two oldest year files
  * into one compacted file, version m+2 the next two — so the log contains
  * adds, logical deletes, AND rewrite lineage, and every emitted number is
  * replayable by the DuckDB twin from the raw rows.
  *
  * Scale shape: both queries touch only the LEDGER (file-grain — ~10⁵ rows
  * for a 100 TB table, driver-small but kept distributed here) plus one
  * per-year count aggregate of the fact; the version spine × ledger join
  * is bounded by versions × files. Nothing row-grain crosses a shuffle.
  */
object TimeTravel extends graft.QueryModule {

  /** Snapshots retained past the current version before a removed file
    * becomes vacuum-eligible. One value, both engines.
    */
  val RetainVersions = 1

  /** The commit ledger: file, n_rows, add_version, remove_version
    * (0 sentinel = still active — the compare bans nullable output, and 0
    * reads naturally as "never removed").
    */
  private def ledger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perYear = Tables.orders(spark, dir)
      .groupBy(year($"o_orderdate").as("y"))
      .agg(count(lit(1)).as("n_rows"))
    val byYear = Window.orderBy($"y")
    val adds = perYear
      .withColumn("ver", row_number().over(byYear).cast("bigint"))
      .withColumn("m", count(lit(1)).over(
        byYear.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    // year files: removed by the compaction that swallows them
    val yearFiles = adds.select(
      concat(lit("y"), $"y", lit(".parquet")).as("file"),
      $"n_rows",
      $"ver".as("add_version"),
      when($"ver" <= 2, $"m" + 1L)
        .when($"ver" <= 4, $"m" + 2L)
        .otherwise(0L).as("remove_version"))
    // compaction outputs: one file per rewritten pair, never removed
    def compacted(lo: Int, hi: Int, bump: Int) = adds
      .filter($"ver" >= lo && $"ver" <= hi)
      .groupBy($"m")
      .agg(sum($"n_rows").as("n_rows"),
        min($"y").as("y_lo"), max($"y").as("y_hi"))
      .select(
        concat(lit("compact_"), $"y_lo", lit("_"), $"y_hi", lit(".parquet"))
          .as("file"),
        $"n_rows",
        ($"m" + bump.toLong).as("add_version"),
        lit(0L).as("remove_version"))
    yearFiles
      .unionByName(compacted(1, 2, 1))
      .unionByName(compacted(3, 4, 2))
  }

  /** Per-version snapshot summary: active file count, total rows (must be
    * constant across compactions — the invariant that catches a lost or
    * double-counted file), and the file-name envelope.
    */
  def timeTravelRead(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val led = ledger(spark, dir)
    val spine = led.agg(max(greatest($"add_version", $"remove_version"))
        .as("v_max"))
      .select(explode(sequence(lit(1L), $"v_max")).as("version"))
    spine.join(led,
        $"add_version" <= $"version" &&
          ($"remove_version" === 0L || $"remove_version" > $"version"))
      .groupBy($"version")
      .agg(count(lit(1)).as("n_files"),
        sum($"n_rows").as("total_rows"),
        min($"file").as("first_file"),
        max($"file").as("last_file"))
      .orderBy($"version")
  }

  /** Vacuum plan at the current version: removed files older than the
    * retention window, with the rows they pin on disk.
    */
  def vacuumPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val led = ledger(spark, dir)
    val cur = led.agg(max(greatest($"add_version", $"remove_version"))
      .as("v_cur"))
    led.crossJoin(broadcast(cur))
      .filter($"remove_version" > 0L &&
        $"remove_version" <= $"v_cur" - lit(RetainVersions.toLong))
      .select($"file", $"remove_version", $"n_rows".as("reclaim_rows"),
        $"v_cur".as("current_version"))
      .orderBy($"file")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_time_travel_read" -> (timeTravelRead _),
    "wh_vacuum_plan" -> (vacuumPlan _))

  private val ledgerSql: String = s"""per_year AS (
  SELECT year(o_orderdate)::INT AS y, count(*)::BIGINT AS n_rows
  FROM orders GROUP BY 1),
adds AS (
  SELECT y, n_rows,
         ROW_NUMBER() OVER (ORDER BY y)::BIGINT AS ver,
         count(*) OVER ()::BIGINT AS m
  FROM per_year),
ledger AS (
  SELECT 'y' || y || '.parquet' AS file, n_rows,
         ver AS add_version,
         CASE WHEN ver <= 2 THEN m + 1
              WHEN ver <= 4 THEN m + 2
              ELSE 0 END::BIGINT AS remove_version
  FROM adds
  UNION ALL
  SELECT 'compact_' || min(y) || '_' || max(y) || '.parquet',
         sum(n_rows)::BIGINT, max(m) + 1, 0
  FROM adds WHERE ver BETWEEN 1 AND 2 GROUP BY ALL
  UNION ALL
  SELECT 'compact_' || min(y) || '_' || max(y) || '.parquet',
         sum(n_rows)::BIGINT, max(m) + 2, 0
  FROM adds WHERE ver BETWEEN 3 AND 4 GROUP BY ALL)"""

  val oracle: Map[String, String] = Map(
    "wh_time_travel_read" -> s"""WITH $ledgerSql,
spine AS (
  SELECT unnest(range(1,
    (SELECT max(greatest(add_version, remove_version)) FROM ledger) + 1))
    ::BIGINT AS version)
SELECT version, count(*)::BIGINT AS n_files,
       sum(n_rows)::BIGINT AS total_rows,
       min(file) AS first_file, max(file) AS last_file
FROM spine JOIN ledger
  ON add_version <= version
 AND (remove_version = 0 OR remove_version > version)
GROUP BY version ORDER BY version""",

    "wh_vacuum_plan" -> s"""WITH $ledgerSql,
cur AS (
  SELECT max(greatest(add_version, remove_version))::BIGINT AS v_cur
  FROM ledger)
SELECT file, remove_version, n_rows AS reclaim_rows, v_cur AS current_version
FROM ledger, cur
WHERE remove_version > 0 AND remove_version <= v_cur - $RetainVersions
ORDER BY file""")
}
