package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Compaction bin-packing planner — the job that decides WHICH small files
  * merge into which output before a rewrite runs (`wh_compaction_ledger`
  * executes a rewrite; this plans one): the
  * per-month landing sizes of the orders fact are packed, IN LAYOUT ORDER,
  * into bins of at most [[TargetRows]] rows via the prefix-sum rule
  * `bin = floor(cumulative_rows_before / TargetRows)` — the streaming
  * first-fit that preserves sort order, so compacted files stay
  * range-prunable on the month key (an order-shuffling best-fit packer
  * would destroy the clustering that [[FileManifest]] skipping depends
  * on). Oversized months get a bin of their own and are flagged for
  * splitting rather than silently merged past the target.
  *
  * All integers; the plan is month-grain (ledger-sized — 84 rows for
  * 7 years), and at 100 TB the input is the file manifest, not a data
  * scan: only the one per-month count aggregate below touches the fact.
  */
object BinPack extends graft.QueryModule {

  /** Target rows per compacted output file. One value, both engines. */
  val TargetRows = 2500L

  def binpackPlan(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perMonth = Tables.orders(spark, dir)
      .groupBy((year($"o_orderdate") * 100 + month($"o_orderdate"))
        .cast("int").as("ym"))
      .agg(count(lit(1)).as("n_rows"))
    // ledger-sized window (months of the corpus), ordered by layout key
    val byYm = Window.orderBy($"ym")
    perMonth
      .withColumn("cum_before", coalesce(
        sum($"n_rows").over(byYm.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("bin", floor($"cum_before" / lit(TargetRows)).cast("bigint"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n_inputs"),
        sum($"n_rows").as("bin_rows"),
        min($"ym").as("ym_from"), max($"ym").as("ym_to"),
        max(($"n_rows" > TargetRows).cast("int")).as("needs_split"))
      .orderBy($"bin")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_binpack_plan" -> (binpackPlan _))

  val oracle: Map[String, String] = Map(
    "wh_binpack_plan" -> s"""WITH per_month AS (
  SELECT (year(o_orderdate) * 100 + month(o_orderdate))::INT AS ym,
         count(*)::BIGINT AS n_rows
  FROM orders GROUP BY 1),
binned AS (
  SELECT ym, n_rows,
         FLOOR(coalesce(sum(n_rows) OVER (ORDER BY ym
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           / $TargetRows)::BIGINT AS bin
  FROM per_month)
SELECT bin, count(*)::BIGINT AS n_inputs, sum(n_rows)::BIGINT AS bin_rows,
       min(ym)::INT AS ym_from, max(ym)::INT AS ym_to,
       max(CASE WHEN n_rows > $TargetRows THEN 1 ELSE 0 END)::INT
         AS needs_split
FROM binned GROUP BY bin ORDER BY bin""")
}
