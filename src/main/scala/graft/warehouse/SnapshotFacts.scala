package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The two Kimball fact types the reference's transaction fact leaves out —
  * completing the dimensional-modeling surface beside `fact_encounters`
  * (transaction grain, [[Warehouse]]):
  *
  *  - **Accumulating snapshot**: one row per process instance, milestone
  *    dates land in place as the process advances, lag measures derived.
  *    The reference models an encounter as one INSERT; a pipeline that
  *    tracks order→ship lifecycles needs the milestone row.
  *  - **Periodic snapshot**: one row per (period), levels measured at each
  *    period boundary (placed/fulfilled/backlog) — the stock-vs-flow
  *    complement to the transaction fact's flows.
  *
  * Scale shapes: the accumulating snapshot is ONE co-shuffled join+agg on
  * the order key (both sides huge — the bucketed-ingest layout
  * [[Bucketing]] makes it shuffle-free); the periodic snapshot aggregates
  * to calendar grain first (tiny) and only then runs its cumulative
  * window, so the unpartitioned window is bounded by the calendar, not the
  * data.
  */
object SnapshotFacts extends graft.QueryModule {

  /** The snapshot shape over any (orders, lineitem) pair: one co-keyed
    * join + milestone aggregate. Shared by the flat-table entry and the
    * bucketed twin so "same query, different layout" is literal.
    */
  private def snapshotOf(orders: DataFrame, line: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col => c}
    orders
      .select(c("o_orderkey"), to_date(c("o_orderdate")).as("order_date"))
      .join(line.select(c("l_orderkey"),
        to_date(c("l_shipdate")).as("ship_date")),
        c("o_orderkey") === c("l_orderkey"))
      .groupBy(c("o_orderkey"), c("order_date"))
      .agg(
        min(c("ship_date")).as("first_ship"),
        max(c("ship_date")).as("last_ship"),
        count(lit(1)).as("n_lines"))
      .select(c("o_orderkey"), c("order_date"), c("first_ship"),
        c("last_ship"),
        datediff(c("first_ship"), c("order_date")).as("days_to_first"),
        datediff(c("last_ship"), c("order_date")).as("days_to_last"),
        c("n_lines"))
  }

  /** Accumulating snapshot: order lifecycle milestones + lags. */
  def accumulatingSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    snapshotOf(Tables.orders(spark, dir), Tables.lineitem(spark, dir))
      .orderBy($"o_orderkey")
  }

  /** [[accumulatingSnapshot]] over the bucketed ingest layout
    * ([[Bucketing.bucketedOrderTables]]): both sides bucketed on the order
    * key, so the join AND the milestone aggregate (whose grouping key is a
    * superset of the bucket key) run with ZERO exchanges —
    * ScaleVariantsSpec pins the plan; the shared oracle pins the rows.
    * This is the layout the flat entry's scale note promises: at 100 TB
    * the big-big milestone join is a scan-side property paid once at
    * ingest.
    */
  def accumulatingSnapshotBucketed(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    bucketedSnapshotCore(spark, dir).orderBy($"o_orderkey")
  }

  /** The gate target: the bucketed snapshot WITHOUT its presentation-only
    * total order (whose range exchange is the oracle compare's, not the
    * operator's).
    */
  private[graft] def bucketedSnapshotCore(spark: SparkSession, dir: String)
      : DataFrame = {
    val (ot, lt) = Bucketing.bucketedOrderTables(spark, dir)
    snapshotOf(spark.table(ot), spark.table(lt))
  }

  /** Periodic snapshot: month-end order levels (placed / fulfilled flows,
    * cumulative stocks, open backlog).
    */
  def periodicSnapshot(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val monthly = Tables.orders(spark, dir)
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("month"))
      .agg(
        count(lit(1)).as("n_placed"),
        sum(($"o_orderstatus" === "F").cast("long")).as("n_fulfilled"))
    // cumulative over calendar months — bounded by the calendar, not rows
    val w = Window.orderBy($"month")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    monthly
      .withColumn("cum_placed", sum($"n_placed").over(w))
      .withColumn("cum_fulfilled", sum($"n_fulfilled").over(w))
      .withColumn("open_backlog", $"cum_placed" - $"cum_fulfilled")
      .orderBy($"month")
  }

  /** Allocation bridge — the weighting-factor pattern for multi-valued
    * bridges: a fact measure (order price) allocated across the bridge's
    * members (line items) by a weight (quantity share), so downstream
    * group-bys over ANY member dimension sum to the original total instead
    * of double-counting it once per member. Weights derive from exact
    * DECIMAL quantity sums (group sums never cross a shuffle as floats);
    * the share and allocation are then two per-row double operations —
    * deterministic cross-engine. One co-shuffled join+window-free pass:
    * per-order sums come from a partial-aggregated groupBy joined back.
    */
  def allocationBridge(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // bridge grain: one row per (order, part) — also what makes the output
    // ORDER BY total (raw lineitem has no duplicate-free natural key here)
    // establish the order-key partitioning ONCE (§2.4): hash(l_orderkey)
    // satisfies the (order, part) aggregate's clustering, the window's,
    // AND the bridge side of the order join, so the explicit repartition
    // replaces three exchanges with one ((ok, pk) groups are near-unique
    // here, so the lost map-side partial aggregation saved nothing)
    val line = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey",
        expr("CAST(l_quantity AS DECIMAL(12,2))").as("q"))
      .repartition($"l_orderkey")
      .groupBy($"l_orderkey", $"l_partkey")
      .agg(sum($"q").as("qty"))
    // the order-level denominator is a WINDOW over the bridge rows, not a
    // second aggregate joined back: the self-join form re-scanned lineitem
    // and re-aggregated per consumer, then shuffled both sides again for
    // the equi-join (r13 profile: 29.6 MB shuffle, two lineitem scans);
    // the window reuses the one bridge table, keyed by order (bounded
    // per-order line counts — never a corpus-scale partition). DECIMAL sum
    // keeps the denominator exact either way.
    val byOrder = org.apache.spark.sql.expressions.Window
      .partitionBy($"l_orderkey")
    val orders = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_totalprice")
    line
      .withColumn("qty_total", sum($"qty").over(byOrder))
      .join(orders, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_partkey",
        ($"qty".cast("double") / $"qty_total".cast("double")).as("weight"),
        ($"o_totalprice"
          * ($"qty".cast("double") / $"qty_total".cast("double")))
          .as("allocated_price"))
      .orderBy($"l_orderkey", $"l_partkey")
  }

  /** Drill-across report — Kimball's multi-fact pattern: two SEPARATE
    * fact processes (encounter admissions; procedure deliveries, each on
    * its OWN event date) rolled up independently to the conformed calendar
    * grain and only then joined on it. The discipline matters: joining the
    * fact tables row-to-row first would fan out encounters by their
    * procedure count and double-count both measures; drill-across keeps
    * each process's grain intact and meets on the conformed dimension —
    * two keyed rollups + one (year, month)-sized outer join, which at
    * 100 TB is two scans and a calendar-sized merge. Months where only
    * one process has activity survive with a zero on the other side
    * (full-outer + coalesce), ratio guarded.
    */
  def drillAcross(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wh = Warehouse.forDir(spark, dir)
    val enc = wh.factEncounters
      .groupBy(year($"encounter_date").as("year"),
        month($"encounter_date").as("month"))
      .agg(count(lit(1)).as("n_encounters"))
    val proc = wh.bridgeProcedure
      .groupBy(year($"procedure_date").as("year"),
        month($"procedure_date").as("month"))
      .agg(count(lit(1)).as("n_procedures"))
    enc.join(proc, Seq("year", "month"), "full_outer")
      .select($"year", $"month",
        coalesce($"n_encounters", lit(0L)).as("n_encounters"),
        coalesce($"n_procedures", lit(0L)).as("n_procedures"))
      .withColumn("procs_per_encounter",
        when($"n_encounters" > 0,
          $"n_procedures" * lit(1.0) / $"n_encounters").otherwise(lit(0.0)))
      .orderBy($"year", $"month")
  }

  /** Months a code must rank inside to appear in [[rankChurn]]. */
  val ChurnTopN = 10

  /** Month-over-month rank churn of the top diagnoses — the "movers"
    * report behind every trending dashboard: rank codes within each month
    * by volume, then LAG each code's rank against its previous OBSERVED
    * month to get the movement (new entrants carry prev_rank 0 — a
    * nullable int would survive the driver compare poorly and 0 is the
    * natural "unranked" sentinel). Two windows, both keyed (month for the
    * rank, code for the lag) — rank inputs are month-sized aggregates, so
    * neither window ever sees corpus-scale rows.
    */
  def rankChurn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val wh = Warehouse.forDir(spark, dir)
    val monthly = wh.bridgeDiagnosis
      .join(wh.dimDiagnosis, "diagnosis_key")
      .groupBy((year($"diagnosis_date") * 100 + month($"diagnosis_date"))
        .as("ym"), $"code")
      .agg(count(lit(1)).as("n"))
    val rankW = Window.partitionBy($"ym").orderBy($"n".desc, $"code")
    val lagW = Window.partitionBy($"code").orderBy($"ym")
    monthly
      .withColumn("rank", row_number().over(rankW))
      .withColumn("prev_rank",
        coalesce(lag($"rank", 1).over(lagW), lit(0)))
      .filter($"rank" <= ChurnTopN)
      .select($"ym", $"code", $"n", $"rank", $"prev_rank",
        when($"prev_rank" > 0, $"prev_rank" - $"rank").otherwise(lit(0))
          .as("rank_delta"))
      .orderBy($"ym", $"rank")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_rank_churn" -> (rankChurn _),
    "wh_drill_across" -> (drillAcross _),
    "wh_accumulating_snapshot" -> (accumulatingSnapshot _),
    "wh_accumulating_snapshot_bucketed" -> (accumulatingSnapshotBucketed _),
    "wh_periodic_snapshot" -> (periodicSnapshot _),
    "wh_allocation_bridge" -> (allocationBridge _))

  private val AccSnapshotOracle = """SELECT o_orderkey,
       o_orderdate::DATE AS order_date,
       min(l_shipdate::DATE) AS first_ship,
       max(l_shipdate::DATE) AS last_ship,
       date_diff('day', o_orderdate::DATE, min(l_shipdate::DATE))::INT
         AS days_to_first,
       date_diff('day', o_orderdate::DATE, max(l_shipdate::DATE))::INT
         AS days_to_last,
       count(*)::BIGINT AS n_lines
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderkey, o_orderdate::DATE
ORDER BY o_orderkey"""

  val oracle: Map[String, String] = Map(
    "wh_rank_churn" -> s"""${graft.analytics.OracleSql.prelude}
, monthly AS (
  SELECT (year(diagnosis_date) * 100 + month(diagnosis_date))::INT AS ym,
         code, count(*)::BIGINT AS n
  FROM bridge_encounter_diagnosis bed
  JOIN dim_diagnosis dd USING (diagnosis_key)
  GROUP BY 1, 2),
ranked AS (
  SELECT ym, code, n,
         row_number() OVER (PARTITION BY ym ORDER BY n DESC, code)::INT
           AS rank
  FROM monthly),
lagged AS (
  SELECT ym, code, n, rank,
         coalesce(lag(rank) OVER (PARTITION BY code ORDER BY ym), 0)::INT
           AS prev_rank
  FROM ranked)
SELECT ym, code, n, rank, prev_rank,
       CASE WHEN prev_rank > 0 THEN prev_rank - rank ELSE 0 END::INT
         AS rank_delta
FROM lagged
WHERE rank <= $ChurnTopN
ORDER BY ym, rank""",

    "wh_drill_across" -> s"""${graft.analytics.OracleSql.prelude}
, enc AS (
  SELECT year(encounter_date)::INT AS year,
         month(encounter_date)::INT AS month,
         count(*)::BIGINT AS n_encounters
  FROM fact_encounters GROUP BY 1, 2),
proc AS (
  SELECT year(procedure_date)::INT AS year,
         month(procedure_date)::INT AS month,
         count(*)::BIGINT AS n_procedures
  FROM bridge_encounter_procedure GROUP BY 1, 2)
SELECT coalesce(enc.year, proc.year) AS year,
       coalesce(enc.month, proc.month) AS month,
       coalesce(n_encounters, 0)::BIGINT AS n_encounters,
       coalesce(n_procedures, 0)::BIGINT AS n_procedures,
       CASE WHEN coalesce(n_encounters, 0) > 0
            THEN coalesce(n_procedures, 0)::BIGINT * 1.0
                 / coalesce(n_encounters, 0)::BIGINT
            ELSE 0.0 END AS procs_per_encounter
FROM enc FULL OUTER JOIN proc
  ON enc.year = proc.year AND enc.month = proc.month
ORDER BY year, month""",
    "wh_accumulating_snapshot" -> AccSnapshotOracle,
    // layout twin: identical rows from the bucketed tables — ONE oracle
    "wh_accumulating_snapshot_bucketed" -> AccSnapshotOracle,

    "wh_allocation_bridge" -> """WITH line AS (
  SELECT l_orderkey, l_partkey,
         sum(CAST(l_quantity AS DECIMAL(12,2))) AS qty
  FROM lineitem GROUP BY 1, 2),
oq AS (SELECT l_orderkey AS o_key, sum(qty) AS qty_total FROM line GROUP BY 1)
SELECT l_orderkey, l_partkey,
       CAST(qty AS DOUBLE) / CAST(qty_total AS DOUBLE) AS weight,
       o_totalprice * (CAST(qty AS DOUBLE) / CAST(qty_total AS DOUBLE))
         AS allocated_price
FROM line
JOIN oq ON l_orderkey = o_key
JOIN orders ON l_orderkey = o_orderkey
ORDER BY l_orderkey, l_partkey""",

    "wh_periodic_snapshot" -> """WITH monthly AS (
  SELECT strftime(o_orderdate, '%Y-%m') AS month,
         count(*)::BIGINT AS n_placed,
         sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT
           AS n_fulfilled
  FROM orders GROUP BY 1)
SELECT month, n_placed, n_fulfilled,
       (sum(n_placed) OVER (ORDER BY month
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         AS cum_placed,
       (sum(n_fulfilled) OVER (ORDER BY month
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         AS cum_fulfilled,
       (sum(n_placed) OVER (ORDER BY month
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        - sum(n_fulfilled) OVER (ORDER BY month
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
         AS open_backlog
FROM monthly
ORDER BY month""")
}
