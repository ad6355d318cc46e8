package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-grain aggregation — ROLLUP / CUBE / GROUPING SETS, the OLAP
  * subtotal surface the reference's matview family (`sql/03_warehouse.sql:
  * 115-156`) approximates by materializing each grain as its own view.
  * One query per shape, plus the 100 TB plan alternative:
  *
  *  - `agg_rollup_monthly` — ROLLUP(yr, mo): the (yr, mo) leaves, yr
  *    subtotals, and the grand total in one pass. Spark plans this as
  *    `Expand` (each input row replicated once per grouping set, G=3)
  *    followed by ONE hash aggregate — partial aggregation still applies,
  *    so the shuffle carries ≤ G·|groups| sketch rows, not G·|input|.
  *  - `agg_cube_segment_status` — CUBE(c_mktsegment, o_orderstatus) over
  *    the fact⋈dim join (dim broadcast, G=4).
  *  - `agg_sets_priority` — GROUPING SETS ((yr), (o_orderpriority), ()):
  *    disjoint single-attribute grains via Spark 4's native
  *    `Dataset.groupingSets` (SPARK-45929) — no leaf grain computed.
  *  - `agg_rollup_hierarchical` — SAME result set (and the same DuckDB
  *    ROLLUP oracle text) as `agg_rollup_monthly`, but built WITHOUT
  *    `Expand`: aggregate once at the finest grain, then re-aggregate the
  *    84-row (yr, mo) result upward and UNION the three grains. At 100 TB
  *    the Expand plan reads each row G times into the partial aggregate;
  *    the hierarchical plan touches the corpus once and re-rolls the
  *    already-tiny leaf aggregate — the classic subtotal rewrite, here
  *    hash-proven equivalent because both forms verify against one oracle.
  *
  * `grouping_id()` bit order (leftmost grouping column = MSB) is identical
  * in Spark and DuckDB `GROUPING(a, b)` — probed, then pinned by the hash
  * compare. All money sums ride DECIMAL(14,2) (order-independent exact
  * addition) and convert to DOUBLE once at the edge, the TpchQueries rule.
  */
object GroupingSets extends graft.QueryModule {

  private def orders(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir).select(
      year($"o_orderdate").cast("int").as("yr"),
      month($"o_orderdate").cast("int").as("mo"),
      $"o_custkey", $"o_orderstatus", $"o_orderpriority",
      expr("CAST(o_totalprice AS DECIMAL(14,2))").as("price"))
  }

  /** ROLLUP(yr, mo): G=3 grouping sets through one Expand+aggregate. */
  def rollupMonthly(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir)
      .rollup($"yr", $"mo")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .orderBy($"gid", $"yr", $"mo")
  }

  /** CUBE(c_mktsegment, o_orderstatus): all four grains of the fact⋈dim
    * join; the dim side broadcasts so the cube adds no extra shuffle.
    */
  def cubeSegmentStatus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dim = Tables.customer(spark, dir).select($"c_custkey", $"c_mktsegment")
    orders(spark, dir)
      .join(broadcast(dim), $"o_custkey" === $"c_custkey")
      .cube($"c_mktsegment", $"o_orderstatus")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .orderBy($"gid", $"c_mktsegment", $"o_orderstatus")
  }

  /** GROUPING SETS ((yr), (o_orderpriority), ()): two unrelated
    * single-attribute grains + grand total, skipping the cross grain a
    * CUBE would also pay for. Spark 4's `groupingSets` API.
    */
  def setsPriority(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir)
      .groupingSets(
        Seq(Seq($"yr"), Seq($"o_orderpriority"), Seq.empty),
        $"yr", $"o_orderpriority")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .orderBy($"gid", $"yr", $"o_orderpriority")
  }

  /** The Expand-free rewrite: one finest-grain aggregate, re-rolled.
    * Output (and oracle) identical to [[rollupMonthly]] — the equivalence
    * IS the point: at 100 TB choose this plan, the corpus is read once.
    */
  def rollupHierarchical(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val leaf = orders(spark, dir)
      .groupBy($"yr", $"mo")
      .agg(count(lit(1)).as("n_orders"), sum($"price").as("p"))
    val byYear = leaf.groupBy($"yr")
      .agg(sum($"n_orders").as("n_orders"), sum($"p").as("p"))
      .select($"yr", lit(null).cast("int").as("mo"), lit(1).as("gid"),
        $"n_orders", $"p")
    val total = leaf.agg(sum($"n_orders").as("n_orders"), sum($"p").as("p"))
      .select(lit(null).cast("int").as("yr"), lit(null).cast("int").as("mo"),
        lit(3).as("gid"), $"n_orders", $"p")
    leaf.select($"yr", $"mo", lit(0).as("gid"), $"n_orders", $"p")
      .unionByName(byYear).unionByName(total)
      .select($"yr", $"mo", $"gid", $"n_orders",
        // one DECIMAL→DOUBLE conversion at the edge, same as the Expand form
        expr("CAST(p AS DOUBLE)").as("total_price"))
      .orderBy($"gid", $"yr", $"mo")
  }

  /** ROLLUP(yr, mo) carrying an AVG — the decomposability frontier the
    * re-roll rule crosses via [[graft.plans.AvgMerge]]: the stock plan
    * computes each grain's average over all its rows; the re-rolled twin
    * (`opt_rollup_avg_reroll`) derives every grain from leaf sum+count
    * partials. DECIMAL sums keep both bit-identical; the oracle recomputes
    * the half-up-at-scale-6 value in exact BIGINT micro-units per group.
    */
  def rollupAvg(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    orders(spark, dir)
      .rollup($"yr", $"mo")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_orders"),
        expr("CAST(avg(price) AS DOUBLE)").as("avg_price"))
      .orderBy($"gid", $"yr", $"mo")
  }

  /** CUBE over FOUR low-cardinality lineitem columns (G=16, leaf grain
    * ≤ ~900 cells from 600k rows at sf0.1): the shape where the Expand's
    * G×|input| replication is the dominant term — the stock plan feeds
    * 9.6M rows into the partial aggregate at sf0.1 — and therefore the
    * high-collapse fixture whose re-rolled twin
    * (`opt_cube_lineitem_reroll`) is wall-positive even on one box.
    */
  def cubeLineitem(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .select($"l_returnflag", $"l_linestatus",
        year($"l_shipdate").cast("int").as("yr"), $"l_linenumber",
        expr("CAST(l_extendedprice AS DECIMAL(14,2))").as("price"))
      .cube($"l_returnflag", $"l_linestatus", $"yr", $"l_linenumber")
      .agg(grouping_id().cast("int").as("gid"),
        count(lit(1)).as("n_items"),
        expr("CAST(sum(price) AS DOUBLE)").as("total_price"))
      .orderBy($"gid", $"l_returnflag", $"l_linestatus", $"yr", $"l_linenumber")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_rollup_monthly" -> (rollupMonthly _),
    "agg_cube_lineitem" -> (cubeLineitem _),
    "agg_rollup_avg" -> (rollupAvg _),
    "agg_cube_segment_status" -> (cubeSegmentStatus _),
    "agg_sets_priority" -> (setsPriority _),
    "agg_rollup_hierarchical" -> (rollupHierarchical _))

  private val rollupSql: String =
    """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
       GROUPING(yr, mo)::INT AS gid,
       count(*)::BIGINT AS n_orders,
       (sum(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS total_price
FROM orders
GROUP BY ROLLUP(yr, mo)
ORDER BY gid, yr, mo"""

  private val rollupAvgSql: String =
    """SELECT year(o_orderdate)::INT AS yr, month(o_orderdate)::INT AS mo,
       GROUPING(yr, mo)::INT AS gid,
       count(*)::BIGINT AS n_orders,
       ((CAST(FLOOR(sum(CAST(o_totalprice AS DECIMAL(14,2))) * 100 + 0.5) AS BIGINT)
          * 10000 * 2 + count(*)) // (2 * count(*)) / 1000000.0)::DOUBLE AS avg_price
FROM orders
GROUP BY ROLLUP(yr, mo)
ORDER BY gid, yr, mo"""

  private[graft] val cubeLineitemSql: String =
    """SELECT l_returnflag, l_linestatus, year(l_shipdate)::INT AS yr, l_linenumber,
       GROUPING(l_returnflag, l_linestatus, yr, l_linenumber)::INT AS gid,
       count(*)::BIGINT AS n_items,
       (sum(CAST(l_extendedprice AS DECIMAL(14,2))))::DOUBLE AS total_price
FROM lineitem
GROUP BY CUBE(l_returnflag, l_linestatus, yr, l_linenumber)
ORDER BY gid, l_returnflag, l_linestatus, yr, l_linenumber"""

  val oracle: Map[String, String] = Map(
    "agg_rollup_monthly" -> rollupSql,
    "agg_cube_lineitem" -> cubeLineitemSql,
    "agg_rollup_avg" -> rollupAvgSql,
    // the rewrite is semantics-preserving: same oracle text, verbatim
    "agg_rollup_hierarchical" -> rollupSql,

    "agg_cube_segment_status" ->
      """SELECT c_mktsegment, o_orderstatus,
       GROUPING(c_mktsegment, o_orderstatus)::INT AS gid,
       count(*)::BIGINT AS n_orders,
       (sum(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY CUBE(c_mktsegment, o_orderstatus)
ORDER BY gid, c_mktsegment, o_orderstatus""",

    "agg_sets_priority" ->
      """SELECT year(o_orderdate)::INT AS yr, o_orderpriority,
       GROUPING(yr, o_orderpriority)::INT AS gid,
       count(*)::BIGINT AS n_orders,
       (sum(CAST(o_totalprice AS DECIMAL(14,2))))::DOUBLE AS total_price
FROM orders
GROUP BY GROUPING SETS ((yr), (o_orderpriority), ())
ORDER BY gid, yr, o_orderpriority""")
}
