package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Stats-driven join-strategy advice — the strategy companion to
  * [[SkewAdvisor]] (which sizes SALT; this picks the JOIN SHAPE).
  *
  * At 100 TB the single most consequential per-join decision is which
  * physical strategy the shuffle-heavy joins get: broadcast (zero shuffle
  * of the big side) when one side fits executor memory, shuffle-hash
  * (no sort, build the small side per partition) when one side is much
  * smaller but not broadcastable, sort-merge (the only shape that spills
  * gracefully) otherwise. Spark decides from byte ESTIMATES at plan time;
  * a warehouse owner decides from MEASURED stats ahead of time — the
  * reference's habit of checking row counts before sizing work
  * (`src/etl_pipeline.py:205-234`), promoted to the join planner. This
  * advisor measures each audited join's two sides with one COUNT per
  * table (map-side-combined, margins broadcast) and applies the standard
  * decision rule, emitting the strategy a cluster deployment would pin
  * via join hints.
  *
  * Thresholds are ROW-count knobs here (byte thresholds divided by the
  * deployment's measured average row width — at the test SFs the row
  * limits below exercise every branch of the rule, which is what the
  * oracle checks; a production config derives them from
  * `spark.sql.autoBroadcastJoinThreshold` / executor memory).
  */
object JoinAdvisor extends graft.QueryModule {

  /** Right side broadcastable below this many rows. */
  val BroadcastRowLimit = 1000L

  /** Shuffle-hash beats sort-merge when the big side is ≥ this multiple of
    * the small side (build side fits per-partition memory).
    */
  val HashRatio = 10L

  /** The audited join graph — the star/snowflake edges every TPC-H-shaped
    * query in the library exercises.
    */
  val AuditedJoins: Seq[(String, String, String)] = Seq(
    ("lineitem", "part", "l_partkey = p_partkey"),
    ("lineitem", "supplier", "l_suppkey = s_suppkey"),
    ("lineitem", "orders", "l_orderkey = o_orderkey"),
    ("orders", "customer", "o_custkey = c_custkey"),
    ("customer", "nation", "c_nationkey = n_nationkey"),
    ("nation", "region", "n_regionkey = r_regionkey"))

  def joinAdvisor(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val tables = Map(
      "lineitem" -> Tables.lineitem(spark, dir),
      "part" -> Tables.part(spark, dir),
      "supplier" -> Tables.supplier(spark, dir),
      "orders" -> Tables.orders(spark, dir),
      "customer" -> Tables.customer(spark, dir),
      "nation" -> Tables.nation(spark, dir),
      "region" -> Tables.region(spark, dir))
    // one keyed COUNT per audited table, unioned into a 7-row margin
    val counts = tables.toSeq.sortBy(_._1).map { case (name, df) =>
      df.agg(count(lit(1)).as("n_rows")).select(lit(name).as("t"), $"n_rows")
    }.reduce(_ unionByName _)
    val pairs = AuditedJoins.toDF("left_t", "right_t", "join_key")
    pairs
      .join(broadcast(counts.select($"t".as("left_t"), $"n_rows".as("left_rows"))),
        Seq("left_t"))
      .join(broadcast(counts.select($"t".as("right_t"), $"n_rows".as("right_rows"))),
        Seq("right_t"))
      .select($"left_t", $"right_t", $"join_key", $"left_rows", $"right_rows",
        when($"right_rows" <= BroadcastRowLimit, "broadcast")
          .when($"left_rows" >= lit(HashRatio) * $"right_rows", "shuffle_hash")
          .otherwise("sort_merge").as("strategy"))
      .orderBy($"left_t", $"right_t")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_join_advisor" -> (joinAdvisor _))

  val oracle: Map[String, String] = {
    val pairValues = AuditedJoins
      .map { case (l, r, k) => s"('$l', '$r', '$k')" }.mkString(",\n  ")
    Map("wh_join_advisor" -> s"""WITH c AS (
  SELECT 'lineitem' AS t, count(*)::BIGINT AS n_rows FROM lineitem
  UNION ALL SELECT 'part', count(*)::BIGINT FROM part
  UNION ALL SELECT 'supplier', count(*)::BIGINT FROM supplier
  UNION ALL SELECT 'orders', count(*)::BIGINT FROM orders
  UNION ALL SELECT 'customer', count(*)::BIGINT FROM customer
  UNION ALL SELECT 'nation', count(*)::BIGINT FROM nation
  UNION ALL SELECT 'region', count(*)::BIGINT FROM region),
p AS (SELECT * FROM (VALUES
  $pairValues) AS v(left_t, right_t, join_key))
SELECT p.left_t, p.right_t, p.join_key,
       l.n_rows AS left_rows, r.n_rows AS right_rows,
       CASE WHEN r.n_rows <= $BroadcastRowLimit THEN 'broadcast'
            WHEN l.n_rows >= $HashRatio * r.n_rows THEN 'shuffle_hash'
            ELSE 'sort_merge' END AS strategy
FROM p JOIN c l ON l.t = p.left_t JOIN c r ON r.t = p.right_t
ORDER BY p.left_t, p.right_t""")
  }
}
