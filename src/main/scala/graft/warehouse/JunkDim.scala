package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Junk dimension (Kimball) — the star-schema pattern for low-cardinality
  * flags: rather than one degenerate column per flag on the fact (or a
  * dimension per flag), the distinct flag COMBINATIONS become one tiny
  * dimension with a surrogate key the fact references. The reference's
  * warehouse keeps `is_weekend`/`has_report` inline on dim_time/fact
  * (`/root/reference/sql/03_warehouse.sql:68,86`); the junk-dim form is
  * what those become once flags multiply — completing the dimension-type
  * set beside SCD1/SCD2 ([[Scd2]]), the date dim, and the allocation
  * bridge ([[SnapshotFacts]]).
  *
  * Surrogate keys are `row_number` over the SORTED combination tuple — a
  * deterministic dense keying (the reference's SERIAL would be
  * load-order-dependent), reproducible on both engines. The dim is bounded
  * by the flag-domain product (3·5·2 = 30 here) regardless of corpus size,
  * so the keying window is a plan constant and the fact join a broadcast.
  */
object JunkDim extends graft.QueryModule {

  /** High-value flag threshold on o_totalprice. One value, both engines. */
  val HighValue = 200000

  /** The junk dimension plus per-combination usage: junk_key, the three
    * flag columns, and how many orders carry each combination (the usage
    * count is the audit a junk dim ships with — a combination with zero
    * facts is retired).
    */
  def junkDimension(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val flags = Tables.orders(spark, dir)
      .select(
        $"o_orderstatus".as("order_status"),
        $"o_orderpriority".as("order_priority"),
        ($"o_totalprice" > HighValue).as("is_high_value"))
    val dim = flags.groupBy($"order_status", $"order_priority",
        $"is_high_value")
      .agg(count(lit(1)).as("n_orders"))
      .withColumn("junk_key",
        row_number().over(Window.orderBy(
          $"order_status", $"order_priority", $"is_high_value")))
    dim.select($"junk_key", $"order_status", $"order_priority",
      $"is_high_value", $"n_orders")
      .orderBy($"junk_key")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_junk_dimension" -> (junkDimension _))

  val oracle: Map[String, String] = Map(
    "wh_junk_dimension" -> s"""WITH flags AS (
  SELECT o_orderstatus AS order_status,
         o_orderpriority AS order_priority,
         o_totalprice > $HighValue AS is_high_value
  FROM orders),
dim AS (
  SELECT order_status, order_priority, is_high_value,
         count(*)::BIGINT AS n_orders
  FROM flags GROUP BY 1, 2, 3)
SELECT row_number() OVER (ORDER BY order_status, order_priority,
                          is_high_value)::INT AS junk_key,
       order_status, order_priority, is_high_value, n_orders
FROM dim ORDER BY junk_key""")
}
