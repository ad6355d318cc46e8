package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declarative expectation suite — the dbt-test / Great-Expectations layer
  * this engine's ingest gates ([[graft.ingest.Ingest]] quarantines ROWS)
  * deliberately don't cover: SUITE-level assertions over whole landed
  * tables, each one aggregate, all folded into one pass/fail ledger the
  * scheduler reads before releasing downstream jobs. One row per check:
  * observed value, bound, pass flag — so a red dashboard cell carries its
  * evidence with it.
  *
  * The checks are the canonical six of every warehouse test suite:
  * NOT-NULL rate, UNIQUE key, ACCEPTED RANGE, REFERENTIAL integrity,
  * FRESHNESS, and ROW-COUNT envelope. Each compiles to one
  * scan-aggregate (no joins except the anti-join inside the referential
  * check); the suite is a UNION of one-row aggregates, so at 100 TB the
  * checks share nothing and schedule as independent column-pruned scans —
  * footer statistics answer the count/min/max ones without data I/O.
  *
  * Thresholds are plan constants interpolated into both engines; the
  * pass flag is integer — the whole ledger hash-compares.
  */
object Expectations extends graft.QueryModule {

  /** Row-count envelope for `orders` relative to `customer`: TPC-H lands
    * 10 orders per customer; a load that breaks [8, 12]× signals a partial
    * or doubled batch. One pair of values, both engines.
    */
  val OrdersPerCustLo = 8L
  val OrdersPerCustHi = 12L

  /** Freshness floor: newest order must be on/after 1998-01-01. */
  val FreshnessFloor = "1998-01-01"

  def expectations(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
    val c = Tables.customer(spark, dir)
    val l = Tables.lineitem(spark, dir)

    def row(name: String, df: DataFrame) = df.select(
      lit(name).as("check"),
      $"observed".cast("bigint").as("observed"),
      $"bound".cast("bigint").as("bound"),
      $"pass".cast("int").as("pass"))

    val notNull = row("orders.o_custkey not_null",
      o.agg(sum(when($"o_custkey".isNull, 1L).otherwise(0L)).as("observed"))
        .select($"observed", lit(0L).as("bound"),
          ($"observed" === 0L).as("pass")))
    val unique = row("orders.o_orderkey unique",
      o.agg((count(lit(1)) - countDistinct($"o_orderkey")).as("observed"))
        .select($"observed", lit(0L).as("bound"),
          ($"observed" === 0L).as("pass")))
    val range = row("lineitem.l_quantity accepted_range[1,50]",
      l.agg(sum(when($"l_quantity" < 1 || $"l_quantity" > 50, 1L)
          .otherwise(0L)).as("observed"))
        .select($"observed", lit(0L).as("bound"),
          ($"observed" === 0L).as("pass")))
    val referential = row("orders.o_custkey referential customer",
      o.select($"o_custkey").distinct()
        .join(c.select($"c_custkey"), $"o_custkey" === $"c_custkey",
          "left_anti")
        .agg(count(lit(1)).as("observed"))
        .select($"observed", lit(0L).as("bound"),
          ($"observed" === 0L).as("pass")))
    val fresh = row(s"orders.o_orderdate freshness>=$FreshnessFloor",
      o.agg(max(datediff(to_date($"o_orderdate"), lit("1970-01-01")))
          .as("observed"))
        .select($"observed",
          datediff(to_date(lit(FreshnessFloor)), lit("1970-01-01"))
            .cast("bigint").as("bound"),
          ($"observed" >= datediff(to_date(lit(FreshnessFloor)),
            lit("1970-01-01"))).as("pass")))
    val volume = row(
      s"orders row_count in [$OrdersPerCustLo,$OrdersPerCustHi]x customers",
      o.agg(count(lit(1)).as("n_o")).crossJoin(
          c.agg(count(lit(1)).as("n_c")))
        .select($"n_o".as("observed"), $"n_c".as("bound"),
          ($"n_o" >= $"n_c" * OrdersPerCustLo &&
            $"n_o" <= $"n_c" * OrdersPerCustHi).as("pass")))

    notNull.unionByName(unique).unionByName(range)
      .unionByName(referential).unionByName(fresh).unionByName(volume)
      .orderBy($"check")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_expectations" -> (expectations _))

  val oracle: Map[String, String] = Map(
    "wh_expectations" -> s"""SELECT * FROM (
SELECT 'orders.o_custkey not_null' AS "check",
       sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)::BIGINT AS observed,
       0::BIGINT AS bound,
       CASE WHEN sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END::INT AS pass
FROM orders
UNION ALL
SELECT 'orders.o_orderkey unique',
       (count(*) - count(DISTINCT o_orderkey))::BIGINT, 0,
       CASE WHEN count(*) = count(DISTINCT o_orderkey) THEN 1 ELSE 0 END
FROM orders
UNION ALL
SELECT 'lineitem.l_quantity accepted_range[1,50]',
       sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END)
         ::BIGINT, 0,
       CASE WHEN sum(CASE WHEN l_quantity < 1 OR l_quantity > 50
                     THEN 1 ELSE 0 END) = 0 THEN 1 ELSE 0 END
FROM lineitem
UNION ALL
SELECT 'orders.o_custkey referential customer',
       count(*)::BIGINT, 0, CASE WHEN count(*) = 0 THEN 1 ELSE 0 END
FROM (SELECT DISTINCT o_custkey FROM orders
      WHERE o_custkey NOT IN (SELECT c_custkey FROM customer))
UNION ALL
SELECT 'orders.o_orderdate freshness>=$FreshnessFloor',
       max(datediff('day', DATE '1970-01-01', o_orderdate::DATE))::BIGINT,
       datediff('day', DATE '1970-01-01', DATE '$FreshnessFloor')::BIGINT,
       CASE WHEN max(o_orderdate::DATE) >= DATE '$FreshnessFloor'
            THEN 1 ELSE 0 END
FROM orders
UNION ALL
SELECT 'orders row_count in [$OrdersPerCustLo,$OrdersPerCustHi]x customers',
       (SELECT count(*) FROM orders)::BIGINT,
       (SELECT count(*) FROM customer)::BIGINT,
       CASE WHEN (SELECT count(*) FROM orders)
              BETWEEN (SELECT count(*) FROM customer) * $OrdersPerCustLo
                  AND (SELECT count(*) FROM customer) * $OrdersPerCustHi
            THEN 1 ELSE 0 END)
ORDER BY 1""")
}
