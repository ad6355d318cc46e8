package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Bitemporal as-of reconstruction — the two-axis history query SCD2's
  * single validity interval cannot answer: *what did we BELIEVE on
  * knowledge date T about the state at business date V?* Regulatory
  * restatements, late-arriving corrections, and "re-run last quarter's
  * report exactly as it printed" all need both axes; a warehouse with
  * only valid-time silently rewrites its own past reports every backfill.
  *
  * The fixture derives both axes deterministically from orders: business
  * validity starts at `o_orderdate`; the row is RECORDED 7 days late for
  * every 5th order (`o_orderkey % 5 = 0`) and same-day otherwise —
  * so any (V, T) pair near a period boundary sees a knowledge set that
  * differs from the eventual truth. The tracked state is each customer's
  * latest order priority. Two as-of pairs emit side by side: the
  * period-end report AS IT PRINTED (T only [[LagDays]] past V — late rows
  * invisible) and the RESTATED view (T at year-end — same V, fuller
  * knowledge), so the restatement delta is itself an oracle-checked
  * number.
  *
  * One window per as-of pair over the customer key — keyed shuffles, no
  * interval self-joins; at 100 TB the ledger is the transaction fact
  * plus one recorded_at column, exactly how bitemporal is deployed.
  */
object Bitemporal extends graft.QueryModule {

  /** Recording lag for the late-arriving carve-out. */
  val LagDays = 7

  /** Business as-of date (both report variants). */
  val ValidAsOf = "1995-06-30"

  /** Knowledge dates: the period-end print vs the year-end restatement. */
  val KnowledgeAtPrint = "1995-07-02"
  val KnowledgeRestated = "1995-12-31"

  def bitemporalAsof(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ledger = Tables.orders(spark, dir).select(
      $"o_custkey".as("custkey"),
      $"o_orderpriority".as("priority"),
      to_date($"o_orderdate").as("valid_from"),
      when(pmod($"o_orderkey", lit(5)) === 0,
        date_add(to_date($"o_orderdate"), LagDays))
        .otherwise(to_date($"o_orderdate")).as("recorded_at"),
      $"o_orderkey".as("okey"))
    def asof(label: String, validTo: String, knownTo: String) = {
      val w = Window.partitionBy($"custkey")
        .orderBy($"valid_from".desc, $"okey".desc)
      ledger
        .filter($"valid_from" <= lit(validTo) &&
          $"recorded_at" <= lit(knownTo))
        .withColumn("rk", row_number().over(w))
        .filter($"rk" === 1)
        .groupBy($"priority")
        .agg(count(lit(1)).as("n_customers"))
        .select(lit(label).as("asof_label"), $"priority", $"n_customers")
    }
    asof("printed", ValidAsOf, KnowledgeAtPrint)
      .unionByName(asof("restated", ValidAsOf, KnowledgeRestated))
      .orderBy($"asof_label", $"priority")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_bitemporal_asof" -> (bitemporalAsof _))

  private def asofSql(label: String, knownTo: String): String =
    s"""SELECT '$label' AS asof_label, priority, count(*)::BIGINT AS n_customers
FROM (
  SELECT custkey, priority,
         ROW_NUMBER() OVER (PARTITION BY custkey
                            ORDER BY valid_from DESC, okey DESC) AS rk
  FROM ledger
  WHERE valid_from <= DATE '$ValidAsOf'
    AND recorded_at <= DATE '$knownTo')
WHERE rk = 1
GROUP BY priority"""

  val oracle: Map[String, String] = Map(
    "wh_bitemporal_asof" -> s"""WITH ledger AS (
  SELECT o_custkey AS custkey, o_orderpriority AS priority,
         o_orderdate::DATE AS valid_from,
         CASE WHEN o_orderkey % 5 = 0
              THEN o_orderdate::DATE + INTERVAL $LagDays DAY
              ELSE o_orderdate::DATE END::DATE AS recorded_at,
         o_orderkey AS okey
  FROM orders)
${asofSql("printed", KnowledgeAtPrint)}
UNION ALL
${asofSql("restated", KnowledgeRestated)}
ORDER BY asof_label, priority""")
}
