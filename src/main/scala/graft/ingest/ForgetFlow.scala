package graft.ingest

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Right-to-be-forgotten cascade — the reference's `ON DELETE CASCADE`
  * chain (`sql/01_schema.sql:34,51,77,90`: patient → encounters →
  * procedures/diagnoses/reports) re-expressed as the distributed rewrite a
  * parquet lake actually runs. Postgres walks FK chains row-by-row; at
  * 100 TB a forget request is a BATCH of keys and the cascade is one
  * anti-join rewrite per child table, ordered parent→child so each level's
  * deleted key set feeds the next:
  *
  *   1. root: subjects named by the request (an explicit key list — a
  *      GDPR request file, not a predicate the optimizer could push);
  *   2. level 1: orders of forgotten customers (semi-join on the root set);
  *   3. level 2: lineitems of those orders — the join is unavoidable here
  *      (lineitem carries no customer key), which is exactly why the
  *      cascade must propagate key SETS, not re-derive predicates.
  *
  * The deleted-key sets shrink down the chain's selectivity (~1% of
  * customers), so they broadcast; the child rewrites are then map-side
  * anti-joins — no shuffle of the big tables. (Engines with deletion
  * vectors mark instead of rewrite; the counts ledger below is identical
  * either way, which is why it, not the rewritten files, is the checked
  * contract.) The ledger also carries the POST-CONDITION the reference
  * gets from its FK constraints: zero orphans remain at every level.
  */
object ForgetFlow extends graft.QueryModule {

  /** The forget request: customers whose md5(custkey) starts with 'a'
    * (≈1/16 of subjects — an explicit, predicate-opaque key list; ONE
    * definition in both engines).
    */
  val RequestNibble = "a"

  /** The request's root key set (customer level). Shared with every other
    * consumer of the forget flow — [[graft.plans.IvmSetQueries]]' view
    * retraction derives its delete delta from [[deletedOrderKeys]] below,
    * so the GDPR cascade and the IVM retraction are ONE flow, not two
    * look-alike constants.
    */
  private[graft] def forgottenCustomers(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.customer(spark, dir)
      .filter(substring(md5($"c_custkey".cast("string")), 1, 1) === RequestNibble)
      .select($"c_custkey")
  }

  /** Level-1 of the cascade: order keys of forgotten customers — the set
    * the lineitem-level rewrite (and the IVM retraction delta) anti-joins
    * against.
    */
  private[graft] def deletedOrderKeys(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    Tables.orders(spark, dir)
      .join(broadcast(forgottenCustomers(spark, dir)),
        $"o_custkey" === $"c_custkey", "left_semi")
      .select($"o_orderkey")
  }

  def forgetCascade(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val customer = Tables.customer(spark, dir)
    val orders = Tables.orders(spark, dir)
    val lineitem = Tables.lineitem(spark, dir)

    val forgotten = forgottenCustomers(spark, dir)
    val deletedOrders = deletedOrderKeys(spark, dir)
    // the rewrites (kept = anti-join), counted rather than persisted
    val keptOrders = orders.join(broadcast(forgotten),
      $"o_custkey" === $"c_custkey", "left_anti")
    val keptLineitem = lineitem.join(broadcast(deletedOrders),
      $"l_orderkey" === $"o_orderkey", "left_anti")
    // post-condition: kept children reference no forgotten parent
    val orphanOrders = keptOrders.join(broadcast(forgotten),
      $"o_custkey" === $"c_custkey", "left_semi")
    val orphanLines = keptLineitem.join(broadcast(deletedOrders),
      $"l_orderkey" === $"o_orderkey", "left_semi")

    def ledgerRow(table: String, total: DataFrame, kept: DataFrame,
        orphans: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_total"))
        .crossJoin(kept.agg(count(lit(1)).as("n_kept")))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphans_after")))
        .select(lit(table).as("table_name"),
          ($"n_total" - $"n_kept").as("n_deleted"), $"n_kept",
          $"n_orphans_after")

    ledgerRow("customer", customer,
        customer.filter(
          substring(md5($"c_custkey".cast("string")), 1, 1) =!= RequestNibble),
        customer.limit(0))
      .unionByName(ledgerRow("orders", orders, keptOrders, orphanOrders))
      .unionByName(ledgerRow("lineitem", lineitem, keptLineitem, orphanLines))
      .orderBy($"table_name")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "etl_forget_cascade" -> (forgetCascade _))

  val oracle: Map[String, String] = Map(
    "etl_forget_cascade" -> s"""WITH forgotten AS (
  SELECT c_custkey FROM customer
  WHERE substring(md5(c_custkey::VARCHAR), 1, 1) = '$RequestNibble'),
del_orders AS (
  SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM forgotten)),
ledger AS (
  SELECT 'customer' AS table_name,
         (SELECT count(*) FROM forgotten)::BIGINT AS n_deleted,
         (SELECT count(*) FROM customer)::BIGINT
           - (SELECT count(*) FROM forgotten)::BIGINT AS n_kept,
         0::BIGINT AS n_orphans_after
  UNION ALL
  SELECT 'orders',
         (SELECT count(*) FROM del_orders)::BIGINT,
         (SELECT count(*) FROM orders)::BIGINT
           - (SELECT count(*) FROM del_orders)::BIGINT,
         (SELECT count(*) FROM orders
          WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del_orders)
            AND o_custkey IN (SELECT c_custkey FROM forgotten))::BIGINT
  UNION ALL
  SELECT 'lineitem',
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey IN (SELECT o_orderkey FROM del_orders))::BIGINT,
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders))::BIGINT,
         (SELECT count(*) FROM lineitem
          WHERE l_orderkey NOT IN (SELECT o_orderkey FROM del_orders)
            AND l_orderkey IN (SELECT o_orderkey FROM del_orders))::BIGINT)
SELECT table_name, n_deleted, n_kept, n_orphans_after
FROM ledger
ORDER BY table_name""")
}
