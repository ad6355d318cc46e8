package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Functional-dependency profiling (the Metanome/data-profiling staple):
  * before trusting a column as a dimension key or collapsing attributes
  * into a junk dim, check which A → B dependencies the DATA actually
  * satisfies. A candidate holds iff no A-group contains two distinct B
  * values; the report counts the violating groups and rows, so a
  * "nearly-FD" (one bad load away from clean) is distinguishable from
  * structural independence.
  *
  * Candidates are a fixed audit list over the order/customer columns —
  * the ones the warehouse build implicitly assumes (the key→attribute
  * rows must hold; the attribute→attribute rows like status→priority are
  * expected to FAIL, and an incidental pass there is exactly the
  * "true in this data, not in the schema" trap the profiler surfaces).
  *
  * Scale: one keyed aggregate per candidate (map-side combined,
  * group-count-bounded output), unioned into an audit table of
  * |candidates| rows.
  */
object FdDiscovery extends graft.QueryModule {

  /** (table, lhs, rhs) candidates; tables resolve in [[fdDiscovery]]. */
  val Candidates: Seq[(String, String, String)] = Seq(
    ("orders", "o_orderkey", "o_custkey"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_orderstatus", "o_orderpriority"),
    ("customer", "c_custkey", "c_mktsegment"),
    ("customer", "c_nationkey", "c_mktsegment"))

  def fdDiscovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def table(name: String): DataFrame = name match {
      case "orders"   => Tables.orders(spark, dir)
      case "customer" => Tables.customer(spark, dir)
    }
    Candidates.map { case (t, lhs, rhs) =>
      table(t).groupBy(col(lhs))
        .agg(countDistinct(col(rhs)).as("nd"), count(lit(1)).as("rows"))
        .agg(count(lit(1)).as("n_groups"),
          sum(($"nd" > 1).cast("bigint")).as("violating_groups"),
          sum(when($"nd" > 1, $"rows").otherwise(0L)).as("violating_rows"))
        .select(lit(t).as("table_name"), lit(lhs).as("lhs"),
          lit(rhs).as("rhs"), $"n_groups", $"violating_groups",
          $"violating_rows",
          ($"violating_groups" === 0).cast("int").as("holds"))
    }.reduce(_ unionByName _).orderBy($"table_name", $"lhs", $"rhs")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_fd_discovery" -> (fdDiscovery _))

  val oracle: Map[String, String] = {
    val branches = Candidates.map { case (t, lhs, rhs) =>
      s"""SELECT '$t' AS table_name, '$lhs' AS lhs, '$rhs' AS rhs,
       count(*)::BIGINT AS n_groups,
       sum((nd > 1)::INT)::BIGINT AS violating_groups,
       sum(CASE WHEN nd > 1 THEN rows ELSE 0 END)::BIGINT AS violating_rows,
       (CASE WHEN sum((nd > 1)::INT) = 0 THEN 1 ELSE 0 END)::INT AS holds
FROM (SELECT $lhs, count(DISTINCT $rhs) AS nd, count(*)::BIGINT AS rows
      FROM $t GROUP BY $lhs)"""
    }.mkString("\nUNION ALL\n")
    Map("wh_fd_discovery" -> s"""$branches
ORDER BY table_name, lhs, rhs""")
  }
}
