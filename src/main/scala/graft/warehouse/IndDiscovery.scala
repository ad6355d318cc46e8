package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inclusion-dependency profiling — the foreign-key-candidate sibling of
  * [[FdDiscovery]]: A ⊆ B (every A value appears in B) is what makes a
  * join key TRUSTWORTHY, and discovering where it fails (and by how many
  * distinct values / rows) is the audit that runs before anyone writes
  * `JOIN` on an undeclared key. Each candidate is one distinct-projection
  * anti-join: the report carries the orphaned distinct-value count and
  * the row mass referencing them — `etl_fk_orphans` polices the DECLARED
  * keys; this one surveys the candidates.
  *
  * The list mixes true INDs (the TPC-H reference chains) with expected
  * failures (order keys are not customer keys), so the profiler's both
  * verdicts are exercised.
  *
  * Scale: per candidate, two distinct-projections and a broadcast-able
  * anti-join on the (usually dimension-sized) right side, plus one
  * row-mass join back — no pairwise anything.
  */
object IndDiscovery extends graft.QueryModule {

  /** (lhs table, lhs col, rhs table, rhs col) candidates. */
  val Candidates: Seq[(String, String, String, String)] = Seq(
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("customer", "c_nationkey", "nation", "n_nationkey"),
    ("nation", "n_regionkey", "region", "r_regionkey"),
    ("orders", "o_orderkey", "customer", "c_custkey"),
    ("events", "user_id", "orders", "o_orderkey"))

  def indDiscovery(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def table(name: String): DataFrame = name match {
      case "lineitem" => Tables.lineitem(spark, dir)
      case "orders"   => Tables.orders(spark, dir)
      case "customer" => Tables.customer(spark, dir)
      case "nation"   => Tables.nation(spark, dir)
      case "region"   => Tables.region(spark, dir)
      case "events"   => Tables.events(spark, dir)
    }
    // NULL lhs keys are excluded on BOTH engines: SQL's NOT IN goes
    // three-valued on NULL while an anti-join counts it — the classic
    // profiler parity trap
    Candidates.map { case (lt, lc, rt, rc) =>
      val lhs = table(lt).select(col(lc).cast("long").as("k"))
        .filter($"k".isNotNull)
        .groupBy($"k").agg(count(lit(1)).as("rows"))
      val rhs = table(rt).select(col(rc).cast("long").as("k")).distinct()
        .select($"k", lit(1).as("hit"))
      // the anti-join + two aggregates collapse to ONE left join (rhs keys
      // are distinct by construction — no fanout) and ONE aggregate:
      // totals from every row, orphan counts from the no-match rows
      lhs.join(rhs, Seq("k"), "left")
        .agg(
          count(lit(1)).as("n_distinct"),
          sum($"rows").as("n_rows"),
          count(when($"hit".isNull, 1)).as("orphan_values"),
          coalesce(sum(when($"hit".isNull, $"rows")), lit(0L))
            .as("orphan_rows"))
        .select(lit(s"$lt.$lc").as("lhs"), lit(s"$rt.$rc").as("rhs"),
          $"n_distinct", $"n_rows", $"orphan_values", $"orphan_rows",
          ($"orphan_values" === 0).cast("int").as("holds"))
    }.reduce(_ unionByName _).orderBy($"lhs", $"rhs")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_ind_discovery" -> (indDiscovery _))

  val oracle: Map[String, String] = {
    val branches = Candidates.map { case (lt, lc, rt, rc) =>
      s"""SELECT '$lt.$lc' AS lhs, '$rt.$rc' AS rhs,
       (SELECT count(*) FROM (SELECT DISTINCT $lc FROM $lt WHERE $lc IS NOT NULL))::BIGINT
         AS n_distinct,
       (SELECT count(*) FROM $lt WHERE $lc IS NOT NULL)::BIGINT AS n_rows,
       (SELECT count(*) FROM (SELECT DISTINCT $lc FROM $lt WHERE $lc IS NOT NULL) l
        WHERE l.$lc NOT IN (SELECT $rc FROM $rt))::BIGINT AS orphan_values,
       (SELECT count(*) FROM $lt
        WHERE $lc IS NOT NULL AND $lc NOT IN (SELECT $rc FROM $rt))::BIGINT AS orphan_rows,
       (CASE WHEN (SELECT count(*) FROM (SELECT DISTINCT $lc FROM $lt WHERE $lc IS NOT NULL) l
                   WHERE l.$lc NOT IN (SELECT $rc FROM $rt)) = 0
             THEN 1 ELSE 0 END)::INT AS holds"""
    }.mkString("\nUNION ALL\n")
    Map("wh_ind_discovery" -> s"""$branches
ORDER BY lhs, rhs""")
  }
}
