package graft.privacy

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Privacy-budget composition ledger — the accounting layer every DP
  * deployment runs ABOVE its mechanisms: each release against the same
  * subject population consumes budget, and basic sequential composition
  * says the totals ADD (ε_total = Σ ε_i). The ledger emits one row per
  * published release ([[DpRelease.dpCounts]] and [[DpRelease.dpSums]] —
  * both over `orders`, so they compose) with its group count, released-row
  * count and nominal ε, plus the TOTAL row a budget enforcer compares
  * against the policy cap: the number that decides whether the NEXT
  * release may run at all.
  *
  * ε values here are the NOMINAL ones the release queries themselves
  * carry (deterministic test harness — see [[DpRelease]]'s caveat); the
  * composition algebra is what this entry pins. Everything is integer
  * counts plus ε sums of exact literals. Release grain is metadata-sized;
  * at 100 TB the ledger is a catalog table that never touches the facts
  * beyond each release's own aggregate.
  */
object EpsilonLedger extends graft.QueryModule {

  /** Policy cap the ledger reports headroom against. One value, both
    * engines.
    */
  val EpsilonCap = 3.0

  def epsilonLedger(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def meta(name: String, df: DataFrame, eps: Double) = df.agg(
      count(lit(1)).as("n_groups"))
      .select(lit(name).as("release"), $"n_groups",
        lit(eps).as("epsilon"))
    val counts = meta("counts_by_priority",
      DpRelease.dpCounts(spark, dir), DpRelease.Epsilon)
    val sums = meta("sums_by_priority",
      DpRelease.dpSums(spark, dir), DpRelease.Epsilon)
    val releases = counts.unionByName(sums)
    val total = releases.agg(
        sum($"n_groups").as("n_groups"), sum($"epsilon").as("epsilon"))
      .select(lit("TOTAL_sequential_composition").as("release"),
        $"n_groups", $"epsilon")
    releases.unionByName(total)
      .select($"release", $"n_groups", $"epsilon",
        (lit(EpsilonCap) - $"epsilon").as("headroom"),
        ($"epsilon" <= EpsilonCap).cast("int").as("within_cap"))
      .orderBy($"release")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "priv_epsilon_ledger" -> (epsilonLedger _))

  /** The oracle recomputes each release's group count directly (both
    * releases group orders by priority) and replays the composition sum.
    */
  val oracle: Map[String, String] = Map(
    "priv_epsilon_ledger" -> s"""WITH g AS (
  SELECT count(DISTINCT o_orderpriority)::BIGINT AS n FROM orders),
releases AS (
  SELECT 'counts_by_priority' AS release, n AS n_groups,
         ${DpRelease.Epsilon}::DOUBLE AS epsilon FROM g
  UNION ALL
  SELECT 'sums_by_priority', n, ${DpRelease.Epsilon}::DOUBLE FROM g),
ledger AS (
  SELECT * FROM releases
  UNION ALL
  SELECT 'TOTAL_sequential_composition',
         sum(n_groups)::BIGINT, sum(epsilon)
  FROM releases)
SELECT release, n_groups, epsilon,
       $EpsilonCap - epsilon AS headroom,
       CASE WHEN epsilon <= $EpsilonCap THEN 1 ELSE 0 END::INT AS within_cap
FROM ledger
ORDER BY release""")
}
