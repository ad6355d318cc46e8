package graft.analytics

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The classic TPC-H trio (Q1 pricing summary, Q3 shipping priority, Q6
  * forecast revenue — public-domain TPC specification queries) over the
  * lineitem/orders/customer testdata, included as the canonical OLAP
  * plan-shape probes beside the reference's own 12 queries: Q1 is the
  * wide-aggregate scan, Q3 the filtered star-join top-k, Q6 the selective
  * single-pass filter-agg.
  *
  * Money math is DECIMAL end-to-end, cast to DOUBLE only at output: float
  * `sum()` through a shuffle is merge-order-dependent (the one hash-compare
  * hazard this repo bans), while decimal sums are EXACT integers underneath
  * — associative at any parallelism, and the at-scale-correct way to
  * aggregate currency. Every decimal width/scale is mirrored verbatim in
  * the DuckDB twins, so intermediates are exact on both engines and the
  * final DOUBLE cast lands identical bits. Filters and constants are shared
  * Scala values interpolated into both engines.
  */
object TpchQueries extends graft.QueryModule {

  /** Q1 ships-on-or-before cutoff. */
  val Q1Cutoff = "2000-12-01"

  /** Q3 segment + date split. */
  val Q3Segment = "BUILDING"
  val Q3Date = "1998-01-01"

  /** Q6 window + band. */
  val Q6YearLo = "1997-01-01"
  val Q6YearHi = "1998-01-01"
  val Q6DiscLo = "0.02"
  val Q6DiscHi = "0.04"
  val Q6QtyMax = 24

  // shared decimal kernels (identical text on both engines)
  private val QtyD = "CAST(l_quantity AS DECIMAL(12,2))"
  private val ExtD = "CAST(l_extendedprice AS DECIMAL(14,2))"
  private val DiscD = "CAST(l_discount AS DECIMAL(4,2))"
  private val TaxD = "CAST(l_tax AS DECIMAL(4,2))"
  private val DiscPrice = s"$ExtD * (CAST(1 AS DECIMAL(3,2)) - $DiscD)"
  private val Charge = s"($DiscPrice) * (CAST(1 AS DECIMAL(3,2)) + $TaxD)"

  /** Q1: pricing summary report — one scan, map-side partial aggregation
    * into 4 groups; the throughput benchmark for the aggregate path.
    */
  def q1(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(expr(s"l_shipdate <= TIMESTAMP '$Q1Cutoff'"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        expr(s"CAST(sum($QtyD) AS DOUBLE)").as("sum_qty"),
        expr(s"CAST(sum($ExtD) AS DOUBLE)").as("sum_base_price"),
        expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("sum_disc_price"),
        expr(s"CAST(sum($Charge) AS DOUBLE)").as("sum_charge"),
        expr(s"CAST(sum($QtyD) AS DOUBLE) / CAST(count(*) AS DOUBLE)")
          .as("avg_qty"),
        expr(s"CAST(sum($ExtD) AS DOUBLE) / CAST(count(*) AS DOUBLE)")
          .as("avg_price"),
        expr(s"CAST(sum($DiscD) AS DOUBLE) / CAST(count(*) AS DOUBLE)")
          .as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Q3: shipping-priority top-10 — segment-filtered customer broadcasts
    * into orders, the fact join co-shuffles on orderkey, and the LIMIT
    * plans as TakeOrderedAndProject.
    */
  def q3(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cust = Tables.customer(spark, dir)
      .filter($"c_mktsegment" === Q3Segment)
      .select($"c_custkey")
    val ord = Tables.orders(spark, dir)
      .filter(expr(s"o_orderdate < TIMESTAMP '$Q3Date'"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val line = Tables.lineitem(spark, dir)
      .filter(expr(s"l_shipdate > TIMESTAMP '$Q3Date'"))
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    line.join(ord.join(broadcast(cust), $"o_custkey" === $"c_custkey"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("revenue"))
      .orderBy($"revenue".desc, $"o_orderdate", $"l_orderkey")
      .limit(10)
  }

  /** Q6: forecast revenue change — the selective filter-agg; at scale this
    * is the query whose filters must reach the parquet scan.
    */
  def q6(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.lineitem(spark, dir)
      .filter(expr(
        s"""l_shipdate >= TIMESTAMP '$Q6YearLo'
           |AND l_shipdate < TIMESTAMP '$Q6YearHi'
           |AND l_discount BETWEEN $Q6DiscLo AND $Q6DiscHi
           |AND l_quantity < $Q6QtyMax""".stripMargin))
      .agg(
        expr(s"CAST(sum($ExtD * $DiscD) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q13 exclusion predicate on the outer side (stands in for the spec's
    * `o_comment NOT LIKE` — this orders table has no comment column).
    */
  val Q13Excluded = "1-URGENT"

  /** Q13: customer order-count distribution — the outer-join histogram
    * shape: LEFT join so zero-order customers survive with c_count = 0,
    * a count over the join key, then a histogram of the counts. At scale
    * the join co-shuffles customer and filtered orders on custkey with a
    * map-side partial count; the second aggregate is histogram-sized.
    */
  def q13(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter($"o_orderpriority" =!= Q13Excluded)
      .select($"o_custkey", $"o_orderkey")
    Tables.customer(spark, dir).select($"c_custkey")
      .join(ord, $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("c_count"))
      .groupBy($"c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy($"custdist".desc, $"c_count".desc)
  }

  /** Q18 large-order quantity floor. */
  val Q18Qty = 300

  /** Q18: large-volume customers — the aggregate-driven SEMI-JOIN shape:
    * a big groupBy produces the qualifying key set (HAVING over the whole
    * fact), which then left-semi joins back into the fact before the final
    * rollup and top-k. Quantity sums are DECIMAL end to end (the float-sum
    * shuffle hazard), the qualifying key set broadcasts (HAVING makes it
    * tiny), and the LIMIT plans as TakeOrderedAndProject.
    */
  def q18(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val line = Tables.lineitem(spark, dir)
    val bigOrders = line.groupBy($"l_orderkey")
      .agg(expr(s"sum($QtyD)").as("qty"))
      .filter($"qty" > Q18Qty)
      .select($"l_orderkey".as("big_key"))
    val cust = Tables.customer(spark, dir).select($"c_custkey", $"c_name")
    Tables.orders(spark, dir)
      .join(broadcast(bigOrders), $"o_orderkey" === $"big_key", "left_semi")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(line, $"o_orderkey" === $"l_orderkey")
      .groupBy($"c_name", $"c_custkey", $"o_orderkey", $"o_orderdate",
        $"o_totalprice")
      .agg(expr(s"CAST(sum($QtyD) AS DOUBLE)").as("total_qty"))
      .orderBy($"o_totalprice".desc, $"o_orderdate", $"o_orderkey")
      .limit(100)
  }

  /** Q4 quarter window + the late-shipment stand-in threshold (this
    * lineitem has no commit/receipt dates, so "committed later than
    * received" becomes "shipped more than [[Q4LateDays]] days after the
    * order" — same EXISTS shape, same join keys).
    */
  val Q4Lo = "1997-01-01"
  val Q4Hi = "1997-04-01"
  val Q4LateDays = 60

  /** Q4: order-priority checking — the canonical EXISTS → LEFT SEMI JOIN
    * decorrelation: orders in the quarter survive iff at least one of their
    * lineitems shipped late, then a tiny priority histogram. The semi-join
    * is an equi-join on orderkey carrying the non-equi lateness predicate —
    * it co-shuffles both facts on the key and emits each order at most once
    * (no EXISTS re-aggregation, no distinct), which is the whole point of
    * the shape at scale.
    */
  def q4(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter(expr(s"o_orderdate >= TIMESTAMP '$Q4Lo'")
        && expr(s"o_orderdate < TIMESTAMP '$Q4Hi'"))
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val line = Tables.lineitem(spark, dir).select($"l_orderkey", $"l_shipdate")
    ord.join(line,
        $"l_orderkey" === $"o_orderkey"
          && $"l_shipdate" > expr(s"o_orderdate + INTERVAL $Q4LateDays DAYS"),
        "left_semi")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy($"o_orderpriority")
  }

  /** Q2 region + part-type filters (this catalog has no `partsupp` table —
    * lineitem rows stand in as the (part, supplier, price) offers, and with
    * no ps_supplycost the minimized measure is the offer price itself; the
    * join tree and subquery shape are the spec's).
    */
  val Q2Region = "EUROPE"
  val Q2Type = "STANDARD"

  /** Q2: minimum-cost supplier — the correlated scalar-MIN subquery,
    * decorrelated: the per-part minimum over region-local offers is a
    * groupBy, joined back on (part, price = min) so every offer achieving
    * the minimum survives (ties kept, as the spec requires). The
    * supplier→nation→region snowflake chain broadcasts stepwise into the
    * offers; the min table joins back on partkey — per-part rows, NOT
    * broadcastable at catalog scale, so it co-shuffles with the offers on
    * partkey (the honest shape). Output ordered per the spec with the
    * suppkey/partkey tiebreak making the LIMIT deterministic.
    */
  def q2(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val eur = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === Q2Region)),
        $"n_regionkey" === $"r_regionkey")
      .select($"s_suppkey", $"s_name", $"s_acctbal", $"n_name")
    val offers = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey", $"l_extendedprice")
      .join(broadcast(eur), $"l_suppkey" === $"s_suppkey")
    val mins = offers.groupBy($"l_partkey".as("m_partkey"))
      .agg(min($"l_extendedprice").as("min_price"))
    val parts = Tables.part(spark, dir)
      .filter($"p_type" === Q2Type)
      .select($"p_partkey", $"p_name")
    offers
      .join(mins, $"l_partkey" === $"m_partkey"
        && $"l_extendedprice" === $"min_price")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .select($"s_acctbal", $"s_name", $"s_suppkey", $"n_name",
        $"p_partkey", $"p_name", $"min_price")
      .distinct()
      .orderBy($"s_acctbal".desc, $"n_name", $"s_name", $"s_suppkey",
        $"p_partkey")
      .limit(100)
  }

  /** Q14 month window. */
  val Q14Lo = "1997-09-01"
  val Q14Hi = "1997-10-01"

  /** Q14: promotion effect — conditional aggregate over a fact ⋈ dim join,
    * the ratio-of-aggregates-in-one-pass shape (A9 at TPC-H scale). Both
    * sums are exact DECIMAL (associative through the shuffle); the percent
    * is one double expression evaluated in identical textual order on both
    * engines. `part` broadcasts (a dim); the date filter prunes the fact
    * scan.
    */
  def q14(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val promo = s"CASE WHEN p_type = 'PROMO' THEN $DiscPrice ELSE 0 END"
    Tables.lineitem(spark, dir)
      .filter(expr(s"l_shipdate >= TIMESTAMP '$Q14Lo'")
        && expr(s"l_shipdate < TIMESTAMP '$Q14Hi'"))
      .join(broadcast(Tables.part(spark, dir).select($"p_partkey", $"p_type")),
        $"l_partkey" === $"p_partkey")
      .agg(
        expr(s"CAST(sum($promo) AS DOUBLE) * 100 / CAST(sum($DiscPrice) AS DOUBLE)")
          .as("promo_revenue_pct"),
        expr(s"CAST(sum($promo) AS DOUBLE)").as("promo_revenue"),
        expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("total_revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q5 region + order-year window. */
  val Q5Region = "ASIA"
  val Q5Lo = "1997-01-01"
  val Q5Hi = "1998-01-01"

  /** Q5: local-supplier volume — the 6-way snowflake join with the
    * cross-dimension equality (customer's nation must equal the supplier's
    * nation) that makes it the classic join-order probe. The snowflake
    * (region→nation→supplier) broadcasts stepwise; orders co-shuffles with
    * customer on custkey, the result with lineitem on orderkey — the two
    * honest fact shuffles — and the supplier side arrives broadcast with
    * the nation equality folded into the join condition, so no extra
    * shuffle is spent on it. Revenue is DECIMAL end to end.
    */
  def q5(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val nat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === Q5Region)),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat), $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_nationkey", $"n_name")
    val ord = Tables.orders(spark, dir)
      .filter(expr(s"o_orderdate >= TIMESTAMP '$Q5Lo'")
        && expr(s"o_orderdate < TIMESTAMP '$Q5Hi'"))
      .select($"o_orderkey", $"o_custkey")
    val co = ord.join(Tables.customer(spark, dir)
        .select($"c_custkey", $"c_nationkey"),
      $"o_custkey" === $"c_custkey")
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(co, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup),
        $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("revenue"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** Q17 brand filter (this part table has no container column — brand
    * alone selects the probe population; same correlated shape).
    */
  val Q17Brand = "Brand#12"

  /** Q17: small-quantity revenue loss — the correlated scalar-AVG subquery
    * (`l_quantity < 0.2 * (SELECT avg(l_quantity) … same part)`),
    * decorrelated into a per-part aggregate joined back to the probe rows.
    * The float hazard is removed by the exact-rational rewrite: with
    * positive counts, qty < 0.2·(sum/cnt) ⟺ 5·qty·cnt < sum — all DECIMAL
    * products, no division, so both engines compare exact integers
    * underneath. The per-part stats co-shuffle with the probe rows on
    * partkey (per-part rows are NOT broadcastable at catalog scale); the
    * brand dim filter broadcasts into the fact scan.
    */
  def q17(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .filter($"p_brand" === Q17Brand)
      .select($"p_partkey")
    val probe = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
    val stats = probe.groupBy($"l_partkey".as("a_partkey"))
      .agg(expr(s"sum($QtyD)").as("sum_qty"),
        count(lit(1)).as("n_lines_part"))
    probe.join(stats, $"l_partkey" === $"a_partkey")
      .filter(expr(s"$QtyD * 5 * n_lines_part < sum_qty"))
      .agg(
        expr(s"CAST(sum($ExtD) AS DOUBLE) / CAST(7 AS DOUBLE)")
          .as("avg_yearly"),
        count(lit(1)).as("n_small_lines"))
  }

  /** Q22 country-code stand-in: this customer table has no phone column,
    * so the two-digit prefix set becomes a nationkey set (same selective
    * IN-list shape). And because every synthetic customer has at least one
    * order, the spec's "no orders at all" becomes "no orders since
    * [[Q22Dormant]]" — dormant customers — keeping the NOT-EXISTS
    * anti-join shape non-degenerate.
    */
  val Q22Nations = Seq(1, 3, 5, 7, 9, 11, 13)
  val Q22Dormant = "2000-01-01"

  /** Q22: global sales opportunity — the scalar-subquery threshold plus
    * NOT-EXISTS anti-join: customers from the listed nations with balance
    * above the positive-balance average and no recent orders. The float
    * hazard in `c_acctbal > avg(…)` is removed by the rational rewrite
    * bal·n > sum over DECIMAL(12,2) sums (exact at any parallelism); the
    * one-row threshold broadcasts (nested-loop with a 1-row build side,
    * the scalar-subquery plan), and the anti-join co-shuffles customers
    * with the date-filtered orders key column.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sel = Tables.customer(spark, dir)
      .filter($"c_nationkey".isin(Q22Nations: _*))
      .select($"c_custkey", $"c_nationkey", $"c_acctbal")
    val thr = sel.filter($"c_acctbal" > 0.0)
      .agg(expr("sum(CAST(c_acctbal AS DECIMAL(12,2)))").as("s"),
        count(lit(1)).as("n"))
    val recent = Tables.orders(spark, dir)
      .filter(expr(s"o_orderdate >= TIMESTAMP '$Q22Dormant'"))
      .select($"o_custkey")
    sel.crossJoin(broadcast(thr))
      .filter(expr("CAST(c_acctbal AS DECIMAL(12,2)) * n > s"))
      .join(recent, $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_nationkey")
      .agg(count(lit(1)).as("n_cust"),
        expr("CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE)")
          .as("total_acctbal"))
      .orderBy($"c_nationkey")
  }

  /** Q7 nation pair + two-year shipdate window. */
  val Q7NationA = "NATION_7"
  val Q7NationB = "NATION_8"
  val Q7Lo = "1997-01-01"
  val Q7Hi = "1998-12-31"

  /** Q7: volume shipping between two nations — the cross-nation-pair probe:
    * both directions of (supplier nation, customer nation) survive, grouped
    * by year. The nation-pair filter is pushed into BOTH dimension sides
    * before any fact join (supplier and customer each keep only the two
    * nations), so the fact shuffles carry pre-pruned rows; supplier arrives
    * broadcast, orders⋈customer co-shuffles on custkey and the result with
    * lineitem on orderkey — the two honest shuffles.
    */
  def q7(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pair = Seq(Q7NationA, Q7NationB)
    val nat = Tables.nation(spark, dir).filter($"n_name".isin(pair: _*))
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(nat.select($"n_nationkey", $"n_name".as("supp_nation"))),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"supp_nation")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(nat.select($"n_nationkey".as("cn_key"),
          $"n_name".as("cust_nation"))),
        $"c_nationkey" === $"cn_key")
      .select($"c_custkey", $"cust_nation")
    val ord = Tables.orders(spark, dir).select($"o_orderkey", $"o_custkey")
      .join(cust, $"o_custkey" === $"c_custkey")
    Tables.lineitem(spark, dir)
      .filter(expr(s"l_shipdate BETWEEN TIMESTAMP '$Q7Lo' AND TIMESTAMP '$Q7Hi'"))
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate",
        $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .filter(($"supp_nation" === Q7NationA && $"cust_nation" === Q7NationB)
        || ($"supp_nation" === Q7NationB && $"cust_nation" === Q7NationA))
      .groupBy($"supp_nation", $"cust_nation",
        year($"l_shipdate").as("l_year"))
      .agg(expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("revenue"))
      .orderBy($"supp_nation", $"cust_nation", $"l_year")
  }

  /** Q8 market-share parameters. */
  val Q8Region = "ASIA"
  val Q8Nation = "NATION_12"
  val Q8Type = "STANDARD"
  val Q8Lo = "1997-01-01"
  val Q8Hi = "1998-12-31"

  /** Q8: national market share — ratio-of-conditional-aggregates per year
    * over the full 7-table snowflake. Customer region prunes via broadcast
    * nation⋈region before the fact joins; part-type broadcasts into the
    * lineitem scan; the supplier nation label arrives broadcast. Both sums
    * are exact DECIMAL; the share divides the two DOUBLE casts in identical
    * textual order on both engines (0/x = 0.0 exactly, so a zero-share year
    * still hash-matches).
    */
  def q8(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val asiaNat = Tables.nation(spark, dir)
      .join(broadcast(Tables.region(spark, dir).filter($"r_name" === Q8Region)),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(asiaNat), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey")
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey".as("sn_key"), $"n_name".as("nation"))),
        $"s_nationkey" === $"sn_key")
      .select($"s_suppkey", $"nation")
    val ord = Tables.orders(spark, dir)
      .filter(expr(s"o_orderdate BETWEEN TIMESTAMP '$Q8Lo' AND TIMESTAMP '$Q8Hi'"))
      .select($"o_orderkey", $"o_custkey", $"o_orderdate")
      .join(cust, $"o_custkey" === $"c_custkey")
    val parts = Tables.part(spark, dir)
      .filter($"p_type" === Q8Type).select($"p_partkey")
    val natVol = s"CASE WHEN nation = '$Q8Nation' THEN $DiscPrice ELSE 0 END"
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey",
        $"l_extendedprice", $"l_discount")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .groupBy(year($"o_orderdate").as("o_year"))
      .agg(
        expr(s"CAST(sum($natVol) AS DOUBLE) / CAST(sum($DiscPrice) AS DOUBLE)")
          .as("mkt_share"),
        expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("total_volume"))
      .orderBy($"o_year")
  }

  /** Q9 part-name token (stands in for the spec's `p_name LIKE '%green%'`;
    * this part catalog names parts "<adj> <noun>").
    */
  val Q9Token = "bolt"

  /** Q9: product-type profit — per (supplier nation, order year) profit where
    * the spec's `ps_supplycost` (no partsupp table here) stands in as the
    * part's retail price: amount = discounted price − retailprice·quantity,
    * all DECIMAL so the shuffle-order hazard never arises. The name-filtered
    * part dim (with its cost column) and the supplier→nation label both
    * broadcast into the fact; orders co-shuffles on orderkey for the year.
    */
  def q9(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .filter($"p_name".contains(Q9Token))
      .select($"p_partkey", $"p_retailprice")
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name".as("nation"))),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"nation")
    val amount =
      s"$DiscPrice - CAST(p_retailprice AS DECIMAL(12,2)) * $QtyD"
    Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_partkey", $"l_suppkey", $"l_quantity",
        $"l_extendedprice", $"l_discount")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .join(Tables.orders(spark, dir).select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"nation", year($"o_orderdate").as("o_year"))
      .agg(expr(s"CAST(sum($amount) AS DOUBLE)").as("sum_profit"))
      .orderBy($"nation", $"o_year".desc)
  }

  /** Q10 returned-items quarter. */
  val Q10Lo = "1997-10-01"
  val Q10Hi = "1998-01-01"

  /** Q10: returned-item reporting — top-20 customers by returned revenue in
    * a quarter: date-pruned orders co-shuffle with customer on custkey, the
    * returnflag-filtered fact joins on orderkey, nation broadcasts for the
    * label, and the LIMIT plans as TakeOrderedAndProject (custkey tiebreak
    * makes the boundary deterministic).
    */
  def q10(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .filter(expr(s"o_orderdate >= TIMESTAMP '$Q10Lo'")
        && expr(s"o_orderdate < TIMESTAMP '$Q10Hi'"))
      .select($"o_orderkey", $"o_custkey")
    val cust = Tables.customer(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .select($"n_nationkey", $"n_name")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"c_acctbal", $"n_name",
        $"c_mktsegment")
    Tables.lineitem(spark, dir)
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(cust, $"o_custkey" === $"c_custkey")
      .groupBy($"c_custkey", $"c_name", $"c_acctbal", $"n_name",
        $"c_mktsegment")
      .agg(expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("revenue"))
      .select($"c_custkey", $"c_name", $"revenue", $"c_acctbal", $"n_name",
        $"c_mktsegment")
      .orderBy($"revenue".desc, $"c_custkey")
      .limit(20)
  }

  /** Q11 supplier nation + the share-of-total denominator (value·den >
    * total ⟺ value > total/den — the exact-rational form of the spec's
    * `HAVING value > total * fraction`).
    */
  val Q11Nation = "NATION_12"
  val Q11FracDen = 500

  /** Q11: important stock identification — per-part value from one nation's
    * suppliers (no partsupp table: value = Σ extendedprice·quantity over
    * that nation's lineitems), kept when above 1/[[Q11FracDen]] of the
    * total. The global threshold is the scalar-subquery shape: a one-row
    * aggregate broadcast into the per-part rows; the comparison multiplies
    * DECIMALs (value·den > total) so both engines compare exact integers —
    * no division, no float.
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter($"n_name" === Q11Nation).select($"n_nationkey")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey")
    val perPart = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey", $"l_quantity", $"l_extendedprice")
      .join(broadcast(sup), $"l_suppkey" === $"s_suppkey")
      .groupBy($"l_partkey")
      .agg(expr(s"sum($ExtD * $QtyD)").as("value_d"))
    val total = perPart.agg(expr("sum(value_d)").as("total"))
    perPart.crossJoin(broadcast(total))
      .filter(expr(s"value_d * $Q11FracDen > total"))
      .select($"l_partkey", expr("CAST(value_d AS DOUBLE)").as("value"))
      .orderBy($"value".desc, $"l_partkey")
  }

  /** Q12 mode classes (this lineitem has no shipmode column — returnflag
    * classes stand in) + shipment-year window; "late" reuses [[Q4LateDays]].
    */
  val Q12Modes = Seq("R", "N")
  val Q12Lo = "1997-01-01"
  val Q12Hi = "1998-01-01"

  /** Q12: shipping-mode priority split — late lineitems in a year, split per
    * mode class into high/low-priority order counts: the conditional-count
    * pair over a fact⋈fact equi-join (orderkey co-shuffle) with the same
    * non-equi lateness predicate as Q4.
    */
  def q12(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ord = Tables.orders(spark, dir)
      .select($"o_orderkey", $"o_orderdate", $"o_orderpriority")
    val high = "o_orderpriority IN ('1-URGENT','2-HIGH')"
    Tables.lineitem(spark, dir)
      .filter($"l_returnflag".isin(Q12Modes: _*)
        && expr(s"l_shipdate >= TIMESTAMP '$Q12Lo'")
        && expr(s"l_shipdate < TIMESTAMP '$Q12Hi'"))
      .select($"l_orderkey", $"l_returnflag", $"l_shipdate")
      .join(ord, $"l_orderkey" === $"o_orderkey"
        && $"l_shipdate" > expr(s"o_orderdate + INTERVAL $Q4LateDays DAYS"))
      .groupBy($"l_returnflag")
      .agg(
        expr(s"sum(CASE WHEN $high THEN 1 ELSE 0 END)").as("high_line_count"),
        expr(s"sum(CASE WHEN $high THEN 0 ELSE 1 END)").as("low_line_count"))
      .orderBy($"l_returnflag")
  }

  /** Q15 revenue quarter. */
  val Q15Lo = "1997-01-01"
  val Q15Hi = "1997-04-01"

  /** Q15: top supplier — the view + global-MAX shape: per-supplier revenue
    * for the quarter (one fact aggregate), a one-row max broadcast back, and
    * the equality keeps every supplier achieving it (ties survive, as the
    * spec requires). Revenue stays DECIMAL through the max/equality —
    * exact at any parallelism — and casts to DOUBLE only at output.
    */
  def q15(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val revenue = Tables.lineitem(spark, dir)
      .filter(expr(s"l_shipdate >= TIMESTAMP '$Q15Lo'")
        && expr(s"l_shipdate < TIMESTAMP '$Q15Hi'"))
      .groupBy($"l_suppkey")
      .agg(expr(s"sum($DiscPrice)").as("rev_d"))
    val best = revenue.agg(max($"rev_d").as("max_rev"))
    revenue.crossJoin(broadcast(best))
      .filter($"rev_d" === $"max_rev")
      .join(broadcast(Tables.supplier(spark, dir)
          .select($"s_suppkey", $"s_name")),
        $"l_suppkey" === $"s_suppkey")
      .select($"s_suppkey", $"s_name",
        expr("CAST(rev_d AS DOUBLE)").as("total_revenue"))
      .orderBy($"s_suppkey")
  }

  /** Q16 part filters + the complaint stand-in (no supplier comments here —
    * negative account balance marks the excluded suppliers, keeping the
    * NOT-IN anti-join non-degenerate).
    */
  val Q16Brand = "Brand#13"
  val Q16Type = "PROMO"
  val Q16Sizes = Seq(1, 2, 4, 9, 16, 25, 36, 49)

  /** Q16: parts/supplier relationship — supplier-count histogram per
    * (brand, type, size): the distinct-pair projection of the fact (the
    * partsupp stand-in), a broadcast part-dim filter, a NOT-IN anti-join
    * against the excluded suppliers (tiny, broadcast), then COUNT(DISTINCT
    * suppkey). The distinct pair set and the count both shuffle on partkey /
    * the group key — no row explosion beyond the pair table.
    */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey").distinct()
    val parts = Tables.part(spark, dir)
      .filter($"p_brand" =!= Q16Brand && $"p_type" =!= Q16Type
        && $"p_size".isin(Q16Sizes: _*))
      .select($"p_partkey", $"p_brand", $"p_type", $"p_size")
    val complaints = Tables.supplier(spark, dir)
      .filter($"s_acctbal" < 0).select($"s_suppkey")
    pairs
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .join(broadcast(complaints), $"l_suppkey" === $"s_suppkey", "left_anti")
      .groupBy($"p_brand", $"p_type", $"p_size")
      .agg(countDistinct($"l_suppkey").as("supplier_cnt"))
      .orderBy($"supplier_cnt".desc, $"p_brand", $"p_type", $"p_size")
  }

  /** Q19 branch parameters: (brand, qty lo, qty hi, size hi) triples (no
    * container/shipmode columns — brand+size+quantity carry the shape).
    */
  val Q19Branches = Seq(
    ("Brand#12", 1, 11, 5),
    ("Brand#23", 10, 20, 10),
    ("Brand#3", 20, 30, 15))

  /** Q19: discounted revenue — the OR-of-conjunctive-branches predicate:
    * each branch pairs part-dim conditions (brand, size) with fact
    * conditions (quantity band) over one equi-join on partkey. The join
    * stays a broadcast hash join on the key with the disjunction evaluated
    * as a post-join filter — the planner shape the spec query exists to
    * probe (no fallback to nested-loop).
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val branch = Q19Branches.map { case (b, qlo, qhi, shi) =>
      s"""(p_brand = '$b' AND l_quantity BETWEEN $qlo AND $qhi
         | AND p_size BETWEEN 1 AND $shi)""".stripMargin
    }.mkString(" OR ")
    Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_quantity", $"l_extendedprice", $"l_discount")
      .join(broadcast(Tables.part(spark, dir)
          .select($"p_partkey", $"p_brand", $"p_size")),
        $"l_partkey" === $"p_partkey")
      .filter(expr(branch))
      .agg(expr(s"CAST(sum($DiscPrice) AS DOUBLE)").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Q20 parameters: part-name prefix, shipment year, the per-(supplier,
    * part) quantity floor (stands in for the spec's `ps_availqty > 0.5 ·
    * shipped` — no partsupp table), and the supplier region (stands in for
    * the spec's single nation: ~4 suppliers/nation here would over-select).
    */
  val Q20Prefix = "small"
  val Q20Lo = "1997-01-01"
  val Q20Hi = "1998-01-01"
  val Q20Qty = 40
  val Q20RegionKey = 3

  /** Q20: potential part promotion — the nested-IN shape, decorrelated
    * bottom-up: the inner aggregate (per (supplier, part) shipped quantity
    * over prefix-named parts in the year, HAVING > floor) produces the
    * qualifying supplier keys, which semi-join into the region's suppliers.
    * The name-filtered part dim broadcasts into the fact; the HAVING makes
    * the key set tiny so the semi-join broadcasts too.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val parts = Tables.part(spark, dir)
      .filter($"p_name".startsWith(Q20Prefix)).select($"p_partkey")
    val qualifying = Tables.lineitem(spark, dir)
      .filter(expr(s"l_shipdate >= TIMESTAMP '$Q20Lo'")
        && expr(s"l_shipdate < TIMESTAMP '$Q20Hi'"))
      .select($"l_partkey", $"l_suppkey", $"l_quantity")
      .join(broadcast(parts), $"l_partkey" === $"p_partkey")
      .groupBy($"l_suppkey", $"l_partkey")
      .agg(expr(s"sum($QtyD)").as("qty"))
      .filter($"qty" > Q20Qty)
      .select($"l_suppkey").distinct()
    Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter($"n_regionkey" === Q20RegionKey)
          .select($"n_nationkey", $"n_name")),
        $"s_nationkey" === $"n_nationkey")
      .join(broadcast(qualifying), $"s_suppkey" === $"l_suppkey", "left_semi")
      .select($"s_suppkey", $"s_name", $"n_name")
      .orderBy($"s_name")
  }

  /** Q21 supplier region (spec: one nation; see [[Q20RegionKey]] note) —
    * "late" reuses [[Q4LateDays]], finished orders only.
    */
  val Q21RegionKey = 2

  /** Q21: suppliers who kept orders waiting — the double-correlated
    * EXISTS / NOT-EXISTS, decorrelated into ONE per-order aggregate:
    * a multi-supplier order whose late-supplier set is a single supplier
    * charges that supplier one wait per late lineitem (the spec's COUNT over
    * qualifying l1 rows). One orderkey co-shuffle computes distinct-supplier
    * and distinct-late-supplier counts plus the sole late suppkey — versus
    * the naive plan's three self-joins of the fact. The DuckDB twin keeps
    * the spec's correlated EXISTS form, so the decorrelation itself is what
    * the hash-compare proves.
    */
  def q21(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val late = $"l_shipdate" > expr(s"o_orderdate + INTERVAL $Q4LateDays DAYS")
    val perOrder = Tables.lineitem(spark, dir)
      .select($"l_orderkey", $"l_suppkey", $"l_shipdate")
      .join(Tables.orders(spark, dir).filter($"o_orderstatus" === "F")
          .select($"o_orderkey", $"o_orderdate"),
        $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderkey")
      .agg(
        countDistinct($"l_suppkey").as("n_supp"),
        countDistinct(when(late, $"l_suppkey")).as("n_late_supp"),
        max(when(late, $"l_suppkey")).as("late_suppkey"),
        sum(when(late, 1).otherwise(0)).as("n_late_lines"))
      .filter($"n_supp" >= 2 && $"n_late_supp" === 1)
    val sup = Tables.supplier(spark, dir)
      .join(broadcast(Tables.nation(spark, dir)
          .filter($"n_regionkey" === Q21RegionKey).select($"n_nationkey")),
        $"s_nationkey" === $"n_nationkey")
      .select($"s_suppkey", $"s_name")
    perOrder
      .join(broadcast(sup), $"late_suppkey" === $"s_suppkey")
      .groupBy($"s_name")
      .agg(sum($"n_late_lines").as("numwait"))
      .orderBy($"numwait".desc, $"s_name")
      .limit(100)
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "tpch_q2" -> (q2 _),
    "tpch_q4" -> (q4 _),
    "tpch_q14" -> (q14 _),
    "tpch_q1" -> (q1 _),
    "tpch_q3" -> (q3 _),
    "tpch_q6" -> (q6 _),
    "tpch_q13" -> (q13 _),
    "tpch_q18" -> (q18 _),
    "tpch_q5" -> (q5 _),
    "tpch_q17" -> (q17 _),
    "tpch_q22" -> (q22 _),
    "tpch_q7" -> (q7 _),
    "tpch_q8" -> (q8 _),
    "tpch_q9" -> (q9 _),
    "tpch_q10" -> (q10 _),
    "tpch_q11" -> (q11 _),
    "tpch_q12" -> (q12 _),
    "tpch_q15" -> (q15 _),
    "tpch_q16" -> (q16 _),
    "tpch_q19" -> (q19 _),
    "tpch_q20" -> (q20 _),
    "tpch_q21" -> (q21 _))

  val oracle: Map[String, String] = Map(
    "tpch_q2" -> s"""WITH eur AS (
  SELECT s_suppkey, s_name, s_acctbal, n_name
  FROM supplier
  JOIN nation ON s_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  WHERE r_name = '$Q2Region'),
offers AS (
  SELECT l_partkey, l_extendedprice, s_suppkey, s_name, s_acctbal, n_name
  FROM lineitem JOIN eur ON l_suppkey = s_suppkey),
mins AS (
  SELECT l_partkey AS m_partkey, min(l_extendedprice) AS min_price
  FROM offers GROUP BY 1)
SELECT DISTINCT s_acctbal, s_name, s_suppkey, n_name, p_partkey, p_name,
       min_price
FROM offers o
JOIN mins m ON o.l_partkey = m.m_partkey AND o.l_extendedprice = m.min_price
JOIN part p ON o.l_partkey = p.p_partkey AND p.p_type = '$Q2Type'
ORDER BY s_acctbal DESC, n_name, s_name, s_suppkey, p_partkey
LIMIT 100""",

    "tpch_q4" -> s"""SELECT o_orderpriority, count(*)::BIGINT AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '$Q4Lo'
  AND o_orderdate < TIMESTAMP '$Q4Hi'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o_orderkey
      AND l_shipdate > o_orderdate + INTERVAL $Q4LateDays DAY)
GROUP BY o_orderpriority
ORDER BY o_orderpriority""",

    "tpch_q14" -> s"""SELECT
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN $DiscPrice ELSE 0 END)
            AS DOUBLE) * 100
         / CAST(sum($DiscPrice) AS DOUBLE) AS promo_revenue_pct,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN $DiscPrice ELSE 0 END)
            AS DOUBLE) AS promo_revenue,
       CAST(sum($DiscPrice) AS DOUBLE) AS total_revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '$Q14Lo'
  AND l_shipdate < TIMESTAMP '$Q14Hi'""",

    "tpch_q1" -> s"""SELECT l_returnflag, l_linestatus,
       CAST(sum($QtyD) AS DOUBLE) AS sum_qty,
       CAST(sum($ExtD) AS DOUBLE) AS sum_base_price,
       CAST(sum($DiscPrice) AS DOUBLE) AS sum_disc_price,
       CAST(sum($Charge) AS DOUBLE) AS sum_charge,
       CAST(sum($QtyD) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_qty,
       CAST(sum($ExtD) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_price,
       CAST(sum($DiscD) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS avg_disc,
       count(*)::BIGINT AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '$Q1Cutoff'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus""",

    "tpch_q3" -> s"""SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(sum($DiscPrice) AS DOUBLE) AS revenue
FROM customer, orders, lineitem
WHERE c_mktsegment = '$Q3Segment'
  AND c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND o_orderdate < TIMESTAMP '$Q3Date'
  AND l_shipdate > TIMESTAMP '$Q3Date'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10""",

    "tpch_q6" -> s"""SELECT CAST(sum($ExtD * $DiscD) AS DOUBLE) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '$Q6YearLo'
  AND l_shipdate < TIMESTAMP '$Q6YearHi'
  AND l_discount BETWEEN $Q6DiscLo AND $Q6DiscHi
  AND l_quantity < $Q6QtyMax""",

    "tpch_q13" -> s"""WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
  FROM customer
  LEFT OUTER JOIN (
    SELECT o_custkey, o_orderkey FROM orders
    WHERE o_orderpriority <> '$Q13Excluded') o
    ON c_custkey = o.o_custkey
  GROUP BY c_custkey)
SELECT c_count, count(*)::BIGINT AS custdist
FROM c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC""",

    "tpch_q18" -> s"""SELECT c_name, c_custkey, o_orderkey, o_orderdate,
       o_totalprice,
       CAST(sum($QtyD) AS DOUBLE) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE o_orderkey IN (
  SELECT l_orderkey FROM lineitem
  GROUP BY l_orderkey HAVING sum($QtyD) > $Q18Qty)
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
LIMIT 100""",

    "tpch_q5" -> s"""SELECT n_name,
       CAST(sum($DiscPrice) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey
  AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = '$Q5Region'
  AND o_orderdate >= TIMESTAMP '$Q5Lo'
  AND o_orderdate < TIMESTAMP '$Q5Hi'
GROUP BY n_name
ORDER BY revenue DESC, n_name""",

    "tpch_q17" -> s"""WITH probe AS (
  SELECT l_partkey, l_quantity, l_extendedprice
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE p_brand = '$Q17Brand'),
stats AS (
  SELECT l_partkey AS a_partkey, sum($QtyD) AS sum_qty,
         count(*)::BIGINT AS n_lines_part
  FROM probe GROUP BY 1)
SELECT CAST(sum($ExtD) AS DOUBLE) / CAST(7 AS DOUBLE) AS avg_yearly,
       count(*)::BIGINT AS n_small_lines
FROM probe JOIN stats ON l_partkey = a_partkey
WHERE $QtyD * 5 * n_lines_part < sum_qty""",

    "tpch_q22" -> s"""WITH sel AS (
  SELECT c_custkey, c_nationkey, c_acctbal FROM customer
  WHERE c_nationkey IN (${Q22Nations.mkString(", ")})),
thr AS (
  SELECT sum(CAST(c_acctbal AS DECIMAL(12,2))) AS s, count(*)::BIGINT AS n
  FROM sel WHERE c_acctbal > 0.0)
SELECT c_nationkey, count(*)::BIGINT AS n_cust,
       CAST(sum(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) AS total_acctbal
FROM sel, thr
WHERE CAST(c_acctbal AS DECIMAL(12,2)) * n > s
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '$Q22Dormant')
GROUP BY c_nationkey
ORDER BY c_nationkey""",

    "tpch_q7" -> s"""SELECT supp_nation, cust_nation, l_year,
       CAST(sum(volume) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         year(l_shipdate)::INT AS l_year, $DiscPrice AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = '$Q7NationA' AND n2.n_name = '$Q7NationB')
      OR (n1.n_name = '$Q7NationB' AND n2.n_name = '$Q7NationA'))
    AND l_shipdate BETWEEN TIMESTAMP '$Q7Lo' AND TIMESTAMP '$Q7Hi') s
GROUP BY 1, 2, 3
ORDER BY supp_nation, cust_nation, l_year""",

    "tpch_q8" -> s"""SELECT o_year,
       CAST(sum(CASE WHEN nation = '$Q8Nation' THEN volume ELSE 0 END)
            AS DOUBLE)
         / CAST(sum(volume) AS DOUBLE) AS mkt_share,
       CAST(sum(volume) AS DOUBLE) AS total_volume
FROM (
  SELECT year(o_orderdate)::INT AS o_year, $DiscPrice AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2,
       region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = '$Q8Region' AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN TIMESTAMP '$Q8Lo' AND TIMESTAMP '$Q8Hi'
    AND p_type = '$Q8Type') x
GROUP BY o_year
ORDER BY o_year""",

    "tpch_q9" -> s"""SELECT nation, o_year, CAST(sum(amount) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, year(o_orderdate)::INT AS o_year,
         $DiscPrice - CAST(p_retailprice AS DECIMAL(12,2)) * $QtyD AS amount
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%$Q9Token%') x
GROUP BY nation, o_year
ORDER BY nation, o_year DESC""",

    "tpch_q10" -> s"""SELECT c_custkey, c_name,
       CAST(sum($DiscPrice) AS DOUBLE) AS revenue,
       c_acctbal, n_name, c_mktsegment
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= TIMESTAMP '$Q10Lo'
  AND o_orderdate < TIMESTAMP '$Q10Hi'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, c_acctbal, n_name, c_mktsegment
ORDER BY revenue DESC, c_custkey
LIMIT 20""",

    "tpch_q11" -> s"""WITH per_part AS (
  SELECT l_partkey, sum($ExtD * $QtyD) AS value_d
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name = '$Q11Nation'
  GROUP BY l_partkey),
tot AS (SELECT sum(value_d) AS total FROM per_part)
SELECT l_partkey, CAST(value_d AS DOUBLE) AS value
FROM per_part, tot
WHERE value_d * $Q11FracDen > total
ORDER BY value DESC, l_partkey""",

    "tpch_q12" -> s"""SELECT l_returnflag,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
       sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH')
                THEN 0 ELSE 1 END)::BIGINT AS low_line_count
FROM orders, lineitem
WHERE o_orderkey = l_orderkey
  AND l_returnflag IN (${Q12Modes.map("'" + _ + "'").mkString(", ")})
  AND l_shipdate > o_orderdate + INTERVAL $Q4LateDays DAY
  AND l_shipdate >= TIMESTAMP '$Q12Lo'
  AND l_shipdate < TIMESTAMP '$Q12Hi'
GROUP BY l_returnflag
ORDER BY l_returnflag""",

    "tpch_q15" -> s"""WITH revenue AS (
  SELECT l_suppkey AS supplier_no, sum($DiscPrice) AS rev_d
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '$Q15Lo'
    AND l_shipdate < TIMESTAMP '$Q15Hi'
  GROUP BY l_suppkey)
SELECT s_suppkey, s_name, CAST(rev_d AS DOUBLE) AS total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND rev_d = (SELECT max(rev_d) FROM revenue)
ORDER BY s_suppkey""",

    "tpch_q16" -> s"""SELECT p_brand, p_type, p_size,
       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps, part
WHERE p_partkey = l_partkey
  AND p_brand <> '$Q16Brand' AND p_type <> '$Q16Type'
  AND p_size IN (${Q16Sizes.mkString(", ")})
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""",

    "tpch_q19" -> s"""SELECT CAST(sum($DiscPrice) AS DOUBLE) AS revenue,
       count(*)::BIGINT AS n_lines
FROM lineitem, part
WHERE p_partkey = l_partkey AND (${Q19Branches.map { case (b, qlo, qhi, shi) =>
      s"(p_brand = '$b' AND l_quantity BETWEEN $qlo AND $qhi" +
        s" AND p_size BETWEEN 1 AND $shi)"
    }.mkString("\n   OR ")})""",

    "tpch_q20" -> s"""SELECT s_suppkey, s_name, n_name
FROM supplier, nation
WHERE s_nationkey = n_nationkey AND n_regionkey = $Q20RegionKey
  AND s_suppkey IN (
    SELECT l_suppkey FROM lineitem, part
    WHERE l_partkey = p_partkey AND p_name LIKE '$Q20Prefix%'
      AND l_shipdate >= TIMESTAMP '$Q20Lo'
      AND l_shipdate < TIMESTAMP '$Q20Hi'
    GROUP BY l_suppkey, l_partkey
    HAVING sum($QtyD) > $Q20Qty)
ORDER BY s_name""",

    "tpch_q21" -> s"""SELECT s_name, count(*)::BIGINT AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F'
  AND l1.l_shipdate > o_orderdate + INTERVAL $Q4LateDays DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o_orderdate + INTERVAL $Q4LateDays DAY)
  AND s_nationkey = n_nationkey AND n_regionkey = $Q21RegionKey
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100""")
}
