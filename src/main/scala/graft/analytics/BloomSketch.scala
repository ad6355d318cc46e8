package graft.analytics

import graft.Tables
import graft.functions.{GraftFunctions, Md5Hash}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic Bloom filter (Bloom 1970, public literature) with an
  * md5-derived hash family — the membership sibling of [[CmSketch]]'s
  * frequency sketch and the KMV cardinality family.
  *
  * [[graft.functions.SkewJoin.bloomPrunedJoin]] already exercises Spark's
  * RUNTIME bloom join (`bloom_filter_might_contain` injected by the
  * optimizer), where only the plan shape can be asserted. Here the filter
  * itself is the query result's subject: [[BloomWords]]×[[WordBits]] bits by
  * `bit_or` aggregation (order-independent by construction — OR is
  * commutative), probed by a disjoint key set, so the measured
  * false-positive rate is reproduced bit-for-bit by the DuckDB twin.
  *
  * Scale shape: the filter is [[BloomWords]] longs — it builds with one
  * map-side-partial aggregate over the member side and broadcasts to the
  * probe side; this is exactly the semi-join-pruning data flow Spark's
  * runtime filter uses, with every number checkable.
  */
object BloomSketch extends graft.QueryModule {

  /** Words in the filter. Each word carries 63 usable bits (bit 63 stays
    * clear: DuckDB's left shift is overflow-CHECKED, so `1::BIGINT << 63`
    * errors — capping at 62 keeps the build expressible on both engines).
    * Deliberately small so false positives actually occur at test scale.
    */
  val BloomWords = 64

  /** Usable bits per word (see [[BloomWords]]). */
  val WordBits = 63

  /** Hash functions (k). */
  val BloomK = 3

  /** Member-side key cap: members are `custkey ≡ 0 (mod 3) AND custkey ≤
    * cap`, so the filter's load factor is the same at every scale factor
    * (an uncapped member side saturates the fixed-width filter as the
    * corpus grows and the report degenerates to FP=100%). The at-scale
    * story is unchanged — a production filter sizes m to the REAL n; the
    * cap just pins n for the cross-engine report.
    */
  val MemberCap = 1500

  private def mBits = BloomWords * WordBits

  /** Build over members (custkey ≡ 0 mod 3), probe with the DISJOINT
    * remainder — every probe hit is a false positive, so the output's
    * `n_false_pos / n_probes` IS the empirical FP rate, reported beside
    * the filter's fill (`n_bits_set`). One row.
    */
  def bloomFpReport(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val keys = Tables.customer(spark, dir).select($"c_custkey")
    val members = keys.filter($"c_custkey" % 3 === 0 &&
      $"c_custkey" <= MemberCap)
    val probes = keys.filter($"c_custkey" % 3 =!= 0)

    def bitPos(df: DataFrame): DataFrame = df
      .select($"c_custkey",
        explode(sequence(lit(0), lit(BloomK - 1))).as("j"))
      .withColumn("p",
        pmod(Md5Hash.h32(concat(lit("bloom"), $"j".cast("string"), lit(":"),
          $"c_custkey".cast("string"))), lit(mBits)))

    val words = bitPos(members)
      .groupBy(expr(s"cast(p div $WordBits as int)").as("w"))
      .agg(expr(s"bit_or(shiftleft(1L, cast(p % $WordBits as int)))").as("word"))

    val probeHits = bitPos(probes)
      .withColumn("w", expr(s"cast(p div $WordBits as int)"))
      .join(broadcast(words), "w")
      .withColumn("hit",
        expr(s"(shiftright(word, cast(p % $WordBits as int)) & 1L)"))
      .groupBy($"c_custkey")
      .agg(min($"hit").as("all_hit"))

    val counts = probeHits.agg(
      count(lit(1)).as("n_probes"),
      sum($"all_hit").as("n_false_pos"))
    val fill = words.agg(
      sum(expr("cast(bit_count(word) as bigint)")).as("n_bits_set"))
    val nm = members.agg(count(lit(1)).as("n_members"))

    nm.crossJoin(fill).crossJoin(counts)
      .select($"n_members", $"n_bits_set", $"n_probes", $"n_false_pos",
        GraftFunctions.round2($"n_false_pos" * lit(100.0) / $"n_probes")
          .as("fp_pct"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_bloom_fp_report" -> (bloomFpReport _))

  private def posSql =
    s"(${Md5Hash.h32Sql("'bloom' || j::VARCHAR || ':' || c_custkey::VARCHAR")})" +
      s" % $mBits"

  val oracle: Map[String, String] = Map(
    "agg_bloom_fp_report" -> s"""WITH ks AS (
  SELECT c_custkey FROM customer),
members AS (SELECT c_custkey FROM ks
             WHERE c_custkey % 3 = 0 AND c_custkey <= $MemberCap),
probes AS (SELECT c_custkey FROM ks WHERE c_custkey % 3 <> 0),
mbits AS (
  SELECT m.c_custkey, $posSql AS p
  FROM members m, (SELECT unnest(range(0, $BloomK)) AS j) js),
words AS (
  SELECT (p // $WordBits)::INT AS w,
         bit_or(1::BIGINT << (p % $WordBits)::INT) AS word
  FROM mbits GROUP BY 1),
pbits AS (
  SELECT pr.c_custkey, $posSql AS p
  FROM probes pr, (SELECT unnest(range(0, $BloomK)) AS j) js),
hits AS (
  SELECT pb.c_custkey,
         min((word >> (p % $WordBits)::INT) & 1)::BIGINT AS all_hit
  FROM pbits pb JOIN words wd ON (p // $WordBits)::INT = wd.w
  GROUP BY pb.c_custkey)
SELECT (SELECT count(*)::BIGINT FROM members) AS n_members,
       (SELECT sum(bit_count(word))::BIGINT FROM words) AS n_bits_set,
       count(*)::BIGINT AS n_probes,
       sum(all_hit)::BIGINT AS n_false_pos,
       floor((sum(all_hit) * 100.0 / count(*)) * 100 + 0.5) / 100.0
         AS fp_pct
FROM hits""")
}
