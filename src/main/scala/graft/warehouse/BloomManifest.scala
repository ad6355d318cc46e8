package graft.warehouse

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file Bloom filters for POINT-predicate data skipping — the second
  * page of the [[FileManifest]] story. Min/max envelopes prune range
  * predicates on clustered columns, but a point lookup on an UNCLUSTERED
  * column (`o_custkey = ?` against year-partitioned files, every envelope
  * spanning the full key range) can skip nothing from envelopes alone.
  * Delta/Iceberg solve this with a per-file Bloom filter written beside the
  * stats; a probe key then opens only the files whose filter says
  * might-contain.
  *
  * This entry computes that manifest for the same deterministic per-year
  * layout [[FileManifest.manifestEntry]] lands (`y1994.parquet` … — each
  * file IS one calendar year of `orders`), probes it with a fixed key set,
  * and reports per file: bits set, probes admitted (might-contain), probes
  * actually present, and the false-positive remainder — i.e. exactly how
  * many unnecessary file opens the filter costs at this fill level. In
  * production the filter is built once at file-write time from the same
  * rows; here it is rebuilt from the data, which is the same set by
  * construction, so the DuckDB twin replays every word bit-for-bit
  * (md5-derived hash family, `bit_or` aggregation — order-independent, the
  * [[graft.analytics.BloomSketch]] recipe).
  *
  * Scale shape: the filter build is one map-side-partial `bit_or`
  * aggregate keyed by (file, word) — [[Words]] longs per file, linear scan,
  * no extra shuffle beyond the keyed combine; probing joins the bounded
  * probe set against the broadcast word table.
  */
object BloomManifest extends graft.QueryModule {

  /** Words per file filter; 63 usable bits each (DuckDB's `<<` is
    * overflow-checked, so bit 63 stays clear — see BloomSketch.WordBits).
    */
  val Words = 1024

  /** Usable bits per word. */
  val WordBits = 63

  /** Hash functions. */
  val K = 3

  /** Probe keys: custkeys 1..[[ProbeMax]] — a fixed set, both engines. */
  val ProbeMax = 20

  private def mBits = Words * WordBits

  def bloomManifest(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = Tables.orders(spark, dir)
      .select(year($"o_orderdate").as("y"), $"o_custkey")
    val members = o.distinct()

    def bitPos(df: DataFrame, key: String): DataFrame = df
      .select(df.columns.map(col): _*)
      .withColumn("j", explode(sequence(lit(0), lit(K - 1))))
      .withColumn("p", pmod(Md5Hash.h32(concat(lit("fbloom"),
        $"j".cast("string"), lit(":"), col(key).cast("string"))), lit(mBits)))
      .withColumn("w", expr(s"cast(p div $WordBits as int)"))

    val words = bitPos(members, "o_custkey")
      .groupBy($"y", $"w")
      .agg(expr(s"bit_or(shiftleft(1L, cast(p % $WordBits as int)))").as("word"))

    val probes = spark.range(1, ProbeMax + 1).select($"id".as("probe_key"))
    val years = members.select($"y").distinct()
    // every (probe, file) pair is checked; a missing word row means those
    // 63 bits are all zero, so the join is left + coalesce(0)
    val probeBits = bitPos(probes.crossJoin(broadcast(years)), "probe_key")
      .join(broadcast(words), Seq("y", "w"), "left")
      .withColumn("bit", coalesce(
        expr(s"(shiftright(word, cast(p % $WordBits as int)) & 1L)"), lit(0L)))
    val might = probeBits
      .groupBy($"y", $"probe_key")
      .agg(min($"bit").as("might_contain"))

    val present = members
      .filter($"o_custkey" <= ProbeMax)
      .select($"y", $"o_custkey".as("probe_key"))
      .withColumn("present", lit(1L))

    val fill = words.groupBy($"y")
      .agg(sum(expr("cast(bit_count(word) as bigint)")).as("n_bits_set"))

    might.join(present, Seq("y", "probe_key"), "left")
      .groupBy($"y")
      .agg(
        count(lit(1)).as("n_probes"),
        sum($"might_contain").as("n_might_contain"),
        sum(coalesce($"present", lit(0L))).as("n_present"),
        (sum($"might_contain") - sum(coalesce($"present", lit(0L))))
          .as("n_false_opens"))
      .join(fill, "y")
      .select(concat(lit("y"), $"y".cast("string"), lit(".parquet")).as("file"),
        $"n_bits_set", $"n_probes", $"n_might_contain", $"n_present",
        $"n_false_opens")
      .orderBy($"file")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_bloom_manifest" -> (bloomManifest _))

  private def posSql(key: String) =
    s"(${Md5Hash.h32Sql(s"'fbloom' || j::VARCHAR || ':' || $key::VARCHAR")})" +
      s" % $mBits"

  val oracle: Map[String, String] = Map(
    "wh_bloom_manifest" -> s"""WITH members AS (
  SELECT DISTINCT year(o_orderdate)::INT AS y, o_custkey FROM orders),
mbits AS (
  SELECT y, ${posSql("o_custkey")} AS p
  FROM members, (SELECT unnest(range(0, $K)) AS j) js),
words AS (
  SELECT y, (p // $WordBits)::INT AS w,
         bit_or(1::BIGINT << (p % $WordBits)::INT) AS word
  FROM mbits GROUP BY 1, 2),
probes AS (SELECT unnest(range(1, ${ProbeMax + 1})) AS probe_key),
pbits AS (
  SELECT yr.y, p.probe_key, ${posSql("probe_key")} AS p
  FROM probes p, (SELECT DISTINCT y FROM members) yr,
       (SELECT unnest(range(0, $K)) AS j) js),
might AS (
  SELECT pb.y, pb.probe_key,
         min(coalesce((w2.word >> (pb.p % $WordBits)::INT) & 1, 0))::BIGINT
           AS might_contain
  FROM pbits pb LEFT JOIN words w2
    ON pb.y = w2.y AND (pb.p // $WordBits)::INT = w2.w
  GROUP BY 1, 2),
present AS (
  SELECT y, o_custkey AS probe_key, 1::BIGINT AS present
  FROM members WHERE o_custkey <= $ProbeMax),
fill AS (
  SELECT y, sum(bit_count(word))::BIGINT AS n_bits_set
  FROM words GROUP BY 1)
SELECT 'y' || m.y::VARCHAR || '.parquet' AS file,
       f.n_bits_set,
       count(*)::BIGINT AS n_probes,
       sum(m.might_contain)::BIGINT AS n_might_contain,
       sum(coalesce(p.present, 0))::BIGINT AS n_present,
       (sum(m.might_contain) - sum(coalesce(p.present, 0)))::BIGINT
         AS n_false_opens
FROM might m
LEFT JOIN present p ON m.y = p.y AND m.probe_key = p.probe_key
JOIN fill f ON m.y = f.y
GROUP BY m.y, f.n_bits_set
ORDER BY file""")
}
