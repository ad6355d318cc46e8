package graft.analytics

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bitmap-index distinct rollup — the linear-counting member of the sketch
  * family (beside HLL [[EventSeq]], KMV/theta [[WindowExtras]], Bloom
  * [[BloomSketch]], CMS [[CmSketch]]), and the aggregation shape behind
  * Druid/ClickHouse-style bitmap indexes: users hash into a fixed
  * [[Buckets]]-bit bitmap stored as [[Words]] integer words; `bit_or` is
  * commutative and associative, so partial bitmaps merge in any order
  * (map-side combine, shuffle carries ≤ groups×[[Words]] longs no matter
  * the corpus), and distinct-occupied-bucket counts come from
  * `bit_count`. Bitmaps of different slices OR together for free — the
  * property that makes bitmap rollups composable across partitions, which
  * neither exact distinct nor KMV gives this cheaply.
  *
  * Determinism: bucket = h32 mod [[Buckets]] (md5-derived, both engines);
  * words are 63-bit (the sign bit stays clear — DuckDB's `<<` is
  * overflow-checked, the [[BloomSketch]] precedent). The linear-counting
  * estimate −m·ln(V/m) is deliberately NOT emitted (engine `ln` is never
  * hash-comparable); `n_set` and the exact twin let any consumer apply it
  * locally.
  */
object BitmapRollup extends graft.QueryModule {

  /** Bits per word (sign bit unused). */
  val WordBits = 63

  /** Words per bitmap. */
  val Words = 64

  /** Bitmap width in buckets. */
  val Buckets: Int = WordBits * Words // 4032

  def bitmapDistinct(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.events(spark, dir)
      .filter($"user_id".isNotNull && $"user_id" > 0 &&
        $"event_type".isNotNull)
      .select($"event_type", $"user_id",
        pmod(Md5Hash.h32($"user_id".cast("string")), lit(Buckets))
          .as("bucket"))
    val words = e
      .select($"event_type",
        expr(s"cast(bucket div $WordBits as int)").as("word_idx"),
        expr(s"shiftleft(1L, cast(bucket % $WordBits as int))").as("bit"))
      .groupBy($"event_type", $"word_idx")
      .agg(bit_or($"bit").as("word"))
    val setBits = words.groupBy($"event_type")
      .agg(sum(bit_count($"word")).as("n_set"),
        count(lit(1)).as("n_words_used"))
    val exact = e.groupBy($"event_type")
      .agg(countDistinct($"user_id").as("exact_distinct"))
    setBits.join(exact, "event_type")
      .select($"event_type", $"n_set", $"n_words_used", $"exact_distinct",
        round($"n_set" * lit(1.0) / $"exact_distinct", 4)
          .as("occupancy_ratio"))
      .orderBy($"event_type")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_bitmap_distinct" -> (bitmapDistinct _))

  val oracle: Map[String, String] = Map(
    "agg_bitmap_distinct" -> s"""WITH e AS (
  SELECT event_type, user_id,
         (${Md5Hash.h32Sql("user_id::VARCHAR")}) % $Buckets AS bucket
  FROM events
  WHERE user_id IS NOT NULL AND user_id > 0 AND event_type IS NOT NULL),
words AS (
  SELECT event_type, (bucket // $WordBits)::INT AS word_idx,
         bit_or(1::BIGINT << (bucket % $WordBits)::INT) AS word
  FROM e GROUP BY 1, 2),
set_bits AS (
  SELECT event_type, sum(bit_count(word))::BIGINT AS n_set,
         count(*)::BIGINT AS n_words_used
  FROM words GROUP BY 1),
exact_ AS (
  SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
  FROM e GROUP BY 1)
SELECT event_type, n_set, n_words_used, exact_distinct,
       round(n_set * 1.0 / exact_distinct, 4) AS occupancy_ratio
FROM set_bits JOIN exact_ USING (event_type)
ORDER BY event_type""")
}
