package graft.warehouse

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — the multi-dimensional clustering
  * technique behind modern lakehouse OPTIMIZE ZORDER: interleaving the bits
  * of two join/filter dimensions makes file-level min/max ranges tight on
  * BOTH dimensions at once, so a predicate on either prunes most files —
  * where a single-column sort gives tight ranges on one dimension and the
  * full domain on the other.
  *
  * The at-scale recipe is two passes, both here: a cheap stats pass (global
  * min/max per dimension, one row, broadcast back) normalizes each dimension
  * into [[Bits]] bits so the curve fills its domain regardless of the raw
  * key range, then the layout pass computes the interleaved key and range-
  * partitions by it. Everything is integer arithmetic (subtract, multiply,
  * `div`, shift, mask) — exact at any parallelism and bit-identical in the
  * DuckDB twin.
  *
  * [[zorderStats]] is the verification surface: the per-bucket bounding
  * boxes (bucket = top [[BucketBits]] of the z-value, i.e. the coarse curve
  * cells a file would cover). ZOrderSpec asserts the boxes are tight on both
  * dimensions versus a single-column sort's boxes.
  */
object ZOrderLayout extends graft.QueryModule {

  /** Curve resolution per dimension (z-values use 2·Bits bits). */
  val Bits = 16

  /** Top bits of z defining the coarse cell / file bucket (64 cells). */
  val BucketBits = 6

  private val Mask = (1L << Bits) - 1

  /** Interleave the low [[Bits]] bits: x at even positions, y at odd.
    * Pure builtin bitwise expressions — whole-stage-codegen'd, no UDF.
    */
  def zvalue(x: Column, y: Column): Column =
    (0 until Bits).foldLeft(lit(0L)) { (acc, i) =>
      acc
        .bitwiseOR(shiftleft(x.bitwiseAND(lit(1L << i)), i))
        .bitwiseOR(shiftleft(y.bitwiseAND(lit(1L << i)), i + 1))
    }

  /** Normalize a raw integer column into the full [[Bits]]-bit range given
    * its global min/max (exact integer scaling, `div` on both engines).
    */
  def normalize(x: Column, minX: Column, maxX: Column): Column = {
    // exact integer floor-div without expr-string plumbing: subtract the
    // remainder first, so the double division divides exactly and the cast
    // is lossless (numerator < 2^53) — bit-identical to DuckDB's `//`
    val num = (x - minX) * lit(Mask)
    val den = greatest(lit(1L), maxX - minX)
    ((num - pmod(num, den)) / den).cast("long")
  }

  /** Layout writer: stats pass, then range-partition by z-value into
    * `files` tasks and sort within each — one shuffle, then each task
    * writes one z-contiguous file whose (x, y) bounding box is a run of
    * coarse curve cells.
    */
  def layout(df: DataFrame, xCol: String, yCol: String, files: Int,
      outPath: String): Unit = {
    val (x, y) = (col(xCol), col(yCol))
    val stats = df.agg(
      min(x).as("zmin_x"), max(x).as("zmax_x"),
      min(y).as("zmin_y"), max(y).as("zmax_y"))
    df.crossJoin(broadcast(stats))
      .withColumn("z", zvalue(
        normalize(x, col("zmin_x"), col("zmax_x")),
        normalize(y, col("zmin_y"), col("zmax_y"))))
      .drop("zmin_x", "zmax_x", "zmin_y", "zmax_y")
      .repartitionByRange(files, col("z"))
      .sortWithinPartitions("z")
      .drop("z")
      .write.mode("overwrite").parquet(outPath)
  }

  /** Per-bucket bounding boxes of the z-ordered lineitem (partkey ×
    * suppkey) — the two join dimensions a 100 TB fact would cluster on.
    */
  def zorderStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val li = Tables.lineitem(spark, dir)
      .select($"l_partkey", $"l_suppkey")
    val stats = li.agg(
      min($"l_partkey").as("min_p"), max($"l_partkey").as("max_p"),
      min($"l_suppkey").as("min_s"), max($"l_suppkey").as("max_s"))
    li.crossJoin(broadcast(stats))
      .select($"l_partkey", $"l_suppkey",
        zvalue(normalize($"l_partkey", $"min_p", $"max_p"),
          normalize($"l_suppkey", $"min_s", $"max_s")).as("z"))
      .select($"l_partkey", $"l_suppkey",
        shiftright($"z", 2 * Bits - BucketBits).as("zbucket"))
      .groupBy($"zbucket")
      .agg(count(lit(1)).as("n"),
        min($"l_partkey").as("min_partkey"),
        max($"l_partkey").as("max_partkey"),
        min($"l_suppkey").as("min_suppkey"),
        max($"l_suppkey").as("max_suppkey"))
      .orderBy($"zbucket")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "wh_zorder_stats" -> (zorderStats _))

  /** The DuckDB twin builds the identical interleave with `<<`/`&`/`|`
    * operators (bit positions and masks interpolated from the same Scala
    * constants).
    */
  private def interleaveSql(x: String, y: String): String =
    (0 until Bits).flatMap { i =>
      Seq(s"(($x & ${1L << i}) << $i)", s"(($y & ${1L << i}) << ${i + 1})")
    }.mkString(" | ")

  val oracle: Map[String, String] = Map(
    "wh_zorder_stats" -> s"""WITH stats AS (
  SELECT min(l_partkey) AS min_p, max(l_partkey) AS max_p,
         min(l_suppkey) AS min_s, max(l_suppkey) AS max_s
  FROM lineitem),
norm AS (
  SELECT l_partkey, l_suppkey,
         (l_partkey - min_p) * $Mask // greatest(1, max_p - min_p) AS x16,
         (l_suppkey - min_s) * $Mask // greatest(1, max_s - min_s) AS y16
  FROM lineitem, stats),
zed AS (
  SELECT l_partkey, l_suppkey,
         (${interleaveSql("x16", "y16")}) >> ${2 * Bits - BucketBits}
           AS zbucket
  FROM norm)
SELECT zbucket, count(*)::BIGINT AS n,
       min(l_partkey) AS min_partkey, max(l_partkey) AS max_partkey,
       min(l_suppkey) AS min_suppkey, max(l_suppkey) AS max_suppkey
FROM zed
GROUP BY zbucket
ORDER BY zbucket""")
}
