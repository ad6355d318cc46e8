package graft.analytics

import graft.Tables
import graft.functions.Md5Hash
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Spatial (2D) grid join — points-within-radius without a cross join, the
  * 2D sibling of [[WindowExtras.rangeBandJoin]]'s 1D interval banding and
  * the standard shape for geo joins on Spark (geohash/S2/H3 cells are this
  * same idea with curved cells): overlay a grid of cell size = radius, so a
  * query circle intersects at most its 3×3 cell neighborhood; explode each
  * CENTER to those ≤9 cells (bounded fan-out on the small side), map each
  * point to its ONE cell, hash equi-join on the cell, then refine with the
  * exact distance predicate.
  *
  * Coordinates are deterministic fixed-point synthetics (md5-derived tenths
  * in [0,100)) since the testdata carries no geo columns — the OPERATOR
  * (grid overlay, bounded neighborhood explode, equi-join + refine) is the
  * point. The refine runs in scaled INTEGERS (dx²+dy² ≤ (10R)²), so the
  * join is bit-exact with no float distance anywhere.
  *
  * Scale: points shuffle once on their cell; centers broadcast (dims).
  * A denser center side flips to shuffle join on the same key — no plan
  * rewrite.
  */
object SpatialGrid extends graft.QueryModule {

  /** Query radius in coordinate units = grid cell size. One value, both
    * engines.
    */
  val Radius = 5

  /** Fixed-point world: coordinates are tenths in [0, 1000). */
  private val WorldTenths = 1000

  private def coordTenths(salt: String, id: Column): Column =
    pmod(Md5Hash.h32(concat(lit(salt), id.cast("string"))), lit(WorldTenths))

  /** Per-facility count and nearest-point distance of events within
    * [[Radius]] units — the "what's near each site" query of every
    * geo-enabled warehouse.
    */
  def pointsInRadius(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val cell = Radius * 10 // tenths per cell
    val points = Tables.events(spark, dir)
      .filter($"event_id".isNotNull)
      .select($"event_id",
        coordTenths("px:", $"event_id").as("px"),
        coordTenths("py:", $"event_id").as("py"))
      .withColumn("cx", expr(s"cast(px div $cell as int)"))
      .withColumn("cy", expr(s"cast(py div $cell as int)"))
    val centers = Tables.nation(spark, dir)
      .select($"n_nationkey".as("center_id"),
        coordTenths("fx:", $"n_nationkey").as("fx"),
        coordTenths("fy:", $"n_nationkey").as("fy"))
    val centerCells = centers
      .select($"center_id", $"fx", $"fy",
        explode(sequence(lit(-1), lit(1))).as("dxc"))
      .select($"center_id", $"fx", $"fy", $"dxc",
        explode(sequence(lit(-1), lit(1))).as("dyc"))
      .select($"center_id", $"fx", $"fy",
        (expr(s"cast(fx div $cell as int)") + $"dxc").as("cx"),
        (expr(s"cast(fy div $cell as int)") + $"dyc").as("cy"))
    val r2 = (Radius * 10L) * (Radius * 10L)
    points
      .join(broadcast(centerCells), Seq("cx", "cy"))
      .withColumn("d2",
        ($"px" - $"fx") * ($"px" - $"fx") + ($"py" - $"fy") * ($"py" - $"fy"))
      .filter($"d2" <= r2)
      .groupBy($"center_id")
      .agg(count(lit(1)).as("n_points"), min($"d2").as("min_d2"))
      .orderBy($"center_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_spatial_grid" -> (pointsInRadius _))

  private def cSql(salt: String, id: String): String =
    s"(${Md5Hash.h32Sql(s"'$salt' || $id::VARCHAR")}) % $WorldTenths"

  val oracle: Map[String, String] = Map(
    "join_spatial_grid" -> s"""WITH points AS (
  SELECT event_id,
         ${cSql("px:", "event_id")} AS px,
         ${cSql("py:", "event_id")} AS py
  FROM events WHERE event_id IS NOT NULL),
centers AS (
  SELECT n_nationkey AS center_id,
         ${cSql("fx:", "n_nationkey")} AS fx,
         ${cSql("fy:", "n_nationkey")} AS fy
  FROM nation)
SELECT center_id, count(*)::BIGINT AS n_points,
       min((px - fx) * (px - fx) + (py - fy) * (py - fy))::BIGINT AS min_d2
FROM points JOIN centers
  ON (px - fx) * (px - fx) + (py - fy) * (py - fy)
       <= ${(Radius * 10L) * (Radius * 10L)}
GROUP BY center_id
ORDER BY center_id""")
}
