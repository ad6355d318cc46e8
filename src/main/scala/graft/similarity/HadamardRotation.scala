package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Randomized Hadamard rotation — the structured orthogonal transform
  * FAISS applies before product quantization (`OPQ`'s cheap cousin,
  * `y = H·D·x / √d` with D a random ±1 diagonal): PQ quantizes each
  * 8-dim subspace independently, so energy concentrated in one subspace
  * wastes the other codebooks; a Hadamard rotation mixes every input dim
  * into every output dim in d·log d adds — no trained rotation matrix to
  * fit, ship, or invert (H is self-inverse up to scale).
  *
  * The rotation is expressed RELATIONALLY: 6 butterfly stages (64 = 2⁶)
  * of paired add/sub column expressions — pure codegen'd arithmetic, no
  * UDF, no shuffle; the DuckDB twin chains the identical 6 CTEs. D's
  * signs are md5-derived literals (the [[JlProjection]] pattern), the
  * 1/√64 = 1/8 normalization is exact, and every add/sub is bit-exact
  * IEEE in both engines.
  *
  * The emitted audit is the decision table: per 8-dim PQ subspace, total
  * energy (Σ‖·‖² over the corpus) and its share BEFORE vs AFTER rotation
  * — after a working rotation, shares flatten toward 1/8, which is the
  * "safe to train per-subspace codebooks" signal. Energies accumulate via
  * the [[Standardize]] fixed-point rule (floor(v²·2²⁰) longs, DECIMAL
  * sums — order-independent, so the report hash-compares at any
  * parallelism).
  *
  * Scale shape: map-side only — 64·6 adds per row fused into one
  * whole-stage-codegen'd project, then one partial-aggregated sum; at
  * 100 TB this is a single pass with no data movement beyond the 16-cell
  * aggregate.
  */
object HadamardRotation extends graft.QueryModule {

  /** Dimensionality (2^[[Stages]]) and butterfly depth. */
  val Dim = 64
  val Stages = 6

  /** PQ subspace width the audit reports on (8 subspaces of 8 dims). */
  val SubDim = 8

  /** Fixed-point scale for squared-component accumulation (2^20). */
  val Scale = 1L << 20

  /** ±1 diagonal entry i: parity of md5("hd:i") — JVM-computed literals
    * shared by both twins.
    */
  private[graft] def sign(i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"hd:$i".getBytes("UTF-8"))
    if ((d(3) & 1) == 0) 1 else -1
  }

  /** One butterfly stage over named columns c0..c63: bit `b` clear →
    * `c[i] + c[i|b]`, set → `c[i&~b] - c[i]`.
    */
  private def stageCol(i: Int, b: Int): Column = {
    val lo = i & ~b
    val hi = i | b
    if ((i & b) == 0) col(s"c$lo") + col(s"c$hi")
    else col(s"c$lo") - col(s"c$hi")
  }

  private def stageSql(i: Int, b: Int): String = {
    val lo = i & ~b
    val hi = i | b
    if ((i & b) == 0) s"c$lo + c$hi" else s"c$lo - c$hi"
  }

  /** Per-row fixed-point energy of subspace `s` over expressions `term`. */
  private def rowQ(term: Int => Column, s: Int): Column =
    (0 until SubDim).map { j =>
      val x = term(s * SubDim + j)
      floor(x * x * lit(Scale.toDouble)).cast("long")
    }.reduce(_ + _)

  def hadamardBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
    val raw = (i: Int) => $"embedding".getItem(i).cast("double")
    var cur = e.select(Seq($"vec_id", $"embedding") ++
      (0 until Dim).map(i => (raw(i) * lit(sign(i).toDouble)).as(s"c$i")): _*)
    for (t <- 0 until Stages) {
      val b = 1 << t
      cur = cur.select(Seq($"vec_id", $"embedding") ++
        (0 until Dim).map(i => stageCol(i, b).as(s"c$i")): _*)
    }
    val rot = cur.select(Seq($"vec_id", $"embedding") ++
      (0 until Dim).map(i => (col(s"c$i") / lit(8.0)).as(s"c$i")): _*)
    val nSub = Dim / SubDim
    val agg = rot.agg(
      sum(rowQ(raw, 0).cast("decimal(38,0)")).as("b0"),
      (1 until nSub).map(s =>
        sum(rowQ(raw, s).cast("decimal(38,0)")).as(s"b$s")) ++
        (0 until nSub).map(s =>
          sum(rowQ(i => col(s"c$i"), s).cast("decimal(38,0)")).as(s"a$s")): _*)
    val tot = (n: String) => (0 until nSub).map(s => col(s"$n$s"))
      .reduce(_ + _)
    val withTot = agg.withColumn("bt", tot("b")).withColumn("at_", tot("a"))
    withTot.select(expr(
        s"stack($nSub, ${(0 until nSub).map(s =>
          s"${s}L, cast(b$s as double), cast(a$s as double)").mkString(", ")}) " +
          "AS (subspace, eb, ea)"),
        $"bt".cast("double").as("ebt"), $"at_".cast("double").as("eat"))
      .select($"subspace",
        ($"eb" / lit(Scale.toDouble)).as("energy_before"),
        ($"ea" / lit(Scale.toDouble)).as("energy_after"),
        ($"eb" / $"ebt").as("share_before"),
        ($"ea" / $"eat").as("share_after"))
      .orderBy($"subspace")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_hadamard_balance" -> (hadamardBalance _))

  val oracle: Map[String, String] = {
    val nSub = Dim / SubDim
    def rawSql(i: Int) = s"CAST(embedding[${i + 1}] AS DOUBLE)"
    def rowQSql(term: Int => String, s: Int): String =
      (0 until SubDim).map { j =>
        val x = term(s * SubDim + j)
        s"CAST(floor(($x) * ($x) * ${Scale.toDouble}) AS BIGINT)"
      }.mkString(" + ")
    val s0 = (0 until Dim).map(i =>
      s"         ${rawSql(i)} * (${sign(i)}.0) AS c$i").mkString(",\n")
    val stages = (0 until Stages).map { t =>
      val b = 1 << t
      s"s${t + 1} AS (\n  SELECT vec_id, embedding,\n" +
        (0 until Dim).map(i => s"         ${stageSql(i, b)} AS c$i")
          .mkString(",\n") + s"\n  FROM s$t)"
    }.mkString(",\n")
    val rotCols = (0 until Dim).map(i => s"         c$i / 8.0 AS c$i")
      .mkString(",\n")
    val aggCols = ((0 until nSub).map(s =>
      s"         sum(CAST(${rowQSql(rawSql, s)} AS DECIMAL(38,0))) AS b$s") ++
      (0 until nSub).map(s =>
        s"         sum(CAST(${rowQSql(i => s"c$i", s)} AS DECIMAL(38,0))) AS a$s"))
      .mkString(",\n")
    val bt = (0 until nSub).map(s => s"b$s").mkString(" + ")
    val at = (0 until nSub).map(s => s"a$s").mkString(" + ")
    val rows = (0 until nSub).map(s =>
      s"""SELECT $s::BIGINT AS subspace,
       CAST(b$s AS DOUBLE) / ${Scale.toDouble} AS energy_before,
       CAST(a$s AS DOUBLE) / ${Scale.toDouble} AS energy_after,
       CAST(b$s AS DOUBLE) / CAST($bt AS DOUBLE) AS share_before,
       CAST(a$s AS DOUBLE) / CAST($at AS DOUBLE) AS share_after
FROM agg""").mkString("\nUNION ALL\n")
    Map("sim_hadamard_balance" -> s"""WITH s0 AS (
  SELECT vec_id, embedding,
$s0
  FROM embeddings),
$stages,
rot AS (
  SELECT vec_id, embedding,
$rotCols
  FROM s$Stages),
agg AS (
  SELECT
$aggCols
  FROM rot)
$rows
ORDER BY subspace""")
  }
}
