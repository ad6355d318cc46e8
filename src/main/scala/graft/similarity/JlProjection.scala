package graft.similarity

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Johnson–Lindenstrauss random projection — dimensionality reduction for
  * embedding STORAGE and candidate-generation: project the 64-d corpus to
  * [[OutDim]] dims with a dense sign matrix (Achlioptas 2001: ±1 entries
  * preserve pairwise distances in expectation with variance 2/k, no
  * Gaussian needed), then AUDIT the distortion the way a production
  * pipeline must before trusting the compressed index: the distribution of
  * `‖p(x)−p(y)‖² / ‖x−y‖²` over a bounded probe×corpus pair sample,
  * banded into a histogram. Bands hugging 1.0 = safe to run coarse
  * filtering in the projected space; a fat tail = raise k.
  *
  * The sign matrix is DERIVED, not stored: entry (j,i) is the parity of
  * `md5("jl:j:i")`, computed once in Scala and interpolated as ±1
  * LITERALS into both the Spark expression and the DuckDB twin — the two
  * engines share the matrix by construction, and a 100 TB re-run
  * regenerates it bit-identically (same property the IVF seeding uses).
  *
  * Determinism: each projected coordinate is a FIXED left-to-right
  * multiply-add chain over the array (the in-array-order accumulation rule
  * — bit-exact IEEE both engines), scaled by 1/√k = 1/4 (exact). Squared
  * distances fold the same way; the ratio is one division of two bit-exact
  * doubles. Min/max per band are order-independent.
  *
  * Scale shape: projection is embarrassingly map-side (64k multiply-adds
  * per vector, whole-stage codegen'd — no shuffle, no UDF); the audit
  * joins a [[JlProbes]]-row broadcast against the corpus — one pass,
  * O(probes × n), the same envelope as the brute-force recall baseline.
  */
object JlProjection extends graft.QueryModule {

  /** Input embedding dimensionality (the corpus contract). */
  val InDim = 64

  /** Projected dimensionality — 4× compression; √k scaling stays exact. */
  val OutDim = 16

  /** Probe rows driving the distortion pair sample. */
  val JlProbes = 20

  /** Projected vectors emitted by `sim_jl_project`. */
  val EmitVectors = 20

  /** ±1 sign for matrix entry (j = output dim, i = input dim): parity of
    * the first 8 hex chars of md5("jl:j:i"). Plain JVM md5 — no engine
    * involved, so both twins interpolate identical literals.
    */
  private[graft] def sign(j: Int, i: Int): Int = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s"jl:$j:$i".getBytes("UTF-8"))
    // first 4 bytes == first 8 hex chars; parity of that 32-bit word
    if ((d(3) & 1) == 0) 1 else -1
  }

  /** Spark column for projected coordinate j of `emb`: fixed left fold
    * `(e0·s0 + e1·s1 + …) / 4`. Kept as the declarative REFERENCE form —
    * [[projected]] runs the bit-identical native kernel
    * ([[graft.functions.JlProjectVec]]) instead, because 16 such columns
    * are a ~4,000-node expression tree whose ANALYSIS (not execution)
    * dominated the query's bench wall; JlKernelSpec pins the two forms
    * equal element-for-element.
    */
  private[graft] def projCol(emb: Column, j: Int): Column =
    (0 until InDim).map(i =>
        emb.getItem(i).cast("double") * lit(sign(j, i).toDouble))
      .reduce(_ + _) / lit(4.0)

  /** DuckDB twin of [[projCol]] — same literals, same fold order
    * (SQL `+` parses left-associative).
    */
  private def projSql(emb: String, j: Int): String =
    "(" + (0 until InDim).map(i =>
        s"CAST($emb[${i + 1}] AS DOUBLE) * (${sign(j, i)}.0)")
      .mkString(" + ") + ") / 4.0"

  private def pName(j: Int): String = f"p$j%02d"

  /** vec_id + the [[OutDim]] projected coordinates, embedding retained for
    * the distance audit.
    */
  private def projected(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    // one kernel call per row, materialized as its own column so the 16
    // getItem consumers share it (CollapseProject keeps a non-cheap alias
    // referenced more than once in its own Project)
    Tables.embeddings(spark, dir)
      .select($"vec_id", $"embedding",
        expr("graft_jl_project(embedding)").as("jl"))
      .select(
        Seq($"vec_id", $"embedding") ++
          (0 until OutDim).map(j => $"jl".getItem(j).as(pName(j))): _*)
  }

  /** First [[EmitVectors]] vectors' projected coordinates — the compressed
    * representation itself, hash-pinned.
    */
  def jlProject(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    projected(spark, dir)
      .filter($"vec_id" < EmitVectors)
      .select(Seq($"vec_id") ++ (0 until OutDim).map(j => col(pName(j))): _*)
      .orderBy($"vec_id")
  }

  /** Distortion histogram over probe×corpus pairs: band = ⌊10·ratio⌋,
    * with per-band pair count and the exact ratio envelope.
    */
  def jlDistortion(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Similarity.register(spark)
    // self-norms hoisted OUT of the pair loop: dot(x,x) is per-vector, so
    // computing it before the join turns 3 kernel calls per pair into 1
    // (the cross term) — same value, same combine order, ~2.5× less
    // per-pair work at any scale
    val p = projected(spark, dir)
      .withColumn("nrm2", expr("graft_dot(embedding, embedding)"))
    val a = p.select(Seq($"vec_id".as("va"), $"embedding".as("ea"),
      $"nrm2".as("na")) ++
      (0 until OutDim).map(j => col(pName(j)).as(s"a${pName(j)}")): _*)
      .filter($"va" < JlProbes)
    val b = p.select(Seq($"vec_id".as("vb"), $"embedding".as("eb"),
      $"nrm2".as("nb")) ++
      (0 until OutDim).map(j => col(pName(j)).as(s"b${pName(j)}")): _*)
    val d2o = ($"na" - lit(2.0) * expr("graft_dot(ea, eb)")) + $"nb"
    val d2p = (0 until OutDim).map { j =>
      val d = col(s"a${pName(j)}") - col(s"b${pName(j)}")
      d * d
    }.reduce(_ + _)
    broadcast(a).crossJoin(b)
      .filter($"va" < $"vb")
      .withColumn("d2o", d2o)
      .withColumn("d2p", d2p)
      .filter($"d2o" > 0.0)
      .withColumn("ratio", $"d2p" / $"d2o")
      .groupBy(floor($"ratio" * 10).cast("int").as("ratio_band"))
      .agg(count(lit(1)).as("n_pairs"),
        min($"ratio").as("min_ratio"),
        max($"ratio").as("max_ratio"))
      .orderBy($"ratio_band")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_jl_project" -> (jlProject _),
    "sim_jl_distortion" -> (jlDistortion _))

  private def dotSql(x: String, y: String): String =
    s"""list_sum(list_transform(range(1, len($x) + 1),
       |    i -> CAST($x[i] AS DOUBLE) * CAST($y[i] AS DOUBLE)))""".stripMargin

  val oracle: Map[String, String] = Map(
    "sim_jl_project" -> s"""SELECT vec_id,
${(0 until OutDim).map(j =>
        s"       ${projSql("embedding", j)} AS ${pName(j)}").mkString(",\n")}
FROM embeddings WHERE vec_id < $EmitVectors
ORDER BY vec_id""",

    "sim_jl_distortion" -> s"""WITH proj AS (
  SELECT vec_id, embedding,
${(0 until OutDim).map(j =>
        s"         ${projSql("embedding", j)} AS ${pName(j)}").mkString(",\n")}
  FROM embeddings),
pairs AS (
  SELECT ((${dotSql("a.embedding", "a.embedding")}
           - 2.0 * ${dotSql("a.embedding", "b.embedding")})
          + ${dotSql("b.embedding", "b.embedding")}) AS d2o,
         (${(0 until OutDim).map(j =>
        s"(a.${pName(j)} - b.${pName(j)}) * (a.${pName(j)} - b.${pName(j)})")
        .mkString("\n          + ")}) AS d2p
  FROM proj a JOIN proj b ON a.vec_id < $JlProbes AND a.vec_id < b.vec_id)
SELECT FLOOR(d2p / d2o * 10)::INT AS ratio_band,
       count(*)::BIGINT AS n_pairs,
       min(d2p / d2o) AS min_ratio,
       max(d2p / d2o) AS max_ratio
FROM pairs WHERE d2o > 0.0
GROUP BY 1 ORDER BY 1""")
}
