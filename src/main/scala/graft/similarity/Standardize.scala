package graft.similarity

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-dimension feature scaling over the `embeddings` table: dimension
  * statistics (mean / std / min / max) and the z-score standardization that
  * quantizers and distance indexes want applied first (PQ codebooks and IVF
  * cells both train badly on anisotropic dimensions).
  *
  * Cross-engine float parity is the whole design here: a per-dimension mean
  * is a float `sum()` through a shuffle — merge-order-dependent and thus
  * never hash-comparable raw. The fix is the [[IvfIndex]] fixed-point trick:
  * quantize each component to `floor(v · 2^20)` (one exact IEEE multiply +
  * exact floor), sum as DECIMAL (exact, order-independent), and divide back
  * out at the end with a fixed expression shape shared by the DuckDB twin.
  * Variance uses the integer computational formula `(n·Σq² − (Σq)²) / n²`
  * entirely in DECIMAL — exact and non-negative by Cauchy-Schwarz — and
  * `sqrt` is correctly rounded by IEEE spec, so the final std is bit-equal
  * on both engines.
  */
object Standardize extends graft.QueryModule {

  /** Fixed-point scale (2^20): components are ≲ 1 in magnitude, so q fits
    * in 21 bits and q² in 42 — DECIMAL accumulation is exact at any row
    * count, and 2^-20 quantization error is far below float32 input noise.
    */
  val Scale = 1048576L
  private val ScaleSq = Scale * Scale // 2^40

  /** Vectors standardized in the probe output (full standardization at scale
    * is the same map-side join — bounded here for the dump).
    */
  val ProbeVecs = 20

  /** Per-dimension n / mean / std / min / max.
    *
    * Scale shape: posexplode is map-side; the aggregate shuffles ≤ (dims ×
    * partitions) partial rows thanks to partial aggregation — per-dimension
    * stats over 100 TB move kilobytes.
    */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    statsDf(spark, dir)
      .select($"pos", $"n", $"mean", $"std", $"min_v", $"max_v")
      .orderBy($"pos")
  }

  private def statsDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val e = Tables.embeddings(spark, dir)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "v0")))
      .select($"vec_id", $"pos", $"v0".cast("double").as("v"))
      .withColumn("q", floor($"v" * lit(Scale.toDouble)).cast("long"))
    e.groupBy($"pos").agg(
      count(lit(1)).as("n"),
      sum($"q".cast("decimal(38,0)")).as("sq"),
      sum(($"q" * $"q").cast("decimal(38,0)")).as("sq2"),
      min($"v").as("min_v"),
      max($"v").as("max_v"))
      .withColumn("mean",
        ($"sq".cast("double") / $"n") / lit(Scale.toDouble))
      .withColumn("std",
        sqrt(($"n".cast("decimal(38,0)") * $"sq2" - $"sq" * $"sq").cast("double")
          / ($"n".cast("double") * $"n".cast("double"))
          / lit(ScaleSq.toDouble)))
  }

  /** Z-scored components for the first [[ProbeVecs]] vectors: `(v − mean) /
    * std` against the full-corpus dimension statistics (broadcast — it is
    * dimension-sized).
    */
  def standardize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val stats = statsDf(spark, dir).select($"pos", $"mean", $"std")
    val probe = Tables.embeddings(spark, dir)
      .filter($"vec_id" < ProbeVecs)
      .select($"vec_id", posexplode($"embedding").as(Seq("pos", "v0")))
      .select($"vec_id", $"pos", $"v0".cast("double").as("v"))
    probe.join(broadcast(stats), "pos")
      .select($"vec_id", $"pos", $"v",
        (($"v" - $"mean") / $"std").as("z"))
      .orderBy($"vec_id", $"pos")
  }

  /** |z| threshold for [[biasOutliers]] — one value, both engines. */
  val BiasOutlierZ = 2.0

  /** Embedding bias screen — the vector-QA gate a corpus runs BEFORE
    * indexing: a mis-centered encoder (constant offset, dropped
    * mean-subtraction, truncation artifacts) shows up as an outlying
    * COMPONENT SUM Σxᵢ, and shipping such vectors into a cosine index
    * biases every neighborhood they touch. (The norm is emitted as a
    * ledger column but is NOT the screen here: this corpus — like any
    * normalize-at-ingest store — is unit-norm by construction, so norms
    * carry no signal; the component sum of a random unit vector is ~N(0,1)
    * and separates real bias.) Emits vectors whose corpus z-score exceeds
    * |z| > [[BiasOutlierZ]].
    *
    * Float parity: corpus mean/std of a DOUBLE column can't hash-compare
    * raw (shuffle-order float sums), so the component sum is quantized to
    * `floor(csum · 2^20)` and the moments run in exact DECIMAL — the same
    * fixed-point device as [[statsDf]]; the z-score then uses the
    * quantized sum against those exact moments, one fixed expression shape
    * on both engines, with a `std > 0` guard so a degenerate (constant)
    * distribution yields an empty report instead of NaN. Scale: one
    * map-side fold per row + a 1-row moment aggregate broadcast back — a
    * full-corpus screen at scan cost.
    */
  def biasOutliers(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val csum = expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
      (acc, x) -> acc + CAST(x AS DOUBLE))""")
    val sq = expr("""aggregate(embedding, CAST(0.0 AS DOUBLE),
      (acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))""")
    val rows = Tables.embeddings(spark, dir)
      .withColumn("norm", sqrt(sq))
      .withColumn("csum", csum)
      .withColumn("q", floor($"csum" * lit(Scale.toDouble)).cast("long"))
    val moments = rows.agg(
      count(lit(1)).as("n"),
      sum($"q".cast("decimal(38,0)")).as("sq"),
      sum(($"q" * $"q").cast("decimal(38,0)")).as("sq2"))
      .withColumn("mean",
        ($"sq".cast("double") / $"n") / lit(Scale.toDouble))
      .withColumn("std",
        sqrt(($"n".cast("decimal(38,0)") * $"sq2" - $"sq" * $"sq").cast("double")
          / ($"n".cast("double") * $"n".cast("double"))
          / lit(ScaleSq.toDouble)))
      .select($"mean", $"std")
    rows.crossJoin(broadcast(moments))
      .filter($"std" > 0)
      .withColumn("z",
        ($"q".cast("double") / lit(Scale.toDouble) - $"mean") / $"std")
      .filter(abs($"z") > BiasOutlierZ)
      .select($"vec_id", $"norm", $"csum", $"z")
      .orderBy($"vec_id")
  }

  /** Cross-modality coverage ledger — the referential-integrity check a
    * text+embedding pipeline runs before EVERY index build or contrastive
    * batch: documents that never got embedded (encoder backlog, silent
    * failures) and embeddings whose document was since dropped (stale
    * vectors that resurrect deleted content through retrieval). One
    * full-outer join on the shared id + a 1-row rollup; at 100 TB both
    * sides join on their natural key with map-side pruned id columns.
    */
  def embeddingCoverage(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select($"doc_id")
    val vecs = Tables.embeddings(spark, dir)
      .select($"vec_id".as("doc_id"), lit(1).as("has_vec"))
    docs.withColumn("has_doc", lit(1))
      .join(vecs, Seq("doc_id"), "full_outer")
      .agg(
        sum(when($"has_doc".isNotNull, 1L).otherwise(0L)).as("n_docs"),
        sum(when($"has_vec".isNotNull, 1L).otherwise(0L)).as("n_vecs"),
        sum(when($"has_doc".isNotNull && $"has_vec".isNotNull, 1L)
          .otherwise(0L)).as("n_matched"),
        sum(when($"has_doc".isNotNull && $"has_vec".isNull, 1L)
          .otherwise(0L)).as("n_docs_unembedded"),
        sum(when($"has_doc".isNull && $"has_vec".isNotNull, 1L)
          .otherwise(0L)).as("n_orphan_vectors"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_dim_stats" -> (dimStats _),
    "sim_standardize" -> (standardize _),
    "sim_bias_outliers" -> (biasOutliers _),
    "sim_embedding_coverage" -> (embeddingCoverage _))

  /** The stats CTE shared by both oracles — expression shapes mirror
    * [[statsDf]] exactly (`CAST(x AS DOUBLE)` ↔ `.cast("double")`, same
    * operator order) so every float op is the identical IEEE op.
    */
  private val statsSql = s"""expl AS (
  SELECT vec_id, (p - 1)::INT AS pos, CAST(embedding[p] AS DOUBLE) AS v
  FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS p)),
q AS (SELECT vec_id, pos, v, CAST(floor(v * ${Scale.toDouble}) AS BIGINT) AS q
      FROM expl),
stats AS (
  SELECT pos, count(*)::BIGINT AS n,
         sum(q::HUGEINT) AS sq, sum((q * q)::HUGEINT) AS sq2,
         min(v) AS min_v, max(v) AS max_v
  FROM q GROUP BY pos),
st AS (
  SELECT pos, n, min_v, max_v,
         (CAST(sq AS DOUBLE) / n) / ${Scale.toDouble} AS mean,
         sqrt(CAST(n::HUGEINT * sq2 - sq * sq AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              / ${ScaleSq.toDouble}) AS std
  FROM stats)"""

  val oracle: Map[String, String] = Map(
    "sim_dim_stats" -> s"""WITH $statsSql
SELECT pos, n, mean, std, min_v, max_v FROM st ORDER BY pos""",

    "sim_standardize" -> s"""WITH $statsSql
SELECT e.vec_id, e.pos, e.v, (e.v - st.mean) / st.std AS z
FROM (SELECT vec_id, (p - 1)::INT AS pos, CAST(embedding[p] AS DOUBLE) AS v
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS p)
      WHERE vec_id < $ProbeVecs) e
JOIN st USING (pos)
ORDER BY vec_id, pos""",

    "sim_bias_outliers" -> s"""WITH rows_ AS (
  SELECT vec_id,
         sqrt(list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS norm,
         list_sum(list_transform(embedding,
           x -> CAST(x AS DOUBLE))) AS csum
  FROM embeddings),
q AS (
  SELECT vec_id, norm, csum,
         CAST(floor(csum * ${Scale.toDouble}) AS BIGINT) AS q
  FROM rows_),
mo AS (
  SELECT count(*)::BIGINT AS n,
         sum(q::HUGEINT) AS sq, sum((q * q)::HUGEINT) AS sq2
  FROM q),
st AS (
  SELECT (CAST(sq AS DOUBLE) / n) / ${Scale.toDouble} AS mean,
         sqrt(CAST(n::HUGEINT * sq2 - sq * sq AS DOUBLE)
              / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))
              / ${ScaleSq.toDouble}) AS std
  FROM mo)
SELECT vec_id, norm, csum,
       (CAST(q AS DOUBLE) / ${Scale.toDouble} - mean) / std AS z
FROM q, st
WHERE std > 0
  AND abs((CAST(q AS DOUBLE) / ${Scale.toDouble} - mean) / std)
      > $BiasOutlierZ
ORDER BY vec_id""",

    "sim_embedding_coverage" -> """SELECT
       sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_docs,
       sum(CASE WHEN v.vec_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
         AS n_vecs,
       sum(CASE WHEN d.doc_id IS NOT NULL AND v.vec_id IS NOT NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_matched,
       sum(CASE WHEN d.doc_id IS NOT NULL AND v.vec_id IS NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_docs_unembedded,
       sum(CASE WHEN d.doc_id IS NULL AND v.vec_id IS NOT NULL
                THEN 1 ELSE 0 END)::BIGINT AS n_orphan_vectors
FROM documents d FULL OUTER JOIN embeddings v ON d.doc_id = v.vec_id""")
}
