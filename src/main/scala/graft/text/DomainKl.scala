package graft.text

import graft.Tables
import graft.functions.{Md5Hash, ScaledLn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-source KL divergence from the corpus unigram distribution — the
  * domain-distinctiveness audit a training-mixture design reads before
  * weighting sources: KL(p_source ‖ p_corpus) near 0 means the source is
  * linguistically redundant with the pool (down-weighting loses little);
  * a high-KL source carries distribution mass nothing else covers.
  *
  * Distributions live on [[NumBuckets]] hashed unigram buckets with
  * add-one smoothing (fixed-width at any corpus, same trick as
  * [[DsirWeights]]). With ĉ = c+1, T_s = Σ_b ĉ_sb and T = Σ_b ĉ_b, the
  * divergence telescopes to integer arithmetic:
  *
  *   KL(s) = [ Σ_b ĉ_sb·(lnS ĉ_sb − lnS ĉ_b) ] / T_s + lnS T − lnS T_s
  *
  * (the Σ ĉ_sb = T_s identity folds the two total terms out of the sum) —
  * a BIGINT dot product over per-bucket [[ScaledLn]] values, two scalar
  * lookups, one division. Order-independent, no engine log, bit-equal in
  * DuckDB.
  *
  * Scale: one (source, bucket) shuffle with map-side combine (output
  * |sources|·[[NumBuckets]] rows — bounded regardless of corpus), a
  * [[NumBuckets]]-row broadcast for corpus counts, and literal-table ln
  * joins. Nothing downstream of the first aggregate scales with tokens.
  */
object DomainKl extends graft.QueryModule {

  /** Hashed unigram buckets (shared arity with [[DsirWeights]]). */
  val NumBuckets = 512

  def domainKl(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lnT = ScaledLn.Table.toDF("mk", "mln")
    def withLn(df: DataFrame, x: String, out: String): DataFrame =
      df.withColumn("_k", expr(ScaledLn.keySparkSql(x)))
        .withColumn("_e", expr(ScaledLn.excessSparkSql(x)))
        .join(broadcast(lnT), $"_k" === $"mk")
        .withColumn(out, $"mln" + $"_e")
        .drop("_k", "_e", "mk", "mln")

    val toks = Tables.documents(spark, dir)
      .select($"source",
        explode(split(trim(lower($"text")), "\\s+")).as("tok"))
      .withColumn("bucket",
        Md5Hash.h32(concat(lit("kl:"), $"tok")) % NumBuckets)
      .drop("tok")
    // smoothed per-(source, bucket) counts over the full spine: absent
    // buckets still carry their +1 mass, so T_s = n_s + NumBuckets exactly
    val spine = toks.select($"source").distinct()
      .crossJoin(spark.range(NumBuckets).select($"id".as("bucket")))
    val srcCounts = spine
      .join(toks.groupBy($"source", $"bucket")
        .agg(count(lit(1)).as("c")), Seq("source", "bucket"), "left")
      .select($"source", $"bucket", (coalesce($"c", lit(0L)) + 1).as("cs1"))
    val corpusCounts = withLn(
      srcCounts.groupBy($"bucket").agg((sum($"cs1" - 1) + 1).as("cb1")),
      "cb1", "ln_cb")
    val totals = withLn(
      corpusCounts.agg(sum($"cb1").as("t")), "t", "ln_t")
    val perSource = withLn(srcCounts, "cs1", "ln_cs")
      .join(broadcast(corpusCounts.select($"bucket", $"ln_cb")), "bucket")
      .groupBy($"source")
      .agg(sum($"cs1" - 1).as("n_tokens"),
        sum($"cs1").as("ts"),
        sum($"cs1" * ($"ln_cs" - $"ln_cb")).as("num"))
    // num can exceed 2^53 — cast to DOUBLE explicitly on BOTH engines: a
    // `* 1.0` in DuckDB is DECIMAL multiplication whose rounding into
    // double differs from the int64→double conversion by 1 ulp
    withLn(perSource, "ts", "ln_ts")
      .crossJoin(broadcast(totals))
      .select($"source", $"n_tokens",
        (($"num".cast("double") / $"ts" + ($"ln_t" - $"ln_ts"))
          / ScaledLn.Scale).as("kl_nats"))
      .orderBy($"source")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_domain_kl" -> (domainKl _))

  val oracle: Map[String, String] = {
    import ScaledLn.{excessDuckSql => ex, keyDuckSql => key}
    Map("text_domain_kl" -> s"""WITH ln_mant(mk, mln) AS
  (VALUES ${ScaledLn.tableValuesSql}),
toks AS (
  SELECT source, ${Md5Hash.h32Sql("'kl:' || tok")} % $NumBuckets AS bucket
  FROM (SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents)),
spine AS (
  SELECT s.source, r.range AS bucket
  FROM (SELECT DISTINCT source FROM documents) s, range(0, $NumBuckets) r),
src_counts AS (
  SELECT sp.source, sp.bucket, coalesce(t.c, 0) + 1 AS cs1
  FROM spine sp LEFT JOIN (
    SELECT source, bucket, count(*)::BIGINT AS c
    FROM toks GROUP BY source, bucket) t
  ON t.source = sp.source AND t.bucket = sp.bucket),
corpus_counts AS (
  SELECT bucket, (sum(cs1 - 1) + 1)::BIGINT AS cb1
  FROM src_counts GROUP BY bucket),
corpus_ln AS (
  SELECT bucket, (l.mln + ${ex("cb1")}) AS ln_cb
  FROM corpus_counts JOIN ln_mant l ON l.mk = ${key("cb1")}),
tot AS (SELECT sum(cb1)::BIGINT AS t FROM corpus_counts),
tot_ln AS (
  SELECT (l.mln + ${ex("t")}) AS ln_t
  FROM tot JOIN ln_mant l ON l.mk = ${key("t")}),
per_source AS (
  SELECT s.source,
         sum(s.cs1 - 1)::BIGINT AS n_tokens,
         sum(s.cs1)::BIGINT AS ts,
         sum(s.cs1 * ((l.mln + ${ex("s.cs1")}) - c.ln_cb))::BIGINT AS num
  FROM src_counts s
  JOIN ln_mant l ON l.mk = ${key("s.cs1")}
  JOIN corpus_ln c ON c.bucket = s.bucket
  GROUP BY s.source),
src_ln AS (
  SELECT p.*, (l.mln + ${ex("p.ts")}) AS ln_ts
  FROM per_source p JOIN ln_mant l ON l.mk = ${key("p.ts")})
SELECT source, n_tokens,
       (num::DOUBLE / ts + (ln_t - ln_ts)) / ${ScaledLn.Scale} AS kl_nats
FROM src_ln, tot_ln
ORDER BY source""")
  }
}
