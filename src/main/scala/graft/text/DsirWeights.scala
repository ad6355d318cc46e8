package graft.text

import graft.Tables
import graft.functions.{Md5Hash, ScaledLn}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DSIR — Data Selection with Importance Resampling (Xie et al. 2023), the
  * standard recipe for steering a raw crawl toward a target domain: score
  * every raw document by how much more likely its hashed-n-gram bag is
  * under the target distribution than under the raw distribution, then keep
  * the top quota. The log importance weight of document x with per-feature
  * counts c_f(x) and n = Σ c_f(x) tokens factorizes as
  *
  *   log w(x) = Σ_f c_f(x)·[ln ĉ_t(f) − ln ĉ_r(f)] + n·[ln T_r − ln T_t]
  *
  * with add-one-smoothed feature counts ĉ = c+1 and smoothed totals
  * T = Σ(c+1) — so the whole score is integer feature counts times
  * fixed-point [[ScaledLn]] values: an order-independent BIGINT sum per
  * document, one final division to nats. No engine log, no float crosses a
  * shuffle, bit-reproducible at any parallelism.
  *
  * Here the target distribution is the [[TargetLang]] slice of the corpus
  * and the raw pool is everything else (language-targeted selection — the
  * paper's Wikipedia-targeting setup with the corpus's own labels); the
  * features are [[NumBuckets]] hashed unigram buckets (hashing is what
  * makes the feature space fixed-width at 100 TB — the λ_f table is
  * [[NumBuckets]] rows regardless of vocabulary).
  *
  * Scale: token explode is map-side; ONE shuffle keys (bucket) for the
  * feature counts (map-side combined, [[NumBuckets]]-bounded result); the
  * λ_f lookup back onto the token stream is a broadcast join; the per-doc
  * sum is one doc_id-keyed shuffle. The final top-quota rank is a global
  * row_number over per-DOC rows — at billions of docs that step becomes the
  * banded two-phase rank of `win_global_rank` (same output contract); the
  * scoring itself never leaves linear map-side work.
  */
object DsirWeights extends graft.QueryModule {

  /** Hashed feature buckets — fixed-width feature space at any corpus. */
  val NumBuckets = 512

  /** Target-domain slice: documents with this language label. */
  val TargetLang = "en"

  /** Keep the top 1/[[SelectDenom]] of raw docs by importance weight. */
  val SelectDenom = 4

  def dsirWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lnT = ScaledLn.Table.toDF("mk", "mln")
    def withLn(df: DataFrame, x: String, out: String): DataFrame =
      df.withColumn("_k", expr(ScaledLn.keySparkSql(x)))
        .withColumn("_e", expr(ScaledLn.excessSparkSql(x)))
        .join(broadcast(lnT), $"_k" === $"mk")
        .withColumn(out, $"mln" + $"_e")
        .drop("_k", "_e", "mk", "mln")

    // spread the scan: tokenize + per-token md5 otherwise run in the
    // documents file's single row-group task (Tables.spreadNarrowScan)
    val toks = Tables.spreadNarrowScan(Tables.documents(spark, dir))
      .select($"doc_id", $"lang",
        explode(split(trim(lower($"text")), "\\s+")).as("tok"))
      .withColumn("bucket",
        Md5Hash.h32(concat(lit("dsir:"), $"tok")) % NumBuckets)
      .drop("tok")
    // smoothed per-bucket counts over the FULL bucket spine (absent buckets
    // still carry their +1 smoothing mass, so totals are Σc + NumBuckets)
    val counts = spark.range(NumBuckets).select($"id".as("bucket"))
      .join(toks.groupBy($"bucket").agg(
        sum(when($"lang" === TargetLang, 1L).otherwise(0L)).as("ct"),
        sum(when($"lang" =!= TargetLang, 1L).otherwise(0L)).as("cr")),
        Seq("bucket"), "left")
      .select($"bucket", (coalesce($"ct", lit(0L)) + 1).as("ct1"),
        (coalesce($"cr", lit(0L)) + 1).as("cr1"))
    val lam = withLn(withLn(counts, "ct1", "ln_ct"), "cr1", "ln_cr")
      .select($"bucket", ($"ln_ct" - $"ln_cr").as("lam"))
    val adj = withLn(withLn(
      counts.agg(sum($"ct1").as("tt"), sum($"cr1").as("tr")),
      "tt", "ln_tt"), "tr", "ln_tr")
      .select(($"ln_tr" - $"ln_tt").as("adj"))

    val perDoc = toks.filter($"lang" =!= TargetLang)
      .join(broadcast(lam), "bucket")
      .groupBy($"doc_id", $"lang")
      .agg(count(lit(1)).as("n_tokens"), sum($"lam").as("sum_lam"))
      .crossJoin(broadcast(adj))
      .withColumn("logw", $"sum_lam" + $"n_tokens" * $"adj")
    perDoc
      .withColumn("rk", row_number().over(
        Window.orderBy($"logw".desc, $"doc_id")).cast("bigint"))
      .withColumn("n_raw", count(lit(1)).over(
        Window.partitionBy()).cast("bigint"))
      // logw grows with document length and can pass 2^53 — explicit DOUBLE
      // cast on BOTH engines (DuckDB `* 1.0` is DECIMAL math whose rounding
      // into double differs from int64→double by 1 ulp; see DomainKl)
      .select($"doc_id", $"lang", $"n_tokens",
        ($"logw".cast("double") / ScaledLn.Scale).as("log_weight"),
        $"rk",
        when($"rk" * SelectDenom <= $"n_raw", 1L).otherwise(0L)
          .as("selected"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_dsir_weights" -> (dsirWeights _))

  val oracle: Map[String, String] = {
    import ScaledLn.{excessDuckSql => ex, keyDuckSql => key}
    Map("curate_dsir_weights" -> s"""WITH ln_mant(mk, mln) AS
  (VALUES ${ScaledLn.tableValuesSql}),
toks AS (
  SELECT doc_id, lang,
         ${Md5Hash.h32Sql("'dsir:' || tok")} % $NumBuckets AS bucket
  FROM (SELECT doc_id, lang,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS tok
        FROM documents)),
counts AS (
  SELECT r.range AS bucket,
         coalesce(sum(CASE WHEN lang = '$TargetLang' THEN 1 ELSE 0 END), 0)::BIGINT
           + 1 AS ct1,
         coalesce(sum(CASE WHEN lang <> '$TargetLang' THEN 1 ELSE 0 END), 0)::BIGINT
           + 1 AS cr1
  FROM range(0, $NumBuckets) r LEFT JOIN toks t ON t.bucket = r.range
  GROUP BY r.range),
lam AS (
  SELECT bucket, (lt.mln + ${ex("ct1")}) - (lr.mln + ${ex("cr1")}) AS lam
  FROM counts
  JOIN ln_mant lt ON lt.mk = ${key("ct1")}
  JOIN ln_mant lr ON lr.mk = ${key("cr1")}),
tot AS (SELECT sum(ct1)::BIGINT AS tt, sum(cr1)::BIGINT AS tr FROM counts),
adj AS (
  SELECT (lr.mln + ${ex("tr")}) - (lt.mln + ${ex("tt")}) AS adj
  FROM tot
  JOIN ln_mant lt ON lt.mk = ${key("tt")}
  JOIN ln_mant lr ON lr.mk = ${key("tr")}),
per_doc AS (
  SELECT doc_id, lang, count(*)::BIGINT AS n_tokens,
         sum(lam)::BIGINT AS sum_lam
  FROM toks JOIN lam USING (bucket)
  WHERE lang <> '$TargetLang'
  GROUP BY doc_id, lang),
scored AS (
  SELECT doc_id, lang, n_tokens,
         (sum_lam + n_tokens * adj)::BIGINT AS logw
  FROM per_doc, adj),
ranked AS (
  SELECT doc_id, lang, n_tokens, logw,
         (ROW_NUMBER() OVER (ORDER BY logw DESC, doc_id))::BIGINT AS rk,
         (count(*) OVER ())::BIGINT AS n_raw
  FROM scored)
SELECT doc_id, lang, n_tokens,
       logw::DOUBLE / ${ScaledLn.Scale} AS log_weight, rk,
       (CASE WHEN rk * $SelectDenom <= n_raw THEN 1 ELSE 0 END)::BIGINT
         AS selected
FROM ranked
ORDER BY doc_id""")
  }
}
