package graft.text

import graft.Tables
import graft.functions.ScaledLn
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bigram-LM cross-entropy scoring — the CCNet/Wikipedia-LM perplexity
  * filter (Wenzek et al. 2020), the quality signal [[LmCoverage]]'s
  * docstring declared out of reach "where a real LM perplexity score would
  * need floating log-probs": [[ScaledLn]] removes that wall. With add-one
  * smoothing over the corpus's own bigram model,
  *
  *   H(doc) = (1/n) Σ_pairs [ lnS(c1(w₁)+V) − lnS(c2(w₁w₂)+1) ]
  *
  * — per-token-pair negative log-probability as a DIFFERENCE of two
  * fixed-point ln lookups, summed as BIGINTs, divided once. Perplexity is
  * e^H (monotone), so ranking/filtering happens on H directly and no
  * engine exp is ever evaluated. Low-H docs are common-phrase text; the
  * high-H tail is gibberish — CCNet buckets the corpus by exactly this
  * number.
  *
  * Scale: unigram/bigram model tables are keyed counts (map-side
  * combined); scoring joins each doc-bigram occurrence to the two model
  * tables by key — vocabulary-sized broadcasts at test scale, plain
  * equi-joins beyond; the per-doc rollup is one doc_id shuffle. The
  * division runs AFTER the integer sum crosses the shuffle, so any
  * parallelism yields the same bits (PropertySpec-listed).
  */
object LmPerplexity extends graft.QueryModule {

  def lmPerplexity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lnT = ScaledLn.Table.toDF("mk", "mln")
    def withLn(df: DataFrame, x: String, out: String): DataFrame =
      df.withColumn("_k", expr(ScaledLn.keySparkSql(x)))
        .withColumn("_e", expr(ScaledLn.excessSparkSql(x)))
        .join(broadcast(lnT), $"_k" === $"mk")
        .withColumn(out, $"mln" + $"_e")
        .drop("_k", "_e", "mk", "mln")

    val toks = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(split(trim(lower($"text")), "\\s+")).as("w"))
    val c1 = toks.groupBy($"w").agg(count(lit(1)).as("c1"))
    val vocab = c1.agg(count(lit(1)).as("v"))
    val lam1 = withLn(c1.crossJoin(vocab), "c1 + v", "ln_den")
      .select($"w".as("w1"), $"ln_den")

    val bg = Tables.documents(spark, dir)
      .withColumn("toks", split(trim(lower($"text")), "\\s+"))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(0, size(toks) - 2),
          |  i -> struct(element_at(toks, i + 1) AS w1,
          |              concat(element_at(toks, i + 1), ' ',
          |                     element_at(toks, i + 2)) AS bigram))""".stripMargin))
        .as("p"))
      .select($"doc_id", $"p.w1", $"p.bigram")
    val lam2 = withLn(
      bg.groupBy($"bigram").agg(count(lit(1)).as("c2")), "c2 + 1", "ln_num")
      .select($"bigram", $"ln_num")

    bg.join(lam2, "bigram")
      .join(broadcast(lam1), "w1")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum($"ln_den" - $"ln_num").as("nll"))
      // nll grows with doc length past 2^53 — explicit DOUBLE casts, and a
      // fixed division order shared with the oracle
      .select($"doc_id", $"n_bigrams",
        (($"nll".cast("double") / $"n_bigrams") / ScaledLn.Scale)
          .as("cross_entropy_nats"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_lm_perplexity" -> (lmPerplexity _))

  val oracle: Map[String, String] = {
    import ScaledLn.{excessDuckSql => ex, keyDuckSql => key}
    Map("text_lm_perplexity" -> s"""WITH ln_mant(mk, mln) AS
  (VALUES ${ScaledLn.tableValuesSql}),
toks AS (
  SELECT doc_id,
         unnest(string_split_regex(trim(lower(text)), '\\s+')) AS w
  FROM documents),
c1 AS (SELECT w, count(*)::BIGINT AS c1 FROM toks GROUP BY w),
vocab AS (SELECT count(*)::BIGINT AS v FROM c1),
lam1 AS (
  SELECT c1.w AS w1, (l.mln + ${ex("(c1.c1 + vocab.v)")}) AS ln_den
  FROM c1 CROSS JOIN vocab
  JOIN ln_mant l ON l.mk = ${key("(c1.c1 + vocab.v)")}),
bg AS (
  SELECT doc_id, t[i] AS w1, t[i] || ' ' || t[i+1] AS bigram
  FROM (SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS t
        FROM documents),
       LATERAL (SELECT unnest(range(1, len(t))) AS i)
  WHERE len(t) >= 2),
lam2 AS (
  SELECT b.bigram, (l.mln + ${ex("(b.c2 + 1)")}) AS ln_num
  FROM (SELECT bigram, count(*)::BIGINT AS c2 FROM bg GROUP BY bigram) b
  JOIN ln_mant l ON l.mk = ${key("(b.c2 + 1)")})
SELECT doc_id, count(*)::BIGINT AS n_bigrams,
       ((sum(ln_den - ln_num)::BIGINT)::DOUBLE / count(*))
         / ${ScaledLn.Scale} AS cross_entropy_nats
FROM bg JOIN lam2 USING (bigram) JOIN lam1 USING (w1)
GROUP BY doc_id
ORDER BY doc_id""")
  }
}
