package graft.text

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-document information-theoretic quality signals — the scalar summary
  * the length/punctuation heuristics of [[TextAnalysis.qualityScore]] can't
  * see: a doc of 500 tokens drawn from 3 words (spam, keyword stuffing,
  * generation loops) has high length but near-zero unigram entropy, while
  * natural text sits near the corpus ceiling. Standard screen in LLM data
  * curation (low-entropy filtering complements the repetition ratios of
  * [[TextAnalysis.repetition]], which look at ADJACENT repeats only —
  * entropy catches global distribution collapse regardless of token order).
  *
  * Cross-engine determinism (the repo's no-engine-log rule): neither engine
  * ever evaluates `ln` — Shannon entropy needs ln only of the small
  * integers 1..[[MaxCount]] (per-doc token counts), so those logs are
  * computed ONCE in Scala, fixed-point-scaled to [[LnScale]]ths, and
  * inlined as the same literal lookup table into both plans. Via the
  * log-identity H = ln n − (Σ c·ln c)/n the whole statistic becomes the
  * exact BIGINT numerator n·lnS(n) − Σ c·lnS(c) (order-independent integer
  * sum) over the exact denominator n·[[LnScale]], divided ONCE. The
  * operands can exceed 2⁵³ (n·lnS(n) ≈ 1.6·10¹⁶ at the table ceiling),
  * but int64→double conversion is IEEE round-to-nearest on both engines —
  * the same two doubles enter the same single division everywhere.
  *
  * Scale: tokenize map-side, one shuffle on (doc_id, token) for the counts,
  * one on doc_id for the rollup — both high-cardinality keys; the ln table
  * ([[MaxCount]] rows) broadcasts. A count above [[MaxCount]] would drop
  * from the inner join and surface as a missing doc row — a LOUD failure
  * mode by design (DriftScoringSpec pins the headroom).
  */
object Entropy extends graft.QueryModule {

  /** Fixed-point scale for the inlined ln values (units of 1e-12). */
  val LnScale = 1000000000000L

  /** Largest per-doc token count the inlined ln table covers. */
  val MaxCount = 2048

  /** lnS(k) = round(ln(k)·[[LnScale]]) for k = 1..[[MaxCount]] — the single
    * source both engines' plans inline.
    */
  val LnTable: IndexedSeq[(Int, Long)] =
    (1 to MaxCount).map(k => k -> math.rint(math.log(k) * LnScale).toLong)

  /** Per-doc token entropy (nats, 4 dp), type-token ratio, and counts. */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ln = LnTable.toDF("k", "lnk")
    val counts = Tables.documents(spark, dir)
      .select($"doc_id",
        explode(split(trim(lower($"text")), "\\s+")).as("tok"))
      .groupBy($"doc_id", $"tok")
      .agg(count(lit(1)).cast("int").as("c"))
      .join(broadcast(ln), $"c" === $"k")
    val perDoc = counts.groupBy($"doc_id")
      .agg(
        sum($"c".cast("bigint")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum($"c" * $"lnk").as("clogc"))
      .join(broadcast(ln), $"n_tokens" === $"k")
    perDoc.select($"doc_id", $"n_tokens", $"n_types",
      round($"n_types" * lit(1.0) / $"n_tokens", 4).as("ttr"),
      round(($"n_tokens" * $"lnk" - $"clogc") * lit(1.0)
        / ($"n_tokens" * lit(LnScale)), 4).as("entropy_nats"))
      .orderBy($"doc_id")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_entropy" -> (tokenEntropy _))

  private def lnValuesSql: String =
    LnTable.map { case (k, v) => s"($k,$v)" }.mkString(",")

  val oracle: Map[String, String] = Map(
    "text_entropy" -> s"""WITH ln_table(k, lnk) AS (VALUES $lnValuesSql),
counts AS (
  SELECT doc_id, token, count(*)::INT AS c
  FROM (SELECT doc_id,
               unnest(string_split_regex(trim(lower(text)), '\\s+')) AS token
        FROM documents)
  GROUP BY doc_id, token),
per_doc AS (
  SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*)::BIGINT AS n_types,
         sum(c * lnk)::BIGINT AS clogc
  FROM counts JOIN ln_table ON c = k
  GROUP BY doc_id)
SELECT doc_id, n_tokens, n_types,
       round(n_types * 1.0 / n_tokens, 4) AS ttr,
       round((n_tokens * lnk - clogc) * 1.0 / (n_tokens * $LnScale), 4)
         AS entropy_nats
FROM per_doc JOIN ln_table ON n_tokens = k
ORDER BY doc_id""")
}
