package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Exact Shapley attribution for the labeling-function vote — "which LF
  * actually decides the corpus's keep/drop labels?" answered with the one
  * attribution that satisfies efficiency/symmetry/null-player (Shapley
  * 1953), not a correlation. With [[WeakLabels.LfNames.size]] = 4 players
  * the coalition space is 2⁴ — EXACTLY enumerable, so every marginal
  * contribution sign(v(S∪i)) − sign(v(S)) is expanded at plan-build time
  * into literal CASE arithmetic: per document the whole attribution is 32
  * integer terms, no sampling, no approximation.
  *
  * Kept rational end to end: coalition weights |S|!(n−|S|−1)!/n! over a
  * common denominator [[WeightDenom]] = 4!/gcd = 12, so a document's
  * Shapley numerators are small integers that sum across the corpus
  * losslessly (map-side combined); the single division by
  * 12·n_docs happens at the output boundary. Efficiency
  * (Σᵢ φᵢ(d) = majority(d)) is therefore an INTEGER identity the spec
  * pins exactly.
  *
  * Scale: one map-side pass computes the 4 votes and 32 terms per doc;
  * one 4-row aggregate ends it. Nothing shuffles but the final tiny
  * rollup.
  */
object LfShapley extends graft.QueryModule {

  /** Common denominator of the 4-player coalition weights ×4! folded:
    * w(|S|) ∈ {3,1,1,3}/12 for |S| = 0..3.
    */
  val WeightDenom = 12

  /** Numerators of the coalition weight by predecessor-set size. */
  val WeightNum: IndexedSeq[Int] = IndexedSeq(3, 1, 1, 3)

  private val voteCols = IndexedSeq("v_length", "v_stopword", "v_digit", "v_lang_en")

  /** sign(x) as CASE text — identical SQL on both engines. */
  private def signSql(x: String): String =
    s"(CASE WHEN ($x) > 0 THEN 1 WHEN ($x) < 0 THEN -1 ELSE 0 END)"

  /** Shapley numerator (×[[WeightDenom]]) of LF `i` as a SQL expression
    * over the vote columns — Σ over the 8 predecessor coalitions.
    */
  private def phiNumSql(i: Int): String = {
    val others = voteCols.indices.filterNot(_ == i)
    others.toSet.subsets().toSeq.sortBy(_.size).map { s =>
      val base = if (s.isEmpty) "0" else s.toSeq.sorted.map(voteCols).mkString(" + ")
      val w = WeightNum(s.size)
      s"$w * (${signSql(s"$base + ${voteCols(i)}")} - ${signSql(base)})"
    }.mkString("(", " + ", ")")
  }

  def lfShapley(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val perDoc = WeakLabels.voted(spark, dir).select(
      $"doc_id" +: voteCols.indices.map(i =>
        expr(phiNumSql(i)).as(s"phi_$i")): _*)
    val stackExpr = "stack(4, " + voteCols.indices.map(i =>
      s"'${WeakLabels.LfNames(i)}', phi_$i").mkString(", ") +
      ") AS (lf_name, phi_num)"
    perDoc.select(expr(stackExpr))
      .groupBy($"lf_name")
      .agg(count(lit(1)).as("n_docs"),
        sum($"phi_num".cast("bigint")).as("sum_num"),
        sum(abs($"phi_num").cast("bigint")).as("sum_abs_num"))
      .select($"lf_name", $"n_docs",
        ($"sum_num" * lit(1.0) / ($"n_docs" * WeightDenom))
          .as("mean_shapley"),
        ($"sum_abs_num" * lit(1.0) / ($"n_docs" * WeightDenom))
          .as("mean_abs_shapley"))
      .orderBy($"lf_name")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "curate_lf_shapley" -> (lfShapley _))

  val oracle: Map[String, String] = {
    val branches = voteCols.indices.map(i =>
      s"SELECT doc_id, '${WeakLabels.LfNames(i)}' AS lf_name, ${phiNumSql(i)} AS phi_num FROM voted")
      .mkString("\nUNION ALL\n")
    Map("curate_lf_shapley" -> s"""WITH voted AS (${WeakLabels.votedSql}),
stacked AS (
$branches)
SELECT lf_name, count(*)::BIGINT AS n_docs,
       sum(phi_num)::BIGINT * 1.0 / (count(*) * $WeightDenom)
         AS mean_shapley,
       sum(abs(phi_num))::BIGINT * 1.0 / (count(*) * $WeightDenom)
         AS mean_abs_shapley
FROM stacked
GROUP BY lf_name
ORDER BY lf_name""")
  }
}
