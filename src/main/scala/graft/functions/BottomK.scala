package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bottom-k sketch as a typed [[Aggregator]] — per-group top-k WITHOUT a
  * window sort.
  *
  * The window formulation (`row_number() OVER (PARTITION BY g ORDER BY p)`,
  * the reference's ranked-subquery idiom, `sql/analytics_queries.sql:17-31`)
  * shuffles EVERY row to its group's reducer and sorts there; at 100 TB the
  * biggest group's full row set transits the network to one task. This
  * aggregator instead keeps the k smallest (priority, payload) pairs in its
  * buffer, so the partial (map-side) aggregate forwards at most k pairs per
  * group per input partition and the shuffle carries sketches, not rows —
  * the same partial/final two-phase shape as a `sum`.
  *
  * With an md5 priority this is simultaneously:
  *  - a deterministic uniform sample of k ids per group (seeded reservoir
  *    analog — same contract as `src_seeded_sample`, per group);
  *  - a bottom-k distinct sketch (the k-minimum-values estimator: k smallest
  *    hashes of a set determine its cardinality and, intersected with
  *    another group's sketch, their Jaccard overlap).
  *
  * The buffer re-sorts on insert — O(k log k) with k=[[K]]=5; for large k
  * swap in a bounded heap, the algebra (commutative, associative, idempotent
  * zero) is unchanged.
  */
object BottomK extends graft.QueryModule {

  /** Sketch size — ONE definition interpolated into the Spark query and the
    * DuckDB oracle (parity rule).
    */
  val K = 5

  /** Keeps the k lexicographically-smallest (priority, id) pairs; priorities
    * are md5 hex strings so ASCII order matches DuckDB's VARCHAR order
    * bit-for-bit. The id tie-break makes the fold total even under equal
    * priorities.
    */
  class BottomKAgg(k: Int)
      extends Aggregator[(String, Long), Seq[(String, Long)], Seq[Long]] {
    private def trim(b: Seq[(String, Long)]): Seq[(String, Long)] =
      b.sorted.take(k)
    override def zero: Seq[(String, Long)] = Nil
    override def reduce(b: Seq[(String, Long)], a: (String, Long)): Seq[(String, Long)] =
      trim(a +: b)
    override def merge(b1: Seq[(String, Long)], b2: Seq[(String, Long)]): Seq[(String, Long)] =
      trim(b1 ++ b2)
    override def finish(b: Seq[(String, Long)]): Seq[Long] = b.sorted.map(_._2)
    override def bufferEncoder: Encoder[Seq[(String, Long)]] =
      ExpressionEncoder[Seq[(String, Long)]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      ExpressionEncoder[Seq[Long]]()
  }

  /** Checked operator form: the [[K]]-element deterministic sample of event
    * ids per event type, long form (one row per rank). The md5 priority is
    * the cross-engine seed; `posexplode` unpacks the sketch array so the
    * oracle can reproduce it with a plain ranked window (tiny data lets
    * DuckDB afford the sort this aggregator exists to avoid).
    */
  def bottomKSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bk = udaf(new BottomKAgg(K))
    graft.Tables.events(spark, dir)
      .select($"event_type", $"event_id",
        md5(concat(lit("bk:"), $"event_id".cast("string"))).as("p"))
      .groupBy($"event_type")
      .agg(bk($"p", $"event_id").as("ids"))
      .select($"event_type", posexplode($"ids"))
      .select($"event_type", ($"pos" + lit(1L)).as("rk"), $"col".as("event_id"))
      .orderBy($"event_type", $"rk")
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "agg_bottomk_sample" -> (bottomKSample _))

  val oracle: Map[String, String] = Map(
    "agg_bottomk_sample" -> s"""WITH pri AS (
  SELECT event_type, event_id,
         md5('bk:' || CAST(event_id AS VARCHAR)) AS p
  FROM events),
ranked AS (
  SELECT event_type, event_id,
         row_number() OVER (PARTITION BY event_type ORDER BY p, event_id)
           AS rk
  FROM pri)
SELECT event_type, rk, event_id FROM ranked WHERE rk <= $K
ORDER BY event_type, rk""")
}
