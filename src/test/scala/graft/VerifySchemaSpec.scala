package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** Output-boundary type-contract guard (see [[OutputContract]]).
  *
  * Three rounds in a row shipped a value-correct query whose OUTPUT schema
  * carried a DECIMAL column, tripping dtype-sensitive downstream hash
  * comparison (r4: `agg_kmv_distinct` HUGEINT; r5: `agg_unpivot_monthly`,
  * `win_value_positions` DECIMAL). This spec makes the 4th recurrence
  * impossible: every registry entry's result schema is swept for DECIMAL
  * leaves at construction time, so a new decimal-emitting query fails in
  * `sbt test`, not in the driver's round report.
  */
class VerifySchemaSpec extends SparkSpec {
  import spark.implicits._

  test("no SparkEntry.queries result schema contains a DECIMAL column") {
    val violations = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val cols = OutputContract.decimalColumns(fn(spark, sf).schema)
        if (cols.isEmpty) Nil else Seq(s"$name: ${cols.mkString(", ")}")
    }
    assert(violations.isEmpty,
      s"DECIMAL at the output boundary (cast to DOUBLE/BIGINT):\n" +
        violations.mkString("\n"))
  }

  test("every registered query carries an oracle, and no oracle is orphaned") {
    // the driver's correctness gate only scores queries WITH oracle SQL —
    // a missing key silently downgrades a query to a rows-only smoke; an
    // orphaned oracle key is dead SQL that never runs
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without an oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without a query: ${(o -- q).toSeq.sorted}")
  }

  test("the guard catches a deliberately-decimal schema (negative control)") {
    val df = Seq((1L, BigDecimal("1.50"))).toDF("k", "money")
    assert(OutputContract.decimalColumns(df.schema) == Seq("money"))
    // nested: decimal buried in a struct inside an array is still found
    val nested = StructType(Seq(StructField("xs", ArrayType(
      StructType(Seq(StructField("amt", DecimalType(12, 2))))))))
    assert(OutputContract.decimalColumns(nested) == Seq("xs[].amt"))
    // compliant schemas pass
    val ok = StructType(Seq(
      StructField("n", LongType), StructField("v", DoubleType)))
    assert(OutputContract.decimalColumns(ok).isEmpty)
  }

  test("oracle_sql.json round-trips SQL with control chars, quotes, backslashes") {
    // a raw tab or CR in the file once made the driver's json.load fail
    val oracle = Map(
      "q_ctrl" -> "SELECT\t1 AS \"a\\b\",\r\n  '\u0001' AS c",
      "q_plain" -> "SELECT 2")
    val json = Verify.oracleJson(oracle)
    assert(!json.exists(_ < ' '), s"raw control char in $json")
    val parsed = new ObjectMapper()
      .readValue(json, classOf[java.util.Map[String, String]]).asScala.toMap
    assert(parsed == oracle.map { case (k, v) => s"$k.parquet" -> v })
  }
}
