package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestBase

/** The native quantized-vector expressions (QDot/QNorm2/QD2) must be
  * drop-in equal to the composed higher-order-function forms they
  * replaced — including the null semantics the HOF forms get from
  * zip_with's padding and +/× null propagation (length mismatch → null,
  * any null element → null, empty → 0).
  */
class QVecSpec extends AnyFunSuite with SparkTestBase {

  private def hofDot(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0L), (acc, x) => acc + x)

  private def hofNorm2(a: org.apache.spark.sql.Column) =
    aggregate(transform(a, x => x * x), lit(0L), (acc, x) => acc + x)

  private def hofD2(a: org.apache.spark.sql.Column,
      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0L), (acc, x) => acc + x)

  test("QDot/QNorm2/QD2 match the composed HOF forms on every edge") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rows: Seq[(Option[Seq[Option[Long]]], Option[Seq[Option[Long]]])] =
      Seq(
        // plain vectors
        (Some(Seq(Some(1L), Some(-2L), Some(3L))),
          Some(Seq(Some(4L), Some(5L), Some(-6L)))),
        // length mismatch -> null under zip_with padding
        (Some(Seq(Some(1L), Some(2L))), Some(Seq(Some(3L)))),
        // null element -> null
        (Some(Seq(Some(1L), None)), Some(Seq(Some(2L), Some(3L)))),
        // empty arrays -> 0
        (Some(Seq.empty), Some(Seq.empty)),
        // null array -> null
        (None, Some(Seq(Some(1L)))),
        // big magnitudes (milli-quantized 64-dim scale)
        (Some(Seq.fill(64)(Some(1100L))), Some(Seq.fill(64)(Some(-999L)))))
    val df = rows.toDF("a", "b")
      .select(
        call_function(GraftFunctions.QDotName, col("a"), col("b"))
          .as("ndot"),
        hofDot(col("a"), col("b")).as("hdot"),
        call_function(GraftFunctions.QNorm2Name, col("a")).as("nn2"),
        hofNorm2(col("a")).as("hn2"),
        call_function(GraftFunctions.QD2Name, col("a"), col("b")).as("nd2"),
        hofD2(col("a"), col("b")).as("hd2"))
    df.collect().foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1) &&
        (r.isNullAt(0) || r.getLong(0) == r.getLong(1)),
        s"dot mismatch: $r")
      assert(r.isNullAt(2) == r.isNullAt(3) &&
        (r.isNullAt(2) || r.getLong(2) == r.getLong(3)),
        s"norm2 mismatch: $r")
      assert(r.isNullAt(4) == r.isNullAt(5) &&
        (r.isNullAt(4) || r.getLong(4) == r.getLong(5)),
        s"d2 mismatch: $r")
    }
  }

  test("Similarity.dotq/norm2 route through the native expressions " +
      "inside an active session and stay codegen-resident") {
    // range source, not a literal row: a LocalRelation would be
    // constant-folded into a LocalTableScan and hide the expressions
    val p = spark.range(1)
      .select(array(col("id") + 1000L, col("id") - 500L, col("id") + 250L)
        .as("emb"))
    val out = p.select(
      graft.ext.Similarity.dotq(col("emb"), col("emb")).as("d"),
      graft.ext.Similarity.norm2(col("emb")).as("n"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("qdot(") && plan.contains("qnorm2("),
      s"expected native expressions in plan:\n${plan.take(1200)}")
    // the project carrying them must be inside a WholeStageCodegen span
    assert(plan.linesIterator.exists(l =>
        l.contains("*(") && l.contains("qdot(")),
      s"qdot must stay codegen-resident:\n${plan.take(1200)}")
    val row = out.head()
    assert(row.getLong(0) == 1000L * 1000 + 500L * 500 + 250L * 250)
    assert(row.getLong(1) == row.getLong(0))
  }

  test("the SQL forms reject non-bigint vectors at analysis and mirror a NULL argument") {
    GraftFunctions.register(spark)
    // a range source keeps the inputs non-foldable, so the NULL cases
    // run the generated code, not constant folding
    spark.range(1)
      .selectExpr("array(id + 1, id - 2) AS v", "array(1, 2) AS iv", "id AS n")
      .createOrReplaceTempView("qvec_types")
    for ((expr, got) <- Seq(
        s"${GraftFunctions.QDotName}(iv, v)" -> "array<int>",
        s"${GraftFunctions.QD2Name}(v, n)" -> "bigint",
        s"${GraftFunctions.QNorm2Name}(iv)" -> "array<int>")) {
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT $expr FROM qvec_types")
      }
      assert(e.getMessage.contains(s"requires array<bigint>, got $got"),
        s"$expr: ${e.getMessage}")
    }
    val row = spark.sql(
      s"""SELECT ${GraftFunctions.QDotName}(v, v),
         |  ${GraftFunctions.QD2Name}(NULL, v),
         |  ${GraftFunctions.QNorm2Name}(NULL),
         |  ${GraftFunctions.QDotName}(v, NULL)
         |FROM qvec_types""".stripMargin).head()
    assert(row.getLong(0) == 5L)
    assert((1 to 3).forall(row.isNullAt), s"NULL must mirror: $row")
  }
}
