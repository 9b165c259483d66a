package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class QuantizedDotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val hof =
    "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, x) -> acc + x)"

  test("qdot matches the composed HOF form on dense vectors") {
    val df = Seq(
      (Seq(1L, 2L, 3L), Seq(4L, 5L, 6L)),
      (Seq(-7L, 0L, 100L), Seq(3L, 9L, -2L)),
      (Seq.empty[Long], Seq.empty[Long])
    ).toDF("a", "b")
    val got = df.select(
      QuantizedDot.qdot(col("a"), col("b")).as("native"),
      expr(hof).as("composed")).collect()
    got.foreach { r => assert(r.get(0) == r.get(1)) }
    assert(got.head.getLong(0) == 1 * 4 + 2 * 5 + 3 * 6)
  }

  test("null array or null element yields null, like the HOF form") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(1L, 2L), CAST(NULL AS ARRAY<BIGINT>)),
        |  (array(1L, CAST(NULL AS BIGINT)), array(3L, 4L)),
        |  (array(1L, 2L), array(3L, 4L))
        |AS t(a, b)""".stripMargin)
    val got = df.select(QuantizedDot.qdot(col("a"), col("b")).as("d")).collect()
    assert(got(0).isNullAt(0))
    assert(got(1).isNullAt(0))
    assert(got(2).getLong(0) == 11L)
  }

  test("interpreted eval agrees with codegen") {
    // Force the interpreted path via a literal-free projection under
    // codegen-off, then compare against the default (codegen) run.
    val df = Seq((Seq(2L, 3L, 5L), Seq(7L, 11L, 13L))).toDF("a", "b")
    val expect = 2 * 7 + 3 * 11 + 5 * 13
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.select(QuantizedDot.qdot(col("a"), col("b"))).head.getLong(0) == expect)
    }
    assert(df.select(QuantizedDot.qdot(col("a"), col("b"))).head.getLong(0) == expect)
  }

  test("registered function resolves in SQL text") {
    val out = spark.sql("SELECT qdot(array(1L, 2L, 3L), array(4L, 5L, 6L)) AS d").head
    assert(out.getLong(0) == 32L)
  }

  test("ragged (unequal-length) inputs yield null, like the HOF form") {
    // zip_with null-pads the shorter side, so the composed form's product
    // array contains nulls and the aggregate is null — a mixed-dimension
    // corpus must get a loud null, not a silently truncated dot product
    val df = Seq((Seq(1L, 2L, 3L), Seq(10L, 20L))).toDF("a", "b")
    val got = df.select(
      QuantizedDot.qdot(col("a"), col("b")).as("native"),
      expr(hof).as("composed")).head
    assert(got.isNullAt(0) && got.isNullAt(1))
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.select(QuantizedDot.qdot(col("a"), col("b"))).head.isNullAt(0))
    }
  }

  private def withSQLConf(pairs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val saved = pairs.map { case (k, _) => k -> conf.getOption(k) }
    pairs.foreach { case (k, v) => conf.set(k, v) }
    try f finally saved.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
