package graft.functions

import graft.TestSpark
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CaseFold returns the bytes Spark's own `lower`/`upper` return, under
  * whole-stage codegen, interpreted eval and inside a lambda. Inputs are
  * given as UTF-8 hex so that invalid UTF-8 can be written at all, and
  * non-ASCII text as \\u escapes so the bytes are unambiguous.
  */
class CaseFoldSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val inputs: Seq[(String, Option[String])] = Seq(
    "ascii" -> Some(hexOf("Hello, World 42_x")),
    "long s" -> Some(hexOf("\u017Fun")),
    "dotted capital I" -> Some(hexOf("\u0130stanbul")),
    "sharp s" -> Some(hexOf("stra\u00DFe")),
    "final sigma" -> Some(hexOf("\u03A3\u0391\u03A3")),
    "supplementary plane" -> Some(hexOf("\uD801\uDC00bc")),
    "invalid utf-8" -> Some("41C3FF42E282"),
    "empty" -> Some(""),
    "null" -> None)

  private def hexOf(s: String): String =
    s.getBytes("UTF-8").map(b => f"${b & 0xff}%02X").mkString

  /** One row per input: its label and the string its bytes decode to. */
  private def strings: DataFrame =
    inputs.toDF("label", "hex")
      // a shuffle keeps the projection out of local-relation folding
      .repartition(2)
      .select(col("label"), unhex(col("hex")).cast("string").as("s"))

  /** label → (ours, Spark's) as UTF-8 hex, null for null. */
  private def pairs(df: DataFrame, ours: Column, builtin: Column): Map[String, (String, String)] =
    df.select(col("label"), hex(ours.cast("binary")), hex(builtin.cast("binary")))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap

  private def assertSame(got: Map[String, (String, String)]): Unit = {
    assert(got.keySet == inputs.map(_._1).toSet)
    got.foreach { case (label, (ours, theirs)) => assert(ours == theirs, label) }
  }

  private def bothFolds(df: DataFrame): Unit = {
    assertSame(pairs(df, CaseFold.lowerCase(col("s")), lower(col("s"))))
    assertSame(pairs(df, CaseFold.upperCase(col("s")), upper(col("s"))))
  }

  test("the folds are ICU full case mappings, Spark's default") {
    assert(spark.conf.get("spark.sql.icu.caseMappings.enabled") == "true")
    val got = strings.select(col("label"),
      CaseFold.lowerCase(col("s")).as("lo"), CaseFold.upperCase(col("s")).as("up"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(got("ascii") == (("hello, world 42_x", "HELLO, WORLD 42_X")))
    assert(got("long s") == (("\u017Fun", "SUN")))
    assert(got("dotted capital I")._1 == "i\u0307stanbul")
    assert(got("sharp s")._2 == "STRASSE")
    assert(got("final sigma")._1 == "\u03C3\u03B1\u03C2")
    assert(got("supplementary plane") == (("\uD801\uDC28bc", "\uD801\uDC00BC")))
    assert(got("invalid utf-8")._1.startsWith("a\uFFFD"))
    assert(got("empty") == (("", "")))
    assert(got("null") == ((null, null)))
  }

  test("whole-stage codegen matches Spark byte for byte") {
    // CODEGEN_ONLY: a generated class that fails to compile fails the test
    // instead of falling back to interpreted eval
    TestSpark.withConf("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      TestSpark.withAqeDisabled {
        val plan = strings.select(CaseFold.lowerCase(col("s")), CaseFold.upperCase(col("s")))
          .queryExecution.executedPlan
        assert(plan.collectFirst {
          case w: WholeStageCodegenExec if w.toString.contains("lower_case") => w
        }.nonEmpty, plan)
        bothFolds(strings)
      }
    }
  }

  test("interpreted eval matches Spark byte for byte") {
    TestSpark.withConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      bothFolds(strings)
    }
  }

  test("inside a transform lambda it matches Spark byte for byte") {
    val arrays = strings.select(col("label"), array(col("s"), lit("Ab\u00DF")).as("a"))
    def joined(f: Column => Column) =
      concat_ws("|", transform(col("a"), x => hex(f(x).cast("binary"))))
    val got = arrays.select(col("label"),
      joined(CaseFold.lowerCase), joined(lower), joined(CaseFold.upperCase), joined(upper))
      .collect()
    assert(got.length == inputs.size)
    got.foreach { r =>
      assert(r.getString(1) == r.getString(2), r.getString(0))
      assert(r.getString(3) == r.getString(4), r.getString(0))
    }
  }

  test("a non-string input is cast to string first, as for Spark's") {
    val df = Seq(1L, -20L).toDF("n").repartition(1)
    assert(df.select(CaseFold.upperCase(col("n"))).as[String].collect().sorted.toSeq ==
      df.select(upper(col("n"))).as[String].collect().sorted.toSeq)
  }
}
