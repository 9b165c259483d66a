package graft.plans

import graft.TestSpark
import graft.llm.TextOps
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class NativeExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val hofJaccard =
    "CAST(size(array_intersect(a, b)) AS DOUBLE) / size(array_union(a, b))"

  test("jaccard_sim matches the intersect/union composition on distinct sets") {
    val df = Seq(
      (Seq("a b c", "b c d", "c d e"), Seq("b c d", "c d e", "x y z")),
      (Seq("only"), Seq("only")),
      (Seq("p", "q"), Seq("r", "s"))
    ).toDF("a", "b")
    val got = df.select(
      JaccardSim.jaccardSim(col("a"), col("b")).as("native"),
      expr(hofJaccard).as("composed")).collect()
    got.foreach { r => assert(r.getDouble(0) == r.getDouble(1)) }
    assert(got(0).getDouble(0) == 2.0 / 4.0)
    assert(got(1).getDouble(0) == 1.0)
    assert(got(2).getDouble(0) == 0.0)
  }

  test("jaccard_sim null handling: null array/element and empty union") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(NULL AS ARRAY<STRING>), array('x')),
        |  (array('x', CAST(NULL AS STRING)), array('x')),
        |  (CAST(array() AS ARRAY<STRING>), CAST(array() AS ARRAY<STRING>))
        |AS t(a, b)""".stripMargin)
    val got = df.select(JaccardSim.jaccardSim(col("a"), col("b"))).collect()
    assert(got.forall(_.isNullAt(0)))
  }

  test("jaccard_sim interpreted eval agrees with codegen") {
    val df = Seq((Seq("u", "v", "w"), Seq("v", "w", "x", "y"))).toDF("a", "b")
    val expect = 2.0 / 5.0
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(df.select(JaccardSim.jaccardSim(col("a"), col("b"))).head.getDouble(0) == expect)
    }
    assert(df.select(JaccardSim.jaccardSim(col("a"), col("b"))).head.getDouble(0) == expect)
  }

  test("minhash_sig matches the composed array_min(transform(...)) form") {
    val (as, bs) = TextOps.permConstants(8).unzip
    val composed = as.zip(bs).map { case (a, b) =>
      s"array_min(transform(shash, h -> (${a}L * (h % ${TextOps.P}) + ${b}L) % ${TextOps.P}))"
    }.mkString("array(", ",", ")")
    val df = Seq(
      Tuple1(Seq(123456789L, 987654321L, 555555L)),
      Tuple1(Seq(1L))
    ).toDF("shash")
    val got = df.select(
      MinHashSig.minhashSig(col("shash"), as, bs, TextOps.P).as("native"),
      expr(composed).as("composed")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
  }

  test("minhash_sig interpreted eval agrees with codegen; empty input is null") {
    val (as, bs) = TextOps.permConstants(4).unzip
    val df = Seq(Tuple1(Seq(42L, 7L)), Tuple1(Seq.empty[Long])).toDF("shash")
    def run() = df.select(
      MinHashSig.minhashSig(col("shash"), as, bs, TextOps.P)).collect()
    val default = run()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val interp = run()
      assert(default.map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0)).toSeq ==
        interp.map(r => if (r.isNullAt(0)) null else r.getSeq[Long](0)).toSeq)
    }
    assert(!default(0).isNullAt(0))
    assert(default(1).isNullAt(0))
  }

  test("jaccard_sim resolves in SQL after registration") {
    val out = spark.sql(
      "SELECT jaccard_sim(array('a','b'), array('b','c')) AS j").head
    assert(out.getDouble(0) == 1.0 / 3.0)
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
