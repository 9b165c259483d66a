package graft.plans

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** NfcNormalize: decomposed→composed agreement with the JDK reference,
  * interpreted-vs-codegen agreement, SQL registration. All non-ASCII is
  * written as \\u escapes so the fixture bytes are unambiguous.
  */
class NfcNormalizeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("nfc composes decomposed sequences; precomposed text unchanged") {
    val df = Seq(
      "cafe\u0301", // e + combining acute -> precomposed e-acute
      "café", // already precomposed
      "A\u030Angstro\u0308m", // A+ring, o+diaeresis
      "plain ascii").toDF("s")
    val got = df.select(col("s"),
      NfcNormalize.nfc(col("s")).as("n"),
      length(col("s")).as("lb"), length(NfcNormalize.nfc(col("s"))).as("la"))
      .collect()
    assert(got(0).getAs[String]("n") === "café")
    assert(got(0).getAs[Int]("lb") === 5 && got(0).getAs[Int]("la") === 4)
    assert(got(1).getAs[String]("n") === "café")
    assert(got(2).getAs[String]("n") === "Ångström")
    assert(got(3).getAs[String]("n") === "plain ascii")
    // the dedup motivation: both spellings share one content hash after nfc
    val hashes = df.limit(2)
      .select(md5(NfcNormalize.nfc(col("s")))).as[String].collect()
    assert(hashes(0) === hashes(1))
  }

  test("nfc interpreted eval agrees with codegen; null passes through") {
    val df = Seq(Some("cafe\u0301"), Some("x\u0301y"), None).toDF("s")
    val fast = df.select(NfcNormalize.nfc(col("s"))).collect()
    withSQLConf(
      "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val slow = df.select(NfcNormalize.nfc(col("s"))).collect()
      assert(fast.map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq ===
        slow.map(r => if (r.isNullAt(0)) null else r.getString(0)).toSeq)
    }
    assert(fast(2).isNullAt(0))
  }

  test("nfc_normalize is registered as a SQL function") {
    val got = spark.sql("SELECT nfc_normalize('cafe\\u0301')").collect()
    assert(got(0).getString(0) === "café")
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
