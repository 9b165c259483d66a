package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The correctness dump's per-row write: a written row leaves exactly its
  * own directory, a failed one leaves none.
  */
class VerifySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a row that throws inside its write leaves no directory") {
    import spark.implicits._
    val out = java.nio.file.Paths.get(Inputs.scratchDir("graft-verify-spec"))
    try {
      val boom = spark.range(4).as[Long]
        .map(i => if (i == 2L) throw new IllegalStateException("boom") else i)
        .toDF("id")
      assert(!Verify.writeRow(out.toString, "bad")(boom))
      assert(!Files.exists(out.resolve("bad")))
      assert(Verify.writeRow(out.toString, "good")(spark.range(3).toDF("id")))
      assert(spark.read.parquet(out.resolve("good").toString).count() == 3L)
      assert(core.Fs.list(out).map(_.getFileName.toString) == Seq("good"))
    } finally core.Fs.deleteRecursively(out)
  }
}
