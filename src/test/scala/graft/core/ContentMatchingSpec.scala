package graft.core

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The reference's `contentMatching` bucket corpus
  * (test/civic/civic.statement.test.js:94-167) transcribed against
  * DiffMerge: same civic/gkb fixtures, same tier regimes, same expected
  * toUpdate/toDelete/toCreate buckets.
  *
  * Mapping: incoming = allFromCivic (iid 0..), existing = allFromGkb
  * (eid 100..); tier 1 = (conditions, subject), tier 2 = subject alone,
  * artificial pass = `matchingWithoutComparing`.
  */
class ContentMatchingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // generic content: identical conditions everywhere, subjects vary
  private def civic = Seq(
    (0L, "c123:1+c123:2", "#888:0"),
    (1L, "c123:1+c123:2", "#888:1"),
    (2L, "c123:1+c123:2", "#888:2")).toDF("iid", "conds", "subject")

  private def gkb = Seq(
    (100L, "c123:1+c123:2", "#888:3"),
    (101L, "c123:1+c123:2", "#888:1"),
    (102L, "c123:1+c123:2", "#888:4"),
    (103L, "c123:1+c123:2", "#888:0")).toDF("eid", "conds", "subject")

  private def buckets(df: org.apache.spark.sql.DataFrame) = {
    val rows = df.collect()
    (rows.filter(_.getString(2) == "match")
      .map(r => (r.getLong(0), r.getLong(1))).toSet,
      rows.filter(_.getString(2) == "create").map(_.getLong(0)).toSet,
      rows.filter(_.getString(2) == "delete").map(_.getLong(1)).toSet)
  }

  test("1x1 auto-match fires regardless of flags (civic/statement.js:75-78)") {
    // content DIFFERS on every key and artificialFinal is false — the
    // reference still classifies a 1-incoming × 1-existing pair as one
    // update, never create+delete
    val one = Seq((0L, "cA", "#1")).toDF("iid", "conds", "subject")
    val oneG = Seq((100L, "cB", "#2")).toDF("eid", "conds", "subject")
    val (matches, creates, deletes) = buckets(DiffMerge.contentMatch(
      one, "iid", oneG, "eid", tiers = Seq(Seq("conds", "subject"))))
    assert(matches == Set((0L, 100L)))
    assert(creates.isEmpty && deletes.isEmpty)
    // the auto-match is labelled tier 0
    val tier = DiffMerge.contentMatch(one, "iid", oneG, "eid",
      tiers = Seq(Seq("conds", "subject"))).select("tier").as[Int].head()
    assert(tier == 0)
  }

  test("matching only on conditions and subject (jest :95-126)") {
    val (matches, creates, deletes) = buckets(DiffMerge.contentMatch(
      civic, "iid", gkb, "eid", tiers = Seq(Seq("conds", "subject"))))
    assert(matches == Set((0L, 103L), (1L, 101L))) // civic0↔gkb3, civic1↔gkb1
    assert(creates == Set(2L)) // civic2 unmatched
    assert(deletes == Set(100L, 102L)) // gkb0, gkb2 unmatched
  }

  test("subject-alone tier without artificial matching (jest :128-150)") {
    val civic2 = Seq(
      (0L, "c777:77", "#777:1"),
      (1L, "c777:77", "#777:2")).toDF("iid", "conds", "subject")
    val gkb2 = Seq(
      (100L, "c888:88", "#777:1"),
      (101L, "c888:88", "#888:2")).toDF("eid", "conds", "subject")
    val (matches, creates, deletes) = buckets(DiffMerge.contentMatch(
      civic2, "iid", gkb2, "eid",
      tiers = Seq(Seq("conds", "subject"), Seq("subject"))))
    assert(matches == Set((0L, 100L))) // subject-alone pairing
    assert(creates == Set(1L))
    assert(deletes == Set(101L))
  }

  test("matching until artificial matching (jest :152-167)") {
    val out = DiffMerge.contentMatch(
      civic, "iid", gkb, "eid",
      tiers = Seq(Seq("conds", "subject"), Seq("subject")),
      artificialFinal = true)
    val (matches, creates, deletes) = buckets(out)
    assert(matches.size == 3) // 2 exact + 1 artificial
    assert(matches.contains((0L, 103L)) && matches.contains((1L, 101L)))
    assert(creates.isEmpty) // every civic row paired
    assert(deletes.size == 1) // one leftover gkb row
    // the artificial pair is deterministic: lowest residual ids zip first
    assert(matches.contains((2L, 100L)))
    assert(deletes == Set(102L))
  }
}
