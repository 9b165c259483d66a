package graft.llm

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins PRF query expansion: the expansion table's structural laws
  * (contiguous ranks, non-increasing weights, query terms excluded,
  * terms drawn from the feedback docs' vocabulary), the binary-UTF-8
  * term tie law through the bounded TopKWords tail, and the Window-free
  * plan shape. Exact values are oracle-gated (`llm_query_expand`).
  */
class PrfExpandSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("structural laws on the real corpus; Window-free topk_words tail") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val out = Retrieval.prfExpandTerms(queries, "qid", "qtext", index,
      kDocs = 5, mTerms = 10, excludeIdEq = true)
    // plan shape: bounded aggregate, no window sort
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("topk_words"), plan.take(1500))
    val rows = out.collect()
    assert(rows.nonEmpty)
    val byQ = rows.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_.getLong(1))
      assert(sorted.map(_.getLong(1)).toSeq == (1L to rs.length).toSeq,
        s"query $q: ranks not contiguous")
      val micros = sorted.map(_.getLong(3)).toSeq
      assert(micros == micros.sortBy(-_), s"query $q: weights not sorted")
      assert(rs.length <= 10)
    }
    // no original query term may appear in its own expansion
    val qterms = queries
      .select(col("qid").as("query_id"), explode(expr(
        "filter(split(lower(qtext), ' '), w -> length(w) > 0)")).as("term"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows.forall(r => !qterms((r.getLong(0), r.getString(2)))))
    // every expansion term occurs in at least one of its feedback docs
    val fb = Retrieval.bm25TopK(queries, "qid", "qtext", index, 5, true)
      .select(col("query_id"), col("doc_id")).collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val docWords = docs.select(col("doc_id"), explode(expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)")).as("w"))
      .distinct().collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(_.getString(1)).toSet).toMap
    rows.foreach { r =>
      val (q, t) = (r.getLong(0), r.getString(2))
      assert(fb(q).exists(d => docWords(d).contains(t)),
        s"term '$t' of query $q occurs in no feedback doc")
    }
  }

  test("pruned forward read ≡ postings scan; saved layout partition-prunes") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
    val dir = Inputs.scratchDir("graft-prfproj-spec")
    Retrieval.buildInvIndex(docs, "doc_id", "text").save(dir)
    val loaded = Retrieval.InvIndex.load(spark, dir)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSet
    // equivalence: the doc-banded forward read must reproduce the full
    // postings-scan expand exactly (same facts, different layout)
    val scan = rows(Retrieval.prfExpandTermsScan(queries, "qid", "qtext",
      loaded, kDocs = 5, mTerms = 10, excludeIdEq = true))
    assert(scan.nonEmpty)
    graft.TestSpark.withAqeDisabled {
      val pruned = Retrieval.prfExpandTerms(queries, "qid", "qtext",
        loaded, kDocs = 5, mTerms = 10, excludeIdEq = true)
      assert(rows(pruned) == scan)
      // pruning pin (the PhraseSpec standard — partition COUNT, not mere
      // filter presence): the fwd scan reads exactly the feedback docs'
      // distinct doc bands
      val fbBands = Retrieval.bm25TopK(queries, "qid", "qtext", loaded,
          k = 5, excludeIdEq = true)
        .select(pmod(xxhash64(col("doc_id")), lit(Retrieval.DocBands))
          .cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val scans = pruned.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("graft-prfproj-spec")) &&
            f.relation.location.rootPaths
              .exists(_.toString.endsWith("/fwd")) => f
      }
      assert(scans.nonEmpty, "forward-layout scan not found in the plan")
      scans.foreach { f =>
        assert(f.partitionFilters.nonEmpty, "no partition filter on fwd")
        assert(f.selectedPartitions.partitionCount.toLong ==
          fbBands.size.toLong,
          s"read ${f.selectedPartitions.partitionCount} doc bands, " +
            s"feedback bands = ${fbBands.size}")
      }
    }
  }

  test("equal-weight terms tie-break by ascending binary term order") {
    val spark2 = spark
    import spark2.implicits._
    // aa and bb are statistically identical (same tf, df, docs, lengths)
    // so their expansion weights are equal — rank order must be (aa, bb)
    val docs = Seq(
      (100L, "q1 q2"),
      (1L, "q1 aa bb"), (2L, "q1 aa bb"),
      (3L, "zz yy xx"), (4L, "zz yy xx")).toDF("doc_id", "text")
    val queries = Seq((100L, "q1 q2")).toDF("qid", "qtext")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val out = Retrieval.prfExpandTerms(queries, "qid", "qtext", index,
        kDocs = 2, mTerms = 5, excludeIdEq = true)
      .collect().sortBy(_.getLong(1))
      .map(r => (r.getString(2), r.getLong(3)))
    assert(out.map(_._1).toSeq == Seq("aa", "bb"),
      s"expected (aa, bb), got ${out.toSeq}")
    assert(out(0)._2 == out(1)._2, "fixture drifted: weights must tie")
  }
}
