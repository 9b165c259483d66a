package graft.llm

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the CLOSED RM3 loop: the weighted-term BM25 form degenerates to
  * the plain probe at weight 10⁶, the interpolated query model carries
  * exactly the α div |q| / (1−α)·e div Σe integer weights, and — the
  * point of PRF — expansion actually CHANGES retrieval: a document
  * sharing no original query term ranks in the second pass because it
  * matches the feedback vocabulary.
  */
class PrfSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    .toSet

  test("weighted probe at uniform weight 10⁶ ≡ plain probe, bit-identical") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
    val tq = queries.select(col("qid").as("query_id"),
        explode(expr("filter(split(lower(qtext), ' '), w -> length(w) > 0)"))
          .as("word"))
      .distinct()
      .withColumn("weight_micro", lit(1000000L))
    val weighted = rows(Retrieval.bm25TopKWeighted(tq, index, 5,
      excludeIdEq = true))
    val plain = rows(Retrieval.bm25TopK(queries, "qid", "qtext", index, 5,
      excludeIdEq = true))
    assert(plain.nonEmpty && weighted == plain)
  }

  test("interpolated weights: α div |q| originals, (1−α)·e div Σe expansion") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "beta gamma gamma delta"),
      (3L, "delta epsilon")).toDF("doc_id", "text")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = Seq((100L, "alpha gamma")).toDF("qid", "qtext")
    val w = Retrieval.prfQueryWeights(queries, "qid", "qtext", index,
        kDocs = 2, mTerms = 5, alphaMicro = 600000L, excludeIdEq = false)
      .collect().map(r => (r.getString(1), r.getLong(2))).toMap
    // two original terms at 600000 div 2 each
    assert(w("alpha") == 300000L && w("gamma") == 300000L)
    // expansion terms: non-query words of the feedback docs, weights
    // summing to ≤ 400000 with the div-floor law, none negative
    val exp = w.view.filterKeys(k => k != "alpha" && k != "gamma").toMap
    assert(exp.nonEmpty && exp.values.forall(_ >= 0L))
    val ex = Retrieval.prfExpandTerms(queries, "qid", "qtext", index, 2, 5,
        excludeIdEq = false)
      .collect().map(r => (r.getString(2), r.getLong(3))).toMap
    val mass = ex.values.sum
    exp.foreach { case (term, wm) =>
      assert(wm == (400000L * ex(term)) / mass,
        s"$term weight $wm != (400000·${ex(term)}) div $mass")
    }
    // the two weight sets never share a key (expansion anti-joins
    // original terms)
    assert(!ex.contains("alpha") && !ex.contains("gamma"))
    assertThrows[IllegalArgumentException] {
      Retrieval.prfQueryWeights(queries, "qid", "qtext", index, 2, 5,
        alphaMicro = 1000001L, excludeIdEq = false)
    }
  }

  test("expansion changes retrieval: a no-shared-term doc enters the top-k") {
    val spark2 = spark
    import spark2.implicits._
    // d1 is the only doc matching the query; its dominant word 'beta'
    // expands the query, pulling in d2 — which shares NO original term.
    // d3/d4 are background so idf doesn't degenerate.
    val docs = Seq(
      (1L, "alpha beta beta beta"),
      (2L, "beta beta beta zeta"),
      (3L, "gamma delta epsilon"),
      (4L, "zeta epsilon gamma")).toDF("doc_id", "text")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = Seq((100L, "alpha")).toDF("qid", "qtext")
    val first = rows(Retrieval.bm25TopK(queries, "qid", "qtext", index, 3,
      excludeIdEq = false))
    assert(first.map(_._3) == Set(1L), s"fixture broke: $first")
    val second = rows(Retrieval.prfSearch(queries, "qid", "qtext", index,
      kDocs = 1, mTerms = 3, alphaMicro = 600000L, k = 3,
      excludeIdEq = false))
    assert(second.map(_._3).contains(2L),
      s"expansion failed to retrieve the feedback-vocabulary doc: $second")
    // and the original term still dominates: d1 stays ranked 1
    assert(second.find(_._3 == 1L).exists(_._2 == 1L),
      s"the original-term doc lost rank 1: $second")
  }

  test("weighted probe on a saved layout is partition-pruned to its term bands") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val dir = Inputs.scratchDir("graft-prfband-spec")
    Retrieval.buildInvIndex(docs, "doc_id", "text").save(dir)
    val loaded = Retrieval.InvIndex.load(spark, dir)
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
    val tq = queries.select(col("qid").as("query_id"),
        explode(expr("filter(split(lower(qtext), ' '), w -> length(w) > 0)"))
          .as("word"))
      .distinct().withColumn("weight_micro", lit(1000000L))
    graft.TestSpark.withAqeDisabled {
      val probed = Retrieval.bm25TopKWeighted(tq, loaded, 5,
        excludeIdEq = true)
      val scans = probed.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("graft-prfband-spec")) &&
            f.relation.location.rootPaths
              .exists(_.toString.contains("postings")) => f
      }
      assert(scans.nonEmpty, "postings scan not found in the weighted probe")
      scans.foreach(f => assert(f.partitionFilters.nonEmpty,
        "weighted probe lost the band partition filter"))
    }
  }

  test("zero expansion mass: pure-original weights still retrieve") {
    val spark2 = spark
    import spark2.implicits._
    // the only feedback doc contains nothing but the query term, so the
    // expansion set is empty — the weighted pass must still rank on the
    // original α weights instead of dropping the query
    val docs = Seq((1L, "solo solo"), (2L, "other words"))
      .toDF("doc_id", "text")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = Seq((100L, "solo")).toDF("qid", "qtext")
    val out = rows(Retrieval.prfSearch(queries, "qid", "qtext", index,
      kDocs = 2, mTerms = 3, alphaMicro = 600000L, k = 2,
      excludeIdEq = false))
    assert(out.map(_._3) == Set(1L))
  }

  test("r18 dedupe pin: the weighted pass consumes a MATERIALIZED term table") {
    val spark2 = spark
    import spark2.implicits._
    // The RM3 second pass references its weighted-term table four times
    // (band collect, qwords twice, weight attach); left lazy, each
    // reference re-executed the whole first-pass-probe + expansion chain
    // (measured: 80 parquet scans in one llm_prf_search plan). The r18
    // fix collects the bounded table once into a LOCAL RELATION — this
    // pins that the final plan really consumes it as one (a regression
    // back to the lazy form has no LocalRelation leaf there).
    val docs = Seq(
      (1L, "alpha beta beta gamma"),
      (2L, "beta gamma gamma delta"),
      (3L, "delta epsilon")).toDF("doc_id", "text")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = Seq((100L, "alpha gamma")).toDF("qid", "qtext")
    val out = Retrieval.prfSearch(queries, "qid", "qtext", index,
      kDocs = 2, mTerms = 5, alphaMicro = 600000L, k = 2,
      excludeIdEq = false)
    val locals = out.queryExecution.optimizedPlan.collect {
      case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        if l.output.exists(_.name == "weight_micro") => l
    }
    assert(locals.nonEmpty,
      "weighted-term table is no longer a materialized local relation — " +
        "the expansion chain would re-execute per reference")
  }

  test("r18 dedupe pin: proximityRerank's candidate list is cached, not re-probed") {
    val spark2 = spark
    import spark2.implicits._
    // Same law for the rerank composition: the BM25 candidate list is
    // referenced three times (pair restriction, boost base, evidence
    // rejoin) and is persist()ed so the probe computes once into the
    // block cache. Pin the InMemoryRelation carrying the candidate
    // columns; clean up the cache afterwards.
    val docs = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "alpha beta other words"),
      (3L, "gamma delta more text")).toDF("doc_id", "text")
    val inv = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val pos = Retrieval.buildPosIndex(docs, "doc_id", "text")
    val queries = Seq((100L, "alpha gamma")).toDF("qid", "qtext")
    try {
      val out = Retrieval.proximityRerank(queries, "qid", "qtext", inv, pos,
        kCand = 3, k = 2, window = 4, boostMicro = 100000L,
        excludeIdEq = false)
      val cached = out.queryExecution.optimizedPlan.collect {
        case m: org.apache.spark.sql.execution.columnar.InMemoryRelation
          if m.output.exists(_.name == "score_micro") => m
      }
      assert(cached.nonEmpty,
        "candidate list is no longer persisted — the BM25 probe would " +
          "re-execute per reference")
      assert(out.count() > 0)
    } finally spark.catalog.clearCache()
  }
}
