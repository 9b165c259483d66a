package graft.llm

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the persisted-BM25-index lifecycle: a parquet-roundtripped
  * [[Retrieval.InvIndex]] must score a query batch ROW-identically to the
  * inline [[Retrieval.bm25TopK]] (deterministic tokenize + count), the
  * index artifacts must carry the exact df/length/stats the inline path
  * derives, the probe must be a PARTITION-PRUNED read of exactly the
  * query terms' word-hash bands, and the additive index UPDATE must
  * equal a full rebuild componentwise.
  */
class Bm25IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def queryBatch(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))

  test("loaded InvIndex probe ≡ inline bm25TopK, artifacts exact") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val queries = queryBatch(docs)
    val inline = Retrieval.bm25TopK(docs, "doc_id", "text",
      queries, "qid", "qtext", k = 5, excludeIdEq = true)
    val dir = Inputs.scratchDir("graft-bm25-spec")
    Retrieval.buildInvIndex(docs, "doc_id", "text").save(dir)
    val loaded = Retrieval.InvIndex.load(spark, dir)
    val probed = Retrieval.bm25TopK(queries, "qid", "qtext", loaded,
      k = 5, excludeIdEq = true)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val i = rows(inline)
    assert(i.nonEmpty && rows(probed) == i)
    // artifact exactness: stats row and a spot-checked df value match an
    // independent recount off the raw docs
    val st = loaded.stats.collect()(0)
    val dl = docs.select(size(expr(
        "filter(split(lower(text), ' '), w -> length(w) > 0)")).as("n"))
      .filter(col("n") > 0)
    assert(st.getLong(0) == dl.count())
    assert(st.getLong(1) == dl.agg(sum(col("n"))).collect()(0).getLong(0))
  }

  test("probe reads ONLY the query terms' postings bands (pruned scan)") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val queries = queryBatch(docs)
    val dir = Inputs.scratchDir("graft-bm25band-spec")
    Retrieval.buildInvIndex(docs, "doc_id", "text").save(dir)
    val loaded = Retrieval.InvIndex.load(spark, dir)
    // the bands the query terms hash into, recomputed independently
    val qbands = queries
      .select(explode(expr("filter(split(lower(qtext), ' '), " +
        "w -> length(w) > 0)")).as("word"))
      .select(pmod(xxhash64(col("word")), lit(Retrieval.PostingBands))
        .cast("int").as("b"))
      .distinct().collect().map(_.getInt(0)).toSet
    val onDisk = spark.read.parquet(s"$dir/postings")
      .select(col("__band")).distinct().count()
    assert(qbands.size.toLong < onDisk,
      "fixture degenerate: query terms cover every band on disk")
    // AQE off for a plain FileSourceScanExec tree
    TestSpark.withAqeDisabled {
      val probed = Retrieval.bm25TopK(queries, "qid", "qtext", loaded,
        k = 5, excludeIdEq = true)
      val scans = probed.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft-bm25band-spec")) &&
          f.relation.location.rootPaths.exists(_.toString.contains("postings")) => f
      }
      assert(scans.nonEmpty, "postings scan not found in the probe plan")
      scans.foreach { f =>
        assert(f.partitionFilters.nonEmpty,
          "no PartitionFilters on the postings scan")
        val sel = f.selectedPartitions.partitionCount
        assert(sel.toLong == qbands.size.toLong,
          s"scan read $sel band partitions, query bands = ${qbands.size}")
      }
    }
  }

  test("MaxScore probe ≡ plain probe, bit-identical (the exactness claim)") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // normal batch, excludeIdEq both ways
    for (ex <- Seq(true, false)) {
      val queries = queryBatch(docs)
      val plain = Retrieval.bm25TopK(queries, "qid", "qtext", index, 5, ex)
      val ms = Retrieval.bm25TopKMaxScore(queries, "qid", "qtext", index, 5, ex)
      val p = rows(plain)
      assert(p.nonEmpty && rows(ms) == p, s"diverged at excludeIdEq=$ex")
    }
    // k larger than any match count: L0 = 0 path (nothing droppable)
    val queries = queryBatch(docs)
    val bigK = Retrieval.bm25TopKMaxScore(queries, "qid", "qtext", index,
      10000, excludeIdEq = true)
    assert(rows(bigK) ==
      rows(Retrieval.bm25TopK(queries, "qid", "qtext", index, 10000, true)))
    // single-term queries (seed set == essential set == the whole query)
    val oneWord = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("element_at(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1)").as("qtext"))
      .filter(col("qtext").isNotNull)
    assert(rows(Retrieval.bm25TopKMaxScore(oneWord, "qid", "qtext", index, 3,
        false)) ==
      rows(Retrieval.bm25TopK(oneWord, "qid", "qtext", index, 3, false)))
    // a query batch with NO corpus terms: empty result from both
    val spark2 = spark
    import spark2.implicits._
    val alien = Seq((1L, "zzzznotaword qqqqnotaword")).toDF("qid", "qtext")
    assert(Retrieval.bm25TopKMaxScore(alien, "qid", "qtext", index, 3,
      false).count() == 0L)
  }

  test("MaxScore really prunes: a head term leaves candidate generation") {
    val spark2 = spark
    import spark2.implicits._
    // corpus: 'common' is in every doc (head, tiny idf => tiny bound);
    // each doc also carries a rare marker word (big idf). Seeds come
    // from the rare terms, L0 large, and the head term's bound alone
    // stays under L0 — so 'common' must be non-essential for a query
    // that also has a rare term.
    val docs = (1 to 60).map(i => (i.toLong, s"common rare$i extra${i % 7}"))
      .toDF("doc_id", "text")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = Seq((1000L, "common rare7 rare8")).toDF("qid", "qtext")
    // STRUCTURAL pin (the performance claim itself): the essential-term
    // set candidate generation actually scans must NOT contain the head
    // term — a regression that makes every term essential would pass
    // every bit-identity test while silently un-pruning
    val (ranked, essential) = Retrieval.maxScoreChunk(queries, "qid",
      "qtext", index, k = 2, excludeIdEq = false, splitDepth = 8)
    assert(essential.nonEmpty)
    assert(!essential.exists(_._1 == "common"),
      s"head term 'common' stayed essential: $essential")
    assert(essential.map(_._1).toSet == Set("rare7", "rare8"),
      s"unexpected essential set: $essential")
    val full = ranked.collect()
    assert(full.nonEmpty)
    // the top-2 must be docs 7 and 8 (each matches a rare term + common);
    // every other doc matches only 'common'
    assert(full.map(_.getLong(2)).toSet == Set(7L, 8L))
    // and their scores include the 'common' contribution: strictly
    // greater than the rare-term-only score would be
    val noCommonIdx = index.copy(
      postings = index.postings.filter(col("word") =!= "common"))
    val noCommon = Retrieval.bm25TopKMaxScore(queries, "qid", "qtext",
      noCommonIdx, k = 2, excludeIdEq = false).collect()
    assert(full.map(_.getLong(3)).sum > noCommon.map(_.getLong(3)).sum,
      "winner scores must include the non-essential term's contribution")
  }

  test("MaxScore overflow split: chunked batch ≡ single-pass, bit-identical") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = queryBatch(docs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // a pair limit far below the batch's (query, term) volume forces the
    // overflow path (count → query-hash chunks → recursive union); the
    // result must match the unconstrained single pass exactly
    val (chunked, _) = Retrieval.maxScoreChunk(queries, "qid", "qtext",
      index, k = 5, excludeIdEq = true, splitDepth = 8, pairLimit = 7)
    val single = Retrieval.bm25TopKMaxScore(queries, "qid", "qtext", index,
      k = 5, excludeIdEq = true)
    val s = rows(single)
    assert(s.nonEmpty && rows(chunked) == s)
    // a batch that cannot fit even after exhausting the split depth must
    // fail fast, not collect unbounded rows
    assertThrows[IllegalArgumentException] {
      Retrieval.maxScoreChunk(queries, "qid", "qtext", index, k = 5,
        excludeIdEq = true, splitDepth = 0, pairLimit = 7)
    }
  }

  test("auto pick dispatches on multiply volume; both branches identical") {
    val spark2 = spark
    import spark2.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val queries = queryBatch(docs)
    // the decision variable is exactly the plain probe's posting-multiply
    // volume: Σ df over the batch's distinct (query, term) pairs —
    // recomputed here independently
    val expected = queries
      .select(col("qid"), explode(expr("filter(split(lower(qtext), ' '), " +
        "w -> length(w) > 0)")).as("word")).distinct()
      .join(index.dfTable, Seq("word"))
      .agg(sum(col("df"))).collect()(0).getLong(0)
    assert(Retrieval.bm25MultiplyVolume(queries, "qid", "qtext", index)
      == expected)
    // empty batch → volume 0 (the coalesce guard), picks the plain probe
    val none = Seq.empty[(Long, String)].toDF("qid", "qtext")
    assert(Retrieval.bm25MultiplyVolume(none, "qid", "qtext", index) == 0L)
    // and the dispatch is invisible in the output: auto ≡ plain ≡ maxscore
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val auto = rows(Retrieval.bm25TopKAuto(queries, "qid", "qtext", index,
      5, excludeIdEq = true))
    assert(auto.nonEmpty &&
      auto == rows(Retrieval.bm25TopK(queries, "qid", "qtext", index, 5,
        excludeIdEq = true)))
  }

  test("re-folding an already-indexed batch is a no-op (dedupe guard)") {
    // regression (advice): an additive re-fold of the SAME batch used to
    // double-count every re-added doc id (postings/dl union fan-out) —
    // the exact idempotent-replay pattern the store merge path encourages
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val standing = Retrieval.buildInvIndex(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
    val once = Retrieval.updateInvIndex(standing, batch, "doc_id", "text")
    val twice = Retrieval.updateInvIndex(once, batch, "doc_id", "text")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(setOf(twice.postings) == setOf(once.postings))
    assert(setOf(twice.dl) == setOf(once.dl))
    assert(setOf(twice.dfTable) == setOf(once.dfTable))
    assert(setOf(twice.stats) == setOf(once.stats))
    assert(setOf(twice.maxImpact) == setOf(once.maxImpact))
    assert(setOf(twice.postings).nonEmpty)
  }

  test("additive update ≡ full rebuild, componentwise") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val standing = Retrieval.buildInvIndex(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
    val folded = Retrieval.updateInvIndex(standing,
      docs.filter(col("doc_id") % 10 === 0), "doc_id", "text")
    val full = Retrieval.buildInvIndex(docs, "doc_id", "text")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(setOf(folded.postings) == setOf(full.postings))
    assert(setOf(folded.dl) == setOf(full.dl))
    assert(setOf(folded.dfTable) == setOf(full.dfTable))
    assert(setOf(folded.stats) == setOf(full.stats))
    // the impact bounds are RECOMPUTED on update (avgdl/N/df all move);
    // a stale-bounds fold would fail this on any corpus where the batch
    // shifts avgdl
    assert(setOf(folded.maxImpact) == setOf(full.maxImpact))
    assert(setOf(folded.fwd) == setOf(full.fwd))
    assert(setOf(folded.postings).nonEmpty)
  }

  test("folding an empty / all-empty-text batch is a no-op, not a poison pill") {
    // regression (review finding): sum() over the empty dl frame is NULL;
    // an un-coalesced NULL total_tokens folded into stats nulls every
    // Okapi score downstream and probes silently return ZERO rows
    val spark2 = spark
    import spark2.implicits._
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val index = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val emptyText = Seq((999999001L, ""), (999999002L, "   "))
      .toDF("doc_id", "text")
    val folded = Retrieval.updateInvIndex(index, emptyText, "doc_id", "text")
    val queries = queryBatch(docs)
    val before = Retrieval.bm25TopK(queries, "qid", "qtext", index, 5, true)
      .collect().map(_.toSeq).toSet
    val after = Retrieval.bm25TopK(queries, "qid", "qtext", folded, 5, true)
      .collect().map(_.toSeq).toSet
    assert(before.nonEmpty && after == before)
  }
}
