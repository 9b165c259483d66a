package graft.llm

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins the standing-index tombstone DELETE
  * ([[Retrieval.deleteFromInvIndex]]): subtractive delete must equal a
  * from-scratch rebuild over the survivors componentwise (including the
  * RECOMPUTED MaxScore bounds — df shrinking raises idf, so stale bounds
  * can be stale-LOW), the probe after delete must never return a deleted
  * doc, delete → re-add must restore the original index, deleting
  * un-indexed ids must subtract nothing, and MaxScore over the deleted
  * index must stay bit-identical to the plain probe (bound validity).
  */
class Bm25DeleteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def setOf(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(_.toSeq).toSet

  private def queryBatch(docs: org.apache.spark.sql.DataFrame) =
    docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))

  test("subtractive delete ≡ rebuild over survivors, componentwise") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val full = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val deleted = Retrieval.deleteFromInvIndex(full,
      docs.filter(col("doc_id") % 11 === 0), "doc_id", "text")
    val survivors = Retrieval.buildInvIndex(
      docs.filter(col("doc_id") % 11 =!= 0), "doc_id", "text")
    assert(setOf(deleted.postings) == setOf(survivors.postings))
    assert(setOf(deleted.dl) == setOf(survivors.dl))
    assert(setOf(deleted.dfTable) == setOf(survivors.dfTable))
    assert(setOf(deleted.stats) == setOf(survivors.stats))
    // bounds must be recomputed, not carried stale: any corpus where the
    // delete moves avgdl/N/df fails this with frozen bounds
    assert(setOf(deleted.maxImpact) == setOf(survivors.maxImpact))
    // the forward projection drops the same rows (doc-band layout key)
    assert(setOf(deleted.fwd) == setOf(survivors.fwd))
    assert(setOf(deleted.postings).nonEmpty)
  }

  test("probe after delete: no deleted doc ranks; MaxScore stays exact") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val full = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val deleted = Retrieval.deleteFromInvIndex(full,
      docs.filter(col("doc_id") % 11 === 0), "doc_id", "text")
    val queries = queryBatch(docs)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val plain = rows(Retrieval.bm25TopK(queries, "qid", "qtext", deleted,
      k = 5, excludeIdEq = true))
    assert(plain.nonEmpty)
    assert(!plain.exists(_._3 % 11 == 0), "a deleted doc ranked")
    // bound validity after delete: the recomputed per-term upper bounds
    // keep MaxScore's pruning exact — bit-identical to the plain probe
    assert(rows(Retrieval.bm25TopKMaxScore(queries, "qid", "qtext", deleted,
      k = 5, excludeIdEq = true)) == plain)
  }

  test("delete → re-add restores the original; un-indexed ids are a no-op") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val full = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 11 === 0)
    val deleted = Retrieval.deleteFromInvIndex(full, batch, "doc_id", "text")
    val readded = Retrieval.updateInvIndex(deleted, batch, "doc_id", "text")
    assert(setOf(readded.postings) == setOf(full.postings))
    assert(setOf(readded.dl) == setOf(full.dl))
    assert(setOf(readded.dfTable) == setOf(full.dfTable))
    assert(setOf(readded.stats) == setOf(full.stats))
    assert(setOf(readded.maxImpact) == setOf(full.maxImpact))
    assert(setOf(readded.fwd) == setOf(full.fwd))
    // deleting ids the index never held (including ids already deleted)
    // subtracts nothing — the delete is idempotent
    val spark2 = spark
    import spark2.implicits._
    val alien = Seq((999999001L, "some text"), (999999002L, ""))
      .toDF("doc_id", "text")
    val noop = Retrieval.deleteFromInvIndex(full, alien, "doc_id", "text")
    assert(setOf(noop.stats) == setOf(full.stats))
    assert(setOf(noop.dfTable) == setOf(full.dfTable))
    val twice = Retrieval.deleteFromInvIndex(deleted, batch, "doc_id", "text")
    assert(setOf(twice.stats) == setOf(deleted.stats))
    assert(setOf(twice.dl) == setOf(deleted.dl))
  }

  test("deleted-index probe on a saved layout stays partition-pruned; save compacts") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val dir = Inputs.scratchDir("graft-bm25del-spec")
    Retrieval.buildInvIndex(docs, "doc_id", "text").save(s"$dir/full")
    val loaded = Retrieval.InvIndex.load(spark, s"$dir/full")
    val deleted = Retrieval.deleteFromInvIndex(loaded,
      docs.filter(col("doc_id") % 11 === 0), "doc_id", "text")
    val queries = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 1, 5), ' ')").as("qtext"))
    // the lazy tombstone anti-join must not block the band IN-filter
    // from reaching the parquet scan as a partition filter — otherwise
    // every delete turns probes into corpus-postings scans
    graft.TestSpark.withAqeDisabled {
      val probed = Retrieval.bm25TopK(queries, "qid", "qtext", deleted,
        k = 5, excludeIdEq = true)
      val scans = probed.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.rootPaths
            .exists(_.toString.contains("graft-bm25del-spec")) &&
            f.relation.location.rootPaths
              .exists(_.toString.contains("postings")) => f
      }
      assert(scans.nonEmpty, "postings scan not found under the anti-join")
      // partition COUNT, not mere filter presence (the PhraseSpec
      // standard): a filter that silently selects every band would pass
      // a nonEmpty check while the probe reads the whole postings bytes
      val qbands = queries
        .select(explode(expr("filter(split(lower(qtext), ' '), " +
          "w -> length(w) > 0)")).as("word"))
        .select(pmod(xxhash64(col("word")), lit(Retrieval.PostingBands))
          .cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      scans.foreach { f =>
        assert(f.partitionFilters.nonEmpty,
          "tombstone anti-join blocked partition pruning")
        assert(f.selectedPartitions.partitionCount.toLong == qbands.size.toLong,
          s"read ${f.selectedPartitions.partitionCount} bands under the " +
            s"anti-join, query bands = ${qbands.size}")
      }
    }
    // save() materializes the compaction: the re-saved postings hold no
    // tombstoned ids on disk, and the reloaded index probes identically
    deleted.save(s"$dir/compacted")
    assert(spark.read.parquet(s"$dir/compacted/postings")
      .filter(col("nid") % 11 === 0).count() == 0L)
    val reloaded = Retrieval.InvIndex.load(spark, s"$dir/compacted")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val direct = rows(Retrieval.bm25TopK(queries, "qid", "qtext", deleted,
      k = 5, excludeIdEq = true))
    assert(direct.nonEmpty && rows(Retrieval.bm25TopK(queries, "qid",
      "qtext", reloaded, k = 5, excludeIdEq = true)) == direct)
  }

  test("duplicate tombstone rows subtract once; changed-text underflow raises") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "apple banana"), (2L, "banana cherry"),
      (3L, "cherry date")).toDF("doc_id", "text")
    val full = Retrieval.buildInvIndex(docs, "doc_id", "text")
    // a tombstone batch carrying one id TWICE must subtract that doc's
    // contributions once (the semi-join preserves left multiplicity, so
    // without the dedupe the doubled dl rows double n_docs/total_tokens)
    val one = docs.filter(col("doc_id") === 1L)
    val once = Retrieval.deleteFromInvIndex(full, one, "doc_id", "text")
    val dup = Retrieval.deleteFromInvIndex(full, one.unionByName(one),
      "doc_id", "text")
    assert(setOf(dup.stats) == setOf(once.stats))
    assert(setOf(dup.dl) == setOf(once.dl))
    assert(setOf(dup.dfTable) == setOf(once.dfTable))
    // the documented-undefined case — deleting with CHANGED text — fails
    // fast when it drives a word's df negative ("date" is held by one
    // indexed doc; two tombstones claiming it would subtract 2) instead
    // of silently dropping the corrupt word through the df > 0 filter
    val changed = Seq((1L, "zzz date"), (2L, "date qqq"))
      .toDF("doc_id", "text")
    val ex = intercept[Exception] {
      Retrieval.deleteFromInvIndex(full, changed, "doc_id", "text")
        .dfTable.collect()
    }
    assert(ex.getMessage.contains("df underflow"),
      s"underflow should raise with a diagnosable message: ${ex.getMessage}")
  }

  test("words whose every doc is deleted vanish from df (no zero rows)") {
    val spark2 = spark
    import spark2.implicits._
    val docs = Seq((1L, "apple banana"), (2L, "banana cherry"),
      (3L, "cherry date")).toDF("doc_id", "text")
    val full = Retrieval.buildInvIndex(docs, "doc_id", "text")
    val deleted = Retrieval.deleteFromInvIndex(full,
      docs.filter(col("doc_id") === 1L), "doc_id", "text")
    val words = deleted.dfTable.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!words.contains("apple"), "orphan zero-df word survived")
    assert(words == Map("banana" -> 1L, "cherry" -> 2L, "date" -> 1L))
    // deleting EVERYTHING leaves a consistent empty index: probes return
    // zero rows instead of dividing by the zeroed stats
    val none = Retrieval.deleteFromInvIndex(full, docs, "doc_id", "text")
    assert(none.stats.collect()(0).getLong(0) == 0L)
    val q = Seq((10L, "banana")).toDF("qid", "qtext")
    assert(Retrieval.bm25TopK(q, "qid", "qtext", none, 3, false).count() == 0L)
  }
}
