package graft.llm

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Pins exact phrase retrieval over positional postings: the slot-vote
  * algebra (a start offset matches iff every phrase slot's word voted
  * for it), occurrence counting with overlapping and repeated-word
  * phrases, the (count DESC, doc ASC) ranking law, and the banded
  * layout's partition-pruned probe parity with the BM25 postings.
  */
class PhraseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def run(docs: Seq[(Long, String)], phrase: String, k: Int = 10) = {
    val spark2 = spark
    import spark2.implicits._
    val d = docs.toDF("doc_id", "text")
    val q = Seq((100L, phrase)).toDF("qid", "qtext")
    Retrieval.phraseTopK(q, "qid", "qtext",
        Retrieval.buildPosIndex(d, "doc_id", "text"), k)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toList
  }

  test("occurrence counting: overlaps, repeats, and non-matches") {
    // "a b a b a" holds "a b a" at starts 0 and 2 (overlapping)
    assert(run(Seq((1L, "a b a b a")), "a b a") == List((1L, 2L)))
    // repeated-word phrase "a a": "a a a" holds it at starts 0 and 1
    assert(run(Seq((1L, "a a a"), (2L, "a b a")), "a a") == List((1L, 2L)))
    // all words present but never adjacent in order: no match
    assert(run(Seq((1L, "b a")), "a b") == Nil)
    // single-word phrase degenerates to term frequency
    assert(run(Seq((1L, "x y x"), (2L, "x")), "x") ==
      List((1L, 2L), (2L, 1L)))
    // phrase with a word absent from the corpus: no match anywhere
    assert(run(Seq((1L, "a b c")), "a zzz") == Nil)
  }

  test("ranking law: count DESC, doc_id ASC; k bounds the tail") {
    val docs = Seq((3L, "w v w v w v"), (1L, "w v"), (2L, "w v w v"))
    assert(run(docs, "w v") == List((3L, 3L), (2L, 2L), (1L, 1L)))
    assert(run(docs, "w v", k = 2) == List((3L, 3L), (2L, 2L)))
    // tie on count breaks by ascending doc id
    assert(run(Seq((5L, "w v"), (4L, "w v")), "w v") ==
      List((4L, 1L), (5L, 1L)))
  }

  private def runProx(docs: Seq[(Long, String)], q: String, w: Int,
      k: Int = 10) = {
    val spark2 = spark
    import spark2.implicits._
    val d = docs.toDF("doc_id", "text")
    Retrieval.proximityTopK(Seq((100L, q)).toDF("qid", "qtext"), "qid",
        "qtext", Retrieval.buildPosIndex(d, "doc_id", "text"), k, w)
      .collect().map(r => (r.getLong(2), r.getLong(3))).toList
  }

  test("proximity: window semantics, clamping, set-of-words queries") {
    // a..b span = 5 tokens: W=5 matches (one clamped start), W=4 doesn't
    assert(runProx(Seq((1L, "a x x x b")), "a b", 5) == List((1L, 1L)))
    assert(runProx(Seq((1L, "a x x x b")), "a b", 4) == Nil)
    // overlap counting: positions a@0,2 b@1,3 — starts 0,1,2 all cover
    // both words at W=2
    assert(runProx(Seq((1L, "a b a b")), "a b", 2) == List((1L, 3L)))
    // order-free (unlike phrase): "b a" matches the query "a b"
    assert(runProx(Seq((1L, "b a")), "a b", 2) == List((1L, 1L)))
    // repeated query words collapse to the distinct set
    assert(runProx(Seq((1L, "b a")), "a a b", 2) == List((1L, 1L)))
    // W=1: a multi-word query can never fit one slot
    assert(runProx(Seq((1L, "a b")), "a b", 1) == Nil)
    // an absent word kills every window
    assert(runProx(Seq((1L, "a b c")), "a zzz", 9) == Nil)
  }

  test("proximity window counts ≡ brute-force reference on random docs " +
    "(r19 interval-union vote pin)") {
    // the r19 coveredStarts rewrite computes distinct start votes per
    // posting row via an interval union instead of explode+distinct;
    // this property pins the whole vote algebra against an independent
    // Scala reference: n_windows(doc) = |{s ≥ 0 : every distinct query
    // word occurs in doc[s .. s+W−1]}| — including the head-clamp,
    // repeated-position and word-multiplicity edge cases the union
    // telescope must preserve
    val rnd = new scala.util.Random(190219L)
    val alphabet = Vector("a", "b", "c", "d", "e")
    for (_ <- 1 to 8) {
      val w = 1 + rnd.nextInt(7)
      val docs = (1L to 8L).map { id =>
        val len = rnd.nextInt(28)
        id -> Vector.fill(len)(alphabet(rnd.nextInt(alphabet.size)))
      }
      val qwords = rnd.shuffle(alphabet).take(1 + rnd.nextInt(3))
      val expected = docs.flatMap { case (id, ts) =>
        val n = (0 until ts.length).count { s =>
          val win = ts.slice(s, s + w).toSet
          qwords.forall(win.contains)
        }
        if (n > 0) Some(id -> n.toLong) else None
      }.sortBy { case (id, n) => (-n, id) }.toList
      val got = runProx(docs.map { case (id, ts) => (id, ts.mkString(" ")) },
        qwords.mkString(" "), w, k = 100)
      assert(got == expected,
        s"W=$w q=${qwords.mkString(" ")} docs=${docs.map(_._2.mkString(" "))}")
    }
  }

  test("phrase matches ⊆ proximity matches at W ≥ phrase length") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val queries = docs.filter(col("doc_id") % 89 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 2, 3), ' ')").as("qtext"))
    val idx = Retrieval.buildPosIndex(docs, "doc_id", "text")
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // k large enough that neither tail truncates the candidate set
    val ph = pairs(Retrieval.phraseTopK(queries, "qid", "qtext", idx, 100000))
    val px = pairs(Retrieval.proximityTopK(queries, "qid", "qtext", idx,
      100000, window = 3))
    assert(ph.nonEmpty && ph.subsetOf(px),
      s"phrase matches missing from proximity: ${(ph -- px).take(5)}")
  }

  test("additive update ≡ full rebuild; re-fold and delete lifecycle") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    val standing = Retrieval.buildPosIndex(
      docs.filter(col("doc_id") % 10 =!= 0), "doc_id", "text")
    val batch = docs.filter(col("doc_id") % 10 === 0)
    val folded = Retrieval.updatePosIndex(standing, batch, "doc_id", "text")
    val full = Retrieval.buildPosIndex(docs, "doc_id", "text")
    assert(setOf(folded.postings) == setOf(full.postings))
    assert(setOf(folded.docs) == setOf(full.docs))
    assert(setOf(folded.postings).nonEmpty)
    // re-folding the same batch is a no-op (anti-join dedupe — the same
    // idempotent-replay guard the BM25 update carries)
    val twice = Retrieval.updatePosIndex(folded, batch, "doc_id", "text")
    assert(setOf(twice.postings) == setOf(folded.postings))
    assert(setOf(twice.docs) == setOf(folded.docs))
    // tombstone delete ≡ rebuild over survivors; deleted docs stop
    // matching any phrase
    val spark2 = spark
    import spark2.implicits._
    val tomb = batch.select(col("doc_id"))
    val deleted = Retrieval.deleteFromPosIndex(full, tomb)
    assert(setOf(deleted.postings) == setOf(standing.postings))
    assert(setOf(deleted.docs) == setOf(standing.docs))
    val queries = docs.filter(col("doc_id") % 89 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 2, 3), ' ')").as("qtext"))
    val hits = Retrieval.phraseTopK(queries, "qid", "qtext", deleted, 5)
      .collect().map(_.getLong(2))
    assert(hits.nonEmpty && !hits.exists(_ % 10 == 0), "a deleted doc matched")
  }

  test("probe of a saved banded layout is partition-pruned to query bands") {
    val docs = spark.read.parquet(s"${TestSpark.sf}/documents.parquet")
    val dir = Inputs.scratchDir("graft-phrase-spec")
    Retrieval.buildPosIndex(docs, "doc_id", "text").save(s"$dir/pos")
    val loaded = Retrieval.PosIndex.load(spark, s"$dir/pos")
    val queries = docs.filter(col("doc_id") % 89 === 0)
      .select(col("doc_id").as("qid"),
        expr("array_join(slice(filter(split(lower(text), ' '), " +
          "w -> length(w) > 0), 2, 3), ' ')").as("qtext"))
    val inline = Retrieval.phraseTopK(queries, "qid", "qtext",
      Retrieval.buildPosIndex(docs, "doc_id", "text"), 5)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val i = rows(inline)
    TestSpark.withAqeDisabled {
      val probed = Retrieval.phraseTopK(queries, "qid", "qtext", loaded, 5)
      assert(i.nonEmpty && rows(probed) == i)
      val qbands = queries
        .select(explode(expr("filter(split(lower(qtext), ' '), " +
          "w -> length(w) > 0)")).as("word"))
        .select(pmod(xxhash64(col("word")), lit(Retrieval.PostingBands))
          .cast("int").as("b"))
        .distinct().collect().map(_.getInt(0)).toSet
      val scans = probed.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft-phrase-spec")) => f
      }
      assert(scans.nonEmpty, "positional postings scan not found")
      scans.foreach { f =>
        assert(f.partitionFilters.nonEmpty)
        assert(f.selectedPartitions.partitionCount.toLong == qbands.size.toLong,
          s"read ${f.selectedPartitions.partitionCount} bands, " +
            s"query bands = ${qbands.size}")
      }
      // the proximity probe shares the same banded read: same pruning law
      val prox = Retrieval.proximityTopK(queries, "qid", "qtext", loaded,
        5, window = 6)
      prox.collect()
      val pScans = prox.queryExecution.executedPlan.collect {
        case f: FileSourceScanExec if f.relation.location.rootPaths
          .exists(_.toString.contains("graft-phrase-spec")) => f
      }
      assert(pScans.nonEmpty, "proximity postings scan not found")
      pScans.foreach { f =>
        assert(f.partitionFilters.nonEmpty)
        assert(f.selectedPartitions.partitionCount.toLong == qbands.size.toLong,
          s"proximity read ${f.selectedPartitions.partitionCount} bands, " +
            s"query bands = ${qbands.size}")
      }
    }
  }
}
