package graft.core

import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.{Inputs, TestSpark}
import graft.core.PersistentGraphStore.{Edges, Merge, Write}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

class StoreWriteAllSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = Inputs.scratchDir("graft-writeall")
  private def freshStore() = new PersistentGraphStore(spark, tmp(), nBuckets = 8)

  private def terms(rows: (String, String)*): DataFrame =
    rows.toDF("sourceId", "name")
  private def termMerge(table: String, df: DataFrame, prefix: String = "") =
    Merge(table, df, keyCols = Seq("sourceId"), compareCols = Seq("name"),
      prefix = prefix)
  private def edges(rows: (String, String)*): DataFrame =
    rows.map { case (o, i) => (o, i, "SubClassOf") }.toDF("out", "in", "edgeClass")

  private def one(store: PersistentGraphStore, w: Write): Map[String, Long] = w match {
    case m: Merge => store.merge(m.table, m.incoming, m.keyCols, m.compareCols,
      m.setCols, m.softDelete)
    case Edges(c) => store.upsertEdges(c)
  }

  private def contents(store: PersistentGraphStore, table: String): Seq[String] =
    store.read(table).get.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("a batch over different tables matches the same calls made one at a time") {
    val rounds: Seq[Seq[Write]] = Seq(
      Seq(termMerge("terms", terms(("a", "alpha"), ("b", "beta"), ("c", "gamma"))),
        termMerge("diseases", terms(("d1", "melanoma"), ("d2", "glioma")), "diseases_"),
        Edges(edges(("a", "b"), ("b", "c")))),
      // updates, noops, creates and duplicate edges against the first round
      Seq(termMerge("terms", terms(("a", "alpha"), ("b", "BETA"), ("e", "epsilon"))),
        termMerge("diseases", terms(("d1", "melanoma"), ("d3", "sarcoma")), "diseases_"),
        Edges(edges(("a", "b"), ("a", "e")))))
    val batched = freshStore()
    val serial = freshStore()
    rounds.foreach { writes =>
      // one call per write, each write's counters under its own prefix
      val expected = writes.flatMap(w =>
        one(serial, w).map { case (k, v) => (w.prefix + k) -> v }).toMap
      assert(expected.keySet.exists(_.startsWith("diseases_")))
      assert(expected.keySet.exists(_.startsWith("edges_")))
      assert(batched.writeAll(writes) == expected)
    }
    Seq("terms", "diseases", "edges").foreach { t =>
      assert(contents(batched, t) == contents(serial, t), t)
      assert(batched.latestVersion(t) == serial.latestVersion(t), t)
    }
  }

  test("two merges of one table in a batch apply in the order given") {
    val merged = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Long]]()
    val store = new PersistentGraphStore(spark, tmp(), nBuckets = 8) {
      override def merge(table: String, incoming: DataFrame, keyCols: Seq[String],
          compareCols: Seq[String], setCols: Seq[String],
          softDelete: Boolean): Map[String, Long] = {
        val out = super.merge(table, incoming, keyCols, compareCols, setCols, softDelete)
        merged.add(out)
        out
      }
    }
    val out = store.writeAll(Seq(
      termMerge("terms", terms(("a", "first"), ("b", "kept"))),
      Edges(edges(("a", "b"))),
      termMerge("terms", terms(("a", "second"))),
      termMerge("terms", terms(("a", "third"), ("c", "new")))))
    assert(merged.asScala.toSeq == Seq(Map("create" -> 2L),
      Map("update" -> 1L), Map("update" -> 1L, "create" -> 1L)))
    // counters that share a prefix add up
    assert(out == Map("create" -> 3L, "update" -> 2L, "edges_created" -> 1L))
    assert(contents(store, "terms") == Seq("a|third", "b|kept", "c|new"))
    assert(store.latestVersion("terms").contains(3))
  }

  test("a throwing write, even an Error, fails the batch only after the others finish") {
    val edgesDone = new AtomicBoolean(false)
    val calls = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    val store = new PersistentGraphStore(spark, tmp(), nBuckets = 8) {
      override def merge(table: String, incoming: DataFrame, keyCols: Seq[String],
          compareCols: Seq[String], setCols: Seq[String],
          softDelete: Boolean): Map[String, Long] = {
        calls.merge(table, 1, (a: Integer, b: Integer) => a + b)
        table match {
          case "error" => throw new AssertionError("error write")
          case "runtime" => throw new IllegalStateException("runtime write")
          case _ => super.merge(table, incoming, keyCols, compareCols, setCols, softDelete)
        }
      }
      override def upsertEdges(rawCandidates: DataFrame): Map[String, Long] = {
        Thread.sleep(500)
        val out = super.upsertEdges(rawCandidates)
        edgesDone.set(true)
        out
      }
    }
    val thrown = intercept[AssertionError](store.writeAll(Seq(
      termMerge("error", terms(("a", "x"))),
      Edges(edges(("a", "b"))),
      termMerge("runtime", terms(("a", "x"))),
      termMerge("error", terms(("b", "y"))),
      termMerge("terms", terms(("a", "alpha"))))))
    assert(thrown.getMessage == "error write")
    assert(thrown.getSuppressed.toSeq.map(_.getMessage) == Seq("runtime write"))
    assert(edgesDone.get, "the batch returned before the edge write finished")
    assert(contents(store, "edges") == Seq("a|b|SubClassOf"))
    assert(contents(store, "terms") == Seq("a|alpha"))
    // a failed write skips the later writes to its own table only
    assert(calls.asScala.toMap == Map[String, Integer](
      "error" -> 1, "runtime" -> 1, "terms" -> 1))
  }

  test("a job group set by the caller tags every job the batch runs") {
    val store = freshStore()
    val sc = spark.sparkContext
    val rec = new JobRecorder(sc)
    try {
      rec.drain()
      val before = rec.jobGroups.size
      sc.setJobGroup("writeall-spec", "batch under a job group")
      try store.writeAll(Seq(
        termMerge("terms", terms(("a", "alpha"), ("b", "beta"))),
        termMerge("diseases", terms(("d1", "melanoma"))),
        Edges(edges(("a", "b")))))
      finally sc.clearJobGroup()
      rec.drain()
      val groups = rec.jobGroups.asScala.toSeq.drop(before)
      assert(groups.size >= 3, s"expected a job per write, saw ${groups.size}")
      assert(groups.forall(_ == "writeall-spec"), groups.mkString(", "))
    } finally rec.close()
  }
}
