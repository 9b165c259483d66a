package graft.core

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.{Inputs, TestSpark}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** A batch the table already absorbed, arriving again at unchanged
  * buckets, returns the counters a full upsert would and runs no stored
  * read, classify or write; whenever the table may have moved on, the full
  * upsert runs.
  */
class StoreReplaySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def v1 = Seq(
    ("d1", "melanoma", Seq("solid", "adult"), false),
    ("d2", "glioma", Seq("cns"), false),
    ("d3", "old-term", Seq.empty[String], true)
  ).toDF("sourceId", "name", "subsets", "deprecated")

  private def mergeTerms(store: PersistentGraphStore, df: DataFrame,
      setCols: Seq[String] = Seq("subsets"), softDelete: Boolean = false) =
    store.merge("terms", df, Seq("sourceId"),
      compareCols = Seq("name", "deprecated", "subsets"), setCols = setCols,
      softDelete = softDelete)

  /** `body`'s value, whether any of its stages wrote rows, and whether
    * any of its plans scanned parquet (the only parquet here is stored).
    */
  private case class Shape[T](value: T, wrote: Boolean, read: Boolean)

  private def shape[T](body: => T): Shape[T] = {
    val rec = new JobRecorder(spark.sparkContext)
    try {
      rec.drain()
      val v = body
      rec.drain()
      Shape(v, !rec.writeStages.isEmpty,
        rec.plans.asScala.exists(_.contains("Scan parquet")))
    } finally rec.close()
  }

  /** A key of the given bucket relation to d1..d3's buckets. */
  private def keyWhere(sameBucketAsD1: Boolean): String = {
    val b = pmod(xxhash64(col("k")), lit(32))
    val d1 = Seq("d1").toDF("k").select(b).as[Long].head()
    val touched = Seq("d1", "d2", "d3").toDF("k").select(b).as[Long].collect().toSet
    (1 to 2000).map(i => s"s$i").toDF("k").select(col("k"), b.as("b")).as[(String, Long)]
      .collect().collectFirst {
        case (k, kb) if (if (sameBucketAsD1) kb == d1 else !touched(kb)) => k
      }.get
  }

  private def sibling(key: String) =
    Seq((key, "sibling", Seq.empty[String], false))
      .toDF("sourceId", "name", "subsets", "deprecated")

  /** A store holding v1, and its root. */
  private def loaded(): (PersistentGraphStore, String) = {
    val root = Inputs.scratchDir("graft-replay")
    val store = new PersistentGraphStore(spark, root)
    assert(mergeTerms(store, v1) == Map("create" -> 3L))
    (store, root)
  }

  /** Replay v1 and expect the full upsert with the given counters. */
  private def assertFullPath(store: PersistentGraphStore,
      expected: Map[String, Long]): Unit = {
    val s = shape(mergeTerms(store, v1))
    assert(s.value == expected)
    assert(s.read, "the replay skipped the stored read")
  }

  test("a replayed merge returns the full upsert's counters and reads and writes nothing") {
    val (store, _) = loaded()
    val s = shape(mergeTerms(store, v1))
    assert(s.value == Map("noop" -> 3L))
    assert(!s.wrote && !s.read, s)
    assert(store.latestVersion("terms").contains(1))
    assert(store.read("terms").get.count() == 3)
  }

  test("a replayed edge batch creates nothing and reads and writes nothing") {
    val store = new PersistentGraphStore(spark, Inputs.scratchDir("graft-replay"))
    val e = Seq(("a", "b", "SubClassOf"), ("b", "c", "SubClassOf"), ("a", "c", "AliasOf"))
      .toDF("out", "in", "edgeClass")
    val first = shape(store.upsertEdges(e))
    assert(first.value == Map("created" -> 3L))
    assert(first.wrote, "a first write wrote no rows")
    val s = shape(store.upsertEdges(e))
    assert(s.value == Map("created" -> 0L))
    assert(!s.wrote && !s.read, s)
    assert(store.latestVersion("edges").contains(1))
  }

  test("a fresh store on the same root still skips the replay") {
    val (_, root) = loaded()
    val s = shape(mergeTerms(new PersistentGraphStore(spark, root), v1))
    assert(s.value == Map("noop" -> 3L))
    assert(!s.wrote && !s.read, s)
  }

  test("a changed batch reads and writes") {
    val (store, _) = loaded()
    val changed = v1.withColumn("name", concat(col("name"), lit("!")))
    val s = shape(mergeTerms(store, changed))
    assert(s.value == Map("update" -> 3L))
    assert(s.wrote && s.read, s)
    assert(store.latestVersion("terms").contains(2))
  }

  test("a write to other buckets keeps the skip") {
    val (store, _) = loaded()
    assert(mergeTerms(store, sibling(keyWhere(sameBucketAsD1 = false))) ==
      Map("create" -> 1L))
    val s = shape(mergeTerms(store, v1))
    assert(s.value == Map("noop" -> 3L))
    assert(!s.wrote && !s.read, s)
  }

  test("a sibling that rewrote a touched bucket forces the full upsert") {
    val (store, _) = loaded()
    mergeTerms(store, sibling(keyWhere(sameBucketAsD1 = true)))
    // the sibling's row shares d1's bucket, so the full upsert counts it
    assertFullPath(store, Map("noop" -> 4L))
  }

  test("compaction in between forces the full upsert") {
    val (store, _) = loaded()
    assert(store.compact("terms").contains(2))
    assertFullPath(store, Map("noop" -> 3L))
  }

  test("a soft-delete merge in between forces the full upsert") {
    val (store, _) = loaded()
    val withSibling = v1.unionByName(sibling(keyWhere(sameBucketAsD1 = true)))
    assert(mergeTerms(store, withSibling, softDelete = true) ==
      Map("create" -> 1L, "noop" -> 3L))
    assertFullPath(store, Map("noop" -> 4L))
  }

  test("a garbled or truncated record forces the full upsert and is rewritten") {
    val (store, root) = loaded()
    val record = Paths.get(root, "terms", "_replay")
    val good = Files.readAllBytes(record)
    val garbled = "v=1\tnot a record\n".getBytes("UTF-8")
    Seq(good.take(good.length - 2), garbled).foreach { bad =>
      Files.write(record, bad)
      assertFullPath(store, Map("noop" -> 3L))
      val s = shape(mergeTerms(store, v1))
      assert(s.value == Map("noop" -> 3L))
      assert(!s.read, "the full upsert did not rewrite the record")
    }
  }

  test("the same rows under different set columns run the full upsert") {
    val (store, _) = loaded()
    // stored subsets are sorted; without set columns d1's order differs
    val s = shape(mergeTerms(store, v1, setCols = Nil))
    assert(s.value == Map("update" -> 1L, "noop" -> 2L))
    assert(s.read)
  }

  test("the NCIt sample's idempotency pass skips both of its writes") {
    val ncit = graft.orchestrate.FullCorpus.writeNcitSample()
    val store = new PersistentGraphStore(spark, Inputs.scratchDir("graft-replay"))
    val first = graft.sources.NcitLoad.load(spark, store, ncit)
    val s = shape(graft.sources.NcitLoad.load(spark, store, ncit))
    assert(s.value == Map("noop" -> first("create"), "edges_created" -> 0L), s)
    assert(!s.wrote && !s.read, s)
  }

  test("a null that moves between two columns is a different batch") {
    val store = new PersistentGraphStore(spark, Inputs.scratchDir("graft-replay"))
    def row(a: String, b: String) = Seq(("d1", a, b)).toDF("sourceId", "a", "b")
    def merge(df: DataFrame) = store.merge("t", df, Seq("sourceId"), Seq("a", "b"))
    assert(merge(row(null, "x")) == Map("create" -> 1L))
    assert(merge(row("x", null)) == Map("update" -> 1L))
    assert(store.read("t").get.as[(String, String, String)].collect().toSeq ==
      Seq(("d1", "x", null)))
  }

  test("a null added inside a set column is a different batch") {
    val store = new PersistentGraphStore(spark, Inputs.scratchDir("graft-replay"))
    def row(subsets: Seq[String]) = Seq(("d1", subsets)).toDF("sourceId", "subsets")
    def merge(df: DataFrame) =
      store.merge("t", df, Seq("sourceId"), Seq("subsets"), setCols = Seq("subsets"))
    assert(merge(row(Seq("a"))) == Map("create" -> 1L))
    assert(merge(row(Seq("a", null))) == Map("update" -> 1L))
    assert(merge(row(Seq.empty[String])) == Map("update" -> 1L))
    assert(merge(row(Seq(null))) == Map("update" -> 1L))
  }

  test("a null that moves between two struct fields is a different batch") {
    val store = new PersistentGraphStore(spark, Inputs.scratchDir("graft-replay"))
    def row(a: String, b: String) = Seq(("d1", a, b)).toDF("sourceId", "a", "b")
      .select(col("sourceId"), struct(col("a"), col("b")).as("s"))
    def merge(df: DataFrame) = store.merge("t", df, Seq("sourceId"), Seq("s"))
    assert(merge(row(null, "x")) == Map("create" -> 1L))
    assert(merge(row("x", null)) == Map("update" -> 1L))
    assert(store.read("t").get.select("s.a", "s.b").as[(String, String)].collect().toSeq ==
      Seq(("x", null)))
  }

  test("array elements that move between two array columns are a different batch") {
    val store = new PersistentGraphStore(spark, Inputs.scratchDir("graft-replay"))
    def row(a: Seq[Int], b: Seq[Int]) = Seq(("d1", a, b)).toDF("sourceId", "a", "b")
    def merge(df: DataFrame) = store.merge("t", df, Seq("sourceId"), Seq("a", "b"))
    assert(merge(row(Seq(1, 0), Seq(5))) == Map("create" -> 1L))
    assert(merge(row(Seq(1), Seq(0, 5))) == Map("update" -> 1L))
  }
}
