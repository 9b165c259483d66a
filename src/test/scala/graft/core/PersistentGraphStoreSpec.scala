package graft.core

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import graft.{Inputs, TestSpark}
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PersistentGraphStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def freshStore(): PersistentGraphStore =
    new PersistentGraphStore(spark,
      Inputs.scratchDir("graft-store"))

  private def v1 = Seq(
    ("d1", "melanoma", Seq("solid"), false),
    ("d2", "glioma", Seq("cns"), false),
    ("d3", "old-term", Seq.empty[String], true)
  ).toDF("sourceId", "name", "subsets", "deprecated")

  test("first merge creates everything; re-running the SAME merge from disk is all-noop") {
    val store = freshStore()
    val c1 = store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    assert(c1 == Map("create" -> 3L))
    assert(store.latestVersion("vertices").contains(1))

    // idempotency: the store state comes back OFF DISK, not from memory —
    // and an all-noop replay writes NO new layer (write-skip)
    val c2 = store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    assert(c2 == Map("noop" -> 3L))
    assert(store.latestVersion("vertices").contains(1),
      "an all-noop merge must not write a version layer")
    assert(store.read("vertices").get.count() == 3)
  }

  test("a noop-action row with changed CARRY columns still rewrites its bucket") {
    val store = freshStore()
    val w1 = Seq(("d1", "melanoma", "uuid-a"), ("d2", "glioma", "uuid-b"))
      .toDF("sourceId", "name", "uuid")
    store.merge("vertices", w1, Seq("sourceId"), compareCols = Seq("name"))
    // same payload (name) → noop action, but the carry column differs:
    // the merge output takes the update's carry value, so stored bytes
    // change and the write must NOT be skipped
    val w2 = Seq(("d1", "melanoma", "uuid-NEW"), ("d2", "glioma", "uuid-b"))
      .toDF("sourceId", "name", "uuid")
    val c = store.merge("vertices", w2, Seq("sourceId"), compareCols = Seq("name"))
    assert(c == Map("noop" -> 2L))
    assert(store.latestVersion("vertices").contains(2),
      "carry-column change must still produce a layer")
    assert(store.read("vertices").get.filter(col("sourceId") === "d1")
      .select("uuid").as[String].head() == "uuid-NEW")
  }

  test("set-column order change is a noop; scalar change is an update; missing key soft-deletes") {
    val store = freshStore()
    store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    val v2 = Seq(
      ("d1", "melanoma", Seq("solid"), false), // unchanged
      ("d2", "glioma", Seq("cns"), true) // deprecated flips → update
      // d3 absent → soft delete
    ).toDF("sourceId", "name", "subsets", "deprecated")
    val c = store.merge("vertices", v2, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"),
      softDelete = true)
    assert(c == Map("noop" -> 1L, "update" -> 1L, "delete" -> 1L))
    val state = store.read("vertices").get
    assert(state.count() == 2) // d3 dropped
    assert(state.filter(col("sourceId") === "d2")
      .select("deprecated").as[Boolean].head())
  }

  test("K5 edge upsert: second run creates nothing") {
    val store = freshStore()
    val e1 = Seq(("a", "b", "SubClassOf"), ("b", "c", "SubClassOf"))
      .toDF("out", "in", "edgeClass")
    assert(store.upsertEdges(e1) == Map("created" -> 2L))
    val e2 = Seq(("a", "b", "SubClassOf"), ("a", "c", "AliasOf"))
      .toDF("out", "in", "edgeClass")
    assert(store.upsertEdges(e2) == Map("created" -> 1L))
    assert(store.read("edges").get.count() == 3)
    // same (out,in) under a different class is a distinct edge
    assert(store.read("edges").get
      .filter(col("out") === "a").count() == 2)
    // an all-duplicate replay creates nothing AND writes no layer
    val vBefore = store.latestVersion("edges")
    assert(store.upsertEdges(e1) == Map("created" -> 0L))
    assert(store.latestVersion("edges") == vBefore,
      "a zero-create edge batch must not write a version layer")
    assert(store.read("edges").get.count() == 3)
  }

  test("K7 source upsert keyed by name") {
    val store = freshStore()
    val s1 = Seq(("civic", "https://civicdb.org", "v1")).toDF("name", "url", "version")
    assert(store.upsertSource(s1) == Map("create" -> 1L))
    val s2 = Seq(("civic", "https://civicdb.org", "v2")).toDF("name", "url", "version")
    assert(store.upsertSource(s2) == Map("update" -> 1L))
    assert(store.read("sources").get.select("version").as[String].head() == "v2")
  }

  test("upsert merge rewrites only touched buckets; readers layer versions") {
    val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-store"))
    val store = new PersistentGraphStore(spark, dir.toString, nBuckets = 8)
    val full = (1 to 64).map(i => (s"id$i", s"name$i"))
      .toDF("sourceId", "name")
    store.merge("vertices", full, Seq("sourceId"), compareCols = Seq("name"))
    val v1Buckets = Files.list(dir.resolve("vertices/v=00001")).iterator()
    val n1 = {
      var n = 0
      v1Buckets.forEachRemaining(p =>
        if (p.getFileName.toString.startsWith("__b=")) n += 1)
      n
    }
    assert(n1 > 1, "64 keys over 8 buckets must span several buckets")

    // second merge updates ONE key → exactly that key's bucket is rewritten
    val one = Seq(("id7", "renamed")).toDF("sourceId", "name")
    val c = store.merge("vertices", one, Seq("sourceId"), compareCols = Seq("name"))
    assert(c("update") == 1L)
    val v2 = dir.resolve("vertices/v=00002")
    val n2 = {
      var n = 0
      Files.list(v2).iterator().forEachRemaining(p =>
        if (p.getFileName.toString.startsWith("__b=")) n += 1)
      n
    }
    assert(n2 == 1, s"one-key merge must rewrite exactly one bucket, wrote $n2")

    // read-back layers v2's bucket over v1: full row count, new value visible
    val state = store.read("vertices").get
    assert(state.count() == 64)
    assert(state.filter(col("sourceId") === "id7")
      .select("name").as[String].head() == "renamed")
    // mismatched merge key is refused — pruning would be unsound
    assertThrows[IllegalArgumentException](
      store.merge("vertices", one, Seq("name"), compareCols = Seq("sourceId")))
  }

  test("K8 null-padded composite key: nulls join the unique key (<=>)") {
    val store = freshStore()
    val variants = Seq(
      ("kras", Some("G12D"), null.asInstanceOf[String], "p.G12D"),
      ("kras", Some("G12D"), "germline", "p.G12D"),
      ("alk", None, null.asInstanceOf[String], "fusion")
    ).toDF("reference1", "name", "germline", "repr")
    val c1 = store.merge("variants", variants,
      keyCols = Seq("reference1", "name", "germline"), compareCols = Seq("repr"))
    assert(c1 == Map("create" -> 3L))
    // identical null-keyed rows come back as noop, not duplicate creates
    val c2 = store.merge("variants", variants,
      keyCols = Seq("reference1", "name", "germline"), compareCols = Seq("repr"))
    assert(c2 == Map("noop" -> 3L))
  }

  test("compact folds layers into one _FULL snapshot; old layers pruned") {
    val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-store"))
    val store = new PersistentGraphStore(spark, dir.toString, nBuckets = 8)
    store.merge("vertices", v1, Seq("sourceId"),
      compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    store.merge("vertices",
      Seq(("d2", "glioma-renamed", Seq("cns"), false))
        .toDF("sourceId", "name", "subsets", "deprecated"),
      Seq("sourceId"), compareCols = Seq("name", "deprecated"),
      setCols = Seq("subsets"))
    assert(store.latestVersion("vertices").contains(2))

    val v = store.compact("vertices")
    assert(v.contains(3))
    // superseded layers are gone; only the snapshot remains
    assert(!Files.exists(dir.resolve("vertices/v=00001")))
    assert(!Files.exists(dir.resolve("vertices/v=00002")))
    assert(Files.exists(dir.resolve("vertices/v=00003/_FULL")))
    // reads resolve from the compacted snapshot: full state, update visible
    val state = store.read("vertices").get
    assert(state.count() == 3)
    assert(state.filter(col("sourceId") === "d2")
      .select("name").as[String].head() == "glioma-renamed")
    // the snapshot is a valid base for further merges
    val c = store.merge("vertices",
      Seq(("d4", "new", Seq.empty[String], false))
        .toDF("sourceId", "name", "subsets", "deprecated"),
      Seq("sourceId"), compareCols = Seq("name", "deprecated"),
      setCols = Seq("subsets"))
    assert(c("create") == 1L)
    assert(store.read("vertices").get.count() == 4)
  }

  test("auto-compaction fires at the layer threshold during merges") {
    val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-store"))
    val store = new PersistentGraphStore(spark, dir.toString, nBuckets = 8,
      compactEvery = 3)
    // a lazy frame taken BEFORE auto-compaction fires: it references the
    // early layer files, which auto-compaction must therefore NOT delete
    store.merge("vertices", Seq(("id0", "name0")).toDF("sourceId", "name"),
      Seq("sourceId"), compareCols = Seq("name"))
    val lazyEarly = store.read("vertices").get
    (1 to 5).foreach { i =>
      store.merge("vertices", Seq((s"id$i", s"name$i")).toDF("sourceId", "name"),
        Seq("sourceId"), compareCols = Seq("name"))
    }
    def nLayers = {
      var n = 0
      Files.list(dir.resolve("vertices")).iterator().forEachRemaining(p =>
        if (p.getFileName.toString.startsWith("v=")) n += 1)
      n
    }
    // a reader walks at most `compactEvery` live layers (newest _FULL and
    // above); superseded directories are retained for outstanding reads
    val live = {
      val vdir = dir.resolve("vertices")
      val names = Files.list(vdir).iterator()
      var vs = List.empty[Int]
      names.forEachRemaining { p =>
        val n = p.getFileName.toString
        if (n.startsWith("v=")) vs ::= n.drop(2).toInt
      }
      val snap = vs.sorted.reverse
        .find(v => Files.exists(vdir.resolve(f"v=$v%05d/_FULL"))).getOrElse(0)
      vs.count(_ >= snap)
    }
    assert(live <= 3, s"auto-compaction must bound live layers, saw $live")
    assert(store.read("vertices").get.count() == 6)
    // the pre-compaction lazy frame still materializes — its files survive
    assert(lazyEarly.count() == 1)
    // vacuum at a safe point reclaims the superseded directories
    assert(nLayers > live)
    store.vacuumAll()
    assert(nLayers == live, s"vacuum must prune superseded layers")
    assert(store.read("vertices").get.count() == 6)
  }

  private def edgeRows(rows: (String, String, String, String)*) =
    rows.toDF("out", "in", "edgeClass", "actionType")

  private def tmpDirs(dir: java.nio.file.Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".tmp_v")).toList
    finally s.close()
  }

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  test("an existing edge re-offered with a different payload keeps its stored value") {
    val store = freshStore()
    assert(store.upsertEdges(edgeRows(("a", "b", "Treats", "sensitivity"))) ==
      Map("created" -> 1L))
    val vBefore = store.latestVersion("edges")
    assert(store.upsertEdges(edgeRows(("a", "b", "Treats", "resistance"))) ==
      Map("created" -> 0L))
    assert(store.latestVersion("edges") == vBefore,
      "a re-offered edge must not write a version layer")
    assert(store.read("edges").get.select("actionType").as[String].collect()
      .toSeq == Seq("sensitivity"))
  }

  test("a batch with a payload column the stored edges lack creates its new edge") {
    // one bucket: the new layer unions the stored edge with the new one;
    // 32 buckets: the two edges sit in different buckets, so the read
    // merges two layers of different schemas
    Seq(1 -> 2L, 32 -> 1L).foreach { case (n, newLayerRows) =>
      val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-store"))
      val store = new PersistentGraphStore(spark, dir.toString, nBuckets = n)
      store.upsertEdges(Seq(("a", "b", "SubClassOf")).toDF("out", "in", "edgeClass"))
      assert(store.upsertEdges(edgeRows(("a", "c", "Treats", "sensitivity"))) ==
        Map("created" -> 1L), s"nBuckets=$n")
      assert(spark.read.parquet(dir.resolve("edges/v=00002").toString).count() ==
        newLayerRows, s"nBuckets=$n")
      val got = store.read("edges").get.select("in", "actionType")
        .as[(String, Option[String])].collect().toMap
      assert(got == Map("b" -> None, "c" -> Some("sensitivity")), s"nBuckets=$n")
    }
  }

  test("a batch listing one edge twice creates one edge") {
    val store = freshStore()
    val twice = Seq(("a", "b", "SubClassOf"), ("a", "b", "SubClassOf"))
      .toDF("out", "in", "edgeClass")
    assert(store.upsertEdges(twice) == Map("created" -> 1L))
    // again once the table exists, for a new edge
    val twiceNew = Seq(("b", "c", "SubClassOf"), ("b", "c", "SubClassOf"))
      .toDF("out", "in", "edgeClass")
    assert(store.upsertEdges(twiceNew) == Map("created" -> 1L))
    assert(store.read("edges").get.count() == 2)
  }

  test("an empty first merge or edge upsert publishes no version") {
    val store = freshStore()
    def mergeInto(table: String, df: org.apache.spark.sql.DataFrame,
        softDelete: Boolean = false) =
      store.merge(table, df, Seq("sourceId"), compareCols = Seq("name", "deprecated"),
        setCols = Seq("subsets"), softDelete = softDelete)
    assert(mergeInto("vertices", v1.limit(0)) == Map.empty)
    assert(mergeInto("tombstoned", v1.limit(0), softDelete = true) == Map.empty)
    val noEdges = Seq.empty[(String, String, String)].toDF("out", "in", "edgeClass")
    assert(store.upsertEdges(noEdges) == Map("created" -> 0L))
    Seq("vertices", "tombstoned", "edges").foreach { t =>
      // nothing rewrote, so nothing was published: latestVersion and read agree
      assert(store.latestVersion(t).isEmpty, t)
      assert(store.read(t).isEmpty, t)
    }
    // the next non-empty write publishes the table's first version
    assert(mergeInto("vertices", v1) == Map("create" -> 3L))
    assert(store.upsertEdges(Seq(("d1", "d2", "SubClassOf"))
      .toDF("out", "in", "edgeClass")) == Map("created" -> 1L))
    Seq("vertices" -> 3L, "edges" -> 1L).foreach { case (t, n) =>
      assert(store.latestVersion(t).contains(1), t)
      assert(store.read(t).map(_.count()).contains(n), t)
    }
  }

  test("a stale staging directory is reclaimed by the next merge, not published") {
    val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-store"))
    val store = new PersistentGraphStore(spark, dir.toString)
    val clean = freshStore()
    val update = Seq(("d2", "glioma-renamed", Seq("cns"), false))
      .toDF("sourceId", "name", "subsets", "deprecated")
    def mergeInto(s: PersistentGraphStore, df: org.apache.spark.sql.DataFrame) =
      s.merge("vertices", df, Seq("sourceId"),
        compareCols = Seq("name", "deprecated"), setCols = Seq("subsets"))
    Seq(store, clean).foreach(mergeInto(_, v1))
    // what a merge that crashed before publishing v=00002 leaves behind
    val junkDir = dir.resolve("vertices/.tmp_v2/__b=0")
    Seq(("junk", "junk", Seq("junk"), true))
      .toDF("sourceId", "name", "subsets", "deprecated")
      .write.parquet(junkDir.toString)
    val junkFiles = {
      val s = Files.list(junkDir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet
      finally s.close()
    }
    assert(junkFiles.nonEmpty)
    assert(mergeInto(store, update) == mergeInto(clean, update))
    assert(store.latestVersion("vertices").contains(2))
    assert(tmpDirs(dir.resolve("vertices")).isEmpty)
    val published = Files.walk(dir.resolve("vertices/v=00002"))
    try assert(!published.iterator().asScala
      .exists(p => junkFiles(p.getFileName.toString)))
    finally published.close()
    assert(sortedRows(store.read("vertices").get) ==
      sortedRows(clean.read("vertices").get))
  }

  test("a first merge that fails mid-write publishes nothing; a rerun converges") {
    val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-store"))
    val store = new PersistentGraphStore(spark, dir.toString)
    val clean = freshStore()
    val boom = udf { (id: Long) =>
      if (id == 3L) throw new IllegalStateException("sentinel row")
      s"name$id"
    }
    def batch(name: org.apache.spark.sql.Column) =
      spark.range(0, 8, 1, 4).select(concat(lit("id"), col("id")).as("sourceId"),
        name.as("name"))
    def mergeInto(s: PersistentGraphStore, df: org.apache.spark.sql.DataFrame) =
      s.merge("vertices", df, Seq("sourceId"), compareCols = Seq("name"))
    intercept[Exception](mergeInto(store, batch(boom(col("id")))))
    assert(store.latestVersion("vertices").isEmpty)
    assert(store.read("vertices").isEmpty)
    val good = batch(concat(lit("name"), col("id")))
    assert(mergeInto(store, good) == Map("create" -> 8L))
    assert(mergeInto(clean, good) == Map("create" -> 8L))
    assert(store.latestVersion("vertices").contains(1))
    assert(tmpDirs(dir.resolve("vertices")).isEmpty)
    assert(sortedRows(store.read("vertices").get) ==
      sortedRows(clean.read("vertices").get))
  }

  test("a later merge that fails keeps v1 readable and replayable; a rerun converges") {
    // two places a later merge can fail: its batch's own UDF, which the
    // bucket discovery evaluates before any stored read, and the layer's
    // job commit, after every task staged its files and before the publish
    val boom = udf { (id: Long) =>
      if (id == 3L) throw new IllegalStateException("sentinel row")
      s"renamed$id"
    }
    def batch(name: org.apache.spark.sql.Column) =
      spark.range(0, 8, 1, 4).select(concat(lit("id"), col("id")).as("sourceId"),
        name.as("name"))
    def mergeInto(s: PersistentGraphStore, df: org.apache.spark.sql.DataFrame) =
      s.merge("vertices", df, Seq("sourceId"), compareCols = Seq("name"))
    val first = batch(concat(lit("name"), col("id")))
    val good = batch(concat(lit("renamed"), col("id")))
    Seq[(String, PersistentGraphStore => Any)](
      "udf" -> (s => mergeInto(s, batch(boom(col("id"))))),
      "job commit" -> (s => TestSpark.withConf("spark.sql.sources.commitProtocolClass" ->
        classOf[FailingJobCommit].getName)(mergeInto(s, good)))
    ).foreach { case (point, failing) =>
      val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-store"))
      val store = new PersistentGraphStore(spark, dir.toString)
      val clean = freshStore()
      Seq(store, clean).foreach(s => assert(mergeInto(s, first) == Map("create" -> 8L), point))
      val v1Rows = sortedRows(store.read("vertices").get)
      intercept[Exception](failing(store))
      assert(store.latestVersion("vertices").contains(1), point)
      assert(sortedRows(store.read("vertices").get) == v1Rows, point)
      assert(tmpDirs(dir.resolve("vertices")).isEmpty, point)
      // the replay record still holds batch 1: its replay reads and writes nothing
      val rec = new JobRecorder(spark.sparkContext)
      try {
        rec.drain()
        assert(mergeInto(store, first) == Map("noop" -> 8L), point)
        rec.drain()
        assert(rec.writeStages.isEmpty, point)
        assert(!rec.plans.asScala.exists(_.contains("Scan parquet")), point)
      } finally rec.close()
      assert(store.latestVersion("vertices").contains(1), point)
      Seq(store, clean).foreach(s => assert(mergeInto(s, good) == Map("update" -> 8L), point))
      assert(store.latestVersion("vertices").contains(2), point)
      assert(tmpDirs(dir.resolve("vertices")).isEmpty, point)
      assert(sortedRows(store.read("vertices").get) ==
        sortedRows(clean.read("vertices").get), point)
    }
  }
}

/** A file commit protocol whose job commit throws: every task has staged
  * its files under the write's path, and nothing is committed.
  */
class FailingJobCommit(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
  override def commitJob(jobContext: JobContext, taskCommits: Seq[TaskCommitMessage]): Unit =
    throw new IllegalStateException("injected job-commit failure")
}
