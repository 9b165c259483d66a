package graft.core

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** The shuffle in front of a layer write is capped at the slot count
  * (`local[8]` here) while each bucket still lands in one file.
  */
class StoreWriteWidthSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def list(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  /** `__b=K` directory -> parquet files in it, for one version layer. */
  private def layerFiles(layer: Path): Map[String, Int] =
    list(layer).filter(_.getFileName.toString.startsWith("__b="))
      .map(b => b.getFileName.toString ->
        list(b).count(_.getFileName.toString.endsWith(".parquet")))
      .toMap

  /** Max tasks of any stage that wrote rows while `body` ran. */
  private def writeStageTasks(body: => Unit): Int = {
    val rec = new JobRecorder(spark.sparkContext)
    try {
      rec.drain()
      val before = rec.stageTasks.keySet.asScala.toSet
      body
      rec.drain()
      val stages = rec.writeStages.asScala.toSet -- before
      assert(stages.nonEmpty, "no stage wrote rows")
      stages.map(s => rec.stageTasks.get(s).get).max
    } finally rec.close()
  }

  test("merges and edge upserts touching all 32 buckets write with at most 8 tasks") {
    val slots = spark.sparkContext.defaultParallelism
    assert(slots == 8)
    val dir = Files.createTempDirectory("graft-width")
    val store = new PersistentGraphStore(spark, dir.toString)
    val keys = 1 to 320
    val v1 = keys.map(i => (s"id$i", s"name$i")).toDF("sourceId", "name")
    val v2 = keys.map(i => (s"id$i", s"renamed$i")).toDF("sourceId", "name")
    def edges(tag: String) = keys.map(i => (s"id$i", s"$tag$i", "SubClassOf"))
      .toDF("out", "in", "edgeClass")
    // first write (the plain layer write), then an update of every row and
    // a second batch of new edges (the fused merge and edge paths)
    val steps = Seq[(String, () => Map[String, Long])](
      "terms/v=00001" -> (() => store.merge("terms", v1, Seq("sourceId"), Seq("name"))),
      "terms/v=00002" -> (() => store.merge("terms", v2, Seq("sourceId"), Seq("name"))),
      "edges/v=00001" -> (() => store.upsertEdges(edges("a"))),
      "edges/v=00002" -> (() => store.upsertEdges(edges("b"))))
    steps.foreach { case (layer, write) =>
      val tasks = writeStageTasks(write())
      assert(tasks <= slots, s"$layer: write stage ran $tasks tasks")
      val files = layerFiles(dir.resolve(layer))
      assert(files.size == 32, s"$layer: ${files.size} bucket directories")
      assert(files.values.forall(_ == 1), s"$layer: $files")
    }
    assert(store.read("terms").get.filter($"name".startsWith("renamed")).count() == 320)
    assert(store.read("edges").get.count() == 640)
  }
}
