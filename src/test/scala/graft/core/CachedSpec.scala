package graft.core

import graft.{Inputs, TestSpark}
import graft.core.Cached.withCached
import graft.orchestrate.FullCorpus
import graft.sources.{CancerHotspots, CosmicFusions, NcitLoad}
import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The lifetime rule of [[Cached.withCached]]: frames are cached while the
  * body runs and released when it ends, also when it throws, and a loader
  * that fails in the store leaves nothing cached behind.
  */
class CachedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def frames() = {
    val a = spark.range(100).toDF("id")
    (a, a.filter($"id" % 3 === 0), a.selectExpr("id * 2 AS twice"))
  }

  test("frames are cached inside the body and released after it") {
    spark.catalog.clearCache()
    val (a, b, c) = frames()
    val inside = withCached(a, b, c) {
      assert(b.count() == 34)
      Seq(a, b, c).map(_.storageLevel)
    }
    assert(inside.forall(_ != StorageLevel.NONE), inside)
    assert(Seq(a, b, c).forall(_.storageLevel == StorageLevel.NONE))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("a throwing body propagates its exception and releases the frames") {
    spark.catalog.clearCache()
    val (a, b, c) = frames()
    val e = intercept[IllegalStateException] {
      withCached(a, b, c) {
        assert(a.storageLevel != StorageLevel.NONE)
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(Seq(a, b, c).forall(_.storageLevel == StorageLevel.NONE))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("the body's value is returned, also with no frame to cache") {
    val (a, _, _) = frames()
    assert(withCached(a)(a.count()) == 100L)
    assert(withCached()("none") == "none")
    assert(a.storageLevel == StorageLevel.NONE)
  }

  /** A store whose every merge throws; it records whether anything was
    * cached when the loader reached it, so a loader that caches nothing
    * cannot pass the release check vacuously.
    */
  private class FailingMergeStore extends PersistentGraphStore(spark,
      Inputs.scratchDir("graft-cached")) {
    @volatile var cachedAtMerge = false
    override def merge(table: String, incoming: DataFrame, keyCols: Seq[String],
        compareCols: Seq[String], setCols: Seq[String],
        softDelete: Boolean): Map[String, Long] = {
      cachedAtMerge = !spark.sharedState.cacheManager.isEmpty
      throw new IllegalStateException(s"merge into $table failed")
    }
  }

  private def failsAndReleases(load: PersistentGraphStore => Any): Unit = {
    spark.catalog.clearCache()
    val store = new FailingMergeStore
    val e = intercept[IllegalStateException](load(store))
    assert(e.getMessage.startsWith("merge into "), e)
    assert(store.cachedAtMerge, "the loader cached nothing before its merge")
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("NcitLoad.loadFrom releases its cached frames when a merge throws") {
    failsAndReleases(store => NcitLoad.loadFrom(spark, store,
      NcitLoad.scan(spark, FullCorpus.writeNcitSample())))
  }

  test("CancerHotspots.loadDs releases its cached frames when a merge throws") {
    import CancerHotspots.HotspotRecord
    val recs = Seq(
      HotspotRecord("h1", "7", 100L, 100L, "A", "T", "673", "p.V600E", "T1",
        "c.1799T>A", "mel"),
      HotspotRecord("h2", "X", 200L, 200L, "G", "C", "1956", "p.G12D", "T2",
        "c.35G>A", "lung"))
    failsAndReleases(store => CancerHotspots.loadDs(spark, store,
      spark.createDataset(recs), Seq("673", "1956").toDF("sourceId"),
      Seq(("7", "chr7"), ("X", "chrX")).toDF("sourceId", "name"),
      Seq(("T1", "transcript"), ("T2", "transcript")).toDF("sourceId", "biotype"),
      Seq("mel", "lung").toDF("sourceId"),
      Seq(("substitution", "t:sub")).toDF("name", "term_id")))
  }

  test("CosmicFusions.loadDf releases its cached frames when a merge throws") {
    import CosmicFusions.FusionRow
    val rows = (0 until 4).map(i => FusionRow(s"r$i", "f1", s"s$i", "G1",
      "G2", "1", "2", "D1", "F1", ""))
    failsAndReleases(store => CosmicFusions.loadDf(spark, store,
      spark.createDataset(rows).toDF(),
      Seq(("D1", "d:1"), ("cancer", "d:c")).toDF("name", "sourceId")))
  }
}
