package graft

import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (8 slots: StoreWriteWidthSpec's
  * width bound depends on it).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.local(8)
    // Stopped once, when the test JVM exits after the last suite, and
    // before Spark's own shutdown hooks: Hadoop's hook manager runs
    // higher priorities first, and Spark installs its hooks at 40. Left
    // to Spark's hook, the context stops with task results still
    // arriving and the result getter logs RejectedExecutionException.
    ShutdownHookManager.get().addShutdownHook(() => GraftSession.stop(s), 50)
    s
  }

  val sf: String = "/root/testdata/sf0.001"

  /** Run `f` with the given session settings, restoring whatever values
    * the shared session HAD, set or unset.
    */
  def withConf[T](pairs: (String, String)*)(f: => T): T = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Run `f` with AQE off (plain FileSourceScanExec trees for
    * partition-pruning assertions).
    */
  def withAqeDisabled[T](f: => T): T = withConf("spark.sql.adaptive.enabled" -> "false")(f)
}

/** Memoized per-name query-frame construction against sf0.001 — shared by
  * every registry-sweeping suite (SparkEntrySpec's non-empty gate,
  * BenchConsistencySpec's complex-type lint). CONSTRUCTION is the
  * expensive half for composition rows: building the frame runs probe
  * collects, index builds and connected-components supersteps before any
  * caller action, and r19's suite-time attribution measured the second
  * registry sweep (schemas only) at ~575 s of pure re-construction.
  * DataFrames are immutable, so cross-suite reuse is safe; the suites'
  * per-row clearCache() only drops cached blocks (recompute on next
  * action), never correctness.
  */
object TestQueryFrames {
  private val cache = scala.collection.concurrent.TrieMap
    .empty[String, org.apache.spark.sql.DataFrame]
  def apply(name: String): org.apache.spark.sql.DataFrame =
    cache.getOrElseUpdate(name,
      SparkEntry.queries(name)(TestSpark.spark, TestSpark.sf))
}

class SparkEntrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs non-empty on sf0.001") {
    // non-empty via take(1), not a full count(): the gate asserts "≥ 1
    // row", and limit pushdown lets Spark stop after the first row where
    // the plan allows — full-evaluation correctness is the driver's
    // Verify-at-sf0.01 + oracle hash gate, which runs every row anyway.
    // The full count() sweep pushed the suite past the driver's test
    // time budget in r18 (VERIFY tests_ok=false at a ~43 min suite).
    SparkEntry.queries.keys.foreach { name =>
      assert(TestQueryFrames(name).take(1).nonEmpty,
        s"query $name returned 0 rows")
      spark.catalog.clearCache()
    }
  }

  test("every query has matching column names with its oracle alias contract") {
    // Sanity: each oracleSql key exists in queries.
    SparkEntry.oracleSql.keys.foreach { k =>
      assert(SparkEntry.queries.contains(k), s"oracleSql key $k missing from queries")
    }
  }

  test("q1_agg aggregates are exact decimals cast to double") {
    val df = SparkEntry.queries("q1_agg")(spark, TestSpark.sf)
    val schema = df.schema.map(f => f.name -> f.dataType.typeName).toMap
    assert(schema("revenue") == "double")
    assert(schema("n_orders") == "long")
  }
}
