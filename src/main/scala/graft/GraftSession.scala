package graft

import org.apache.spark.sql.SparkSession

/** The one way a graft main or the test suite builds and stops its Spark
  * session, so every entry point runs the same configuration.
  */
object GraftSession {

  /** Task slots: `SPARK_GRAFT_CPUS`, else the processors the JVM sees. */
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").flatMap(_.toIntOption)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  /** A `local[cpus]` session with one shuffle partition per slot, UTC
    * session time, the UI off, the native function registry
    * ([[plans.GraftExtensions]]) installed and WARN logging.
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Quiesce, then stop. Stopping the session with work still in flight
    * races its own teardown: the state-store maintenance pool logs
    * "RpcEnv already stopped" traces after `stop()` returns (they once
    * displaced Bench's metric lines from the end of its output), and a
    * task result arriving after the context stops throws
    * RejectedExecutionException. So: stop any streaming query left
    * running, unload the state-store providers and their maintenance
    * pool, silence the loggers, then stop the session. Each step
    * swallows its own failure — a throw out of the teardown would skip
    * whatever the caller prints after it.
    */
  def stop(spark: SparkSession): Unit = {
    try spark.streams.active.foreach(q =>
      try q.stop() catch { case _: Throwable => () })
    catch { case _: Throwable => () }
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case _: Throwable => () }
    try spark.sparkContext.setLogLevel("OFF") catch { case _: Throwable => () }
    try spark.stop() catch { case _: Throwable => () }
  }
}
