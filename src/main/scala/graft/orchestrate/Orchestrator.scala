package graft.orchestrate

import org.apache.spark.sql.SparkSession

/** §2.11 — whole-corpus orchestration: the reference coordinates ~30
  * loaders through a Snakemake DAG (Snakefile:32-46 `rule all`; per-loader
  * `dependencies` exports, e.g. drugbank/index.js:339,
  * oncotree/index.js:291). This is the same topology as a library: loaders
  * declare dependencies by name, the runner executes them in topological
  * order, isolates failures (a failed loader skips its dependents, not the
  * whole corpus), and aggregates per-loader audit counters.
  *
  * Scale: ordering is driver-side metadata; each loader body is ordinary
  * distributed Spark. Concurrency comes at two grains: `run` with
  * `parallelism > 1` runs a level's loaders at once (levels are the
  * Snakemake parallelism unit), and inside one loader the store's
  * `writeAll` overlaps its writes to different tables. Level membership
  * and the report stay deterministic either way.
  */
object Orchestrator {

  case class Loader(
      name: String,
      dependencies: Seq[String] = Seq.empty,
      run: SparkSession => Map[String, Long])

  sealed trait Status
  case class Succeeded(counts: Map[String, Long]) extends Status
  case class Failed(error: String) extends Status
  case class Skipped(failedDeps: Seq[String]) extends Status

  case class Report(order: Seq[String], statuses: Map[String, Status]) {
    def succeeded: Seq[String] = order.filter(n => statuses(n).isInstanceOf[Succeeded])
  }

  /** Deterministic topological LEVELS (Kahn's waves, name-sorted within
    * each level). Throws on unknown dependencies or cycles. A level's
    * loaders have no edges among themselves — Snakemake's parallelism
    * unit.
    */
  def topoLevels(loaders: Seq[Loader]): Seq[Seq[String]] = {
    val byName = loaders.map(l => l.name -> l).toMap
    loaders.flatMap(_.dependencies).distinct.foreach { d =>
      require(byName.contains(d), s"unknown dependency '$d'")
    }
    var remaining = loaders.map(l => l.name -> l.dependencies.toSet).toMap
    val levels = Seq.newBuilder[Seq[String]]
    while (remaining.nonEmpty) {
      val ready = remaining.filter(_._2.isEmpty).keys.toSeq.sorted
      require(ready.nonEmpty,
        s"dependency cycle among: ${remaining.keys.toSeq.sorted.mkString(", ")}")
      levels += ready
      remaining = remaining.removedAll(ready)
        .view.mapValues(_ -- ready).toMap
    }
    levels.result()
  }

  /** Deterministic flat topological order. */
  def topoOrder(loaders: Seq[Loader]): Seq[String] = topoLevels(loaders).flatten

  /** Run all loaders respecting dependencies; a failure marks its
    * transitive dependents Skipped (the reference's per-loader error
    * isolation, §7.4 risk 5).
    *
    * `parallelism > 1` runs each level's loaders concurrently (Snakemake
    * executes independent rules in parallel): loader bodies submit Spark
    * jobs from a bounded thread pool and the scheduler interleaves their
    * stages across the cluster's slots. Correctness under concurrency
    * rests on (1) levels — a loader never runs before its dependencies'
    * level completed, so every dimension it reads is fully written — and
    * (2) the store's per-table write locks, which serialize same-table
    * merges from concurrent loaders (see PersistentGraphStore.lockFor).
    * Level membership and the report's order stay deterministic; only
    * wall-clock interleaving varies.
    *
    * `beforeLevel` runs once before each level (and `afterLevel` after) —
    * the store snapshot-isolation hook: FullCorpus pins the store's
    * visible versions at each level boundary so every read inside the
    * level sees exactly the level-start state, making results independent
    * of intra-level scheduling in BOTH sequential and concurrent modes.
    */
  def run(spark: SparkSession, loaders: Seq[Loader],
      parallelism: Int = 1,
      beforeLevel: () => Unit = () => (),
      afterLevel: () => Unit = () => (),
      // per-level wall-clock observer (level members, seconds) — the
      // g14 cost-attribution hook: BenchDag passes a printer so the
      // full-DAG bench row decomposes into per-level times without
      // touching the run's semantics. Driver-side metadata only.
      onLevelDone: (Seq[String], Double) => Unit = (_, _) => ()): Report = {
    val byName = loaders.map(l => l.name -> l).toMap
    val levels = topoLevels(loaders)
    val statuses = scala.collection.mutable.Map.empty[String, Status]

    def runOne(name: String): (String, Status) = {
      val loader = byName(name)
      val badDeps = loader.dependencies.filterNot(d =>
        statuses.get(d).exists(_.isInstanceOf[Succeeded]))
      val status =
        if (badDeps.nonEmpty) Skipped(badDeps)
        else
          try Succeeded(loader.run(spark))
          // toString, not getMessage: an exception without a message
          // (a NullPointerException, say) still names its class
          catch { case e: Exception => Failed(e.toString) }
      name -> status
    }

    levels.foreach { level =>
      beforeLevel()
      val tLevel = System.nanoTime()
      try {
        val results: Seq[(String, Status)] =
          if (parallelism <= 1 || level.size <= 1) level.map(runOne)
          else {
            val pool = java.util.concurrent.Executors.newFixedThreadPool(
              math.min(parallelism, level.size))
            implicit val ec: scala.concurrent.ExecutionContext =
              scala.concurrent.ExecutionContext.fromExecutorService(pool)
            try {
              val fs = level.map(n => scala.concurrent.Future(runOne(n)))
              scala.concurrent.Await.result(
                scala.concurrent.Future.sequence(fs),
                scala.concurrent.duration.Duration.Inf)
            } finally pool.shutdown()
          }
        statuses ++= results
        onLevelDone(level, (System.nanoTime() - tLevel) / 1e9)
      } finally afterLevel()
    }
    Report(levels.flatten, statuses.toMap)
  }
}
