package graft.orchestrate

import org.apache.spark.sql.SparkSession

import graft.core.Concurrent

/** §2.11 — whole-corpus orchestration: the reference coordinates ~30
  * loaders through a Snakemake DAG (Snakefile:32-46 `rule all`; per-loader
  * `dependencies` exports, e.g. drugbank/index.js:339,
  * oncotree/index.js:291). This is the same topology as a library: loaders
  * declare dependencies by name, the runner executes them in topological
  * order, isolates failures (a failed loader skips its dependents, not the
  * whole corpus), and aggregates per-loader audit counters.
  *
  * Scale: ordering is driver-side metadata; each loader body is ordinary
  * distributed Spark. Concurrency comes at two grains, both through
  * [[graft.core.Concurrent.all]]: `run` runs up to `parallelism` of a
  * level's loaders at once (levels are the Snakemake parallelism unit),
  * and inside one loader the store's `writeAll` overlaps its writes to
  * different tables and returns the loader's flat counter map. Level
  * membership and the report stay deterministic either way.
  */
object Orchestrator {

  case class Loader(
      name: String,
      dependencies: Seq[String] = Seq.empty,
      run: SparkSession => Map[String, Long])

  sealed trait Status
  case class Succeeded(counts: Map[String, Long]) extends Status
  /** `error`: the first line of the exception's `toString` (its class and
    * the start of its message); the full stack goes to stderr.
    */
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
    * A level's loaders run on up to `parallelism` threads started for that
    * level (Snakemake executes independent rules in parallel; 1 runs them
    * one after another): loader bodies submit Spark jobs from those
    * threads, which inherit the caller's Spark local properties, and the
    * scheduler interleaves their stages across the cluster's slots.
    * Correctness under concurrency rests on (1) levels — a loader never
    * runs before its dependencies' level completed, so every dimension it
    * reads is fully written — and (2) the store's per-table write locks, which serialize same-table
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
      afterLevel: () => Unit = () => ()): Report = {
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
          catch {
            case e: Exception =>
              val trace = new java.io.StringWriter
              e.printStackTrace(new java.io.PrintWriter(trace))
              System.err.print(s"[orchestrator] loader $name failed: $trace")
              // toString, not getMessage: an exception without a message
              // (a NullPointerException, say) still names its class
              Failed(e.toString.linesIterator.next())
          }
      name -> status
    }

    levels.foreach { level =>
      beforeLevel()
      try statuses ++= Concurrent.results(Concurrent.all(parallelism, "graft-loader")(
        level.map(n => () => runOne(n))))
      finally afterLevel()
    }
    Report(levels.flatten, statuses.toMap)
  }
}
