package graft.core

import java.util.concurrent.atomic.AtomicLong

/** Nanosecond accounting of time spent INSIDE [[PersistentGraphStore]]
  * entry points — the instrumentation behind the g14_full_dag cost
  * attribution (store round-trips vs loader-side compute, PLANS.md round
  * 14). Three counters:
  *
  *  - `entryNanos`: wall time inside the OUTERMOST public store call on
  *    each thread (merge/upsert/read/write/compact/vacuum — nested calls
  *    like merge→write don't double-count, via a thread-local depth).
  *    NOTE this includes materializing the caller's lazy incoming frame:
  *    loaders hand the store unevaluated plans, so "parse + resolve"
  *    compute largely executes inside the store's first action. The
  *    attribution run therefore reads this as "time triggered by store
  *    round-trips", not "store overhead".
  *  - `writeNanos`: the parquet write actions inside [[PersistentGraphStore.write]]
  *    alone (counted at any depth — the physical I/O floor of a round-trip).
  *  - `mergeCalls`: number of merge/upsertEdges/upsertSource round-trips.
  *
  * Zero overhead when idle (two volatile adds per store call); not wired
  * into any query row — only [[graft.BenchDag]] reads it. Thread-safe:
  * concurrent loaders accumulate into shared atomics (summed-across-
  * threads time exceeds wall under parallelism; the attribution run pins
  * SPARK_GRAFT_DAG_PAR=1, but a loader's `writeAll` batch still overlaps
  * its own writes, so `entryNanos` can exceed wall even then).
  */
object StoreTimers {
  val entryNanos = new AtomicLong(0L)
  val writeNanos = new AtomicLong(0L)
  val mergeCalls = new AtomicLong(0L)
  // r19 fine-grained attribution (read by BenchDag only): the
  // bucket-discovery collect job and the readDirs DataFrame construction
  // (file listing + footer/mergeSchema work happen inside spark.read)
  val touchNanos = new AtomicLong(0L)
  val readPlanNanos = new AtomicLong(0L)

  def touch[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally touchNanos.addAndGet(System.nanoTime() - t0)
  }

  def readPlan[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally readPlanNanos.addAndGet(System.nanoTime() - t0)
  }

  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Time `f` as an outermost store entry (nested entries fold in). */
  def entry[T](f: => T): T = {
    val d = depth.get()
    depth.set(d + 1)
    val t0 = if (d == 0) System.nanoTime() else 0L
    try f
    finally {
      depth.set(d)
      if (d == 0) entryNanos.addAndGet(System.nanoTime() - t0)
    }
  }

  /** Time `f` as a physical write action (flat — no nesting guard). */
  def write[T](f: => T): T = {
    val t0 = System.nanoTime()
    try f finally writeNanos.addAndGet(System.nanoTime() - t0)
  }

  def reset(): Unit = { entryNanos.set(0L); writeNanos.set(0L); mergeCalls.set(0L)
    touchNanos.set(0L); readPlanNanos.set(0L) }

  /** (entryNanos, writeNanos, mergeCalls) at this instant. */
  def snapshot(): (Long, Long, Long) =
    (entryNanos.get(), writeNanos.get(), mergeCalls.get())
}
