package loaderbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.core.Fs

/** Command line: `--workload bulk|dag_small --seed N --seconds S --trace 0|1`
  * plus, for the benchmark's own tests, `--size tiny` and
  * `--inject throw|replay-creates` (fault injection into the first cycle);
  * `--work DIR` holds inputs and stores and is removed at the end;
  * `--out DIR` keeps a traced run's spans as JSONL (under `traces`).
  *
  * A run sets up `Main.SetupReps` times (session start, input write) and
  * reports the median as `setup_s`. It then runs whole cycles — a fresh
  * store, then each pass timed and checked against the model — until
  * `--seconds` have passed, at least one. The first cycle's load is the
  * first execution of the loaders in the JVM, as in a scheduled load job
  * started in a fresh JVM. With `--trace 1` the cycles are traced and the
  * run reports per-layer metrics instead of end-to-end ones.
  */
object Main {

  val SetupReps = 3
  val Passes: Seq[String] = Seq("load", "replay", "refresh")

  /** Shapes per workload and size. Record counts are per loader call. */
  def shape(workload: String, size: String): Shape = {
    val tiny = size == "tiny"
    workload match {
      case "bulk" =>
        Shape(Seq(Call("ncit_00", "ncit", 0, Nil)), Set("ncit_00"), if (tiny) 600 else 1200)
      // every table has two writers; the first level's two loaders run at
      // once and both upsert edges; the leaf is an NCIt loader, the
      // cheapest to rerun
      case "dag_small" => Shape(Seq(
          Call("ncit_00", "ncit", 0, Nil),
          Call("fusions_00", "fusions", 0, Nil),
          Call("hotspots_00", "hotspots", 0, Seq("ncit_00", "fusions_00")),
          Call("ncit_01", "ncit", 1, Seq("hotspots_00"))),
        Set("ncit_01"), if (tiny) 60 else 300)
      case _ => throw new IllegalArgumentException(s"unknown workload $workload")
    }
  }

  case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      size: String, inject: String, work: Path, out: Path)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val known = Set("workload", "seed", "seconds", "trace", "size", "inject", "work", "out")
    require(argv.length % 2 == 0 && m.keySet.subsetOf(known),
      s"usage: --workload W --seed N --seconds S --trace 0|1 [--size tiny|full] " +
        s"[--inject none|throw|replay-creates] [--work DIR] [--out DIR]; got ${argv.mkString(" ")}")
    val inject = m.getOrElse("inject", "none")
    require(Set("none", "throw", "replay-creates")(inject), s"unknown --inject $inject")
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m.getOrElse("size", "full"), inject,
      Paths.get(m.getOrElse("work", "work")).toAbsolutePath,
      Paths.get(m.getOrElse("out", "out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    val out = run(parse(argv))
    println(out)
  }

  /** Runs the benchmark and returns the result line (JSON). */
  def run(a: Args): String = {
    val cpus = Runtime.getRuntime.availableProcessors()
    Fs.deleteRecursively(a.work)
    Files.createDirectories(a.work)
    val log = (s: String) => System.err.println(s"[loaderbench] $s")
    val tracer = new Tracer
    val corpus = new Corpus(shape(a.workload, a.size), a.seed)
    val exp = new Expect(corpus)

    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { rep =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = session(cpus, a.work)
      if (a.trace) tracer.attach(spark.sparkContext)
      corpus.write(spark, a.work.resolve("inputs"))
      val s = (System.nanoTime() - t0) / 1e9
      log(f"setup $rep: $s%.3f s")
      s
    }
    try {
      val wl = new Workload(corpus.shape, spark, a.work.resolve("inputs"), tracer, cpus)
      val probesBefore = if (a.trace) Some(Probes.measure(spark, cpus)) else None
      val cycles = mutable.ArrayBuffer.empty[Cycle]
      val tMeasure = System.nanoTime()
      while (cycles.isEmpty || (System.nanoTime() - tMeasure) / 1e9 < a.seconds) {
        val i = cycles.size
        val c = new Cycle(wl, exp, a.work.resolve(s"cycle-$i"), a.trace, i)
        c.run(Some(a.inject).filter(_ => cycles.isEmpty))
        log(c.summary)
        cycles += c
      }
      val probesAfter = if (a.trace) Some(Probes.measure(spark, cpus)) else None

      val attempted = cycles.map(_.attempted).sum
      val failed = cycles.map(_.failed).sum
      cycles.flatMap(_.failures).foreach(f => log(s"FAILED: $f"))
      // a failed pass leaves no sample: a metric without any is left out
      // of the result (which then reads correct: false), never reported
      // from a failed pass
      def median(name: String, unit: String, xs: Seq[Double]) =
        Stats.median(xs).map(v => (name, v, unit)).toSeq
      val cs = cycles.toSeq
      val metrics: Seq[(String, Double, String)] =
        if (!a.trace)
          median("setup_s", "s", setups) ++
            Passes.flatMap(p => median(s"${p}_s", "s", cs.flatMap(_.walls.get(p)))) ++
            median("store_mb", "MB", cs.flatMap(_.storeMb)) ++
            median("live_heap_mb", "MB", cs.flatMap(_.liveHeapMb)) :+
            (("ok_frac", 1.0 - failed.toDouble / attempted, "ratio"))
        else {
          tracer.drain()
          tracer.writeJsonl(a.out.resolve("traces").resolve(s"${a.workload}-seed${a.seed}.jsonl"))
          Layers.metrics(cs, tracer) ++ probesBefore.toSeq.flatMap(Probes.report(_, "before")) ++
            probesAfter.toSeq.flatMap(Probes.report(_, "after")) ++
            median("trace.overhead", "ratio", cs.flatMap(_.overhead))
        }
      val body = metrics.map { case (k, v, u) =>
        s""""$k": {"value": ${Stats.num(v)}, "unit": "$u"}""" }.mkString(", ")
      s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
    } finally {
      spark.stop()
      Fs.deleteRecursively(a.work)
    }
  }

  def session(cpus: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("loaderbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** What the measured passes must report, from the model: what every call
  * writes, the counters each pass's calls return, and the store's rows and
  * edges after the last pass. Computed once, before any pass, so the model
  * does not grow the heap while the passes run.
  */
final class Expect(corpus: Corpus) {
  private val shape = corpus.shape
  val written: Map[(String, Call), Written] = {
    val ncit = corpus.inputs.collect { case (k @ (_, c), in) if c.kind == "ncit" =>
      k -> Model.ncit(in.ncit) }
    // the hotspots see the primaries of the NCIt loads they depend on as
    // their disease dimension
    def diseases(c: Call): Set[String] = ncit.collect {
      case (("base", n), w) if c.deps.contains(n.name) =>
        w.rows("terms").collect { case (k, v) if v(2) == false => k.head.toString }
    }.flatten.toSet
    ncit ++ corpus.inputs.collect {
      case (k @ (_, c), in) if c.kind == "hotspots" =>
        k -> Model.hotspots(in.hotspots, diseases(c))
      case (k @ (_, c), in) if c.kind == "fusions" =>
        k -> Model.fusions(in.fusions, Gen.fusionDiseases.toMap)
    }
  }
  private val state = new Model.State
  /** Per pass, in order, each call's model counters. */
  val counters: Map[String, Seq[(Call, Map[String, Long])]] = Main.Passes.map { pass =>
    pass -> shape.callsFor(pass).map(c => c -> state(written((shape.version(pass), c))))
  }.toMap
  val tables: Map[String, Map[Seq[Any], (Cols, Seq[Any])]] = state.tables.toMap
  val edges: Set[(String, String, String)] = state.edges

  def records(version: String, c: Call): Long = corpus.records(version, c)
}

object Stats {
  def median(xs: Seq[Double]): Option[Double] =
    if (xs.isEmpty) None
    else {
      val s = xs.sorted
      Some(if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2)
    }

  /** `q`-quantile by linear interpolation (q in [0, 1]). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
