package loaderbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.orchestrate.Orchestrator
import graft.sources.{CancerHotspots, CosmicFusions, NcitLoad}

/** One loader call of a pass: `slice` picks its share of the events. */
case class Call(name: String, kind: String, slice: Int, deps: Seq[String])

/** A workload: its loader calls, all writing one store, the calls the
  * replay and refresh passes rerun, and the events each call takes. With
  * dependencies the calls run as one orchestrated DAG; without, one after
  * another.
  */
case class Shape(calls: Seq[Call], rerun: Set[String], records: Int) {
  require(records % 6 == 0, "records must be a multiple of 6")
  val dag: Boolean = calls.exists(_.deps.nonEmpty)
  val kinds: Seq[String] = Kinds.all.filter(k => calls.exists(_.kind == k))
  val slices: Int = calls.map(_.slice).max + 1
  /** Events in the base corpus; a multiple of 6 so refresh concepts start
    * fresh NCIt name groups (`id / 3`).
    */
  def events: Int = slices * records
  /** About 1% of a slice: how many records a refresh changes and adds. */
  def delta: Int = math.max(1, records / 100)
  /** A load runs every call; a replay or refresh reruns the calls whose
    * sources re-delivered the same files (replay) or a delta (refresh),
    * as a scheduler reruns the rules whose inputs were touched.
    */
  def callsFor(pass: String): Seq[Call] =
    if (pass == "load") calls else calls.filter(c => rerun(c.name))
  def version(pass: String): String = if (pass == "refresh") "refresh" else "base"
}

object Kinds {
  val all: Seq[String] = Seq("ncit", "hotspots", "fusions")
  /** Store counter → model counter, per loader kind. */
  val counters: Map[String, Seq[(String, String)]] = Map(
    "ncit" -> Seq("create" -> "terms.create", "update" -> "terms.update",
      "edges_created" -> "edges.create"),
    "hotspots" -> Seq("create" -> "variants.create", "update" -> "variants.update",
      "statements_create" -> "statements.create",
      "statements_update" -> "statements.update", "edges_created" -> "edges.create"),
    "fusions" -> Seq("create" -> "variants.create", "update" -> "variants.update",
      "statements_create" -> "statements.create",
      "statements_update" -> "statements.update", "edges_created" -> "edges.create"))
  /** The loader's own rejected-record counter (NCIt reports none). */
  val rejected: Map[String, String] = Map("hotspots" -> "record_errors",
    "fusions" -> "error")
}

/** Generated inputs of one workload, per version (`base`, `refresh`) and
  * call: the base feeds every call, the refresh only the rerun ones.
  */
final class Corpus(val shape: Shape, seed: Long) {
  private val rng = new scala.util.Random(seed)
  private val n = shape.events
  val fusionKeys: Long = math.max(n / 50, 1).toLong
  private val base = Gen.events(n, rng)
  /** Refresh: `delta` changed ids per slice, `delta` new events per slice. */
  private val slices: Seq[Seq[Long]] =
    rng.shuffle((0L until n).toVector).grouped(shape.records).toSeq
  private val changed = slices.flatMap(s => rng.shuffle(s).take(shape.delta)).toSet
  private val added = Gen.events(shape.delta * shape.slices, rng, from = n.toLong)
    .grouped(shape.delta).toSeq
  private val eventById = base.map(e => e.id -> e).toMap

  def callsOf(version: String): Seq[Call] =
    shape.callsFor(if (version == "base") "load" else "refresh")

  val inputs: Map[(String, Call), Inputs] = (for {
    version <- Seq("base", "refresh")
    c <- callsOf(version)
  } yield {
    val ev = slices(c.slice).sorted.map(eventById) ++
      (if (version == "refresh") added(c.slice) else Nil)
    (version, c) -> Gen.inputs(c.kind, ev, fusionKeys,
      if (version == "refresh") changed else Set.empty)
  }).toMap

  /** Write the inputs the loaders read: one parquet file per version and
    * kind, with a `slice` column.
    */
  def write(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    for (version <- Seq("base", "refresh"); (kind, calls) <- callsOf(version).groupBy(_.kind)) {
      val path = dir.resolve(s"$kind-$version.parquet").toString
      val ins = calls.map(c => (c.slice, inputs((version, c))))
      val df = kind match {
        case "ncit" => ins.flatMap { case (i, in) => in.ncit.map(r => (i, r)) }.toDF("slice", "r")
        case "hotspots" => ins.flatMap { case (i, in) => in.hotspots.map(r => (i, r)) }.toDF("slice", "r")
        case _ => ins.flatMap { case (i, in) => in.fusions.map(r => (i, r)) }.toDF("slice", "r")
      }
      df.select("slice", "r.*").coalesce(1).write.mode("overwrite").parquet(path)
    }
  }

  def records(version: String, c: Call): Long = inputs((version, c)).size.toLong
}

/** The result of one pass: wall time, per-call status and counters. */
case class PassResult(wallS: Double, calls: Seq[(Call, Either[String, Map[String, Long]])])

final class Workload(val shape: Shape, val spark: SparkSession, inputDir: Path,
    val tracer: Tracer, cpus: Int) {
  import spark.implicits._

  private def input(version: String, c: Call): DataFrame =
    spark.read.parquet(inputDir.resolve(s"${c.kind}-$version.parquet").toString)
      .filter(col("slice") === c.slice).drop("slice")

  private lazy val hotspotDims = (
    Gen.hotspotGenes.toDF("sourceId"),
    Gen.hotspotChroms.toDF("sourceId", "name"),
    Gen.hotspotTranscripts.toDF("sourceId", "biotype"),
    Gen.hotspotVocab.toDF("name", "term_id"))
  private lazy val fusionDiseases = Gen.fusionDiseases.toDF("name", "sourceId")

  /** Run one loader call on the given input version. */
  def runCall(c: Call, version: String, store: PersistentGraphStore): Map[String, Long] =
    tracer.span("sources", c.name) {
      val in = input(version, c)
      c.kind match {
        case "ncit" => NcitLoad.loadFrom(spark, store, in)
        case "hotspots" =>
          val (genes, chroms, tx, vocab) = hotspotDims
          // the disease dimension is the NCIt terms loaded a level
          // earlier, read back through the store
          val diseases = store.read("terms").get.filter(!col("alias"))
            .select(col("sourceId")).distinct()
          CancerHotspots.loadDs(spark, store, in.as[CancerHotspots.HotspotRecord],
            genes, chroms, tx, diseases, vocab)
        case _ => CosmicFusions.loadDf(spark, store, in, fusionDiseases)
      }
    }

  /** One timed pass into `store`. `version(c)` picks the input version per
    * call; `fail(c)` injects a throwing loader.
    */
  def pass(pass: String, store: PersistentGraphStore, version: Call => String,
      fail: Call => Boolean = _ => false): PassResult = {
    val run = shape.callsFor(pass)
    def body(c: Call): Map[String, Long] = {
      if (fail(c)) throw new IllegalStateException(s"injected failure in ${c.name}")
      runCall(c, version(c), store)
    }
    val t0 = System.nanoTime()
    val results: Seq[(Call, Either[String, Map[String, Long]])] =
      if (!shape.dag) run.map { c =>
        c -> (try Right(body(c)) catch { case e: Exception => Left(e.toString) })
      } else {
        val names = run.map(_.name).toSet
        val report = tracer.span("orchestrate", "Orchestrator.run") {
          Orchestrator.run(spark,
            run.map(c => Orchestrator.Loader(c.name, c.deps.filter(names), _ => body(c))),
            parallelism = cpus,
            beforeLevel = () => store.pinVersions(),
            afterLevel = () => store.unpinVersions())
        }
        store.vacuumAll()
        run.map(c => c -> (report.statuses(c.name) match {
          case Orchestrator.Succeeded(counts) => Right(counts)
          case other => Left(other.toString)
        }))
      }
    PassResult((System.nanoTime() - t0) / 1e9, results)
  }
}

object StoreFiles {
  /** Relative paths of version directories and parquet files under `root`,
    * and the bytes of all files.
    */
  def listing(root: Path): (Set[String], Set[String], Long) = {
    if (!Files.exists(root)) return (Set.empty, Set.empty, 0L)
    val layers = Set.newBuilder[String]
    val files = Set.newBuilder[String]
    var bytes = 0L
    val stream = Files.walk(root)
    try stream.forEach { p =>
      val rel = root.relativize(p).toString
      if (Files.isDirectory(p) && p.getFileName.toString.startsWith("v=")) layers += rel
      else if (Files.isRegularFile(p)) {
        bytes += Files.size(p)
        if (rel.endsWith(".parquet")) files += rel
      }
    } finally stream.close()
    (layers.result(), files.result(), bytes)
  }
}
