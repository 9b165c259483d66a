package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared plumbing of the query registry: table readers, the quantized
  * ANN corpus/query frames, the shared persisted indexes, and the
  * exact-quantile/fixture builders every registry file composes. Split
  * out of SparkEntry (round 14) so the per-package registries (QueriesRef
  * / QueriesLlm / QueriesStreaming and their oracle twins) stay
  * reviewable; `private[graft]` keeps the driver contract surface exactly
  * {entry, queries, oracleSql}.
  */
private[graft] object EntryHelpers {

  /** How `Bench` times a registry row, declared where the row is defined:
    * [[Scaled]] rows read inputs that grow with sf and are timed one by
    * one (median of interleaved reps); [[Fixture]] rows build constant-cost
    * grammar/golden frames and [[Loader]] rows run a loader pipeline with
    * its store round-trips, timed in `fixtures_bucket` and `loaders_bucket`.
    */
  sealed trait Timing
  case object Scaled extends Timing
  case object Fixture extends Timing
  case object Loader extends Timing

  /** A registry row: the frame it builds and how `Bench` times it. */
  final case class Timed(timing: Timing, run: (SparkSession, String) => DataFrame)

  def scaled(run: (SparkSession, String) => DataFrame): Timed = Timed(Scaled, run)
  def fixture(run: (SparkSession, String) => DataFrame): Timed = Timed(Fixture, run)
  def loader(run: (SparkSession, String) => DataFrame): Timed = Timed(Loader, run)

  /** Exact order-independent sum for 2-decimal money values: per-row the
    * double product is within 1e-10 of a 4-decimal grid point, so the
    * decimal(18,4) cast is deterministic; decimal addition is exact.
    */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** EXACT percentiles over the value DOMAIN histogram — the audit
    * companion of `Sketches.histQuantiles`: group values (per key),
    * cumulate mass over the distinct-value window (bounded by value
    * cardinality, never a row-global sort), and pick the first value
    * whose cumulative mass reaches `q`% of the key's total. `mass` is
    * the aggregate each value contributes — `count(lit(1))` for plain
    * percentiles, `sum(weightCol)` for weighted ones. One definition
    * shared by every quantile audit row so the pick algebra cannot
    * drift between them.
    */
  def exactValueQuantiles(d: DataFrame, keyCols: Seq[String],
      vCol: String, mass: Column, qs: Seq[Int]): DataFrame = {
    val spark = d.sparkSession
    import spark.implicits._
    val keyed = if (keyCols.nonEmpty) d else d.withColumn("__g", lit(1))
    val keys = if (keyCols.nonEmpty) keyCols else Seq("__g")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(vCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val vh = keyed.groupBy((keys :+ vCol).map(col): _*).agg(mass.as("__c"))
    val cum = vh.withColumn("__cum", sum(col("__c")).over(w))
      .join(vh.groupBy(keys.map(col): _*).agg(sum(col("__c")).as("__n")),
        keys)
    broadcast(qs.toDF("q")).crossJoin(cum)
      .filter(col("__cum") * 100 >= col("q") * col("__n"))
      .groupBy((keys :+ "q").map(col): _*)
      .agg(min(col(vCol)).as("exact_v"))
      .drop("__g")
  }

  /** The synthetic arithmetic-neighbour doc link graph shared by the
    * graph-analytics rows (PageRank / TrustRank / communities / seed
    * distance) — the ENGINE twin of the oracle-side `graphCtes`; any
    * edge-formula change must land in BOTH or every graph row fails its
    * oracle.
    */
  def docGraphEdges(docs: DataFrame): DataFrame = {
    val n = docs.agg(count(lit(1)).as("__n"))
    val base = docs.crossJoin(broadcast(n))
    base.select(col("doc_id").as("src"),
        expr("(doc_id * 7 + 3) % __n").as("dst"))
      .unionByName(base.select(col("doc_id").as("src"),
        expr("(doc_id * 13 + 5) % __n").as("dst")))
      .unionByName(base.filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("src"),
          expr("(doc_id * 3 + 1) % __n").as("dst")))
  }

  /** The embeddings corpus in quantized (nid, vq, norm2) form — the input
    * every ANN row starts from.
    */
  def annCorpus(s: SparkSession, dir: String): DataFrame =
    llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
      .select(col("vec_id").as("nid"), col("vq"), col("norm2"))

  /** The `% 50 === 0` ANN query batch (qid, vq, norm2). */
  def annQueries(s: SparkSession, dir: String): DataFrame =
    llm.Ann.withQuantized(t(s, dir, "embeddings"), "embedding")
      .filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("qid"), col("vq"), col("norm2"))

  /** On-disk location for the shared IVF-PQ index over `dir`'s embeddings
    * table, keyed by a fingerprint of the parquet bytes (total length +
    * max mtime): regenerated testdata gets a fresh key, so a stale index
    * can never serve a changed corpus. Override the base with
    * SPARK_GRAFT_INDEX_DIR (default `target/graft-index` under the
    * project, never outside the repo).
    */
  def annIndexPath(dir: String, kind: String = "ivfpq_v1",
      table: String = "embeddings"): String = {
    def fp(f: java.io.File): (Long, Long) =
      if (f.isDirectory)
        Option(f.listFiles()).getOrElse(Array.empty).map(fp)
          .foldLeft((0L, 0L)) { case ((l, m), (l2, m2)) =>
            (l + l2, math.max(m, m2))
          }
      else (f.length(), f.lastModified())
    val (len, mtime) = fp(new java.io.File(s"$dir/$table.parquet"))
    val key = Integer.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(s"$dir|$len|$mtime"))
    val base = sys.env.getOrElse("SPARK_GRAFT_INDEX_DIR", "target/graft-index")
    s"$base/${kind}_$key"
  }

  /** Build-once with an ATOMIC publish, shared by every persisted-index
    * helper: builders serialize on an OS file lock (plus a per-path JVM
    * monitor — FileChannel locks don't nest within one JVM), re-check the
    * `_GRAFT_OK` marker under the lock, build into a sibling temp
    * directory with the marker INSIDE it, and rename into place in one
    * filesystem move. A reader can never observe a partially-written
    * index (the rename is atomic), and a late builder can never delete a
    * concurrently published one (replacement of a stale partial only
    * happens while holding the lock, after re-checking the marker) — the
    * two races the previous check-then-build / blind-recover versions
    * had. Losers of the lock wait, see the winner's marker, and build
    * nothing.
    */
  private val buildMonitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def ensureBuilt(path: String)(build: String => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
    import scala.jdk.CollectionConverters._
    val target = Paths.get(path).toAbsolutePath
    if (Files.exists(target.resolve("_GRAFT_OK"))) return
    Files.createDirectories(target.getParent)
    val monitor =
      buildMonitors.computeIfAbsent(target.toString, _ => new Object)
    monitor.synchronized {
      val lockPath = target.getParent
        .resolve(target.getFileName.toString + ".lock")
      val ch = java.nio.channels.FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        val lock = ch.lock() // blocks until any concurrent builder finishes
        try {
          if (Files.exists(target.resolve("_GRAFT_OK"))) return
          // reclaim orphan temp dirs a hard-killed builder of THIS target
          // left behind (the in-process finally can't run across a crash).
          // The prefix carries the target name so a CONCURRENT builder of
          // a sibling target in the same parent is never touched — and a
          // live builder of this target is impossible here (we hold its
          // lock).
          val tmpPrefix = ".build_" + target.getFileName.toString + "_"
          val siblings = Files.list(target.getParent)
          // exact-target match, not prefix-based: createTempDirectory's
          // random suffix never contains '_', so a remainder WITH one
          // belongs to a DIFFERENT target whose name extends this one
          // (e.g. targets "idx" and "idx_c" in the same parent — a live
          // builder of the longer name must never be reclaimed by a
          // builder of the shorter one)
          try siblings.iterator().asScala
            .filter { p =>
              val n = p.getFileName.toString
              n.startsWith(tmpPrefix) &&
                !n.drop(tmpPrefix.length).contains('_')
            }
            .foreach(p => core.Fs.deleteRecursively(p))
          finally siblings.close()
          val tmp = Files.createTempDirectory(target.getParent, tmpPrefix)
          try {
            build(tmp.toString)
            Files.write(tmp.resolve("_GRAFT_OK"), Array.emptyByteArray)
            // under the lock and marker-free: anything at the target is a
            // stale partial from a pre-lock crash — safe to replace
            core.Fs.deleteRecursively(target)
            Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
          } finally if (Files.exists(tmp)) core.Fs.deleteRecursively(tmp)
        } finally lock.release()
      } finally ch.close()
    }
  }

  /** Build the shared IVF-PQ index (coarse k-means step=25/iters=2 +
    * 2-subspace PQ codebooks + codes) and persist it to parquet — the
    * ONE-TIME index build of the production lifecycle. Returns the path.
    */
  def buildSharedAnnIndex(s: SparkSession, dir: String): String = {
    val path = annIndexPath(dir)
    ensureBuilt(path) { tmp =>
      llm.Ann.buildIvfPqIndex(annCorpus(s, dir), step = 25, iters = 2).save(tmp)
    }
    path
  }

  /** Build-once/probe-many: load the shared IVF-PQ index, building it
    * first only if this corpus fingerprint has never been built (so the
    * probe rows never retrain the quantizer in-query — the cost moves to
    * the one `llm_ann_index_build` row, exactly like a standing index in
    * production). Training is deterministic, so the loaded index is
    * bit-identical to what in-query training would produce and every
    * oracle's training replay still matches.
    */
  def sharedAnnIndex(s: SparkSession, dir: String): llm.Ann.IvfPqIndex = {
    val path = buildSharedAnnIndex(s, dir) // no-op when already published
    llm.Ann.IvfPqIndex.load(s, path)
  }

  /** The shared SQ8 index (trained bounds + 8-bit corpus codes), same
    * fingerprint-keyed build-once/load-many lifecycle as
    * [[sharedAnnIndex]] — the SQ rows probe the LOADED index instead of
    * retraining bounds and re-encoding the corpus per call. Deterministic
    * integer training keeps every oracle's inline replay valid.
    */
  def sharedSqIndex(s: SparkSession, dir: String): llm.Ann.SqIndex = {
    val path = annIndexPath(dir, kind = "sq_v1")
    ensureBuilt(path)(tmp => llm.Ann.buildSqIndex(annCorpus(s, dir)).save(tmp))
    llm.Ann.SqIndex.load(s, path)
  }

  /** The cell-PARTITIONED IVF-PQ code layout on disk (one directory per
    * coarse cell), same fingerprint-keyed build-once lifecycle as the
    * indexes — the physical layout [[llm.Ann.ivfPqSearchPruned]] prunes.
    */
  def sharedCellLayout(s: SparkSession, dir: String): String = {
    val path = annIndexPath(dir, kind = "ivfcell_v1")
    ensureBuilt(path)(tmp =>
      llm.Ann.writeCellLayout(sharedAnnIndex(s, dir), s"$tmp/layout"))
    s"$path/layout"
  }

  /** The shared BM25 inverted index over `dir`'s documents table
    * (postings + lengths + df + stats), fingerprint-keyed build-once —
    * the keyword-retrieval twin of [[sharedAnnIndex]]: probe rows read
    * the persisted postings instead of re-tokenizing the corpus per call.
    */
  def sharedInvIndex(s: SparkSession, dir: String): llm.Retrieval.InvIndex = {
    // v4: v3 (banded postings + max-impact bounds) plus the doc-banded
    // forward projection (the PRF expand's pruned access path)
    val path = annIndexPath(dir, kind = "bm25_v4", table = "documents")
    ensureBuilt(path)(tmp =>
      llm.Retrieval.buildInvIndex(t(s, dir, "documents"), "doc_id", "text")
        .save(tmp))
    llm.Retrieval.InvIndex.load(s, path)
  }

  /** The shared POSITIONAL index over `dir`'s documents table (banded
    * positional postings + indexed-id table), fingerprint-keyed
    * build-once — the phrase-search twin of [[sharedInvIndex]]: the
    * phrase row probes the persisted layout (partition-pruned to the
    * query bands) instead of re-tokenizing the corpus per call.
    */
  def sharedPosIndex(s: SparkSession, dir: String): llm.Retrieval.PosIndex = {
    val path = annIndexPath(dir, kind = "pos_v1", table = "documents")
    ensureBuilt(path)(tmp =>
      llm.Retrieval.buildPosIndex(t(s, dir, "documents"), "doc_id", "text")
        .save(tmp))
    llm.Retrieval.PosIndex.load(s, path)
  }

  /** Salted contamination fixture (llm_decontaminate; the report row
    * builds its own two-benchmark variant of the same shape inline):
    * eval split (`doc_id % 100 == 0`), 12-word snips keyed by ref, and a
    * leak into train docs whose `doc_id % 20` hits one of `leakMods`.
    */
  def contaminationFixture(s: SparkSession, dir: String,
      leakMods: Seq[Int]): (DataFrame, DataFrame) = {
    val docs = t(s, dir, "documents")
    val evalSet = docs.filter(col("doc_id") % 100 === 0)
      .select(col("doc_id"), col("text").as("text2"))
    val snips = evalSet.select((col("doc_id") / 100).cast("long").as("ref"),
      expr("array_join(slice(split(lower(text2), ' '), 1, 12), ' ')").as("snip"))
    val leak = leakMods.map(m => col("doc_id") % 20 === m).reduce(_ || _)
    val train = docs.filter(col("doc_id") % 100 =!= 0)
      .withColumn("ref", col("doc_id") % 5)
      .join(broadcast(snips), Seq("ref"))
      .withColumn("text2",
        when(leak, concat(col("text"), lit(" "), col("snip")))
          .otherwise(col("text")))
    (train, evalSet)
  }

}
