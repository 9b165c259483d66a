package graft.core

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.core.Cached.withCached

/** Parquet-backed persistent graph store: vertices and edges survive the
  * job, and re-running the same merge is a no-op (idempotent upsert —
  * reference `addRecord` graphkb.js:545-612 made set-based).
  *
  * Layout — bucketed version layers, the Delta/Iceberg MERGE pattern
  * without the table format:
  *
  * {{{
  * <root>/<table>/_meta.json            # nBuckets + bucketCols, fixed at creation
  * <root>/<table>/v=00001/_SUCCESS
  * <root>/<table>/v=00001/__b=0/part-*.parquet
  * <root>/<table>/v=00001/__b=7/part-*.parquet
  * <root>/<table>/v=00002/__b=7/...     # only the buckets THIS merge touched
  * }}}
  *
  * Rows are hash-bucketed by the table's natural key
  * (`pmod(xxhash64(key...), nBuckets)`). A version directory contains only
  * the buckets its merge rewrote; a reader resolves, per bucket, the
  * newest version that wrote it and unions those leaf directories. Since a
  * key always lands in the same bucket, an upsert merge only needs to READ
  * the buckets the incoming batch touches and only WRITES the buckets the
  * batch actually CHANGES (non-noop action, or a noop whose carry columns
  * differ — the classify output carries a per-row rewrite flag): an
  * idempotent replay writes no layer at all, and a trickle update rewrites
  * one bucket, not every touched one — at 100 TB the per-batch write cost
  * is O(changed buckets), not O(touched buckets) or O(table). Stored set
  * columns are always sorted (first write included), so the rewrite flag's
  * normalized comparison equals a stored-bytes comparison.
  *
  * A replayed batch costs only its discovery. Every upsert records, in
  * `<table>/_replay`, its batch digest, the buckets it touched, the table
  * version after it and the counters a replay of it returns. When the
  * same batch arrives again with the same schema, keys, set columns and
  * compare columns, touches the same buckets, and no version newer than
  * the recorded one holds one of those buckets or is a `_FULL` snapshot
  * (compaction, soft delete), the table still holds what that call left
  * there: the upsert returns the recorded counters and runs no stored
  * read, classify or write. The digest is the row count plus two
  * independent 64-bit sums of a per-row hash whose input encodes the row
  * exactly (every null flag, nested ones and array lengths included, see
  * [[PersistentGraphStore.digest]]); a different batch of the
  * same row count passes for the recorded one only if both sums collide,
  * about 2^-128 for hashes that behave as random functions (not a defence
  * against crafted input). The record is replaced by one atomic rename
  * after each upsert; a crash before it, or a lost, torn or garbled record,
  * only costs the next replay the full path, since every entry is checked
  * against the published versions before it is trusted.
  *
  * Soft-delete merges (absent key ⇒ tombstone) inherently compare the full
  * key set, so they read and rewrite every bucket — that cost is in the
  * semantics, not the layout.
  *
  * Crash safety: readers only consider version directories with a
  * `_SUCCESS` marker, so a torn write is invisible. Audit-counter caveat:
  * a pruned merge never scans untouched buckets, so their retained rows
  * are not counted as `noop`.
  *
  * Concurrent writes: [[writeAll]] is a loader's whole store phase. It
  * takes writes that do not read one another's tables, runs the writes to
  * different tables at once through [[Concurrent.all]] (one lane per
  * table, each table's writes in the order given) and returns the
  * loader's one flat counter map. A small write is mostly fixed per-job
  * cost (bucket discovery, planning, a handful of tiny tasks), so one
  * write alone leaves most task slots idle; overlapped writes fill them.
  *
  * Write-stage width: the shuffle in front of every layer write has
  * `min(buckets it holds, defaultParallelism)` partitions, hash-partitioned
  * on the bucket id. Each bucket is in exactly one task, so a layer has one
  * file per bucket; two buckets may share a task (hashing 32 bucket ids
  * into 32 partitions leaves about 1/e of them empty). Each write task pays
  * a fixed cost (deserializing the write job's Hadoop configuration,
  * 50-75 ms on 4 cores) whether it writes one bucket or several, so more
  * tasks than slots only queue that cost.
  */
class PersistentGraphStore(spark: SparkSession, root: String, nBuckets: Int = 32,
    compactEvery: Int = 64) {
  import PersistentGraphStore.{Edges, Merge, Write}

  private def tableDir(table: String) = s"$root/$table"

  /** Partitions of the bucket shuffle in front of a layer write holding
    * rows of `buckets` buckets, capped at the slot count. Hash partitioning
    * keeps each bucket in one task but may put two buckets in one task.
    */
  private def writeWidth(buckets: Int): Int =
    math.max(1, math.min(buckets, spark.sparkContext.defaultParallelism))

  // ---- per-table write serialization --------------------------------------
  // Concurrent loaders (level-parallel orchestration, each with its own
  // writeAll batches) may target the SAME table; version allocation is
  // read-latest+1, so unsynchronized writers would both claim v=N+1 and
  // one layer would vanish. A per-table monitor serializes mutators per
  // table while leaving writes to DIFFERENT tables fully concurrent.
  // Driver-side only — one store instance per JVM owns a root;
  // multi-driver coordination is a table-format concern (Delta/Iceberg),
  // out of scope here.
  private val tableLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def lockFor(table: String): Object =
    tableLocks.computeIfAbsent(table, _ => new Object)

  // ---- per-table bucketing metadata --------------------------------------

  private case class Meta(nBuckets: Int, bucketCols: Seq[String])

  private def metaPath(table: String) = Paths.get(tableDir(table), "_meta.json")

  private def readMeta(table: String): Option[Meta] = {
    val p = metaPath(table)
    if (!Files.exists(p)) None
    else {
      val s = new String(Files.readAllBytes(p), "UTF-8")
      val n = """"nBuckets"\s*:\s*(\d+)""".r.findFirstMatchIn(s).get.group(1).toInt
      val cols = """"bucketCols"\s*:\s*\[([^\]]*)\]""".r.findFirstMatchIn(s).get
        .group(1).split(",").map(_.trim.stripPrefix("\"").stripSuffix("\""))
        .filter(_.nonEmpty).toSeq
      Some(Meta(n, cols))
    }
  }

  /** Resolve (or create) the table's bucketing; the natural key must be
    * stable across merges — pruning is only sound when every merge buckets
    * by the same columns.
    */
  private def metaFor(table: String, bucketCols: Seq[String]): Meta =
    readMeta(table) match {
      case Some(m) =>
        require(m.bucketCols == bucketCols,
          s"table '$table' is bucketed by ${m.bucketCols.mkString(",")}; " +
            s"merge keyed by ${bucketCols.mkString(",")} cannot prune safely")
        m
      case None =>
        val m = Meta(nBuckets, bucketCols)
        Files.createDirectories(Paths.get(tableDir(table)))
        Files.write(metaPath(table),
          (s"""{"nBuckets": ${m.nBuckets}, "bucketCols": [""" +
            m.bucketCols.map("\"" + _ + "\"").mkString(", ") + "]}")
            .getBytes("UTF-8"))
        m
    }

  private def bucketExpr(m: Meta): Column =
    pmod(xxhash64(m.bucketCols.map(col): _*), lit(m.nBuckets))

  // ---- version / bucket resolution ---------------------------------------

  private def versions(table: String): Seq[(Int, String)] =
    Fs.list(Paths.get(tableDir(table))).collect {
      case p if p.getFileName.toString.startsWith("v=") &&
          Files.exists(p.resolve("_SUCCESS")) =>
        (p.getFileName.toString.drop(2).toInt, p.toString)
    }.sortBy(_._1)

  private def tables: Seq[String] =
    Fs.list(Paths.get(root)).filter(Files.isDirectory(_)).map(_.getFileName.toString)

  def latestVersion(table: String): Option[Int] = versions(table).lastOption.map(_._1)

  /** Snapshot isolation for level-concurrent orchestration: while a pin
    * is set (per thread-crossing @volatile), PUBLIC [[read]] resolves
    * against the version listing captured at pin time — same-level
    * sibling writes allocate new versions as usual but stay invisible
    * until the next pin. This gives Snakemake semantics independent of
    * thread interleaving: a level sees exactly its predecessors'
    * completed outputs. INTERNAL reads (merge classify, edge anti-join,
    * compaction, [[readLatest]]) always see the latest state — two
    * same-level loaders merging one table are serialized by the table
    * lock and the second's classify MUST include the first's rows, or
    * its bucket rewrite would drop them.
    */
  @volatile private var pinnedVersions: Option[Map[String, Int]] = None

  /** Capture the current per-table version ceiling for public reads. */
  def pinVersions(): Unit =
    pinnedVersions = Some(
      tables.map(t => t -> versions(t).lastOption.map(_._1).getOrElse(-1)).toMap)

  def unpinVersions(): Unit = pinnedVersions = None

  /** Version listing as PUBLIC reads see it: pin-filtered when pinned
    * (a table created after the pin reads as absent).
    */
  private def visibleVersions(table: String): Seq[(Int, String)] =
    pinnedVersions match {
      case Some(p) => versions(table).filter(_._1 <= p.getOrElse(table, -1))
      case None => versions(table)
    }

  private def leafDirs(table: String): Seq[(Int, String)] =
    leafDirsOf(visibleVersions(table))

  private def leafDirsLatest(table: String): Seq[(Int, String)] =
    leafDirsOf(versions(table))

  /** Per-bucket newest leaf directories: (bucketId, path), walking versions
    * newest-first so the first sighting of a bucket wins. A version marked
    * `_FULL` is a complete snapshot — buckets absent from it (and from any
    * newer layer) are EMPTY, not inherited: a soft-delete can empty a
    * bucket entirely, which the layering alone cannot represent.
    */
  private def leafDirsOf(vs: Seq[(Int, String)]): Seq[(Int, String)] = {
    val seen = scala.collection.mutable.Map.empty[Int, String]
    val newestFirst = vs.reverse.iterator
    var done = false
    while (newestFirst.hasNext && !done) {
      val (_, vPath) = newestFirst.next()
      Fs.list(Paths.get(vPath)).foreach { p =>
        val name = p.getFileName.toString
        if (name.startsWith("__b=")) {
          val b = name.drop(4).toInt
          if (!seen.contains(b)) seen(b) = p.toString
        }
      }
      done = Files.exists(Paths.get(vPath, "_FULL")) // full snapshot: stop layering
    }
    seen.toSeq.sortBy(_._1)
  }

  private def versionDir(table: String, v: Int) = Paths.get(f"${tableDir(table)}/v=$v%05d")

  /** The buckets the version directory `vDir` holds. */
  private def bucketsOf(vDir: java.nio.file.Path): Set[Int] =
    Fs.list(vDir).map(_.getFileName.toString)
      .collect { case n if n.startsWith("__b=") => n.drop(4).toInt }.toSet

  /** Per-dir schema cache: a published leaf directory is IMMUTABLE
    * (layers are staged and atomically renamed, never rewritten), so its
    * INFERRED schema is read once and cached — caching only what
    * inference returns keeps the cached path byte-identical to today's
    * (no write-plan-vs-parquet nullability drift). When every requested
    * dir carries the SAME schema (the overwhelmingly common case:
    * schema evolution only happens where different sources share a
    * table), the read passes that schema explicitly and Spark skips
    * footer inference; genuinely mixed schemas keep today's mergeSchema
    * path. Measured motivation: readDirs construction was ~10% of the
    * loader DAG's store time, and dimension tables are re-read by almost
    * every loader — only a NEW layer's dirs ever pay inference, once
    * each.
    */
  private val dirSchemaCache =
    new java.util.concurrent.ConcurrentHashMap[String, org.apache.spark.sql.types.StructType]()

  /** Schema of a leaf (`.../v=NNNNN/__b=K`) directory, cached per VERSION
    * directory: every bucket of a layer was written by one plan, so one
    * inference covers all 32 — per-bucket inference would pay a listing
    * per dir and LOSE to the single multi-dir read it replaces (measured:
    * readplan 10 → 41 s/pass on the first attempt). The version-dir read
    * sees the `__b=` partition column; strip it — a leaf-dir read does
    * not surface it.
    */
  private def dirSchema(dir: String): org.apache.spark.sql.types.StructType = {
    val vDir = dir.substring(0, dir.lastIndexOf('/'))
    dirSchemaCache.computeIfAbsent(vDir, d =>
      org.apache.spark.sql.types.StructType(
        spark.read.parquet(d).schema.fields.filterNot(_.name == "__b")))
  }

  /** Leaf dirs from more than one version layer may carry different
    * schemas (see merge's alignment) and need mergeSchema; a single
    * version's buckets share one schema, so the footer-merge cost is
    * skipped for the common post-compaction case.
    */
  private def readDirs(dirs: Seq[String]): DataFrame = {
    val schemas = dirs.map(dirSchema).distinct
    if (schemas.length == 1) spark.read.schema(schemas.head).parquet(dirs: _*)
    else {
      val versions = dirs.map(_.split("/").takeRight(2).head).distinct
      spark.read
        .option("mergeSchema", (versions.length > 1).toString)
        .parquet(dirs: _*)
    }
  }

  /** Latest table state (newest layer of every bucket), or None before the
    * first write. The bucket column is not materialized — it is derivable
    * from the key columns.
    */
  def read(table: String): Option[DataFrame] = {
    val dirs = leafDirs(table)
    if (dirs.isEmpty) None else Some(readDirs(dirs.map(_._2)))
  }

  /** Latest state regardless of any active pin — read-your-own-writes
    * semantics for a loader that merges a table and re-reads it within
    * one pinned level (e.g. fetch-fallback hydration).
    */
  def readLatest(table: String): Option[DataFrame] = {
    val dirs = leafDirsLatest(table)
    if (dirs.isEmpty) None else Some(readDirs(dirs.map(_._2)))
  }

  /** Read only the given buckets' newest layers — internal (merge/edge)
    * path, always latest: classify must see same-level sibling writes.
    */
  private def readBuckets(table: String, buckets: Set[Int]): Option[DataFrame] = {
    val dirs = leafDirsLatest(table).collect { case (b, p) if buckets(b) => p }
    if (dirs.isEmpty) None else Some(readDirs(dirs))
  }

  /** Schema evolution: columns `cols` that `df` lacks are added as typed
    * nulls (type taken from `ref`). Lets several sources with different
    * payload columns share one class table — the classify comparison needs
    * its compare columns present on BOTH sides.
    */
  private def alignTo(df: DataFrame, ref: DataFrame, cols: Seq[String]): DataFrame =
    cols.filterNot(df.columns.contains).foldLeft(df) { (d, c) =>
      d.withColumn(c, lit(null).cast(ref.schema(c).dataType))
    }

  /** Buckets the incoming frame lands in, and the batch digest when the
    * batch has one — one global agg (at most nBuckets ints plus three
    * numbers): each task partial-aggs its slice, so the job ships
    * integers, not rows — the cheapest action that can materialize the
    * (persisted) incoming frame.
    */
  private def touchedBuckets(df: DataFrame, m: Meta,
      digest: Seq[Column]): (Set[Int], Option[String]) = {
    val r = df.agg(collect_set(bucketExpr(m).cast("int")).as("__bs"), digest: _*)
      .collect()(0)
    (r.getSeq[Int](0).toSet,
      if (digest.isEmpty) None else Some(PersistentGraphStore.digestOf(r.toSeq.tail)))
  }

  // ---- replay record --------------------------------------------------------
  // `<table>/_replay` lists the upserts whose result the table still
  // holds, one entry per line: the SHA-256 of the call's identity (batch
  // digest, batch schema, call shape), the table version after the call,
  // the touched buckets and the counters a replay returns. The last line
  // is the CRC32 of the lines before it, so a torn or garbled file reads
  // as empty. It is read and rewritten under the table lock only.

  private case class Entry(id: String, version: Int, buckets: Set[Int],
      counters: Map[String, Long]) {
    def line: String = Seq(id, version.toString, buckets.toSeq.sorted.mkString(","),
      counters.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")).mkString("\t")
  }

  private def recordPath(table: String) = Paths.get(tableDir(table), "_replay")

  private def crc(s: String): String = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes("UTF-8"))
    java.lang.Long.toHexString(c.getValue)
  }

  private def readRecord(table: String): Seq[Entry] =
    scala.util.Try {
      val text = new String(Files.readAllBytes(recordPath(table)), "UTF-8")
      val body = text.substring(0, text.lastIndexOf('\n', text.length - 2) + 1)
      require(text == body + crc(body) + "\n")
      body.split("\n").filter(_.nonEmpty).map { l =>
        val Array(id, v, bs, cs) = l.split("\t", -1)
        def csv(s: String) = s.split(",").filter(_.nonEmpty)
        Entry(id, v.toInt, csv(bs).map(_.toInt).toSet,
          csv(cs).map { kv => val Array(k, n) = kv.split("="); k -> n.toLong }.toMap)
      }.toSeq
    }.getOrElse(Nil)

  /** Does `table` still hold what `e`'s call left in its buckets? Its
    * version is published, and no newer version holds one of its buckets
    * or is a `_FULL` snapshot (compaction, soft delete).
    */
  private def holds(e: Entry, vs: Seq[(Int, String)]): Boolean =
    vs.exists(_._1 == e.version) && vs.filter(_._1 > e.version).forall { case (_, p) =>
      !Files.exists(Paths.get(p, "_FULL")) && (bucketsOf(Paths.get(p)) & e.buckets).isEmpty
    }

  /** Put `e` first in the record, dropping entries the table no longer
    * holds and any older entry of the same call; the file is replaced by
    * one atomic rename.
    */
  private def record(table: String, e: Entry): Unit = {
    val vs = versions(table)
    val kept = e +: readRecord(table).filter(o => o.id != e.id && holds(o, vs))
    val body = kept.take(PersistentGraphStore.RecordEntries).map(_.line + "\n").mkString
    val tmp = Paths.get(tableDir(table), ".tmp_replay")
    Files.write(tmp, (body + crc(body) + "\n").getBytes("UTF-8"))
    Files.move(tmp, recordPath(table), java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  // Negative result, kept for the record: fusing bucket discovery into
  // the write action for small tables (read ALL leaf dirs + in-plan
  // broadcast semi-join on the bucket id instead of the touchedBuckets
  // collect + driver-pruned read) LOST: write-action wall more than
  // doubled (103.9 s → 226.8 s over the two-pass DAG). Saving one driver
  // action per merge did not pay for reading every bucket directory per
  // merge (10-30× the file opens + mergeSchema footers on layered
  // fixtures) plus the extra broadcast exchange inside the write job.

  /** Write the next version layer. `df` must be the COMPLETE new content of
    * every bucket it contains rows for — buckets without rows keep their
    * previous layer, unless `full` marks this version as a complete
    * snapshot (then absent buckets are empty).
    */
  def write(table: String, df: DataFrame, bucketCols: Seq[String],
      full: Boolean = false): Int = {
    val m = metaFor(table, bucketCols)
    // co-locate each bucket's rows in ONE task before the dynamic-
    // partition write: the upstream classify join is partitioned by
    // key-hash, so without this every task holds rows of ~every
    // touched bucket and the writer opens (#tasks × #buckets) files —
    // measured 1049 files in one fixture edges layer, ~9 KB each, and
    // every later merge re-opens them all. The explicit partition
    // count keeps AQE from coalescing the shuffle; one narrow
    // batch-sized shuffle buys ≤ nBuckets well-sized files per layer,
    // which is also the layout readers want. (The AQE-coalescible
    // `repartition(col)` form serialized each tiny layer's
    // parquet-writer opens into ONE task — two-pass DAG wall 222 s →
    // 386-414 s. The width is therefore pinned at the slot count, see
    // [[writeWidth]], which keeps every slot opening files.)
    val plan = df.withColumn("__b", bucketExpr(m))
      .repartition(writeWidth(m.nBuckets), col("__b"))
    writeStaged(table, plan, full)(keep = true).get
  }

  /** Write an already-bucketed plan (`__b` column present and
    * repartitioned) to a STAGING directory, then publish it as the next
    * version layer iff `keep` — which is evaluated AFTER the write action
    * completes, so a caller can decide from an `Observation` folded into
    * the very write job whether the layer is worth keeping (the fused
    * classify+summarize+write path — one driver action instead of a
    * summary collect plus a conditional write).
    *
    * The staging name (`.tmp_v<n>`) never matches the `v=` prefix
    * [[versions]] lists, and publication is ONE atomic directory rename,
    * so concurrent readers can never observe a layer that is later
    * discarded — no transient-version race, no torn listing. A stale
    * staging dir (crashed predecessor) is reclaimed here: mutators of a
    * table are serialized by its lock, so any `.tmp_v` already present
    * when we start is an orphan.
    */
  private def writeStaged(table: String, plan: DataFrame, full: Boolean)(
      keep: => Boolean): Option[Int] = {
    val next = latestVersion(table).getOrElse(0) + 1
    val dir = versionDir(table, next)
    val tmp = Paths.get(s"${tableDir(table)}/.tmp_v$next")
    Fs.deleteRecursively(tmp)
    plan.write.partitionBy("__b").mode(SaveMode.Overwrite).parquet(tmp.toString)
    if (keep) {
      if (full) Files.createFile(tmp.resolve("_FULL"))
      Files.move(tmp, dir, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      Some(next)
    } else { Fs.deleteRecursively(tmp); None }
  }

  /** Fold every version layer of `table` into a single `_FULL` snapshot.
    * Unbounded layering is a small-files + driver-listing problem: after
    * thousands of incremental merges, `leafDirs` walks thousands of version
    * directories per read. Compaction resets that to one. The snapshot is
    * written (and `_SUCCESS`-committed) BEFORE any old layer is deleted, so
    * a crash mid-compact leaves a readable table.
    *
    * `prune = false` keeps the superseded layer directories on disk: any
    * lazy DataFrame previously returned by read()/readBuckets() and not yet
    * materialized still references those files, and deleting them
    * mid-session would throw FileNotFoundException at its eventual action.
    * Auto-compaction (inside merge/upsertEdges) therefore never prunes —
    * readers already stop at the `_FULL` layer, so the read-cost reset is
    * immediate — and callers reclaim the space with [[vacuum]] at a safe
    * point (e.g. the end of an orchestration run, when no outstanding
    * frames exist).
    *
    * Returns the snapshot's version number, or None for an empty table.
    */
  def compact(table: String, prune: Boolean = true): Option[Int] =
    lockFor(table).synchronized {
      readMeta(table).flatMap { m =>
        // latest, never the pinned view: folding only pinned layers into
        // a NEW top snapshot would drop same-level writes above the pin
        readLatest(table).map { cur =>
          val v = write(table, cur, m.bucketCols, full = true)
          if (prune) vacuum(table)
          v
        }
      }
    }

  /** Version number of the newest `_FULL` snapshot layer, if any — THE
    * live-layer boundary: readers walk only layers >= this, vacuum may
    * delete only layers < this.
    */
  private def newestSnapshot(vs: Seq[(Int, String)]): Option[Int] =
    vs.reverse.find { case (_, p) => Files.exists(Paths.get(p, "_FULL")) }
      .map(_._1)

  /** Delete every version layer superseded by the newest `_FULL` snapshot.
    * Only safe when no lazy DataFrame from an earlier read() is still
    * pending materialization — call at orchestration boundaries.
    */
  def vacuum(table: String): Unit = {
    val vs = versions(table)
    newestSnapshot(vs).foreach { snap =>
      vs.filter(_._1 < snap).foreach { case (_, p) => Fs.deleteRecursively(p) }
    }
  }

  /** [[vacuum]] over every table in the store. */
  def vacuumAll(): Unit = tables.foreach(vacuum)

  /** Compact when the layer count passes the threshold — called after
    * every merge so the amortized read cost stays O(1) layers. Never
    * prunes (see [[compact]]): superseded layers stay valid for any
    * outstanding lazy reads until an explicit [[vacuum]].
    */
  private def maybeCompact(table: String): Unit = {
    // only layers a reader actually walks count — superseded-but-unpruned
    // directories below the newest _FULL snapshot are invisible to leafDirs
    val vs = versions(table)
    val snap = newestSnapshot(vs).getOrElse(Int.MinValue)
    if (compactEvery > 0 && vs.count(_._1 >= snap.max(0)) >= compactEvery)
      compact(table, prune = false)
  }

  /** MERGE an incoming frame into `table` on `keyCols`: classify against
    * the current snapshot, persist the post-merge state, return audit
    * counters (created/updated/deleted/noop — K9).
    *
    * Upsert merges (softDelete = false) read and rewrite ONLY the buckets
    * the incoming batch touches. Soft-delete merges compare the full key
    * set (absence ⇒ tombstone), so they run over every bucket.
    *
    * A batch offers each key once, as [[upsertEdges]] enforces for edges.
    * Two rows of one key are both stored and then each join both stored
    * copies, so a full replay of such a batch counts more rows than its
    * buckets hold, and the skip of a replayed batch, which returns the
    * rows the recorded call left there, would count differently.
    */
  def merge(
      table: String,
      incoming: DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      setCols: Seq[String] = Nil,
      softDelete: Boolean = false): Map[String, Long] = {
    val payload = (compareCols ++ setCols).distinct
    def classified(current: Option[DataFrame]): DataFrame = current match {
      case Some(cur) =>
        GraphStore.classifyInternal(alignTo(cur, incoming, payload),
          incoming, keyCols, compareCols, setCols, softDelete)
      case None =>
        // nothing stored where the batch lands: pure creates. Set columns
        // are sorted here too, so "stored set columns are always sorted"
        // holds from layer one (the rewrite flag compares normalized
        // values against stored bytes).
        setCols.foldLeft(incoming)((d, c) => d.withColumn(c, sort_array(col(c))))
          .withColumn(GraphStore.ACTION, lit("create"))
          .withColumn(GraphStore.REWRITE, lit(true))
    }
    if (!softDelete)
      upsert(table, incoming, keyCols, setCols, s"merge|${compareCols.mkString(",")}",
        GraphStore.ACTIONS.map(a => a -> count(when(col(GraphStore.ACTION) === a, 1))),
        // every key of the batch is stored with the batch's values
        cs => Map("noop" -> cs.values.sum))(classified)
        .filter(_._2 != 0L)
    else lockFor(table).synchronized {
      // soft delete compares the FULL key set and its layer is a _FULL
      // snapshot carrying every bucket — a fused always-write would
      // rewrite the whole table even on an all-noop replay, so this path
      // summarizes first: one bounded action over the cached classify
      // output (≤ 4·nBuckets rows), then a conditional snapshot write,
      // under the same publish rule as [[upsert]]. `incoming` is
      // evaluated once here (no bucket discovery), so it is not persisted.
      val m = metaFor(table, keyCols)
      val rows = classified(readLatest(table))
      withCached(rows) {
        val cells = rows
          .groupBy(bucketExpr(m).cast("int").as("__b"), col(GraphStore.ACTION))
          .agg(count(lit(1)).as("n"),
            max(col(GraphStore.REWRITE).cast("int")).as("rw"))
          .collect()
        if (cells.exists(_.getInt(3) == 1)) {
          write(table, GraphStore.apply(rows.drop(GraphStore.REWRITE)),
            keyCols, full = true)
          maybeCompact(table)
        }
        cells.groupBy(_.getString(1)).view
          .mapValues(_.map(_.getLong(2)).sum).toMap.filter(_._2 != 0L)
      }
    }
  }

  /** The idempotent upsert both [[merge]] (without soft delete) and
    * [[upsertEdges]] run — the reference's `addRecord` / `edgeExists`
    * protocol, set-based:
    *
    *  1. Find the buckets `incoming` lands in. Once the table has a layer
    *     this runs BEFORE the table lock: it reads only the caller's
    *     frame and is a pure function of it, so it cannot go stale, and
    *     writers of one table overlap their discovery jobs instead of
    *     queueing for them. `incoming` is persisted for it, so an
    *     expensive upstream plan runs once for discovery and layer. If a
    *     sibling creates the table between the check and the lock, the
    *     discovery runs under the lock and evaluates `incoming` again —
    *     correct, marginally slower, rare.
    *     The same aggregate computes the batch digest (a first write has
    *     no discovery; its digest rides on the write's observation).
    *  2. Under the lock, which version allocation and sibling visibility
    *     need: if the table's replay record holds this call (same digest,
    *     schema and call shape, same touched buckets, no newer version
    *     holding one of them, no newer `_FULL` snapshot), return the
    *     recorded counters — steps 3 to 5 are skipped. Otherwise read the
    *     stored rows of the touched buckets only: a key always lands in
    *     the same bucket.
    *  3. `layer` turns them (None: nothing stored there) into the rows of
    *     those buckets after the upsert, each flagged with
    *     [[GraphStore.REWRITE]]: true iff persisting it changes stored
    *     bytes. From None every row must be flagged.
    *  4. One write action: the bucket shuffle, the per-bucket max of the
    *     flag, `counters` and the flag count observed on the write, and
    *     only buckets with a flagged row written — the others keep their
    *     previous layer, so the write cost is O(changed buckets), not
    *     O(touched buckets). Folding the counters into the write saves the
    *     summary job a collect-then-write shape needs, a measurable
    *     per-merge constant on DAGs of many tiny merges. The staged layer
    *     is published when a row rewrites: an idempotent replay, like an
    *     empty first write, publishes nothing.
    *  5. Record the call in the table's replay record, with the counters
    *     `replayed` derives from this call's: what the same batch returns
    *     when it arrives again at unchanged buckets.
    *
    * Returns each counter's value.
    */
  private def upsert(table: String, incoming: DataFrame, keyCols: Seq[String],
      setCols: Seq[String], shape: String, counters: Seq[(String, Column)],
      replayed: Map[String, Long] => Map[String, Long])(
      layer: Option[DataFrame] => DataFrame): Map[String, Long] = {
    val digest = PersistentGraphStore.digest(incoming.schema, setCols)
    def identity(d: String) = PersistentGraphStore.sha256(Seq(d, shape,
      incoming.schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}")
        .sorted.mkString(","), keyCols.mkString(","), setCols.mkString(",")).mkString("|"))
    val preDiscover = latestVersion(table).nonEmpty
    withCached((if (preDiscover) Seq(incoming) else Nil): _*) {
      val pre =
        if (preDiscover)
          Some(touchedBuckets(incoming,
            lockFor(table).synchronized(metaFor(table, keyCols)), digest))
        else None
      lockFor(table).synchronized {
        val m = metaFor(table, keyCols)
        val first = latestVersion(table).isEmpty
        val found =
          if (first) None else Some(pre.getOrElse(touchedBuckets(incoming, m, digest)))
        val touched = found.map(_._1)
        val id = found.flatMap(_._2).map(identity)
        val replay = id.flatMap { i =>
          val vs = versions(table)
          readRecord(table).find(e =>
            e.id == i && touched.contains(e.buckets) && holds(e, vs))
        }
        replay.fold {
          val stored = touched.flatMap(readBuckets(table, _))
          // the layer holds rows of touched buckets only, so the shuffle is
          // sized to their count (see [[writeWidth]]): a trickle merge runs
          // a few write tasks, not nBuckets mostly empty ones. The window
          // over the bucket id reuses the shuffle the write needs anyway.
          val bucketed = layer(stored)
            .withColumn("__b", bucketExpr(m))
            .repartition(writeWidth(touched.fold(m.nBuckets)(_.size)), col("__b"))
          val obs = org.apache.spark.sql.Observation()
          // a first write has no discovery: its digest rides on the write
          val observed = counters.map { case (n, c) => c.as(n) } ++
            (if (first) digest else Nil)
          def withCounters(df: DataFrame) = df.observe(obs,
            coalesce(sum(col(GraphStore.REWRITE).cast("long")), lit(0L))
              .as("__rewrites"), observed: _*)
          val anyRewrite = max(col(GraphStore.REWRITE).cast("int")).over(
            org.apache.spark.sql.expressions.Window.partitionBy(col("__b")))
          // with nothing stored every row is new, so no bucket can be
          // skipped; the window's sort would only add cost to a first load.
          // An upsert classify emits no delete rows, so dropping the action
          // column is all GraphStore.apply would do here.
          val toWrite =
            (if (stored.isEmpty) withCounters(bucketed)
             else withCounters(bucketed.withColumn("__rw_b", anyRewrite))
               .filter(col("__rw_b") === 1))
              .drop("__rw_b", GraphStore.REWRITE, GraphStore.ACTION)
          val published = writeStaged(table, toWrite, full = false)(
            obs.get("__rewrites").asInstanceOf[Number].longValue > 0L)
          published.foreach(_ => maybeCompact(table))
          val result = counters.map { case (n, _) =>
            n -> obs.get(n).asInstanceOf[Number].longValue }.toMap
          // a first write touched exactly the buckets it published
          val done =
            if (!first) id.map((_, touched.get))
            else if (digest.isEmpty) None
            else published.map(v => (identity(PersistentGraphStore.digestOf(
              PersistentGraphStore.DigestCols.map(obs.get))), bucketsOf(versionDir(table, v))))
          done.foreach { case (i, bs) =>
            record(table, Entry(i, latestVersion(table).get, bs, replayed(result)))
          }
          result
        }(_.counters)
      }
    }
  }

  val EdgeKey: Seq[String] = Seq("out", "in", "edgeClass")

  /** K5 — edge upsert: only candidates absent from the live edge set are
    * created (the reference's `edgeExists` anti-join, `fetchExisting:
    * false` semantics). Edges are keyed (out, in, edgeClass); a duplicate
    * can only live in its own bucket, so both the existence anti-join and
    * the rewrite touch candidate buckets only — and the touched buckets
    * are read ONCE, feeding the anti-join and the new layer's union.
    */
  def upsertEdges(rawCandidates: DataFrame): Map[String, Long] = {
    // the reference's per-record edgeExists check suppresses duplicates
    // WITHIN one batch too (a trial listing the same intervention twice
    // creates one edge) — dedup here so every caller gets that semantics
    val candidates = rawCandidates.dropDuplicates(EdgeKey)
    upsert("edges", candidates, EdgeKey, Nil, "edges",
      Seq("created" -> count(when(col(GraphStore.REWRITE), 1))),
      _ => Map("created" -> 0L)) {
      // stored edges are kept as they are, new ones flagged
      // (allowMissingColumns: some sources carry edge payload columns —
      // actionType, uuid — the others lack)
      case Some(e) =>
        e.withColumn(GraphStore.REWRITE, lit(false)).unionByName(
          GraphStore.newEdges(e, candidates).withColumn(GraphStore.REWRITE, lit(true)),
          allowMissingColumns = true)
      case None => candidates.withColumn(GraphStore.REWRITE, lit(true))
    }
  }

  /** K7 — source dimension upsert keyed by name (graphkb.js:614-624). */
  def upsertSource(source: DataFrame): Map[String, Long] =
    merge("sources", source, keyCols = Seq("name"),
      compareCols = source.columns.filterNot(_ == "name").toSeq)

  /** A loader's store phase: run `writes`, none of which may read another's
    * table, and return the loader's counters as one flat map — each
    * write's counters under its [[Write.prefix]], counters that share a
    * prefix added up. Writes to different tables run at once, writes to
    * one table run in the order given; each goes through the public
    * [[merge]] or [[upsertEdges]], so a subclass sees every call. Returns
    * once every write has finished. If any failed, rethrows the first
    * table's failure (tables in the order of their first write) with the
    * others attached as suppressed; a failed write skips the later writes
    * to its table.
    *
    * A loader whose later write reads a table an earlier write changed
    * (read-your-own-writes hydration) makes one call per phase.
    */
  def writeAll(writes: Seq[Write]): Map[String, Long] = {
    val lanes = writes.map(_.table).distinct.map(t => writes.filter(_.table == t))
    val counters = Concurrent.results(Concurrent.all(lanes.size, "graft-store-write")(
      lanes.map(lane => () => lane.flatMap { w =>
        val cs = w match {
          case m: Merge => merge(m.table, m.incoming, m.keyCols, m.compareCols,
            m.setCols, m.softDelete)
          case Edges(candidates) => upsertEdges(candidates)
        }
        cs.map { case (k, v) => (w.prefix + k) -> v }
      })))
    counters.flatten.groupMapReduce(_._1)(_._2)(_ + _)
  }
}

object PersistentGraphStore {

  /** Entries a table's replay record keeps, newest first. A call that
    * publishes a layer leaves few valid entries (on the loader benchmark's
    * `bulk` and `dag_small` workloads, never more than one per table), but
    * a call that changes nothing publishes nothing and invalidates no
    * entry: 40 different no-op batches in a row keep 40 valid entries.
    * The cap bounds the file, read and rewritten under the table lock,
    * for such a run of no-op batches.
    */
  private val RecordEntries = 32

  /** Names of the batch digest's aggregates, in [[digest]]'s order. */
  private val DigestCols = Seq("__rows", "__h1", "__h2")

  /** The batch digest of a frame with `schema`: the row count and the
    * sums of two independent per-row 64-bit hashes (the second chains
    * from a constant salt, so it starts from another seed). A row hash
    * covers every column in sorted-name order, set columns sorted (as the
    * store keeps them), each with its null flag. `xxhash64` skips nulls,
    * at the top level and inside arrays and structs, so `(null, 'a')` and
    * `('a', null)`, or `[a]` and `[a, null]`, would otherwise hash alike:
    * [[explicit]] gives every nested value its null flag and every array
    * its length, so equal hash inputs mean equal rows. The sums are
    * decimals: a `long` sum overflows under ANSI. Empty for a schema with
    * a map column, which `xxhash64` does not take: such a batch has no
    * digest and never skips.
    */
  private def digest(schema: StructType, setCols: Seq[String]): Seq[Column] = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: ArrayType => hasMap(a.elementType)
      case _ => false
    }
    if (schema.fields.exists(f => hasMap(f.dataType))) Nil
    else {
      val parts = schema.fields.sortBy(_.name).toSeq.flatMap { f =>
        val c = if (setCols.contains(f.name)) sort_array(col(f.name)) else col(f.name)
        Seq(c.isNull, explicit(c, f.dataType))
      }
      def total(h: Column) = sum(h.cast("decimal(20,0)"))
      Seq(count(lit(1)), total(xxhash64(parts: _*)),
        total(xxhash64(lit(0x9E3779B97F4A7C15L) +: parts: _*)))
        .zip(DigestCols).map { case (c, n) => c.as(n) }
    }
  }

  /** `c` of type `t` with what `xxhash64` skips made explicit: an array
    * becomes its length and its elements' (null flag, value) pairs, a
    * struct its fields' (null flag, value) pairs, recursively. A null
    * stays null; the enclosing level hashes its flag.
    */
  private def explicit(c: Column, t: DataType): Column = {
    def flagged(v: Column, vt: DataType, i: Int) =
      Seq(v.isNull.as(s"z$i"), explicit(v, vt).as(s"v$i"))
    t match {
      case a: ArrayType => when(c.isNotNull, struct(size(c).as("n"),
        transform(c, x => struct(flagged(x, a.elementType, 0): _*)).as("e")))
      case s: StructType if s.nonEmpty => when(c.isNotNull, struct(
        s.fields.toSeq.zipWithIndex.flatMap { case (f, i) =>
          flagged(c.getField(f.name), f.dataType, i) }: _*))
      case _ => c
    }
  }

  /** The digest's values (count, then the two sums) as one string. */
  private def digestOf(values: Seq[Any]): String =
    values.map(v => if (v == null) "-" else BigDecimal(v.toString).toBigInt.toString)
      .mkString(":")

  private def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** One write of a [[PersistentGraphStore.writeAll]] batch; `prefix`
    * names its counters in the loader's counter map.
    */
  sealed trait Write { def table: String; def prefix: String }

  /** A [[PersistentGraphStore.merge]] call. */
  final case class Merge(table: String, incoming: DataFrame,
      keyCols: Seq[String], compareCols: Seq[String],
      setCols: Seq[String] = Nil, softDelete: Boolean = false,
      prefix: String = "") extends Write

  /** A [[PersistentGraphStore.upsertEdges]] call, counted as `edges_*`. */
  final case class Edges(candidates: DataFrame) extends Write {
    def table: String = "edges"
    def prefix: String = "edges_"
  }
}
