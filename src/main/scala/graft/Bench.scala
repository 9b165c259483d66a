package graft
import java.nio.file.{Files, Paths}

/** Benchmark main: times the registry rows at
  * SPARK_GRAFT_SF_DIR and emits ONE JSON line — printed raw to stdout
  * (`run / outputStrategy := StdoutOutput` keeps sbt from prefixing it)
  * AND written to SPARK_GRAFT_BENCH_OUT (default `bench_out.json`) so the
  * driver can parse per-query numbers either way.
  *
  * Each row's declared timing kind (`EntryHelpers.Timing`, written next
  * to the row in its registry) decides how it is timed: `scaled` rows,
  * whose inputs grow with sf, are the headline and are timed one by one;
  * `fixture` and `loader` rows cost the same at any sf and run once per
  * pass in the `fixtures_bucket` and `loaders_bucket`, so they don't
  * dominate the loop.
  */
object Bench {
  import EntryHelpers.{Fixture, Loader, Scaled}

  /** Fixed CPU-bound sentinel work (rows hashed and XOR-folded): ~0.6 s
    * on a quiet host at local[32], pure compute with no I/O or shuffle,
    * so a reading far above the run's own median is ambient steal, not
    * engine work. Interleaved between timed rows (below) so every row
    * gets a LOCAL ambient bracket — one sentinel per run cannot
    * attribute intra-run bursts (same-hour readings have spanned
    * 8-31 s on this host).
    */
  val SentinelRows: Long = 750000000L

  /** Tiny jobs per SCHEDULING-latency sentinel reading. The host's two
    * ambient dimensions are INDEPENDENT (measured r18: CPU sentinel at
    * its quiet ~0.3 s while 25 trivial jobs took 3.7-15.8 s — 10-40×
    * their quiet ~0.4 s — and s2d_stream_join read 14-56 s vs its 4.89 s
    * quiet reference): steal can hit scheduler wakeups while throughput
    * is fine, and it is THIS dimension that inflates many-small-job rows
    * (g14's store round-trips, the streaming rows, loaders_bucket). A
    * row's ambient factor must be read off the sentinel leg that matches
    * its shape.
    *
    * r19: 25 → 10 jobs. In a degraded window the sched leg ran 1.3-10 s
    * PER READING × 83 readings — several unbudgeted minutes that helped
    * push the r18 contract run past the driver's time cap (rc=124).
    * 10 jobs keeps the latency median meaningful at 40% of the cost.
    */
  val SentinelJobs = 10

  /** Timed rows between sentinel re-runs: fine enough to bracket a
    * multi-minute steal burst, coarse enough that the sentinel series
    * stays under ~10% of a quiet run's wall time.
    */
  val SentinelEvery = 10

  /** Hard cap on the sentinel series' share of elapsed wall: once the
    * cumulative sentinel cost exceeds max(30 s, 5% of elapsed), further
    * readings are skipped — exactly the degraded-ambient case where each
    * reading is expensive is the case where an unbounded series eats the
    * run's time budget (r18's rc=124). The attribution story degrades
    * gracefully: the brackets get sparser, never costlier.
    */
  val SentinelMaxFraction = 0.05

  /** Bucket passes. Buckets are overhead-dominated (hundreds of tiny
    * store-round-trip jobs) and a single pass swung ±60% round-over-round
    * under host-load windows (148.6 s vs 173.9 s vs a same-code rerun at
    * 140.5 s). The noise is strictly ADDITIVE (a load spike only ever
    * inflates a wall time), so min-of-2 passes is the robust per-row
    * estimator at a third of median-of-3's cost on a ~150 s bucket.
    */
  val BucketReps = 2

  /** Per-row estimates of one run (None: the row has no successful
    * sample) and the rollups over them. Headline rows are timed
    * individually; fixture and loader rows form the two buckets.
    * `scaledTotal` (headline rows, whose cost grows with sf) is the
    * repeatable signal, `fixtureTotal` (both buckets) the fixed-fixture
    * overhead lane, and `total` their sum.
    */
  final case class Totals(
      headline: Seq[(String, Option[Double])],
      loaders: Seq[(String, Option[Double])],
      fixtures: Seq[(String, Option[Double])]) {
    private def sum(rows: Seq[(String, Option[Double])]) = rows.flatMap(_._2).sum
    def failed: Seq[String] = (headline ++ fixtures ++ loaders).collect { case (n, None) => n }
    def scaledTotal: Double = sum(headline)
    def fixturesBucket: Double = sum(fixtures)
    def loadersBucket: Double = sum(loaders)
    def fixtureTotal: Double = fixturesBucket + loadersBucket
    def total: Double = scaledTotal + fixtureTotal
  }

  /** Headline rows take the [[median]] of their interleaved reps, bucket
    * rows the min of their passes (see [[BucketReps]]). A row with no sample
    * failed: it is named in `failed` and adds nothing to any total, so a
    * failing row can never read as a faster run.
    */
  def totals(samples: String => Seq[Double], headline: Seq[String],
      fixtures: Seq[String], loaders: Seq[String]): Totals = {
    def est(names: Seq[String])(f: Seq[Double] => Double) =
      names.map(n => n -> Some(samples(n)).filter(_.nonEmpty).map(f))
    Totals(est(headline)(median), est(loaders)(_.min), est(fixtures)(_.min))
  }

  /** The middle sample, or the mean of the two middle ones for an even
    * count (2 reps, or a pass the budget skipped), never the slower one.
    */
  def median(ts: Seq[Double]): Double = {
    val (s, m) = (ts.sorted, ts.size / 2)
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }

  /** `runMain graft.Bench` times the whole registry: the headline rows
    * individually plus both buckets. `runMain graft.Bench <name>...`
    * times exactly the named rows, each as a headline row (median of
    * `SPARK_GRAFT_BENCH_REPS` interleaved reps), and no bucket.
    */
  def main(args: Array[String]): Unit = {
    val all = SparkEntry.queries
    val unknown = args.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown bench rows: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    // JVM/session warm-up outside the timed region: one trivial job plus a
    // small parquet scan+agg (against the CONFIGURED sf dir, guarded), so
    // the first timed query doesn't absorb executor startup, codegen, or
    // parquet-reader initialization.
    spark.range(1000000).selectExpr("sum(id)").collect()
    try spark.read.parquet(s"$sfDir/region.parquet").count()
    catch { case _: Throwable => () }
    // median of N reps per query, INTERLEAVED: the whole headline suite
    // runs as N full passes and each query's median is taken across
    // passes. Consecutive reps share any sustained host-load window, so a
    // stall could cover all of one query's reps and fabricate an
    // implausible median (a 59 s figure for an 5 s query happened in
    // practice); interleaving puts a whole suite pass (~minutes) between a
    // query's reps, so one load window cannot touch more than one of them
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.timedAs(Scaled)
    // constant-cost rows split into two buckets: grammar/golden frames
    // (fixtures_bucket) vs the loader pipelines with their store
    // round-trips (loaders_bucket) — the loader bucket grows with every
    // new composed source and would otherwise read as a fixtures regression
    val (fixtureQs, loaderQs) =
      if (args.nonEmpty) (Nil, Nil)
      else (SparkEntry.timedAs(Fixture), SparkEntry.timedAs(Loader))
    // per-row attribution log (name, pass, epoch-second start, elapsed)
    // and the interleaved sentinel series — both land in the bench_out
    // file (NOT the stdout metric lines, whose tail-parse window is
    // size-constrained) so an ambient dispute over any row resolves by
    // reading the sentinel readings that bracket its timestamp
    val rowLog = scala.collection.mutable.ArrayBuffer
      .empty[(String, Int, Long, Double)]
    // successful samples per row (failures excluded — they report -1,
    // not a plausible-looking elapsed time); the estimators below read
    // this map so a partial flush mid-pass sees every completed row
    val samples = scala.collection.mutable.Map
      .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val sentinelLog = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Double)]
    // run-wall origin for the sentinel cap and the time budget below
    val runT0 = System.nanoTime()
    def elapsed(): Double = (System.nanoTime() - runT0) / 1e9
    var sentinelWall = 0.0
    def sentinelOnce(force: Boolean = false): Unit = {
      // wall-budget the series (see SentinelMaxFraction); the closing
      // bracket is forced so the last rows always get a trailing reading
      if (!force && sentinelWall > math.max(30.0, SentinelMaxFraction * elapsed()))
        return
      val ts = System.currentTimeMillis() / 1000
      val t0 = System.nanoTime()
      spark.range(SentinelRows).selectExpr("bit_xor(xxhash64(id))").collect()
      val t1 = System.nanoTime()
      var i = 0
      while (i < SentinelJobs) { spark.range(1000).count(); i += 1 }
      sentinelLog += ((ts, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9))
      sentinelWall += (System.nanoTime() - t0) / 1e9
    }
    var sinceSentinel = 0
    // incremental flush hook (set below, after the emit helpers exist):
    // a run killed by the driver's time cap still leaves a parseable
    // partial record in the bench_out file (r18's rc=124 left NOTHING)
    var flush: () => Unit = () => ()
    def timeOne(name: String, pass: Int): Unit = {
      if (sinceSentinel % SentinelEvery == 0) sentinelOnce()
      sinceSentinel += 1
      spark.sparkContext.setJobDescription(s"bench:$name#$pass")
      val ts = System.currentTimeMillis() / 1000
      val t0 = System.nanoTime()
      val ok = try { all(name)(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      rowLog += ((name, pass, ts, dt))
      if (ok) samples(name) = samples(name) :+ dt
      spark.sparkContext.setJobDescription(null)
      // drop persisted blocks between queries: accumulated storage
      // memory from merge/diff persists squeezes execution memory and
      // makes later queries GC-bound (measured 10x spikes late in the run)
      spark.catalog.clearCache()
      if (rowLog.size % 20 == 0) flush()
    }
    val bucketReps = BucketReps.min(reps).max(1)
    // times rounded to ms: full-precision doubles pushed the single JSON
    // line past the driver's tail-parse window in round 5 (the leading
    // '{' got clipped and the round artifact recorded parsed=null);
    // millisecond resolution is all the comparison uses
    def r3(v: Double): String =
      if (v < 0) "-1" else BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP).toString
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    // Assemble the metric payload from whatever samples exist so far.
    // `partial = true` (the incremental flushes) covers only the rows
    // timed so far and tags the record `"partial":true` — a run killed by
    // the driver's external time cap leaves a parseable per-row record
    // in the bench_out file instead of nothing (r18's rc=124 artifact).
    // A row without a sample reports -1 and is named under "failed".
    def payload(partial: Boolean): (String, String, String, Totals) = {
      val timed = rowLog.map(_._1).toSet
      def sel(ns: Seq[String]) = if (partial) ns.filter(timed) else ns
      val t = totals(samples, sel(names), sel(fixtureQs), sel(loaderQs))
      // rollups namespaced with "__" so a consumer summing or diffing the
      // per-query entries can exclude them (they are NOT query rows; the
      // same values are also emitted as separate top-level metric lines).
      // NOTE (r12→r13 rename): these keys were `scaled_total`/
      // `fixture_total` through BENCH_r11 and moved to the `__`-prefixed
      // names in r12 — a cross-round diff of the queries map should treat
      // the pairs as the same series. The un-prefixed names survive as
      // the standalone top-level metric lines below, which are the
      // stable interface. Each loader pipeline keeps its own time beside
      // the bucket total, so a regression localizes to its loader.
      val qs = ((t.headline ++ t.loaders).map { case (k, v) => k -> v.getOrElse(-1.0) } :+
        ("fixtures_bucket" -> t.fixturesBucket) :+ ("loaders_bucket" -> t.loadersBucket) :+
        ("__scaled_total" -> t.scaledTotal) :+ ("__fixture_total" -> t.fixtureTotal))
        .map { case (k, v) => "\"" + k + "\":" + r3(v) }
        .mkString("{", ",", "}")
      val json =
        s"""{"metric":"total","value":${r3(t.total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
      // The full line outgrew the driver's tail-parse window two rounds
      // running (88+ queries); emit a short record LAST so the tail
      // always contains one complete parseable JSON line.
      val summary = s"""{"metric":"total","value":${r3(t.total)},"unit":"sec","sf":"$sfDir","n_failed":${t.failed.size}}"""
      // the FILE record carries the full attribution payload: every timed
      // run with its start timestamp, plus the interleaved sentinel series
      // — any row's ambient factor is (bracketing sentinel readings /
      // quiet-sentinel ≈ 0.6 s). stdout keeps the compact lines only.
      val rowsJson = rowLog
        .map { case (n, p, ts, s) =>
          s"""{"n":"$n","p":$p,"t":$ts,"s":${r3(s)}}""" }
        .mkString("[", ",", "]")
      // s = CPU-throughput leg, j = scheduling-latency leg (tiny jobs)
      val sentinelJson = sentinelLog
        .map { case (ts, s, j) => s"""{"t":$ts,"s":${r3(s)},"j":${r3(j)}}""" }
        .mkString("[", ",", "]")
      val failedJson = t.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
      val fileJson = json.stripSuffix("}") +
        s""","partial":$partial,"failed":$failedJson,"rows":$rowsJson,"sentinel":$sentinelJson}"""
      (json, summary, fileJson, t)
    }
    def emit(partial: Boolean): (String, String, Totals) = {
      val (json, summary, fileJson, t) = payload(partial)
      Files.writeString(Paths.get(out), fileJson + "\n")
      (json, summary, t)
    }
    flush = () => { emit(partial = true); () }
    // Wall-time budget (seconds, measured from Bench start): the r18
    // contract run at local[32] was killed by the driver's external cap
    // (rc=124) and left no record at all. Instead of dying, DEGRADE: the
    // first headline and bucket passes always run (every row gets ≥ 1
    // sample); each later pass runs only if its projected cost — that
    // segment's previous duration — fits the remaining budget. A degraded
    // run is a valid record with fewer samples per row (same estimator
    // code over a shorter list), strictly better than a truncated one.
    val budget = sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET", "2100").toDouble
    var lastHeadline = 0.0
    var lastBucket = 0.0
    // interleave bucket passes between headline passes so one sustained
    // host-load window cannot cover both of a row's reps (same rationale
    // as the headline interleave above)
    for (i <- 1 to reps) {
      if (i == 1 || elapsed() + lastHeadline <= budget) {
        val t = System.nanoTime()
        names.foreach(n => timeOne(n, i))
        lastHeadline = (System.nanoTime() - t) / 1e9
      }
      if (i <= bucketReps && (i == 1 || elapsed() + lastBucket <= budget)) {
        val t = System.nanoTime()
        (fixtureQs ++ loaderQs).foreach(n => timeOne(n, i))
        lastBucket = (System.nanoTime() - t) / 1e9
      }
      emit(partial = true)
    }
    sentinelOnce(force = true) // closing bracket: trailing reading for the last rows
    val (json, summary, t) = emit(partial = false)
    // Quiesce Spark COMPLETELY before emitting the metric lines, and make
    // them the very last stdout of the run (see GraftSession.stop).
    GraftSession.stop(spark)
    println(json)
    println(s"""{"metric":"scaled_total","value":${r3(t.scaledTotal)},"unit":"sec","sf":"$sfDir"}""")
    println(s"""{"metric":"fixture_total","value":${r3(t.fixtureTotal)},"unit":"sec","sf":"$sfDir"}""")
    // sentinel rollup: the run-level ambient summary (full series in the
    // bench_out file). cpu leg quiet ≈ 0.3-0.6 s, sched leg quiet
    // ≈ 0.4 s; a max >> median on either leg means an intra-run burst in
    // THAT dimension — read the file series to localize which rows it
    // bracketed (many-small-job rows move with the sched leg)
    val sSorted = sentinelLog.map(_._2).toSeq.sorted
    val jSorted = sentinelLog.map(_._3).toSeq.sorted
    if (sSorted.nonEmpty)
      println(s"""{"metric":"sentinel","value":${r3(median(sSorted))},"unit":"sec","n":${sSorted.size},"min":${r3(sSorted.head)},"max":${r3(sSorted.last)},"sched_median":${r3(median(jSorted))},"sched_min":${r3(jSorted.head)},"sched_max":${r3(jSorted.last)}}""")
    println(summary)
  }
}
