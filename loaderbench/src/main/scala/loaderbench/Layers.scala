package loaderbench

import org.apache.spark.sql.SparkSession

/** Per-layer metrics of the traced cycles, per pass, as
  * `<pass>.<layer>.<metric>`; each is the median over traced cycles. Every
  * metric is defined on both workloads: the orchestrator's effect shows as
  * loader concurrency (`sources.overlap`, summed loader spans over the
  * pass wall), which is 1 where the loaders run one after another.
  */
object Layers {

  /** Length of the union of `[start, end)` intervals, clipped to `[lo, hi)`. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, cur)
      val e = math.min(e0, hi)
      if (e > s) { total += e - s; cur = e }
    }
    total
  }

  def metrics(cycles: Seq[Cycle], tracer: Tracer): Seq[(String, Double, String)] = {
    val spans = tracer.spans.toArray(Array.empty[Span]).toSeq
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    def isStore(s: Span) = s.layer == "store"
    def iv(s: Span) = (s.startNs, s.endNs)
    def selfS(s: Span) = {
      val kids = children.getOrElse(s.id, Nil).map(iv)
      (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e9
    }

    val perCycle: Seq[Map[String, (Double, String)]] = cycles.map { cyc =>
      Main.Passes.flatMap { pass =>
        cyc.passes.get(pass).toSeq.flatMap { info =>
          val p = spans.find(s => s.layer == "pass" && s.cycle == cyc.index && s.name == pass).get
          val all = subtree(p).tail
          val loaders = all.filter(_.layer == "sources")
          val storeTop = all.filter(s => isStore(s) && !byId.get(s.parent).exists(isStore))
          val storeAll = all.filter(isStore)
          val cost = (ss: Seq[Span]) => ss.map(s => tracer.listener.cost(s.id))
          val wall = p.durS
          val merges = storeTop.filter(_.name.startsWith("merge:"))
          def counter(ss: Seq[Span], k: String) = ss.map(_.counters.getOrElse(k, 0L)).sum.toDouble
          val created = counter(merges, "create")
          val updated = counter(merges, "update")
          val deleted = counter(merges, "delete")
          val edges = counter(storeTop.filter(_.name == "upsertEdges"), "created")
          val storeCost = cost(storeAll)
          val rowsWritten = storeCost.map(_.rowsOut).sum.toDouble
          val changed = created + updated + deleted + edges
          val driverS = storeTop.map { s =>
            val jobs = subtree(s).flatMap(x => tracer.listener.cost(x.id).jobIntervals)
            (s.endMs - s.startMs - covered(jobs, s.startMs, s.endMs)) / 1e3
          }.sum
          val durs = loaders.map(_.durS)
          val records = cyc.recordsIn(pass).toDouble
          val rejected = info.result.calls.flatMap { case (c, r) =>
            r.toOption.flatMap(m => Kinds.rejected.get(c.kind).map(m.getOrElse(_, 0L))) }.sum
          val allCost = cost(p +: all)
          val m = Seq(
            "sources.self_s" -> (loaders.map(selfS).sum, "s"),
            "sources.executor_cpu_s" -> (cost(loaders).map(_.cpuNs).sum / 1e9, "s"),
            "sources.records_in" -> (records, "count"),
            "sources.records_rejected" -> (rejected.toDouble, "count"),
            "sources.loader_p50_s" -> (Stats.quantile(durs, 0.5), "s"),
            "sources.loader_p90_s" -> (Stats.quantile(durs, 0.9), "s"),
            "sources.overlap" -> (durs.sum / wall, "ratio"),
            "store.calls" -> (storeTop.size.toDouble, "count"),
            "store.span_s" -> (storeTop.map(_.durS).sum, "s"),
            "store.call_p50_s" -> (Stats.quantile(storeTop.map(_.durS), 0.5), "s"),
            "store.call_p90_s" -> (Stats.quantile(storeTop.map(_.durS), 0.9), "s"),
            "store.jobs_per_call" -> (storeCost.map(_.jobs).sum.toDouble /
              math.max(1, storeTop.size), "count"),
            "store.driver_s" -> (driverS, "s"),
            "store.executor_cpu_s" -> (storeCost.map(_.cpuNs).sum / 1e9, "s"),
            "store.shuffle_write_mb" -> (storeCost.map(_.shuffleWriteB).sum / 1048576.0, "MB"),
            "store.spill_mb" -> (storeCost.map(_.spillB).sum / 1048576.0, "MB"),
            "store.rows_written" -> (rowsWritten, "count"),
            "store.files_written" -> (info.filesWritten.toDouble, "count"),
            "store.layers_written" -> (info.layersWritten.toDouble, "count"),
            "store.created" -> (created, "count"),
            "store.updated" -> (updated, "count"),
            "store.noop" -> (counter(merges, "noop"), "count"),
            "store.deleted" -> (deleted, "count"),
            "store.edges_created" -> (edges, "count"),
            "store.write_amplification" ->
              (if (changed > 0) rowsWritten / changed else 0.0, "ratio"),
            "engine.jobs" -> (allCost.map(_.jobs).sum.toDouble, "count"),
            "engine.tasks" -> (allCost.map(_.tasks).sum.toDouble, "count"),
            "trace.closure" -> (covered((loaders ++ storeTop).map(iv), p.startNs, p.endNs) /
              1e9 / wall, "ratio"))
          m.map { case (k, v) => s"$pass.$k" -> v }
        }
      }.toMap
    }
    val names = perCycle.flatMap(_.keys).distinct.sorted
    names.map { n =>
      val vs = perCycle.flatMap(_.get(n))
      (n, Stats.median(vs.map(_._1)).get, vs.head._2)
    }
  }
}

/** Engine floor, probed from outside before and after the timed cycles:
  * the latency of a trivial one-task job and of a fixed CPU-bound job.
  * Their drift across a run shows ambient load on the host.
  */
object Probes {
  case class Floor(tinyMs: Double, cpuMs: Double)

  def measure(spark: SparkSession, cpus: Int): Floor = {
    def ms(body: => Unit) = { val t = System.nanoTime(); body; (System.nanoTime() - t) / 1e6 }
    val sc = spark.sparkContext
    val tiny = (1 to 15).map(_ => ms(sc.parallelize(Seq(1), 1).count()))
    val cpu = (1 to 3).map(_ => ms(spark.range(0L, 20000000L, 1L, cpus)
      .selectExpr("sum(hash(id) % 7)").collect()))
    Floor(Stats.median(tiny).get, Stats.median(cpu).get)
  }

  def report(f: Floor, when: String): Seq[(String, Double, String)] = Seq(
    (s"engine.tiny_job_ms.$when", f.tinyMs, "ms"),
    (s"engine.cpu_job_ms.$when", f.cpuMs, "ms"))
}
