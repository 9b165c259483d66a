package loaderbench

import java.lang.management.ManagementFactory
import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.core.{Fs, PersistentGraphStore}

/** What a traced pass left on disk and returned, for the per-layer report. */
case class PassInfo(result: PassResult, layersWritten: Int,
    filesWritten: Int)

/** One run of a workload's passes into a fresh store, each timed and then
  * checked outside the timed window. A pass that fails a check leaves no
  * wall sample and ends the cycle: the passes after it would start from a
  * state the model does not describe.
  *
  * After the last pass the cycle checks the store's contents and reads the
  * heap left live. A traced cycle also runs the replay untraced just
  * before and just after the traced replay — a replay leaves the store as
  * it was — so `overhead` compares the traced wall with the untraced one
  * after it, the same pass in the same state; the one before runs the
  * replay's code paths for the first time in the JVM, so both are warm.
  */
final class Cycle(wl: Workload, exp: Expect, dir: Path, val traced: Boolean,
    val index: Int) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val walls = mutable.Map.empty[String, Double]
  val passes = mutable.Map.empty[String, PassInfo]
  var storeMb: Option[Double] = None
  var liveHeapMb: Option[Double] = None
  var overhead: Option[Double] = None
  private val shape = wl.shape
  def recordsIn(pass: String): Long =
    shape.callsFor(pass).map(c => exp.records(shape.version(pass), c)).sum

  private def check(name: String, ok: Boolean, detail: => String): Boolean = {
    attempted += 1
    if (!ok) { failed += 1; failures += s"cycle $index $name: $detail" }
    ok
  }

  def summary: String =
    s"cycle $index ${if (traced) "traced" else "untraced"} " +
      Main.Passes.flatMap(p => walls.get(p).map(w => f"$p=$w%.3fs")).mkString(" ") +
      liveHeapMb.map(h => f" live_heap=$h%.1fMB").getOrElse("") +
      overhead.map(o => f" overhead=$o%.3f").getOrElse("") + s" failed=$failed/$attempted"

  private val tracer = wl.tracer
  private val root = dir.resolve("store")
  private lazy val store: PersistentGraphStore =
    new TimedStore(wl.spark, root.toString, tracer)

  /** `inject`: `throw` makes the last loader of the load pass throw;
    * `replay-creates` feeds the first rerun loader its refresh input on
    * the first replay.
    */
  def run(inject: Option[String]): Unit = {
    Fs.deleteRecursively(dir)
    var pending = inject
    def timed(pass: String, trace: Boolean): Option[Double] = {
      val inj = pending.filter(i => (i == "throw" && pass == "load") ||
        (i == "replay-creates" && pass == "replay"))
      if (inj.nonEmpty) pending = None
      runPass(pass, trace, inj)
    }
    var ok = true
    for (pass <- Main.Passes if ok) {
      val wall =
        if (traced && pass == "replay") {
          val before = timed(pass, trace = false)
          val t = before.flatMap(_ => timed(pass, trace = true))
          val after = t.flatMap(_ => timed(pass, trace = false))
          for (w <- t; a <- after) overhead = Some(w / a)
          after.flatMap(_ => t)
        } else timed(pass, traced)
      wall.foreach(walls(pass) = _)
      ok = wall.nonEmpty
    }
    if (ok) {
      liveHeapMb = Some(Heap.liveMb())
      checkContents()
      storeMb = Some(StoreFiles.listing(root)._3 / 1048576.0)
    }
    Fs.deleteRecursively(dir)
  }

  /** Run one pass and check it; the wall time if every check passed. */
  private def runPass(pass: String, trace: Boolean, inject: Option[String]): Option[Double] = {
    val version = shape.version(pass)
    val calls = shape.callsFor(pass)
    val before = StoreFiles.listing(root)
    tracer.enabled = trace
    tracer.pass = pass
    tracer.cycle = index
    val res = try tracer.span("pass", pass) {
      wl.pass(pass, store,
        version = c =>
          if (inject.contains("replay-creates") && c == calls.head) "refresh" else version,
        fail = c => inject.contains("throw") && c == calls.last)
    } finally tracer.enabled = false
    val after = StoreFiles.listing(root)
    val layers = (after._1 -- before._1).size
    if (trace) passes(pass) = PassInfo(res, layers, (after._2 -- before._2).size)

    val okCalls = res.calls.map { case (c, r) =>
      check(s"$pass/${c.name} status", r.isRight, r.left.getOrElse(""))
    }.forall(identity)
    // counters per kind equal the model's, summed over the kind's calls
    val expected = exp.counters(pass)
    val okCounts = shape.kinds.filter(k => calls.exists(_.kind == k)).map { kind =>
      val exps = expected.collect { case (c, m) if c.kind == kind => m }
      val actual = res.calls.collect { case (c, Right(m)) if c.kind == kind => m }
      val okC = Kinds.counters(kind).map { case (storeKey, modelKey) =>
        val a = actual.map(_.getOrElse(storeKey, 0L)).sum
        val e = exps.map(_.getOrElse(modelKey, 0L)).sum
        check(s"$pass/$kind/$storeKey", a == e, s"store $a, model $e")
      }.forall(identity)
      val okR = Kinds.rejected.get(kind).forall { key =>
        val a = actual.map(_.getOrElse(key, 0L)).sum
        val e = calls.filter(_.kind == kind).map(c => exp.written((version, c)).rejected).sum
        check(s"$pass/$kind/$key", a == e, s"loader $a, model $e")
      }
      val deletes = actual.map(m => m.getOrElse("delete", 0L) +
        m.getOrElse("statements_delete", 0L)).sum
      okC && okR && check(s"$pass/$kind/deletes", deletes == 0L, s"$deletes deletes")
    }.forall(identity)
    val okLayers = pass != "replay" ||
      check(s"$pass/layers_written", layers == 0, s"$layers layers written")
    if (okCalls && okCounts && okLayers) Some(res.wallS) else None
  }

  /** Final contents: every table holds exactly the model's rows — each
    * natural key once, with the modelled values of the loader that wrote
    * it — and the edge table exactly the model's edges. The model depends
    * only on the seed, so equal contents also mean equal contents across
    * runs.
    */
  private def checkContents(): Unit = {
    val reader = new PersistentGraphStore(wl.spark, root.toString)
    for ((t, rows) <- exp.tables.toSeq.sortBy(_._1)) {
      val detail = try {
        val df = reader.read(t).get
        val key = rows.head._2._1.key
        val cols = (key ++ rows.values.flatMap(_._1.values)).distinct.filter(df.columns.contains)
        val got = df.select(cols.map(col): _*).collect()
        val byKey = got.map(r => key.map(r.getAs[Any]).map(norm) -> r).toMap
        if (got.length != rows.size || byKey.size != rows.size)
          s"store ${got.length} rows (${byKey.size} keys), model ${rows.size}"
        else rows.collectFirst {
          case (k, (c, v)) if !byKey.get(k).exists(r =>
              c.values.map(n => if (cols.contains(n)) norm(r.getAs[Any](n)) else "<absent>") ==
                v.map(norm)) =>
            s"key $k: store ${byKey.get(k).map(_.toString).getOrElse("<absent>")}, model $v"
        }.getOrElse("")
      } catch { case e: Exception => e.toString }
      check(s"$t contents", detail.isEmpty, detail)
    }
    val detail = try {
      val got = reader.read("edges").get.select("out", "in", "edgeClass").collect()
        .map(r => (r.getString(0), r.getString(1), r.getString(2)))
      if (got.length == exp.edges.size && got.toSet == exp.edges) ""
      else s"store ${got.length} edges (${(got.toSet -- exp.edges).size} not modelled), " +
        s"model ${exp.edges.size} (${(exp.edges -- got.toSet).size} missing)"
    } catch { case e: Exception => e.toString }
    check("edges contents", detail.isEmpty, detail)
  }

  private def norm(v: Any): Any = v match {
    case s: scala.collection.Seq[_] => s.toList.map(norm)
    case x => x
  }
}

object Heap {
  /** Heap in use after a full collection, in MB: the session, the harness's
    * inputs and model (fixed per workload and seed) and whatever the loaders
    * and the engine keep between runs. Spark releases the blocks of
    * collected broadcasts and shuffles from a cleaner thread once a
    * collection has found them unreachable (and unpersisted frames
    * asynchronously), so collections repeat after a short wait until the
    * heap stops shrinking.
    */
  def liveMb(): Double = {
    def collect() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = collect()
    var rounds = 1
    var cur = { Thread.sleep(200); collect() }
    while (prev - cur > 0.5 && rounds < 5) {
      prev = cur
      rounds += 1
      Thread.sleep(200)
      cur = collect()
    }
    cur
  }
}
