package graft.orchestrate

import graft.{Inputs, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

import Orchestrator._

class OrchestratorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def loader(name: String, deps: Seq[String], log: StringBuilder,
      fail: Boolean = false) =
    Loader(name, deps, _ => {
      if (fail) throw new RuntimeException(s"$name exploded")
      log.append(name).append(";")
      Map("created" -> 1L)
    })

  test("topological order respects the Snakefile-style dependency DAG") {
    // vocab → ncit → {fdaSrs, do, oncotree} → drugbank → civic
    val loaders = Seq(
      Loader("civic", Seq("drugbank", "do"), _ => Map.empty),
      Loader("drugbank", Seq("fdaSrs"), _ => Map.empty),
      Loader("fdaSrs", Seq("ncit"), _ => Map.empty),
      Loader("do", Seq("ncit"), _ => Map.empty),
      Loader("oncotree", Seq("ncit"), _ => Map.empty),
      Loader("ncit", Seq("vocab"), _ => Map.empty),
      Loader("vocab", Seq.empty, _ => Map.empty))
    val order = topoOrder(loaders)
    def pos(n: String) = order.indexOf(n)
    assert(pos("vocab") < pos("ncit"))
    assert(pos("ncit") < pos("do") && pos("ncit") < pos("fdaSrs"))
    assert(pos("fdaSrs") < pos("drugbank"))
    assert(pos("drugbank") < pos("civic") && pos("do") < pos("civic"))
    assert(order.length == 7)
  }

  test("cycle and unknown-dependency detection") {
    assertThrows[IllegalArgumentException](topoOrder(Seq(
      Loader("a", Seq("b"), _ => Map.empty), Loader("b", Seq("a"), _ => Map.empty))))
    assertThrows[IllegalArgumentException](topoOrder(Seq(
      Loader("a", Seq("ghost"), _ => Map.empty))))
  }

  test("run executes in order; a failure skips transitive dependents only") {
    val log = new StringBuilder
    val loaders = Seq(
      loader("vocab", Seq.empty, log),
      loader("ncit", Seq("vocab"), log, fail = true),
      loader("do", Seq("ncit"), log),
      loader("independent", Seq.empty, log))
    val report = Orchestrator.run(spark, loaders)
    assert(report.statuses("vocab").isInstanceOf[Succeeded])
    assert(report.statuses("ncit").isInstanceOf[Failed])
    assert(report.statuses("do") == Skipped(Seq("ncit")))
    assert(report.statuses("independent").isInstanceOf[Succeeded])
    assert(log.toString.contains("vocab") && log.toString.contains("independent"))
    assert(!log.toString.contains("do"))
    assert(report.succeeded.toSet == Set("vocab", "independent"))
  }

  test("level-concurrent run: same store state as sequential, same-table merges serialize") {
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    // eight same-level loaders ALL merging into one shared table with
    // disjoint keys — the per-table lock must serialize version
    // allocation so no layer is lost — plus a failure whose dependent
    // must still be skipped under concurrency
    def build(dir: String): (graft.core.PersistentGraphStore, Seq[Loader]) = {
      val store = new graft.core.PersistentGraphStore(spark, dir, nBuckets = 4)
      val writers = (1 to 8).map { i =>
        Loader(s"w$i", Seq.empty, sp => {
          store.merge("shared", Seq((s"k$i", s"v$i")).toDF("sourceId", "name"),
            Seq("sourceId"), compareCols = Seq("name"))
        })
      }
      val boom = Loader("boom", Seq.empty,
        _ => throw new RuntimeException("boom exploded"))
      val dependent = Loader("dependent", Seq("boom"), sp => {
        store.merge("shared", Seq(("never", "never")).toDF("sourceId", "name"),
          Seq("sourceId"), compareCols = Seq("name"))
      })
      (store, writers :+ boom :+ dependent)
    }
    val (seqStore, seqLoaders) = build(
      Inputs.scratchDir("graft-orc-seq"))
    val (parStore, parLoaders) = build(
      Inputs.scratchDir("graft-orc-par"))
    val rs = Orchestrator.run(spark, seqLoaders)
    val rp = Orchestrator.run(spark, parLoaders, parallelism = 8)
    assert(rp.statuses("boom").isInstanceOf[Failed])
    assert(rp.statuses("dependent") == Skipped(Seq("boom")))
    assert(rp.succeeded.toSet == rs.succeeded.toSet)
    def state(s: graft.core.PersistentGraphStore) =
      s.read("shared").get.select("sourceId", "name")
        .as[(String, String)].collect().toSet
    assert(state(parStore) == state(seqStore))
    assert(state(parStore) == (1 to 8).map(i => (s"k$i", s"v$i")).toSet)
  }

  test("level pin: a same-level sibling's write is invisible to reads, in both modes") {
    import spark.implicits._
    // writer and reader share a level (no edge). Sequentially the writer
    // runs first (name order w < x... use names so writer sorts FIRST);
    // without the pin the reader would see its rows — with the pin both
    // modes must agree the read sees only the PREVIOUS level's state.
    def build(dir: String): (graft.core.PersistentGraphStore, Seq[Loader], () => Long) = {
      val store = new graft.core.PersistentGraphStore(spark, dir, nBuckets = 4)
      val seen = new java.util.concurrent.atomic.AtomicLong(-1L)
      val seed = Loader("seed", Seq.empty, _ =>
        store.merge("dim", Seq(("k0", "v0")).toDF("sourceId", "name"),
          Seq("sourceId"), compareCols = Seq("name")))
      // 'a_writer' sorts before 'b_reader' → sequential list order runs it first
      val writer = Loader("a_writer", Seq("seed"), _ =>
        store.merge("dim", Seq(("k1", "v1")).toDF("sourceId", "name"),
          Seq("sourceId"), compareCols = Seq("name")))
      val reader = Loader("b_reader", Seq("seed"), _ => {
        seen.set(store.read("dim").map(_.count()).getOrElse(0L))
        Map.empty[String, Long]
      })
      (store, Seq(seed, writer, reader), () => seen.get())
    }
    for (par <- Seq(1, 4)) {
      val (store, loaders, seen) = build(
        Inputs.scratchDir(s"graft-pin$par"))
      val r = Orchestrator.run(spark, loaders, parallelism = par,
        beforeLevel = () => store.pinVersions(),
        afterLevel = () => store.unpinVersions())
      assert(r.succeeded.size == 3)
      assert(seen() == 1L, s"parallelism=$par: reader must see ONLY the seed row")
      // after the run the write is visible as usual
      assert(store.read("dim").get.count() == 2L)
    }
  }

  test("merge classify sees same-level sibling writes even while pinned (no row loss)") {
    import spark.implicits._
    // two same-level loaders merging DISJOINT keys into one table while a
    // pin is active: the second merge's bucket rewrite must include the
    // first's rows — a pinned classify would silently drop them
    val store = new graft.core.PersistentGraphStore(spark,
      Inputs.scratchDir("graft-pinmerge"),
      nBuckets = 1) // one bucket forces full overlap
    val writers = (1 to 4).map { i =>
      Loader(s"w$i", Seq.empty, _ =>
        store.merge("t", Seq((s"k$i", s"v$i")).toDF("sourceId", "name"),
          Seq("sourceId"), compareCols = Seq("name")))
    }
    Orchestrator.run(spark, writers, parallelism = 4,
      beforeLevel = () => store.pinVersions(),
      afterLevel = () => store.unpinVersions())
    assert(store.read("t").get.count() == 4L)
  }

  test("a failure without a message still names its exception") {
    import spark.implicits._
    // the NullPointerException comes back from a writeAll batch thread
    val store = new graft.core.PersistentGraphStore(spark,
      Inputs.scratchDir("graft-npe")) {
      override def upsertEdges(rawCandidates: org.apache.spark.sql.DataFrame) =
        throw new NullPointerException()
    }
    val report = Orchestrator.run(spark, Seq(Loader("npe", Seq.empty, _ =>
      store.writeAll(Seq(graft.core.PersistentGraphStore.Edges(
        Seq(("a", "b", "SubClassOf")).toDF("out", "in", "edgeClass")))))))
    assert(report.statuses("npe") == Failed("java.lang.NullPointerException"))
  }

  test("a failure keeps only the first line of its message") {
    val report = Orchestrator.run(spark, Seq(Loader("multi", Seq.empty, _ =>
      throw new IllegalStateException("job aborted\n\tat executor frame\n\tat more"))))
    assert(report.statuses("multi") ==
      Failed("java.lang.IllegalStateException: job aborted"))
  }

  test("full corpus DAG: every loader succeeds into one store; rerun creates nothing") {
    val store = new graft.core.PersistentGraphStore(spark,
      Inputs.scratchDir("graft-corpus"))
    val ncit = FullCorpus.writeNcitSample()
    val r1 = FullCorpus.run(spark, store, ncit)
    val failed = r1.statuses.filterNot(_._2.isInstanceOf[Succeeded])
    assert(failed.isEmpty, failed.toString)
    // dims flowed through the store: the refseq gene edge is gated on the
    // entrez-hydrated dimension, civic's gene reference joined `genes`
    val genes = store.read("genes").get
    assert(genes.count() == 2) // entrez kras + civic npm1
    // shared therapy table holds all three sources (schema evolution)
    // + the cgi node's resolve-miss creation
    assert(store.read("therapies").get.count() == 103)
    val r2 = FullCorpus.run(spark, store, ncit)
    assert(r2.succeeded.size == r1.succeeded.size, r2.statuses.toString)
    val creates = r2.statuses.values.collect {
      case Succeeded(c) =>
        c.collect { case (k, v) if k.contains("create") => v }.sum
    }.sum
    assert(creates == 0L, s"rerun created $creates rows")
  }
}
