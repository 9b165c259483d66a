package graft.orchestrate

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.TestSpark
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, LocalLimit, LocalRelation, LogicalPlan, OneRowRelation, ResolvedHint}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Broadcast-hint lint over the REAL loader plans: runs the whole
  * 22-loader corpus DAG under a QueryExecutionListener and walks every
  * analyzed plan's `ResolvedHint` subtree, asserting each pinned
  * broadcast is PROVABLY BOUNDED — a pinned hint on a row-proportional
  * frame is exactly the 100 TB failure mode (the build side OOMs the
  * driver at 1000× the test corpus, where an AQE-decided join would have
  * degraded to shuffle).
  *
  * Bounded means one of:
  *  - an Aggregate or Limit sits inside the hinted subtree (census /
  *    top-k / distinct derivations — output cardinality is key-bounded);
  *  - every leaf is a literal seed (LocalRelation / OneRowRelation);
  *  - a file-scan leaf reads a recorded fixture (the reference's
  *    `test/data` recordings or the repo's packaged fixtures — bounded
  *    dimension recordings by construction);
  *  - a file-scan leaf reads a store DIMENSION table from the allowlist
  *    below — the tables the reference itself holds as in-memory caches.
  *    Fact-shaped tables (statements, variants, edges, …) are NOT
  *    allowlisted: re-pinning a broadcast on one of them fails this spec.
  */
class BroadcastHintLintSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Store tables a loader may pin-broadcast: the reference's driver-side
    * caches (vocab terms, source defs, gene/article/refseq dims, disease
    * and therapy ontologies, feature dims). Corpus-proportional tables
    * (statements, variants, edges, trials, fusions) are deliberately
    * absent.
    */
  private val DimTables = Set(
    "vocabulary", "sources", "genes", "genes_hgnc", "articles", "refseq",
    "refseqs",
    "features", "diseases", "therapies", "signatures", "chromosomes",
    "evidenceLevels", "evidence_levels", "terms", "vertices",
    "catalogue_variants")

  private def leafOk(p: LogicalPlan): Either[String, Unit] = p match {
    case _: LocalRelation => Right(())
    case _: OneRowRelation => Right(())
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation =>
        val path = fs.location.rootPaths.headOption.map(_.toString).getOrElse("")
        if (path.contains("/reference/") || path.contains("/resources/fixtures/") ||
          path.contains(s"${graft.Inputs.scratchRoot}/fixture")) Right(())
        else {
          // store layout: .../<table>/v=<NNNN>[/__b=<bucket>]
          val table = "/([^/]+)/v=?\\d+".r.findFirstMatchIn(path).map(_.group(1))
          table match {
            case Some(t) if DimTables(t) => Right(())
            case Some(t) => Left(s"store table '$t' ($path)")
            case None => Left(s"unclassified scan $path")
          }
        }
      case other => Left(s"non-file relation ${other.getClass.getSimpleName}")
    }
    case other => Left(s"leaf ${other.getClass.getSimpleName}")
  }

  private def bounded(hinted: LogicalPlan): Either[String, Unit] = {
    val hasAggOrLimit = hinted.collectFirst {
      case _: Aggregate => (); case _: GlobalLimit => (); case _: LocalLimit => ()
    }.isDefined
    if (hasAggOrLimit) Right(())
    else {
      val leaves = hinted.collectLeaves()
      leaves.map(leafOk).collectFirst { case Left(why) => why }
        .toLeft(()).left.map(w => s"$w in hinted subtree:\n$hinted")
    }
  }

  test("the lint has teeth: a pinned broadcast on a fact table is flagged") {
    import org.apache.spark.sql.functions.{broadcast, col}
    import spark.implicits._
    // a store-shaped FACT table path (statements is corpus-proportional)
    val root = java.nio.file.Files.createTempDirectory("graft-lint-neg")
    val p = s"$root/statements/v=00001/__b=0"
    Seq((1L, "s")).toDF("id", "payload").write.parquet(p)
    val fact = spark.read.parquet(p)
    val probe = Seq(1L).toDF("id").join(broadcast(fact), Seq("id"))
    val hinted = probe.queryExecution.analyzed.collect {
      case h: ResolvedHint => h.child
    }
    assert(hinted.nonEmpty)
    assert(bounded(hinted.head).isLeft, "a raw fact-table broadcast must fail")
    // ...while an aggregate-derived census over the same fact passes
    val census = Seq(1L).toDF("id")
      .join(broadcast(fact.groupBy(col("id")).count()), Seq("id"))
    val hintedOk = census.queryExecution.analyzed.collect {
      case h: ResolvedHint => h.child
    }
    assert(hintedOk.nonEmpty && bounded(hintedOk.head).isRight)
  }

  test("every pinned broadcast across the full corpus DAG is bounded") {
    val plans = new ConcurrentLinkedQueue[LogicalPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = plans.add(qe.analyzed)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val store = new graft.core.PersistentGraphStore(spark,
        java.nio.file.Files.createTempDirectory("graft-lint").toString)
      val r = FullCorpus.run(spark, store, FullCorpus.writeNcitSample())
      val failed = r.statuses.filterNot(_._2.isInstanceOf[Orchestrator.Succeeded])
      assert(failed.isEmpty, failed.toString)
      // drain the async listener bus before reading the collected plans
      // (listenerBus is private[spark]; poll until the queue stabilizes)
      var last = -1
      var same = 0
      while (same < 3) {
        Thread.sleep(200)
        val n = plans.size()
        if (n == last) same += 1 else { same = 0; last = n }
      }
    } finally spark.listenerManager.unregister(listener)

    val hints = plans.asScala.toSeq.flatMap(_.collect {
      case h: ResolvedHint if h.hints.strategy.exists(
        _.toString.toLowerCase.contains("broadcast")) => h.child
    })
    assert(hints.nonEmpty, "listener captured no broadcast hints — the " +
      "lint would vacuously pass; did the hint API or listener change?")
    val violations = hints.flatMap(h => bounded(h).left.toOption)
    assert(violations.isEmpty,
      s"${violations.size} unbounded pinned broadcast(s):\n" +
        violations.distinct.take(5).mkString("\n---\n"))
  }
}
