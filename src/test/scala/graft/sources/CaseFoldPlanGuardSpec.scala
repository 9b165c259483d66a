package graft.sources

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.{Inputs, TestSpark}
import graft.core.PersistentGraphStore
import graft.orchestrate.FullCorpus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, InitCap, Lower, RuntimeReplaceable, Upper}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every write a loader hands the store plans no Spark `Lower`, `Upper` or
  * `InitCap` expression: the first of those a JVM evaluates runs the class
  * initializer that `graft.functions.CaseFold` exists to avoid. Covers the
  * three loaders the loader benchmark drives and every loader whose inputs
  * are bundled fixtures or inline records.
  */
class CaseFoldPlanGuardSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** A store that records, per public write, the case-fold expressions of
    * the incoming frame's analyzed plan, subqueries and lambdas included.
    */
  private final class GuardStore(spark: SparkSession, root: String)
      extends PersistentGraphStore(spark, root) {
    val writes = new ConcurrentLinkedQueue[String]()
    val offenders = new ConcurrentLinkedQueue[String]()

    private def check(call: String, df: DataFrame): Unit = {
      writes.add(call)
      CaseFoldPlanGuardSpec.caseFolds(df.queryExecution.analyzed)
        .foreach(e => offenders.add(s"$call: $e"))
    }

    override def merge(table: String, incoming: DataFrame, keyCols: Seq[String],
        compareCols: Seq[String], setCols: Seq[String],
        softDelete: Boolean): Map[String, Long] = {
      check(s"merge:$table", incoming)
      super.merge(table, incoming, keyCols, compareCols, setCols, softDelete)
    }

    override def upsertEdges(rawCandidates: DataFrame): Map[String, Long] = {
      check("upsertEdges", rawCandidates)
      super.upsertEdges(rawCandidates)
    }

    def assertClean(): Unit =
      assert(offenders.isEmpty, offenders.asScala.mkString("\n"))
  }

  private def guardStore(tag: String) = new GuardStore(spark, Inputs.scratchDir(tag))

  /** The dimensions the inline DAG loaders read from the store. */
  private def seedDims(store: PersistentGraphStore): Unit = {
    def put(table: String, df: DataFrame, key: String*): Unit =
      store.merge(table, df, key, compareCols = df.columns.filterNot(key.contains).toSeq)
    put("vocabulary", Seq("substitution", "mutation", "missense", "fusion",
      "sensitivity", "resistance", "gain of function", "responsive")
      .map(n => (n, "graphkb")).toDF("name", "source"), "name")
    put("genes", Seq(("3845", "KRAS"), ("673", "BRAF"), ("2130", "EWSR1"),
      ("2313", "FLI1"), ("4869", "npm1")).toDF("sourceId", "name"), "sourceId")
    put("genes_hgnc", Seq(("hgnc:6407", "KRAS")).toDF("sourceId", "name"),
      "sourceId", "name")
    put("chromosomes", Seq(("7", "7"), ("12", "12")).toDF("sourceId", "name"), "sourceId")
    put("signatures", Seq(("msi-h", "microsatellite instability-high"))
      .toDF("sourceId", "name"), "sourceId")
    put("features", Seq(("enst00000544455", Option.empty[String], "transcript"))
      .toDF("sourceId", "sourceIdVersion", "biotype"), "sourceId", "sourceIdVersion")
    put("refseqs", Seq(("nm_005228", "5")).toDF("sourceId", "sourceIdVersion"),
      "sourceId", "sourceIdVersion")
    put("diseases", Seq(("mel", "melanoma"), ("cancer", "cancer"))
      .toDF("sourceId", "name"), "sourceId")
    put("vertices", Seq(("doid:1909", "melanoma")).toDF("sourceId", "name"), "sourceId")
    put("therapies", Seq(("chembl553", "vemurafenib")).toDF("sourceId", "name"), "sourceId")
  }

  /** The loaders of the whole-corpus DAG that read no reference file. */
  private val inlineDagLoaders = Seq("allSources", "ncit", "uberon", "dgidb", "moa",
    "docm", "oncokb", "cancerhotspots", "cosmicResistance", "cosmicFusions", "cgi",
    "ascoAbstracts", "fdaApprovalsAnn", "pmc4232638", "pmc4468049", "cgl")

  test("the inline DAG loaders plan no Spark case fold in any write") {
    val store = guardStore("graft-casefold-dag")
    seedDims(store)
    val loaders = FullCorpus.loaders(store, FullCorpus.writeNcitSample())
      .filter(l => inlineDagLoaders.contains(l.name))
    assert(loaders.map(_.name) == inlineDagLoaders)
    val seeded = store.writes.size
    // ncit (NcitLoad.loadFrom), cancerhotspots (CancerHotspots.loadDs) and
    // cosmicFusions (CosmicFusions.loadDf) are the benchmark's entry points
    loaders.foreach(l => assert(l.run(spark).nonEmpty, l.name))
    assert(store.writes.size - seeded >= inlineDagLoaders.size)
    store.assertClean()
  }

  test("the bundled-fixture loaders plan no Spark case fold in any write") {
    val store = guardStore("graft-casefold-fixtures")
    Entrez.hydrate(spark, store, "genes", Seq("1956"),
      Entrez.fileFetcher(Map("1956" -> Inputs.fixture("entrez_gene.1956.json"))),
      Entrez.parseGene(_), Seq("sourceId"),
      Seq("biotype", "name", "displayName", "longName", "description", "url"))
    val snp = Inputs.fixture("entrez_snp.esummary.json")
    Snp.fetchAndLoad(spark, store, Seq("rs121434568", "rs9999999").toDS(),
      Snp.rsFetcher(Map("121434568" -> snp)),
      Entrez.fileFetcher(Map(
        "NP_005219.2" -> Inputs.fixture("entrez_refseq.NP_005219.2.json"),
        "NP_000537.3" -> Inputs.fixture("entrez_refseq.NP_000537.3.json"))),
      Entrez.fileFetcher(Map("1956" -> Inputs.fixture("entrez_gene.1956.json"))),
      Seq(("substitution", "so:substitution")).toDF("name", "term_id"))
    assert(store.writes.size >= 2)
    store.assertClean()
  }

  test("an inline sequence ontology plans no Spark case fold in any write") {
    val store = guardStore("graft-casefold-so")
    val owl = Inputs.file("so.owl",
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |  xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
        |  xmlns:owl="http://www.w3.org/2002/07/owl#">
        |  <owl:Class rdf:about="http://purl.obolibrary.org/obo/SO_0000001">
        |    <rdfs:label>region</rdfs:label>
        |    <rdfs:subClassOf rdf:resource="http://purl.obolibrary.org/obo/SO_0000110"/>
        |  </owl:Class>
        |  <owl:Class rdf:about="http://purl.obolibrary.org/obo/SO_0000110">
        |    <rdfs:label>sequence_feature</rdfs:label>
        |  </owl:Class>
        |</rdf:RDF>""".stripMargin)
    assert(SequenceOntology.load(spark, store, owl).nonEmpty)
    assert(store.writes.size >= 2)
    store.assertClean()
  }

  test("the guard sees a case fold in a projection, a lambda and a subquery") {
    val df = Seq(("a", Seq("B"))).toDF("s", "xs")
    def found(d: DataFrame) = CaseFoldPlanGuardSpec.caseFolds(d.queryExecution.analyzed)
    assert(found(df).isEmpty)
    assert(found(df.select(initcap(col("s")))).nonEmpty)
    assert(found(df.select(transform(col("xs"), x => upper(x)))).nonEmpty)
    assert(found(df.filter(col("s").ilike("A"))).nonEmpty)
    df.createOrReplaceTempView("casefold_guard")
    assert(found(spark.sql(
      "SELECT s FROM casefold_guard WHERE s IN (SELECT lower(s) FROM casefold_guard)")).nonEmpty)
  }
}

object CaseFoldPlanGuardSpec {

  /** Every `Lower`, `Upper` and `InitCap` in `plan`'s expressions, its
    * subqueries' and its lambdas', and in what a runtime-replaceable
    * expression (`ilike`) is rewritten to.
    */
  def caseFolds(plan: LogicalPlan): Seq[Expression] = {
    def inExpr(e: Expression): Seq[Expression] = {
      val here = e match {
        case _: Lower | _: Upper | _: InitCap => Seq(e)
        case r: RuntimeReplaceable => inExpr(r.replacement)
        case _ => Nil
      }
      here ++ e.children.flatMap(inExpr)
    }
    plan.collectWithSubqueries { case p => p.expressions.flatMap(inExpr) }.flatten
  }
}
