package graft.sources

import java.nio.file.Files

import graft.Inputs.TestData
import graft.TestSpark
import graft.core.PersistentGraphStore
import graft.orchestrate.Orchestrator
import graft.orchestrate.Orchestrator.{Loader, Succeeded}
import org.scalatest.funsuite.AnyFunSuite

/** The minimum end-to-end corpus slice (SURVEY §7.2 step 3): vocab →
  * {doid, drugbank} through the Orchestrator into one persistent store,
  * against the reference's own golden fixtures; re-running the whole
  * corpus is a no-op.
  */
class LoadersSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val doid = s"$TestData/doid.sample.json"
  val drugbank = s"$TestData/drugbank_sample.xml"

  test("doid loader: vertices + SubClassOf edges, idempotent rerun") {
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e").toString)
    val c1 = Loaders.loadDoid(spark, store, doid)
    assert(c1("create") == 2L) // two nodes in the sample
    assert(c1("edges_created") == 2L) // two is_a edges
    val c2 = Loaders.loadDoid(spark, store, doid)
    assert(c2("noop") == 2L && c2.get("create").isEmpty)
    assert(c2("edges_created") == 0L)
    assert(store.read("vertices").get.count() == 2)
    assert(store.read("edges").get.count() == 2)
  }

  test("drugbank loader through the streaming rowTag scan") {
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e2").toString)
    assert(Loaders.loadDrugbank(spark, store, drugbank) == Map("create" -> 1L))
    val row = store.read("therapies").get.collect().head
    assert(row.getAs[String]("sourceId") == "DB00530")
    assert(row.getAs[String]("name") == "erlotinib")
    assert(Loaders.loadDrugbank(spark, store, drugbank) == Map("noop" -> 1L))
  }

  test("drugbank full records: aliases filtered, chembl ids, hgnc targets") {
    val r = Loaders.drugbankRecords(spark, drugbank).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getAs[String]("sourceId") == "DB00530")
    assert(row.getAs[String]("name") == "Erlotinib")
    assert(row.getAs[String]("sourceIdVersion") == "2019-07-02")
    assert(row.getAs[String]("unii") == "J4T82NDH7E")
    assert(row.getAs[String]("molecularFormula") == "C22H23N3O4")
    assert(row.getAs[String]("iupacName")
      .startsWith("N-(3-ethynylphenyl)"))
    // hyphenated product names (Apo-erlotinib, ...) fail ^[a-zA-Z]\w+$,
    // the drug's own name and the two-word form are excluded → tarceva only
    assert(row.getSeq[String](row.fieldIndex("aliases")) == Seq("tarceva"))
    assert(row.getSeq[String](row.fieldIndex("chemblIds")) == Seq("CHEMBL553"))
    val targets = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("hgncTargets"))
    assert(targets.map(t => (t.getString(0), t.getString(1))) ==
      Seq(("HGNC:3236", "antagonist")))
    // first atc-code's levels, most-specific first, codes lowercased
    val atc = row.getSeq[org.apache.spark.sql.Row](row.fieldIndex("atcLevels"))
    assert(atc.map(l => (l.getString(0), l.getString(1))) == Seq(
      ("Protein kinase inhibitors", "l01xe"),
      ("OTHER ANTINEOPLASTIC AGENTS", "l01x"),
      ("ANTINEOPLASTIC AGENTS", "l01"),
      ("ANTINEOPLASTIC AND IMMUNOMODULATING AGENTS", "l")))
    assert(row.getSeq[String](row.fieldIndex("subsets")) == Seq(
      "Antineoplastic Agents", "Antineoplastic and Immunomodulating Agents"))
  }

  test("drugbank full loader: vertices + 6 edge families, idempotent rerun") {
    import spark.implicits._
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e5").toString)
    val fda = Seq(("J4T82NDH7E", "ERLOTINIB"), ("XXUNMATCHED", "OTHER"))
      .toDF("sourceId", "name")
    val chembl = Seq(("CHEMBL553", "ERLOTINIB")).toDF("sourceId", "name")
    val genes = Seq(("HGNC:3236", "egfr")).toDF("hgncId", "symbol")
    val c1 = Loaders.loadDrugbankFull(spark, store, drugbank, fda, chembl, genes)
    assert(c1("create") == 6L) // main + tarceva alias + 4 ATC levels
    // aliasof, fda xref, chembl xref, targetof, drug→atc, 3 ladder rungs
    assert(c1("edges_created") == 8L)
    assert(c1.get("error").isEmpty)
    val c2 = Loaders.loadDrugbankFull(spark, store, drugbank, fda, chembl, genes)
    assert(c2.get("create").isEmpty && c2.get("update").isEmpty)
    assert(c2("edges_created") == 0L)
    val edges = store.read("edges").get.collect()
      .map(r => (r.getAs[String]("edgeClass"), r.getAs[String]("out"),
        r.getAs[String]("in"))).toSet
    assert(edges == Set(
      ("aliasof", "DB00530|tarceva", "DB00530|Erlotinib"),
      ("CrossReferenceOf", "DB00530|Erlotinib", "J4T82NDH7E|ERLOTINIB"),
      ("CrossReferenceOf", "DB00530|Erlotinib", "CHEMBL553|ERLOTINIB"),
      ("targetof", "egfr", "DB00530|Erlotinib"),
      ("subclassof", "DB00530|Erlotinib", "l01xe|Protein kinase inhibitors"),
      ("subclassof", "l01xe|Protein kinase inhibitors",
        "l01x|OTHER ANTINEOPLASTIC AGENTS"),
      ("subclassof", "l01x|OTHER ANTINEOPLASTIC AGENTS",
        "l01|ANTINEOPLASTIC AGENTS"),
      ("subclassof", "l01|ANTINEOPLASTIC AGENTS",
        "l|ANTINEOPLASTIC AND IMMUNOMODULATING AGENTS")))
    val therapies = store.read("therapies").get.collect()
    assert(therapies.filter(_.getAs[Boolean]("atc")).map(r =>
      (r.getAs[String]("sourceId"), r.getAs[String]("name"))).toSet == Set(
      ("l01xe", "Protein kinase inhibitors"),
      ("l01x", "OTHER ANTINEOPLASTIC AGENTS"),
      ("l01", "ANTINEOPLASTIC AGENTS"),
      ("l", "ANTINEOPLASTIC AND IMMUNOMODULATING AGENTS")))
    val mainRow = therapies
      .find(r => !r.getAs[Boolean]("alias") && !r.getAs[Boolean]("atc")).get
    assert(mainRow.getSeq[String](mainRow.fieldIndex("subsets")) == Seq(
      "Antineoplastic Agents", "Antineoplastic and Immunomodulating Agents"))
  }

  test("drugbank ATC vertices are code-keyed: one canonical vertex per code") {
    import spark.implicits._
    // two drugs share both codes with DIFFERENT level names — the
    // reference's code-keyed ATC cache keeps one vertex per code
    // (first-seen name; here the deterministic min(name)) and routes
    // every drug/ladder edge to it (index.js:91-133)
    val xml =
      """<drugbank version="5.1">
        |<drug type="small molecule" updated="2019-07-02">
        |  <drugbank-id primary="true">DBA</drugbank-id><name>Alpha</name>
        |  <atc-codes><atc-code code="L01XE">
        |    <level code="L01XE">Protein kinase inhibitors</level>
        |    <level code="L01">ZEBRA AGENTS</level>
        |  </atc-code></atc-codes>
        |</drug>
        |<drug type="small molecule" updated="2019-07-02">
        |  <drugbank-id primary="true">DBB</drugbank-id><name>Beta</name>
        |  <atc-codes><atc-code code="L01XE">
        |    <level code="L01XE">Alternate kinase label</level>
        |    <level code="L01">ANTINEOPLASTIC AGENTS</level>
        |  </atc-code></atc-codes>
        |</drug>
        |</drugbank>""".stripMargin
    val f = Files.createTempFile("graft-atc", ".xml")
    Files.writeString(f, xml)
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e-atc").toString)
    val empty = Seq.empty[(String, String)].toDF("sourceId", "name")
    val genes = Seq.empty[(String, String)].toDF("hgncId", "symbol")
    Loaders.loadDrugbankFull(spark, store, f.toString, empty, empty, genes)
    val atcV = store.read("therapies").get.collect()
      .filter(_.getAs[Boolean]("atc"))
      .map(r => (r.getAs[String]("sourceId"), r.getAs[String]("name"))).toSet
    assert(atcV == Set(("l01xe", "Alternate kinase label"),
      ("l01", "ANTINEOPLASTIC AGENTS")))
    val sub = store.read("edges").get.collect()
      .filter(_.getAs[String]("edgeClass") == "subclassof")
      .map(r => (r.getAs[String]("out"), r.getAs[String]("in"))).toSet
    assert(sub == Set(
      ("DBA|Alpha", "l01xe|Alternate kinase label"),
      ("DBB|Beta", "l01xe|Alternate kinase label"),
      ("l01xe|Alternate kinase label", "l01|ANTINEOPLASTIC AGENTS")))
  }

  test("oncotree loader: 853 diseases, parent + NCI edges, idempotent") {
    val path = s"$TestData/tumorTypes-oncotree_latest_stable.json"
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e4").toString)
    val c1 = Loaders.loadOncotree(spark, store, path)
    assert(c1("create") == 853L)
    // every code except the root has a resolvable parent
    val edges = store.read("edges").get
    import org.apache.spark.sql.functions.col
    assert(edges.filter(col("edgeClass") === "SubClassOf").count() == 852L)
    val c2 = Loaders.loadOncotree(spark, store, path)
    assert(c2("noop") == 853L && c2("edges_created") == 0L)
  }

  test("ensembl biomart loader: versioned/generalized features + edge classes") {
    val path = s"$TestData/ensembl_biomart_export_ENSG00000139618.tsv"
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e5").toString)
    Loaders.loadEnsembl(spark, store, path)
    import org.apache.spark.sql.functions.col
    val feats = store.read("features").get
    // 1 gene + 4 transcripts + 4 proteins, each versioned + unversioned
    assert(feats.count() == 18L)
    assert(feats.filter(col("sourceIdVersion").isNull).count() == 9L)
    val edges = store.read("edges").get
    assert(edges.filter(col("edgeClass") === "generalizationof").count() == 9L)
    assert(edges.filter(col("edgeClass") === "crossreferenceof").count() == 1L)
    // K8 in anger: the null-versioned features must re-match themselves
    val c2 = Loaders.loadEnsembl(spark, store, path)
    assert(c2("noop") == 18L && c2("edges_created") == 0L)
  }

  test("hgnc loader: primary + prev/alias dependents and their edges") {
    val docs = Loaders.hgncDocs(spark,
      s"$TestData/external_api_responses.json",
      "http://rest.genenames.org/fetch/hgnc_id/1101")
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e6").toString)
    val c1 = Loaders.loadHgnc(spark, store, docs)
    assert(c1("create") == 8L) // BRCA2 + 3 prev + 4 alias
    import org.apache.spark.sql.functions.col
    val edges = store.read("edges").get
    assert(edges.filter(col("edgeClass") === "deprecatedby").count() == 3L)
    assert(edges.filter(col("edgeClass") === "aliasof").count() == 4L)
    assert(edges.filter(col("edgeClass") === "crossreferenceof").count() == 2L)
    assert(Loaders.loadHgnc(spark, store, docs)("noop") == 8L)
  }

  test("ncit pipeline: collision rejection + preferred-name reassignment") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val rows = Seq(
      Seq("C1", "<u>", "", "Syn A|Dup Name", "", "Dup Name", "", "Neoplastic Process", ""),
      Seq("C2", "<u>", "", "Syn B", "", "Dup Name", "", "Neoplastic Process", ""),
      Seq("C3", "<u>", "", "", "", "Mouse Dup", "", "Neoplastic Process", ""),
      Seq("C4", "<u>", "", "", "", "Mouse Dup", "", "Neoplastic Process", ""))
    val f = java.io.File.createTempFile("graft-ncit", ".txt")
    java.nio.file.Files.writeString(f.toPath,
      rows.map(_.mkString("\t")).mkString("\n"))
    val r = NcitLoad.resolved(spark, f.getPath)
    // species duplicates rejected wholesale
    assert(r.filter(col("rejected")).select("sourceId").as[String]
      .collect().toSet == Set("c3", "c4"))
    // duplicate group renamed to first ORIGINAL-case synonym
    assert(r.filter(col("sourceId") === "c1").select("name").as[String].head() == "Syn A")
    assert(r.filter(col("sourceId") === "c2").select("name").as[String].head() == "Syn B")
    // c1's alias list empties out: 'dup name' was removed by cleanRawRow
    // (equal to the original name) and 'syn a' equals the REASSIGNED name
    val v = NcitLoad.vertices(r)
    assert(v.filter(col("sourceId") === "c1" && col("alias")).count() == 0)
    assert(v.filter(col("sourceId") === "c2" && !col("alias"))
      .select("name").as[String].head() == "Syn B")
  }

  test("orchestrated mini-corpus: vocab → {doid, drugbank}, rerun all-noop") {
    val store = new PersistentGraphStore(spark,
      Files.createTempDirectory("graft-e2e3").toString)
    val loaders = Seq(
      Loader("vocab", Seq.empty, sp => Loaders.loadVocab(sp, store)),
      Loader("doid", Seq("vocab"), sp => Loaders.loadDoid(sp, store, doid)),
      Loader("drugbank", Seq("vocab"), sp => Loaders.loadDrugbank(sp, store, drugbank)))
    val r1 = Orchestrator.run(spark, loaders)
    assert(r1.succeeded == Seq("vocab", "doid", "drugbank"))
    val r2 = Orchestrator.run(spark, loaders)
    r2.statuses.values.foreach {
      case Succeeded(counts) =>
        assert(counts.get("create").isEmpty, s"rerun created rows: $counts")
        assert(counts.getOrElse("edges_created", 0L) == 0L)
      case other => fail(s"loader did not succeed on rerun: $other")
    }
  }
}
