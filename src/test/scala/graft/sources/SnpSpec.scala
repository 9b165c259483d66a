package graft.sources

import java.nio.file.Files

import graft.Inputs
import graft.Inputs.TestData
import graft.TestSpark
import graft.core.PersistentGraphStore
import org.scalatest.funsuite.AnyFunSuite

/** dbSNP loader (reference src/entrez/snp.js): docsum parse, the
  * cds→protein→gene Infers ladder, per-leg error degradation, catalogue
  * cache skip on rerun.
  */
class SnpSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val snpFixture = Inputs.fixture("entrez_snp.esummary.json")
  def snpFetcher = Snp.rsFetcher(
    Seq("121434568", "28934576", "1042522", "9999999")
      .map(u => u -> snpFixture).toMap)
  def refseqFetcher = Entrez.fileFetcher(Map(
    "NM_005228.5" -> s"$TestData/entrez_refseq.NM_005228.5.json",
    "NP_005219.2" -> Inputs.fixture("entrez_refseq.NP_005219.2.json"),
    "NP_000537.3" -> Inputs.fixture("entrez_refseq.NP_000537.3.json")))
  def geneFetcher = Entrez.fileFetcher(
    Map("1956" -> Inputs.fixture("entrez_gene.1956.json")))

  def vocab = {
    import spark.implicits._
    Seq(("substitution", "so:substitution")).toDF("name", "term_id")
  }

  test("docsum parse: sort-reverse pick, &gt; unescape, tag split") {
    import spark.implicits._
    val fetched = Seq(("121434568",
      """{"uid":"121434568","snp_id":121434568,"updatedate":"2022/10/13",
        |"genes":[{"name":"EGFR","gene_id":"1956"}],
        |"docsum":"HGVS=NM_005228.4:c.2573T&gt;G,NM_005228.5:c.2573T&gt;G,NP_005219.2:p.Leu858Arg;SEQ=[T/G]"}"""
        .stripMargin.replace("\n", ""))).toDF("id", "payload")
    val row = Snp.parseSnp(fetched).collect().head
    assert(row.getAs[String]("name") == "rs121434568")
    assert(row.getAs[String]("url") == "https://www.ncbi.nlm.nih.gov/snp/rs121434568")
    // reverse-sorted: the .5 transcript wins over .4 (snp.js:122-125)
    assert(row.getAs[String]("cds") == "NM_005228.5:c.2573T>G")
    assert(row.getAs[String]("protein") == "NP_005219.2:p.Leu858Arg")
    assert(row.getAs[scala.collection.Seq[String]]("genes").toSeq == Seq("1956"))
  }

  test("full ladder: catalogue + cds/protein/alt variants + Infers chain") {
    import spark.implicits._
    val store = new PersistentGraphStore(spark,
      Inputs.scratchDir("graft-snp"))
    val ids = Seq("rs121434568", "rs28934576", "rs1042522", "rs9999999",
      "rs404040404").toDS()
    val c = Snp.fetchAndLoad(spark, store, ids, snpFetcher, refseqFetcher,
      geneFetcher, vocab)
    assert(c("catalogue_create") == 4L)
    assert(c("misses") == 1L) // rs404040404 has no recording
    assert(c("hgvs_errors") == 1L) // the c.totallybad parse failure
    // rs121434568: cds + protein + gene-alt; rs28934576: protein only
    assert(c("variants_create") == 4L)
    // Infers: cds→protein, protein→alt, cds→catalogue, protein→catalogue
    assert(c("edges_created") == 4L)

    val vids = store.read("variants").get.collect()
      .map(_.getAs[String]("vid")).toSet
    assert(vids == Set(
      "NM_005228:NM_005228.5:c.2573T>G@so:substitution",
      "NP_005219:NP_005219.2:p.Leu858Arg@so:substitution",
      "1956:NP_005219.2:p.Leu858Arg@so:substitution",
      "NP_000537:NP_000537.3:p.Arg273His@so:substitution"))
    // 3-letter AA codes canonicalized in the break repr
    val byVid = store.read("variants").get.collect()
      .map(r => r.getAs[String]("vid") -> r.getAs[String]("break1")).toMap
    assert(byVid("NP_005219:NP_005219.2:p.Leu858Arg@so:substitution") == "p.L858")
    assert(byVid("NP_000537:NP_000537.3:p.Arg273His@so:substitution") == "p.R273")

    val edges = store.read("edges").get.collect()
      .map(r => (r.getAs[String]("out"), r.getAs[String]("in"))).toSet
    assert(edges == Set(
      ("NM_005228:NM_005228.5:c.2573T>G@so:substitution",
        "NP_005219:NP_005219.2:p.Leu858Arg@so:substitution"),
      ("NP_005219:NP_005219.2:p.Leu858Arg@so:substitution",
        "1956:NP_005219.2:p.Leu858Arg@so:substitution"),
      ("NM_005228:NM_005228.5:c.2573T>G@so:substitution", "rs121434568"),
      ("NP_000537:NP_000537.3:p.Arg273His@so:substitution", "rs28934576")))

    // hydrated reference dims
    val refs = store.read("refseq").get.collect()
      .map(r => (r.getAs[String]("sourceId"), r.getAs[String]("biotype"))).toSet
    assert(refs == Set(("NM_005228", "transcript"), ("NP_005219", "protein"),
      ("NP_000537", "protein")))
    assert(store.read("genes").get.collect()
      .map(_.getAs[String]("sourceId")).toSet == Set("1956"))

    // rerun: catalogue cache hit → nothing fetched, all-noop
    val c2 = Snp.fetchAndLoad(spark, store,
      Seq("rs121434568", "rs28934576").toDS(), snpFetcher, refseqFetcher,
      geneFetcher, vocab)
    assert(!c2.contains("catalogue_create") && !c2.contains("variants_create"))
    assert(c2.getOrElse("edges_created", 0L) == 0L)
  }

  test("civic rsID routing: catalogue variant instead of category variant") {
    import spark.implicits._
    val dir = java.nio.file.Paths.get(Inputs.scratchDir("graft-snp-civic"))
    val json = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$TestData/civic_variant.json")), "UTF-8")
    val rsRec = """{"id": 999, "entrez_name": "EGFR", "entrez_id": 1956,
      |"name": "RS121434568", "description": ""}""".stripMargin
    val path = dir.resolve("civic_with_rsid.json")
    Files.write(path, s"[$json,\n$rsRec]".getBytes("UTF-8"))

    val store = new PersistentGraphStore(spark, dir.resolve("store").toString)
    val vocabDf = Seq(
      ("mutation", "civic", "civic:mutation"),
      ("substitution", "sequence ontology", "so:substitution"))
      .toDF("name", "source", "term_id")
    val c = CivicVariants.load(spark, store, path.toString, vocabDf,
      rsidLoad = Some(ids => Snp.fetchAndLoad(spark, store, ids, snpFetcher,
        refseqFetcher, geneFetcher,
        vocabDf.select("name", "term_id"), variantsTable = "variants")))
    // the rsID record became a catalogue variant + ladder, NOT a civic
    // category variant (uploadVariant returns before the gene reference
    // path, civic/variant.js:508-522)
    assert(c("rsid_catalogue_create") == 1L)
    assert(store.read("catalogue_variants").get.count() == 1L)
    val feats = store.read("features").get.collect()
      .map(_.getAs[String]("name")).toSet
    assert(feats == Set("npm1")) // only the grammar record's gene
    // the grammar record still loads through the normal path
    val notations = store.read("variants").get.collect()
      .map(_.getAs[String]("notation")).toSet
    assert(notations.contains("npm1:e.12mut"))
    assert(notations.contains("NM_005228.5:c.2573T>G"))
  }
}
