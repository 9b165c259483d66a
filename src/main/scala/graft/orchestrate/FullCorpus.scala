package graft.orchestrate

import org.apache.spark.sql.{SparkSession}
import org.apache.spark.sql.functions._

import graft.Inputs
import graft.Inputs.{SeedData, TestData}
import graft.core.PersistentGraphStore
import graft.sources._
import Orchestrator.Loader

/** The reference's whole-corpus dependency DAG wired over every
  * implemented end-to-end loader, all into ONE shared store.
  *
  * Dependency edges transcribed from the reference's Snakemake rules and
  * per-loader `dependencies` exports:
  *  - load_ncit ← vocab, load_fda_srs ← vocab (Snakefile:214-232; the
  *    UNII→NCIt xref additionally needs the NCIt terms, fdaSrs/index.js:66)
  *  - load_do / load_uberon / load_oncotree ← ncit (Snakefile:261-296)
  *  - load_drugbank ← fda_srs (Snakefile:279-287)
  *  - load_refseq ← vocab (Snakefile:243-251; entrez gene hydration is
  *    implicit via fetchAndLoadByIds, refseq/index.js:72)
  *  - load_ensembl ← refseq (Snakefile:252-260)
  *  - hgnc dependencies: [ensembl] (hgnc/index.js:296)
  *  - load_civic ← local vocab (Snakefile:367-376); its gene references
  *    hydrate through entrez (civic/variant.js:447-466)
  *  - clinicaltrialsgov ← the drug + disease dimensions it resolves
  *    against (clinicaltrialsgov/index.js:155-180)
  *  - vario / chembl: no upstream inputs (vario.js, chembl/index.js —
  *    fetched on demand)
  *
  * Dimensions flow THROUGH the store between loaders — fdaSrs resolves
  * NCIt codes against the terms the ncit loader merged, refseq gates its
  * gene edges on the entrez-hydrated dimension, clinicaltrialsgov resolves
  * interventions/conditions against the loaded therapy/disease tables —
  * exactly how the reference loaders resolve against the live graph.
  *
  * Shared class tables: `therapies` takes fdaSrs + drugbank + chembl
  * (same natural key, different payload columns — the store's schema
  * evolution aligns them), `features` takes ensembl + refseq, `genes`
  * takes entrez + civic references, `edges` takes every loader's edge
  * candidates. Sources whose natural key DIFFERS from the table's
  * (bucket-pruning requires one key per table) get their own table:
  * hgnc genes are keyed (sourceId, name) → `genes_hgnc`; VariO terms are
  * keyed sourceId while the seed vocabulary is keyed name → `vario_terms`.
  */
object FullCorpus {

  /** The NCIt Thesaurus sample (the rows the g3 oracle pins). Columns:
    * id, xmlTag, parents, synonyms, definition, name, status,
    * semanticType, subset.
    */
  val NcitSample: Seq[Seq[String]] = Seq(
    Seq("C1001", "<http://n/C1001>", "", "Skin Cancer Dark|Melanoma", "a skin cancer", "Melanoma", "", "Neoplastic Process", ""),
    Seq("C1002", "<http://n/C1002>", "C1001", "", "a glioma", "Glioma", "", "Neoplastic Process", ""),
    Seq("C1003", "<http://n/C1003>", "C61063", "", "", "Old Thing", "", "Neoplastic Process", ""),
    Seq("C1004", "<http://n/C1004>", "", "", "", "Gone", "Obsolete_Concept", "Neoplastic Process", ""),
    Seq("C1005", "<http://n/C1005>", "", "Aloe", "a plant", "Aloe Vera", "", "Plant", ""),
    Seq("C1006", "<http://n/C1006>", "C1005", "", "a cream", "Aloe Cream", "", "Unknown Thing", ""),
    Seq("C1007", "<http://n/C1007>", "", "", "", "Mystery", "", "Weird Category", ""),
    Seq("C1008", "<http://n/C1008>", "", "Mtum", "", "Mouse Tumor", "", "Neoplastic Process", ""),
    Seq("C1009", "<http://n/C1009>", "", "Mtm2", "", "Mouse Tumor", "", "Neoplastic Process", ""),
    Seq("C1010", "<http://n/C1010>", "", "EGFR Receptor Variant|ov1", "", "Egfr Overexpression", "", "Neoplastic Process", ""),
    Seq("C1011", "<http://n/C1011>", "", "EGFR Kinase Variant|ov2", "", "Egfr Overexpression", "", "Neoplastic Process", ""))

  def writeNcitSample(): String =
    Inputs.file("ncit-corpus.txt", NcitSample.map(_.mkString("\t")).mkString("\n"))

  /** Inline uberon RDF/XML sample (no reference fixture exists): three
    * labeled classes, one unlabeled, one ncit xref that misses the NCIt
    * sample's codes — the lookup-miss path at DAG scale.
    */
  def writeUberonSample(): String = {
    val owl =
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#"
        |    xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#"
        |    xmlns:owl="http://www.w3.org/2002/07/owl#"
        |    xmlns:obo="http://purl.obolibrary.org/obo/"
        |    xmlns:oboInOwl="http://www.geneontology.org/formats/oboInOwl#">
        |  <owl:Class rdf:about="http://purl.obolibrary.org/obo/UBERON_0000001">
        |    <rdfs:label>anatomical structure</rdfs:label>
        |    <oboInOwl:hasDbXref>NCIT:C12345</oboInOwl:hasDbXref>
        |  </owl:Class>
        |  <owl:Class rdf:about="http://purl.obolibrary.org/obo/UBERON_0000002">
        |    <rdfs:label>lung</rdfs:label>
        |    <rdfs:subClassOf rdf:resource="http://purl.obolibrary.org/obo/UBERON_0000001"/>
        |  </owl:Class>
        |  <owl:Class rdf:about="http://purl.obolibrary.org/obo/UBERON_0000003">
        |    <obo:IAO_0000115>no label</obo:IAO_0000115>
        |  </owl:Class>
        |  <owl:Class rdf:about="http://purl.obolibrary.org/obo/UBERON_0000004">
        |    <rdfs:label>heart</rdfs:label>
        |    <rdfs:subClassOf rdf:resource="http://purl.obolibrary.org/obo/UBERON_0000001"/>
        |  </owl:Class>
        |</rdf:RDF>""".stripMargin
    Inputs.file("uberon-corpus.owl", owl)
  }

  def loaders(store: PersistentGraphStore, ncitPath: String): Seq[Loader] = Seq(

    // all_sources/index.js: the full 39-definition source catalog is a
    // root — every loader's addSource upserts against it, and the J2
    // ladder's sourceRank rung reads its `sort` field
    Loader("allSources", Seq.empty, sp => SourceCatalog.load(sp, store)),

    // the REAL local-data DAG roots (Snakefile rule all_local: vocab,
    // signatures, chromosomes, evidenceLevels, aacr, asco)
    Loader("vocab", Seq.empty, sp => OntologyFile.load(sp, store,
      s"$SeedData/vocab.json", "vocabulary")),
    Loader("signatures", Seq.empty, sp => OntologyFile.load(sp, store,
      s"$SeedData/signatures.json", "signatures")),
    Loader("chromosomes", Seq.empty, sp => OntologyFile.load(sp, store,
      s"$SeedData/chromosomes.json", "chromosomes")),
    Loader("evidenceLevels", Seq.empty, sp => OntologyFile.load(sp, store,
      s"$SeedData/evidenceLevels.json", "evidence_levels")),
    Loader("aacr", Seq.empty, sp => OntologyFile.load(sp, store,
      s"$SeedData/aacr.json", "abstracts_aacr")),
    Loader("ascoLocal", Seq.empty, sp => OntologyFile.load(sp, store,
      s"$SeedData/asco.json", "abstracts_asco")),

    Loader("ncit", Seq("vocab"), sp => NcitLoad.load(sp, store, ncitPath)),

    Loader("fdaSrs", Seq("vocab", "ncit"), sp => FdaSrs.load(sp, store,
      s"$TestData/UNII_Records_25Oct2018_sample.txt",
      store.read("terms").get.select("sourceId"))),

    Loader("do", Seq("ncit"), sp =>
      Loaders.loadDoid(sp, store, s"$TestData/doid.sample.json")),

    Loader("oncotree", Seq("ncit"), sp => Loaders.loadOncotree(sp, store,
      s"$TestData/tumorTypes-oncotree_latest_stable.json")),

    Loader("drugbank", Seq("fdaSrs"), sp =>
      Loaders.loadDrugbank(sp, store, s"$TestData/drugbank_sample.xml")),

    Loader("entrez", Seq.empty, sp => {
      val g = Entrez.hydrate(sp, store, "genes", Seq("3845"),
        Entrez.fileFetcher(Map("3845" -> s"$TestData/entrez_gene.3845.json")),
        Entrez.parseGene(_), Seq("sourceId"),
        Seq("biotype", "name", "displayName", "longName", "description", "url"))
      val p = Entrez.hydrate(sp, store, "articles", Seq("30016509"),
        Entrez.fileFetcher(
          Map("30016509" -> s"$TestData/entrez_pubmed.30016509.json")),
        Entrez.parsePubmed(_), Seq("sourceId"),
        Seq("name", "journalName", "year", "displayName"))
      g ++ p.map { case (k, v) => s"pubmed_$k" -> v }
    }),

    Loader("refseq", Seq("vocab", "entrez"), sp => RefseqTab.load(sp, store,
      s"$TestData/LRG_RefSeqGene_d1541209245_kras.tab",
      store.read("genes").get)),

    Loader("ensembl", Seq("refseq"), sp => Loaders.loadEnsembl(sp, store,
      s"$TestData/ensembl_biomart_export_ENSG00000139618.tsv")),

    Loader("hgnc", Seq("ensembl"), sp => Loaders.loadHgnc(sp, store,
      Loaders.hgncDocs(sp, s"$TestData/external_api_responses.json",
        "http://rest.genenames.org/fetch/hgnc_id/1101"),
      table = "genes_hgnc")),

    Loader("vario", Seq.empty, sp => Vario.load(sp, store,
      s"$TestData/vario_v2018-04-27.owl", table = "vario_terms")),

    Loader("chembl", Seq.empty, sp =>
      Chembl.load(sp, store, s"$TestData/chembl.CHEMBL553.json")),

    Loader("civic", Seq("vocab", "entrez"), sp => {
      val vocabDim = store.read("vocabulary").get.select(col("name"),
        lit("graphkb").as("source"), col("name").as("term_id"))
      // rsID exception wired exactly as in production (civic/variant.js:
      // 508-522 → entrez/snp.js): the fixture carries no rsID variants,
      // so the leg runs empty here; g36_snp + the extended g12 row
      // exercise it with live rsIDs
      val snpFix = Inputs.fixture("entrez_snp.esummary.json")
      CivicVariants.load(sp, store, s"$TestData/civic_variant.json",
        vocabDim, featuresTable = "genes",
        rsidLoad = Some(ids => Snp.fetchAndLoad(sp, store, ids,
          Snp.rsFetcher(Map("121434568" -> snpFix)),
          Entrez.fileFetcher(Map(
            "NM_005228.5" -> s"$TestData/entrez_refseq.NM_005228.5.json",
            "NP_005219.2" -> Inputs.fixture("entrez_refseq.NP_005219.2.json"))),
          Entrez.fileFetcher(Map(
            "1956" -> Inputs.fixture("entrez_gene.1956.json"))),
          vocabDim.select("name", "term_id"), genesTable = "genes")))
    }),

    // deps = every loader feeding the dims read below: therapies is fed by
    // fdaSrs + drugbank + chembl, diseases by do + oncotree — declaring all
    // of them means a failed feeder skips this node instead of silently
    // resolving against a smaller dimension
    // "cgi" is here because cgi also MERGES resolve-miss stubs into the
    // therapies table this loader reads — without the edge the two land
    // in the same topological level and, under level-concurrent
    // execution, the dim content becomes thread-interleaving-dependent
    Loader("clinicaltrialsgov", Seq("drugbank", "chembl", "fdaSrs", "do", "oncotree", "cgi"), sp => {
      val therapyDim = store.read("therapies").get.select("name")
      val diseaseDim = store.read("vertices").get.select("name")
        .unionByName(store.read("diseases").get.select("name")).distinct()
      ClinicalTrials.load(sp, store,
        s"$TestData/clinicaltrialsgov.NCT03478891.json", therapyDim, diseaseDim)
    }),

    // uberon ← ncit (Snakefile:270-278): the xref gate resolves against
    // the loaded terms — the sample's NCIT code misses them, exercising
    // the skip path
    Loader("uberon", Seq("ncit"), sp => Uberon.load(sp, store,
      writeUberonSample(), store.read("terms").get.select("sourceId"))),

    // refseq esummary hydration on all four recorded fixtures
    Loader("entrezRefseq", Seq.empty, sp => {
      val ids = Seq("NC_000003.11", "NC_000003", "NM_005228.5", "NP_008819.1")
      Entrez.hydrate(sp, store, "refseqs", ids,
        Entrez.fileFetcher(
          ids.map(i => i -> s"$TestData/entrez_refseq.$i.json").toMap),
        Entrez.parseRefseq(_), Seq("sourceId", "sourceIdVersion"),
        Seq("biotype", "name", "displayName", "longName"),
        matchCol = "displayName")
    }),

    // dgidb ← entrez + chembl (dgidb/index.js:91 dependencies export):
    // interactions resolve against the store-loaded gene and drug dims
    Loader("dgidb", Seq("entrez", "chembl"), sp => Dgidb.load(sp, store,
      Seq(
        Dgidb.Interaction("dag-u1", "3845", "chembl:CHEMBL553",
          Seq("Inhibitor", " antagonist ")),
        Dgidb.Interaction("dag-u2", "9999", "chembl:CHEMBL553",
          Seq("inhibitor"))),
      store.read("genes").get, store.read("therapies").get)),

    // ---- record-level loaders over demo records, every dimension fed
    // from the store (real vocab terms, real chromosomes/signatures
    // tables, entrez-hydrated genes, oncotree diseases, ensembl
    // transcripts, refseq accessions). Each loader's demo notations are
    // disjoint so shared-table counts stay additive.

    Loader("moa", Seq("vocab", "chromosomes", "entrez"), sp => {
      import Moa.MoaVariant
      Moa.load(sp, store, Seq(
        MoaVariant(9101L, "KRAS", "somatic_variant", Some("7"),
          Some(140453136L), Some(140453136L), Some("A"), Some("T"),
          Some("c.1799T>A"), Some("p.V600E"), Some(15L), None),
        MoaVariant(9102L, "KRAS", "somatic_variant", None, None, None,
          None, None, None, None, None, Some("mutation")),
        // genomic-non-fatal isolation: chromosome 99 misses the dim, the
        // genomic form drops, the protein form still lands (no Infers
        // edge — its predecessor is gone)
        MoaVariant(9103L, "KRAS", "somatic_variant", Some("99"), Some(5L),
          Some(5L), Some("G"), Some("C"), None, Some("p.G12C"), None, None),
        // unresolved gene: every form drops, nothing lands (the reference
        // getUniqueRecordBy throw, warn-and-continue)
        MoaVariant(9104L, "GHOSTGENE", "somatic_variant", None, None, None,
          None, None, None, None, None, Some("mutation"))),
        genes = store.read("genes").get
          .select(col("name").as("symbol"), col("sourceId")),
        chromosomes = store.read("chromosomes").get.select("sourceId"),
        vocab = store.read("vocabulary").get.select(col("name"),
          col("source"), col("name").as("term_id")))
    }),

    Loader("docm", Seq("entrez", "chromosomes", "vocab"), sp => {
      import Docm.DocmRecord
      Docm.load(sp, store, Seq(
        DocmRecord("dag-d1", "p.G12D", "KRAS", "12", "GRCh37",
          25398284L, 25398284L, "C", "T", "SNV"),
        // protein-fatal: the unresolved gene fails the whole record (its
        // genomic form drops too) and lands in record_errors
        DocmRecord("dag-d2", "p.E9K", "GHOSTGENE", "12", "GRCh37",
          400L, 400L, "G", "A", "SNV")),
        genes = store.read("genes").get
          .select(col("name").as("symbol"), col("sourceId")),
        chromosomes = store.read("chromosomes").get
          .select(col("sourceId"), coalesce(col("name"), col("sourceId"))
            .as("name")),
        vocab = store.read("vocabulary").get
          .select(col("name"), col("name").as("term_id")))
    }),

    Loader("oncokb", Seq("entrez", "signatures", "vocab"), sp => {
      import OncoKb.OncoKbVariant
      OncoKb.load(sp, store, Seq(
        OncoKbVariant("dag-o1", "KRAS", "Oncogenic Mutations", "3845"),
        OncoKbVariant("dag-o2", "Other Biomarkers",
          "Microsatellite Instability-High", ""),
        // unresolvable entrez id → the error count, no variant
        OncoKbVariant("dag-o3", "GHOSTGENE", "Oncogenic Mutations",
          "424242")),
        genes = store.read("genes").get
          .select(col("sourceId"), col("name").as("symbol")),
        signatures = store.read("signatures").get
          .select(coalesce(nullif(col("name"), lit("")), col("sourceId"))
            .as("name"), col("sourceId")),
        vocab = store.read("vocabulary").get
          .select(col("name"), col("name").as("term_id")))
    }),

    Loader("cancerhotspots", Seq("entrez", "oncotree", "ensembl",
        "chromosomes", "vocab"), sp => {
      import CancerHotspots.HotspotRecord
      CancerHotspots.load(sp, store, Seq(
        HotspotRecord("dag-h1", "7", 140753336L, 140753336L, "A", "T",
          "3845", "p.Q61L", "enst00000544455", "c.182A>T", "mel"),
        // protein-fatal: unresolved gene → record_errors; the record's
        // genomic/cds forms drop with it
        HotspotRecord("dag-h2", "7", 1L, 1L, "A", "T", "424242",
          "p.Q61L", "enst00000544455", "c.182A>T", "mel")),
        genes = store.read("genes").get.select("sourceId"),
        chromosomes = store.read("chromosomes").get
          .select(col("sourceId"), coalesce(col("name"), col("sourceId"))
            .as("name")),
        transcripts = store.read("features").get
          .filter(col("sourceIdVersion").isNull)
          .select(col("sourceId"), col("biotype")),
        diseases = store.read("diseases").get.select("sourceId"),
        vocab = store.read("vocabulary").get
          .select(col("name"), col("name").as("term_id")))
    }),

    Loader("cosmicResistance", Seq("entrez", "hgnc", "chromosomes",
        "vocab"), sp => {
      import CosmicResistance.ResistanceRecord
      CosmicResistance.load(sp, store, Seq(
        ResistanceRecord("dag-m1", "KRAS_ENST00000311936",
          "ENSP00000308495.3:p.G13D", "ENST00000311936.7:c.38G>A",
          "12:g.25398281C>T", "COSM532")),
        genes = store.read("genes").get
          .select(col("name").as("symbol"), col("sourceId")),
        hgnc = store.read("genes_hgnc").get
          .select(col("name").as("symbol"), col("sourceId")),
        chromosomes = store.read("chromosomes").get.select("sourceId"),
        vocab = store.read("vocabulary").get
          .select(col("name"), col("name").as("term_id")))
    }),

    // "do" per the reference: Snakefile's load_cosmic_fusions inputs
    // all_diseases (do + ncit + oncotree) — the diseases dim read below
    // must be complete, and a failed DO load must skip this node
    Loader("cosmicFusions", Seq("oncotree", "vocab", "do"), sp => {
      import CosmicFusions.FusionRow
      CosmicFusions.load(sp, store, Seq(
        FusionRow("dag-f1", "cf1", "cs1", "EWSR1", "FLI1", "7", "6",
          "Melanoma", "skin", "p1"),
        FusionRow("dag-f2", "cf1", "cs2", "EWSR1", "FLI1", "7", "6",
          "Melanoma", "skin", "p1"),
        FusionRow("dag-f3", "cf1", "cs3", "EWSR1", "FLI1", "7", "6",
          "Melanoma", "skin", "p1")),
        diseases = store.read("diseases").get.select("name", "sourceId"))
    }),

    // cgi statements compose through the store: disease resolves against
    // the loaded do/oncotree dims, therapy against the loaded therapies
    // table (miss → created under the cgi source, so the RERUN resolves
    // it from the dim instead), relevance against the real vocab; the
    // 3-plus combination lands in the error side-channel in situ
    Loader("cgi", Seq("vocab", "do", "oncotree", "fdaSrs", "drugbank",
        "chembl"), sp => {
      import Cgi.CgiRow
      val diseaseDim = store.read("vertices").get.select("name", "sourceId")
        .unionByName(store.read("diseases").get.select("name", "sourceId"))
      Cgi.load(sp, store, Seq(
        CgiRow("dag-c1", "BRAF (V600E)", "BRAF", "MUT", "BRAF:V600E",
          "[Vemurafenib]", "", "PMID:21639808", disease = "melanoma",
          relevance = "Responsive"),
        CgiRow("dag-c2", "A (V1E) + B (V2E) + C (V3E)", "A", "MUT", "",
          "[Y]", "", "PMID:5", disease = "melanoma",
          relevance = "Responsive")),
        diseases = diseaseDim,
        therapies = store.read("therapies").get.select("name", "sourceId"),
        vocab = store.read("vocabulary").get
          .select(col("name"), col("name").as("term_id")))
    }),

    Loader("ascoAbstracts", Seq.empty, sp => Asco.load(sp, store, Seq(
      Asco.Abstract(1L, "9001", "2020", "am", "KRAS abstract", "Smith",
        "", ""),
      Asco.Abstract(2L, "9001", "2020", "am", "KRAS abstract", "Smith",
        "cit", "doi")))),

    Loader("fdaApprovalsAnn", Seq.empty, sp => FdaApprovals.load(sp, store,
      """<a href="/drugs/resources/dag-announce">x</a>""",
      Map("/drugs/resources/dag-announce" ->
        """<h1 class="content-title">FDA approves dagdrug</h1>
          |<article><p>On March 3, 2021 the FDA approved dagdrug.</p>
          |</article>""".stripMargin))),

    Loader("pmc4232638", Seq("entrez", "vocab"), sp => {
      // the relevance table needs the full sheet shape; feed the already-
      // flattened grid directly (the XLSX scan is g26's surface)
      import sp.implicits._
      val grid = Seq(("KRAS", "G12V", "Oncogene", "non-neutral", "yes",
        "", "", "", "123"))
        .toDF("Gene", "Amino acid change", "Type",
          "Functional classification",
          Pmc4232638.KinaseCol, Pmc4232638.Gof, Pmc4232638.Lof,
          Pmc4232638.Dom, "PubMed ID (PMID)")
      Pmc4232638.load(sp, store, grid,
        genes = store.read("genes").get
          .select(col("name").as("symbol"), col("sourceId")),
        vocab = store.read("vocabulary").get
          .select(col("name"), col("name").as("term_id")))
    }),

    Loader("pmc4468049", Seq("entrez", "oncotree", "vocab"), sp => {
      import Pmc4468049.{CodeCount, FusionRow}
      // the civic-hydrated gene is stored lowercase ('npm1') — the
      // symbol join is exact-case, as the store holds it
      Pmc4468049.load(sp, store, Seq(
        FusionRow("dag-p1", "KRAS__npm1", "3",
          Seq(CodeCount("MEL", "3")))),
        codeNames = Map("MEL" -> "Melanoma"),
        diseases = store.read("diseases").get.select("sourceId", "name"),
        genes = store.read("genes").get
          .select(col("name").as("symbol"), col("sourceId")),
        vocab = store.read("vocabulary").get
          .select(col("name"), col("name").as("term_id")))
    }),

    Loader("cgl", Seq("entrezRefseq", "entrez", "chromosomes", "vocab"),
      sp => {
        import Cgl.CglRecord
        Cgl.load(sp, store, Seq(
          CglRecord("dag-g1", "NM_005228.5", "c.2573T>G", "KRAS",
            "p.R306*", "", "", "", ""),
          // no loadable form: unknown gene + first-base-mismatch VCF
          // triplet → per-form isolation leaves nothing, the record errors
          CglRecord("dag-g2", "", "", "GHOSTGENE", "", "7", "300", "A",
            "TG")),
          transcripts = store.read("refseqs").get
            .select(col("sourceId"), col("sourceIdVersion")),
          genes = store.read("genes").get.select("name", "sourceId"),
          chromosomes = store.read("chromosomes").get
            .select(col("sourceId"), coalesce(col("name"), col("sourceId"))
              .as("name")),
          vocab = store.read("vocabulary").get
            .select(col("name"), col("name").as("term_id")),
          diseaseSid = "cancer")
      }))

  /** Level-internal loader concurrency. 8 measured ~10% faster than 4 on
    * the full DAG at local[32]; 16 plateaus — the residual cost is
    * per-job scheduling latency on many small fixture jobs, which a real
    * cluster amortizes.
    */
  private val Parallelism = 8

  /** Run the whole corpus DAG into `store`; returns the report. Levels
    * execute with bounded concurrency (Snakemake's independent-rule
    * parallelism): distinct-table loaders overlap fully, same-table
    * merges serialize on the store's per-table locks.
    */
  def run(spark: SparkSession, store: PersistentGraphStore,
      ncitPath: String): Orchestrator.Report = {
    // snapshot isolation per level: reads inside a level see exactly the
    // level-start store state, so results don't depend on intra-level
    // scheduling (sequential list order OR concurrent interleaving)
    val report =
      try Orchestrator.run(spark, loaders(store, ncitPath), Parallelism,
        beforeLevel = () => store.pinVersions(),
        afterLevel = () => store.unpinVersions())
      finally store.unpinVersions()
    // orchestration boundary: no loader holds an outstanding lazy read any
    // more, so superseded layers kept by auto-compaction are reclaimable
    store.vacuumAll()
    report
  }
}
