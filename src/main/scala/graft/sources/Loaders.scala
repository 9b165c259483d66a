package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.{lowerCase, upperCase}

/** End-to-end loader slice (SURVEY §7.2 step 3): scan → normalize →
  * resolve → upsert into the persistent graph store, per source, with the
  * reference's shapes:
  *
  *  - vocab: seed controlled terms (reference data/vocab.json via
  *    src/ontology/index.js) — the root of the Snakefile DAG;
  *  - doid: OBO-graph JSON → Disease vertices + SubClassOf edges
  *    (diseaseOntology/index.js:157-166, 102, 122-131);
  *  - drugbank: streaming rowTag XML → Therapy vertices
  *    (drugbank/index.js:279-333, 77-89).
  *
  * Each `load*` is idempotent: re-running against the same store yields
  * all-noop counters (the addRecord existsOk semantics, graphkb.js:545-612).
  */
object Loaders {

  private def parseCurie(c: org.apache.spark.sql.Column) =
    lowerCase(regexp_replace(regexp_extract(c, ".*/([A-Za-z]+_[0-9]+)$", 1), "_", ":"))

  /** Disease vertices from an OBO-graph JSON dump. */
  def doidVertices(spark: SparkSession, path: String): DataFrame =
    Scans.json(spark, path)
      .select(explode(col("graphs")(0)("nodes")).as("n"))
      .select(
        parseCurie(col("n.id")).as("sourceId"),
        col("n.lbl").as("name"),
        coalesce(
          exists(col("n.meta.basicPropertyValues"),
            x => x("pred").endsWith("deprecated") && x("val") === "true"),
          lit(false)).as("deprecated"),
        when(col("n.meta.synonyms").isNull, lit(0L))
          .otherwise(size(col("n.meta.synonyms")).cast("long")).as("nAlias"))
      .filter(col("sourceId") =!= "")

  /** SubClassOf edges from the OBO-graph `is_a` edge list. */
  def doidEdges(spark: SparkSession, path: String): DataFrame =
    Scans.json(spark, path)
      .select(explode(col("graphs")(0)("edges")).as("e"))
      .filter(col("e.pred") === "is_a")
      .select(parseCurie(col("e.sub")).as("out"), parseCurie(col("e.obj")).as("in"),
        lit("SubClassOf").as("edgeClass"))
      .filter(col("out") =!= "" && col("in") =!= "")

  def loadDoid(spark: SparkSession, store: PersistentGraphStore, path: String): Map[String, Long] =
    store.writeAll(Seq(
      Merge("vertices", doidVertices(spark, path),
        keyCols = Seq("sourceId"), compareCols = Seq("name", "deprecated", "nAlias")),
      Edges(doidEdges(spark, path))))

  /** Therapy vertices from the DrugBank XML via the streaming rowTag scan.
    * This is the MINIMAL corpus-DAG form (lowercased name, 64-char
    * mechanism prefix — normalization the g1/g14 oracles pin);
    * [[drugbankRecords]]/[[loadDrugbankFull]] below are the
    * full-fidelity port of processRecord (jest-pinned body fields,
    * aliases, xrefs, targets) with its own g35 oracle row.
    */
  def drugbankTherapies(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    XmlScan.rowTagFragments(spark, path, "drug")
      .map { frag =>
        val x = scala.xml.XML.loadString(frag)
        val primaryId = (x \ "drugbank-id")
          .collectFirst { case e if (e \@ "primary") == "true" => e.text }
          // fallback = the FIRST id (reference drugbank-id[0]; the bare
          // .text would CONCATENATE every id's text)
          .getOrElse((x \ "drugbank-id").headOption.map(_.text).getOrElse(""))
        (primaryId, (x \ "name").text.toLowerCase.trim,
          (x \ "cas-number").text, (x \ "unii").text,
          (x \ "mechanism-of-action").text.take(64))
      }
      .toDF("sourceId", "name", "casNumber", "unii", "mechanismOfAction")
  }

  def loadDrugbank(spark: SparkSession, store: PersistentGraphStore, path: String): Map[String, Long] =
    store.writeAll(Seq(Merge("therapies", drugbankTherapies(spark, path),
      keyCols = Seq("sourceId"),
      compareCols = Seq("name", "casNumber", "unii", "mechanismOfAction"))))

  // ---- drugbank, the full record slice (drugbank/index.js:38-249) --------

  /** One row per `<drug>` with EVERYTHING the reference's processRecord
    * consumes: the primary id (`drugbank-id[primary=true]`, index.js:35),
    * the Therapy body fields (description / mechanism-of-action / name /
    * `updated` attr as sourceIdVersion, index.js:51-58; IUPAC name +
    * molecular formula from calculated-properties, last-kind-wins like the
    * reference's assignment loop, index.js:67-75), the commercial-product
    * alias set (simple-word `^[a-zA-Z]\w+$` names only, the drug's own
    * name excluded case-insensitively, lowercased + deduped,
    * index.js:135-140), the drug-level ChEMBL external identifiers
    * (index.js:192-199), and per-target HGNC gene ids with the target's
    * `/`-joined action list (index.js:215-231; the reference compares
    * `gene.resource[0]` — its stream shape quirk — where the INTENT,
    * exercised by its fixture, is the full resource string), the ATC
    * level ladder of the FIRST `atc-code` element ((name, code
    * lowercased) in document order, most-specific first —
    * `atc-codes[0].atc-code[0].level`, index.js:42-49), and the
    * categories-derived `subsets` list (each `<category>` wrapper's
    * inner `<category>` text, index.js:60-66; null when the drug has no
    * categories, matching the reference's absent body field).
    *
    * Deliberate intent-over-quirk deviations from processRecord:
    *  - resource comparison (above): full string, not `resource[0]`;
    *  - MULTI-TARGET FAN-OUT: this iterates ALL `<target>` elements with
    *    per-target action lists, while the reference's xml-stream shape
    *    keeps only the single `drug.targets.target` node
    *    (index.js:215-231) — a multi-target drug here yields one
    *    targetof edge per target, which the reference never would.
    *    [[DrugbankRecordsPropertySpec]] pins this contract on random
    *    multi-target corpora.
    *  - ATC LADDER + SUBSETS ARE LIVE HERE, DEAD AT REFERENCE RUNTIME:
    *    index.js:42-49 (`drug['atc-codes'][0]...`) and :60-66
    *    (`drug.categories[0].category` + `cat.category[0]`) were written
    *    for an xml2js array shape, but the loader's own ajv spec
    *    (spec.json) declares both fields as object-or-empty-string — so
    *    at runtime `[0]` is always undefined: the atcLevels try/catch
    *    swallows the TypeError (ladder never built) and the categories
    *    guard is false (subsets never written; and had the path run,
    *    `cat.category[0]` on the spec's STRING category would be its
    *    first character). This port implements the documented intent
    *    (the array-shape reading, exercised by g35 + the property spec),
    *    not the dead runtime.
    *  - a record with NO `<categories>` element loads here with
    *    subsets=null, while the strict reference throws the TypeError
    *    OUTSIDE the try (index.js:60) and error-skips the whole record —
    *    real DrugBank exports always carry `<categories/>`, so only
    *    synthetic corpora can see the divergence.
    *
    * Malformed records degrade to null, not "": a `<drug>` with no
    * `<drugbank-id>` at all yields sourceId null (the reference's
    * checkSpec throws and processRecord counts it as an error —
    * [[loadDrugbankFull]] filters + side-channel-counts these the way
    * NcitLoad's `error` column does), and a missing/empty `updated`
    * attribute yields sourceIdVersion null like the other nullable
    * fields.
    */
  def drugbankRecords(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    XmlScan.rowTagFragments(spark, path, "drug")
      .map { frag =>
        val x = scala.xml.XML.loadString(frag)
        val primaryId = (x \ "drugbank-id")
          .collectFirst { case e if (e \@ "primary") == "true" => e.text }
          // fallback = the FIRST id (reference drugbank-id[0]; the bare
          // .text would CONCATENATE every id's text); no id at all → null
          // (reference checkSpec error path)
          .orElse((x \ "drugbank-id").headOption.map(_.text)).orNull
        val name = (x \ "name").text
        val props = (x \ "calculated-properties" \ "property")
          .map(p => ((p \ "kind").text, (p \ "value").text)).toMap
        val aliases = (x \ "products" \ "product").map(p => (p \ "name").text)
          .filter(p => p.matches("^[a-zA-Z]\\w+$") &&
            p.toLowerCase != name.toLowerCase)
          .map(_.toLowerCase).distinct.sorted
        val chemblIds = (x \ "external-identifiers" \ "external-identifier")
          .filter(e => (e \ "resource").text.toLowerCase == "chembl")
          .map(e => (e \ "identifier").text)
        val targets = for {
          t <- (x \ "targets" \ "target")
          actions = (t \ "actions" \ "action").map(_.text).mkString("/")
          p <- t \ "polypeptide"
          e <- p \ "external-identifiers" \ "external-identifier"
          if (e \ "resource").text == "HUGO Gene Nomenclature Committee (HGNC)"
        } yield ((e \ "identifier").text, actions)
        val atcLevels = (x \ "atc-codes" \ "atc-code").headOption
          .map(ac => (ac \ "level").map(l => (l.text, (l \@ "code").toLowerCase)))
          .getOrElse(Seq.empty)
        val cats = x \ "categories" \ "category"
        // cat.category[0] (index.js:63): the FIRST inner <category> of a
        // wrapper — .text would concatenate if a wrapper ever held several
        val subsets =
          if (cats.isEmpty) null
          else cats.map(c => (c \ "category").headOption.map(_.text).orNull)
        (primaryId, name, (x \ "description").text,
          Option(x \@ "updated").filter(_.nonEmpty).orNull,
          (x \ "mechanism-of-action").text,
          props.get("IUPAC Name").orNull, props.get("Molecular Formula").orNull,
          Option((x \ "unii").text.trim).filter(_.nonEmpty).orNull,
          aliases, chemblIds, targets, atcLevels, subsets)
      }
      .toDF("sourceId", "name", "description", "sourceIdVersion",
        "mechanismOfAction", "iupacName", "molecularFormula", "unii",
        "aliases", "chemblIds", "hgncTargets", "atcLevels", "subsets")
  }

  /** The complete drugbank load: main + alias + ATC-level Therapy
    * vertices keyed (sourceId, name) — the reference's fetchConditions
    * key (name, source, sourceId), index.js:80-86; one Therapy per ATC
    * level deduped across drugs like the reference's `ATC` cache,
    * index.js:91-103 — the cache is CODE-keyed (first-seen name wins);
    * here min(name) per code is the deterministic canonical name, and
    * all ladder/drug edges route to that one vertex — plus the six edge
    * families, endpoints as the NCIt-style `sourceId|name` composite
    * rids:
    *
    *  - aliasof alias→drug (index.js:142-160);
    *  - subclassof drug→lowest ATC level (index.js:105-117) and the
    *    level-chain ladder level[i]→level[i+1] (index.js:119-133),
    *    batch-deduped by upsertEdges the way existsOk suppresses the
    *    shared upper rungs;
    *  - CrossReferenceOf drug→FDA record whose UNII sourceId matches the
    *    drug's `unii` tag; a miss only logs, no edge (index.js:163-190);
    *  - CrossReferenceOf drug→ChEMBL molecule per drug-level ChEMBL
    *    external identifier (index.js:192-212, reference target spelled
    *    `crossreferenceof` — same class, normalized here);
    *  - targetof gene→drug carrying the action list as `comment`
    *    (index.js:232-247).
    *
    * `fdaDim` / `chemblDim` (sourceId, name) and `geneDim` (hgncId,
    * symbol) are the already-loaded dependency dimensions the reference
    * resolves against (its `dependencies: [fdaName]` + chembl cache +
    * hgnc fetch); all three broadcast — the XML side never shuffles.
    *
    * Records with no drugbank-id are excluded and side-channel counted
    * under `error` (the reference's checkSpec/catch → counts.error,
    * index.js:39 + util.js), mirroring NcitLoad's error column.
    */
  def loadDrugbankFull(spark: SparkSession, store: PersistentGraphStore,
      path: String, fdaDim: DataFrame, chemblDim: DataFrame,
      geneDim: DataFrame): Map[String, Long] = {
    val all = drugbankRecords(spark, path)
    val recs = all.filter(col("sourceId").isNotNull && col("sourceId") =!= "")
    withCached(all) {
      val errors = all.count() - recs.count()
      def rid(id: org.apache.spark.sql.Column, nm: org.apache.spark.sql.Column) =
        concat_ws("|", id, nm)
      val nullS = lit(null).cast("string")
      val nullA = lit(null).cast("array<string>")
      val main = recs.select(col("sourceId"), col("name"), col("description"),
        col("sourceIdVersion"), col("mechanismOfAction"), col("iupacName"),
        col("molecularFormula"), col("subsets"), nullS.as("dependency"),
        lit(false).as("alias"), lit(false).as("atc"))
      val aliasV = recs
        .select(col("sourceId"), col("name").as("__primary"),
          explode(col("aliases")).as("name"))
        .select(col("sourceId"), col("name"), nullS.as("description"),
          nullS.as("sourceIdVersion"), nullS.as("mechanismOfAction"),
          nullS.as("iupacName"), nullS.as("molecularFormula"),
          nullA.as("subsets"),
          rid(col("sourceId"), col("__primary")).as("dependency"),
          lit(true).as("alias"), lit(false).as("atc"))
      // the ATC cache (index.js:91-103) is keyed by CODE only: the
      // first-seen level name wins and every ladder/drug edge routes to
      // that ONE vertex. Distributed "first-seen" would be partition-
      // order-dependent; min(name) per code is the deterministic
      // equivalent. The (code → name) census is bounded by the ATC
      // taxonomy (~6.5k codes — the reference holds the same cache in
      // driver memory), so it broadcasts.
      val atcNames = recs.select(explode(col("atcLevels")).as("__l"))
        .groupBy(col("__l")("_2").as("__code"))
        .agg(min(col("__l")("_1")).as("__cname"))
      val atcV = atcNames
        .select(col("__code").as("sourceId"), col("__cname").as("name"),
          nullS.as("description"), nullS.as("sourceIdVersion"),
          nullS.as("mechanismOfAction"), nullS.as("iupacName"),
          nullS.as("molecularFormula"), nullA.as("subsets"),
          nullS.as("dependency"), lit(false).as("alias"), lit(true).as("atc"))
      val drugRid = rid(col("sourceId"), col("name"))
      val aliasOf = recs.select(col("sourceId"), col("name"),
          explode(col("aliases")).as("__alias"))
        .select(rid(col("sourceId"), col("__alias")).as("out"),
          drugRid.as("in"), lit("aliasof").as("edgeClass"), nullS.as("comment"))
      val fdaXref = recs.filter(col("unii").isNotNull)
        .join(broadcast(fdaDim.select(col("sourceId").as("unii"),
          col("name").as("__fdaName"))), Seq("unii"))
        .select(drugRid.as("out"),
          rid(col("unii"), col("__fdaName")).as("in"),
          lit("CrossReferenceOf").as("edgeClass"), nullS.as("comment"))
      val chemblXref = recs
        .select(col("sourceId"), col("name"), explode(col("chemblIds")).as("__cid"))
        .join(broadcast(chemblDim.select(col("sourceId").as("__cid"),
          col("name").as("__chemblName"))), Seq("__cid"))
        .select(drugRid.as("out"),
          rid(col("__cid"), col("__chemblName")).as("in"),
          lit("CrossReferenceOf").as("edgeClass"), nullS.as("comment"))
      val targetOf = recs
        .select(col("sourceId"), col("name"), explode(col("hgncTargets")).as("__t"))
        .join(broadcast(geneDim.select(col("hgncId").as("__hid"),
          col("symbol").as("__sym"))), col("__t")("_1") === col("__hid"))
        .select(col("__sym").as("out"), drugRid.as("in"),
          lit("targetof").as("edgeClass"), col("__t")("_2").as("comment"))
      // drug → lowest (first) ATC level (index.js:105-117); the endpoint
      // is the code's CANONICAL vertex, not the per-drug level text
      val drugAtc = recs.filter(size(col("atcLevels")) > 0)
        .select(drugRid.as("out"), col("atcLevels")(0)("_2").as("__code"))
        .join(broadcast(atcNames), Seq("__code"))
        .select(col("out"), rid(col("__code"), col("__cname")).as("in"),
          lit("subclassof").as("edgeClass"), nullS.as("comment"))
      // level[i] → level[i+1] ladder (index.js:119-133) between canonical
      // vertices; upsertEdges dedupes the rungs shared across drugs
      val atcLadder = recs.filter(size(col("atcLevels")) > 1)
        .select(explode(expr(
          "transform(sequence(0, size(atcLevels)-2), " +
            "i -> struct(atcLevels[i]._2 AS lo, atcLevels[i+1]._2 AS hi))")).as("p"))
        .select(col("p.lo").as("__lo"), col("p.hi").as("__hi"))
        .join(broadcast(atcNames.select(col("__code").as("__lo"),
          col("__cname").as("__loName"))), Seq("__lo"))
        .join(broadcast(atcNames.select(col("__code").as("__hi"),
          col("__cname").as("__hiName"))), Seq("__hi"))
        .select(rid(col("__lo"), col("__loName")).as("out"),
          rid(col("__hi"), col("__hiName")).as("in"),
          lit("subclassof").as("edgeClass"), nullS.as("comment"))
      val counts = store.writeAll(Seq(
        Merge("therapies", main.unionByName(aliasV).unionByName(atcV),
          keyCols = Seq("sourceId", "name"),
          compareCols = Seq("description", "sourceIdVersion",
            "mechanismOfAction", "iupacName", "molecularFormula", "subsets",
            "dependency", "alias", "atc")),
        Edges(aliasOf.unionByName(fdaXref).unionByName(chemblXref)
          .unionByName(targetOf).unionByName(drugAtc).unionByName(atcLadder))))
      if (errors > 0) counts + ("error" -> errors) else counts
    }
  }

  /** Seed vocabulary terms (the DAG root). */
  val VocabSeed: Seq[(String, String)] = Seq(
    ("sensitivity", "therapeutic efficacy"), ("resistance", "therapeutic efficacy"),
    ("likely oncogenic", "biological"), ("fusion", "structural variant"),
    ("mutation", "biological")) // data/vocab.json "mutation" SubClassOf biological

  def loadVocab(spark: SparkSession, store: PersistentGraphStore): Map[String, Long] = {
    import spark.implicits._
    store.writeAll(Seq(Merge("vocabulary", VocabSeed.toDF("name", "category"),
      keyCols = Seq("name"), compareCols = Seq("category"))))
  }

  // ---- oncotree (reference src/oncotree/index.js:72-260) -----------------

  /** Disease vertices from one oncotree tumorTypes dump: codes/parents
    * lowercased, `displayName = name [CODE]`, mainType as the subset
    * (oncotree/index.js:96-121, 214-220).
    */
  def oncotreeVertices(spark: SparkSession, path: String,
      version: String = "oncotree_latest_stable"): DataFrame =
    Scans.json(spark, path)
      .select(
        lowerCase(col("code")).as("sourceId"),
        col("name"),
        concat(col("name"), lit(" ["), upperCase(col("code")), lit("]")).as("displayName"),
        col("mainType").as("subset"),
        lit(version).as("sourceIdVersion"),
        lowerCase(col("parent")).as("parent"),
        coalesce(col("externalReferences.NCI"), array()).as("nciIds"))

  /** SubClassOf (child → parent, oncotree/index.js:131-137) and NCI
    * CrossReferenceOf (oncotree/index.js:226-252) edges. Parents that
    * don't resolve to a code are dropped, like the reference's error log.
    */
  def oncotreeEdges(spark: SparkSession, path: String): DataFrame = {
    val v = oncotreeVertices(spark, path)
    val codes = v.select(col("sourceId").as("parent")).distinct()
    val sub = v.filter(col("parent").isNotNull)
      .join(codes, Seq("parent"), "left_semi")
      .select(col("sourceId").as("out"), col("parent").as("in"),
        lit("SubClassOf").as("edgeClass"))
    val xref = v.select(col("sourceId").as("out"),
        explode(col("nciIds")).as("in"))
      .withColumn("in", lowerCase(col("in")))
      .withColumn("edgeClass", lit("CrossReferenceOf"))
    sub.unionByName(xref)
  }

  def loadOncotree(spark: SparkSession, store: PersistentGraphStore,
      path: String): Map[String, Long] =
    store.writeAll(Seq(
      Merge("diseases", oncotreeVertices(spark, path).drop("parent", "nciIds"),
        keyCols = Seq("sourceId"),
        compareCols = Seq("name", "displayName", "subset", "sourceIdVersion")),
      Edges(oncotreeEdges(spark, path))))

  // ---- ensembl biomart (reference src/ensembl/index.js:179-470) ----------

  private val BiomartHeader = Map(
    "Gene stable ID version" -> "geneIdVersion",
    "Transcript stable ID version" -> "transcriptIdVersion",
    "Protein stable ID version" -> "proteinIdVersion",
    "HGNC ID" -> "hgncId")

  /** The biomart export with versioned ids split (`ENSG...17` →
    * (ensg..., 17)), all lowercased (ensembl/index.js:190-196).
    */
  def biomartRows(spark: SparkSession, path: String): DataFrame = {
    val raw = Scans.delim(spark, path, headerMap = BiomartHeader,
      inferSchema = false)
    def split(c: String, id: String, ver: String) = Seq(
      split_part(lowerCase(col(c)), lit("."), lit(1)).as(id),
      // an unversioned id has no '.', split_part gives '' — null it like
      // the reference's undefined version (ensembl/index.js:105-107)
      nullif(split_part(lowerCase(col(c)), lit("."), lit(2)), lit("")).as(ver))
    raw.select(
      split("geneIdVersion", "geneId", "geneVer") ++
        split("transcriptIdVersion", "transcriptId", "transcriptVer") ++
        split("proteinIdVersion", "proteinId", "proteinVer") :+
        col("hgncId"): _*)
  }

  /** Feature vertices: versioned + unversioned gene/transcript/protein per
    * row, deduplicated (the reference's `visited` cache made set-based).
    */
  def ensemblFeatures(spark: SparkSession, path: String): DataFrame = {
    val rows = biomartRows(spark, path)
    def feat(bio: String, id: String, ver: String) = rows.select(
      lit(bio).as("biotype"), col(id).as("sourceId"),
      col(ver).as("sourceIdVersion"))
    Seq(("gene", "geneId", "geneVer"), ("transcript", "transcriptId", "transcriptVer"),
      ("protein", "proteinId", "proteinVer"))
      .map { case (b, id, ver) =>
        feat(b, id, ver).unionByName(
          feat(b, id, ver).withColumn("sourceIdVersion", lit(null).cast("string")))
      }
      .reduce(_ unionByName _)
      .distinct()
  }

  /** generalizationof (unversioned → versioned), elementof (transcript →
    * gene, protein → transcript, both at the versioned and unversioned
    * level) and the gene-level HGNC crossreferenceof
    * (ensembl/index.js:296-470). Versioned endpoints are written as
    * `id.version`.
    */
  def ensemblEdges(spark: SparkSession, path: String): DataFrame = {
    val rows = biomartRows(spark, path)
    def vid(id: String, ver: String) = concat_ws(".", col(id), col(ver))
    val parts = Seq(
      // generalizationof: unversioned → versioned
      rows.select(col("geneId").as("out"), vid("geneId", "geneVer").as("in"),
        lit("generalizationof").as("edgeClass")),
      rows.select(col("transcriptId").as("out"),
        vid("transcriptId", "transcriptVer").as("in"),
        lit("generalizationof").as("edgeClass")),
      rows.select(col("proteinId").as("out"),
        vid("proteinId", "proteinVer").as("in"),
        lit("generalizationof").as("edgeClass")),
      // elementof, unversioned and versioned
      rows.select(col("transcriptId").as("out"), col("geneId").as("in"),
        lit("elementof").as("edgeClass")),
      rows.select(vid("transcriptId", "transcriptVer").as("out"),
        vid("geneId", "geneVer").as("in"), lit("elementof").as("edgeClass")),
      rows.select(col("proteinId").as("out"), col("transcriptId").as("in"),
        lit("elementof").as("edgeClass")),
      rows.select(vid("proteinId", "proteinVer").as("out"),
        vid("transcriptId", "transcriptVer").as("in"),
        lit("elementof").as("edgeClass")),
      // gene → crossreferenceof → hgnc
      rows.filter(col("hgncId").isNotNull)
        .select(col("geneId").as("out"), lowerCase(col("hgncId")).as("in"),
          lit("crossreferenceof").as("edgeClass")))
    parts.reduce(_ unionByName _).distinct()
  }

  def loadEnsembl(spark: SparkSession, store: PersistentGraphStore,
      path: String): Map[String, Long] =
    // (sourceId, sourceIdVersion) is a null-padded key: the unversioned
    // record has sourceIdVersion = null and must match itself on re-run (K8)
    store.writeAll(Seq(
      Merge("features", ensemblFeatures(spark, path),
        keyCols = Seq("sourceId", "sourceIdVersion"), compareCols = Seq("biotype")),
      Edges(ensemblEdges(spark, path))))

  // ---- hgnc (reference src/hgnc/index.js:50-180, 260-293) ----------------

  /** `createDisplayName` (hgnc/index.js:41): uppercase with 'ORF' restored
    * to lowercase 'orf'. (JS String.replace touches only the first
    * occurrence; this replaces all — HGNC symbols contain at most one
    * 'orf' segment, so the outputs agree on real symbols.)
    */
  def hgncDisplayName(c: org.apache.spark.sql.Column) =
    regexp_replace(upperCase(c), "ORF", "orf")

  /** Gene features from an HGNC fetch response: the primary record plus
    * deprecated prev_symbol and alias_symbol dependents, all sharing the
    * primary's sourceId (hgnc/index.js:50-180).
    */
  def hgncFeatures(docs: DataFrame): DataFrame = {
    val main = docs.select(
      col("hgnc_id").as("sourceId"), col("symbol").as("name"),
      hgncDisplayName(col("symbol")).as("displayName"),
      col("name").as("longName"), lit(false).as("deprecated"),
      lit(false).as("dependent"))
    val prev = docs.select(col("hgnc_id").as("sourceId"),
        explode(col("prev_symbol")).as("name"))
      .select(col("sourceId"), col("name"),
        hgncDisplayName(col("name")).as("displayName"),
        lit(null).cast("string").as("longName"), lit(true).as("deprecated"),
        lit(true).as("dependent"))
    val alias = docs.select(col("hgnc_id").as("sourceId"),
        explode(col("alias_symbol")).as("name"))
      .select(col("sourceId"), col("name"),
        hgncDisplayName(col("name")).as("displayName"),
        lit(null).cast("string").as("longName"), lit(false).as("deprecated"),
        lit(true).as("dependent"))
    main.unionByName(prev).unionByName(alias)
  }

  /** deprecatedby / aliasof edges into the primary symbol, plus the
    * ensembl and entrez crossreferenceof edges (hgnc/index.js:73-167).
    */
  def hgncEdges(docs: DataFrame): DataFrame = {
    val prev = docs.select(explode(col("prev_symbol")).as("out"),
      col("symbol").as("in"), lit("deprecatedby").as("edgeClass"))
    val alias = docs.select(explode(col("alias_symbol")).as("out"),
      col("symbol").as("in"), lit("aliasof").as("edgeClass"))
    val ensg = docs.filter(col("ensembl_gene_id").isNotNull)
      .select(col("symbol").as("out"), lowerCase(col("ensembl_gene_id")).as("in"),
        lit("crossreferenceof").as("edgeClass"))
    val entrez = docs.filter(col("entrez_id").isNotNull)
      .select(col("symbol").as("out"),
        concat(lit("entrez:"), col("entrez_id")).as("in"),
        lit("crossreferenceof").as("edgeClass"))
    prev.unionByName(alias).unionByName(ensg).unionByName(entrez)
  }

  /** Extract `response.docs` for one recorded HGNC fetch from the saved
    * API-response fixture (S16 disk proxy style).
    */
  def hgncDocs(spark: SparkSession, path: String, fetchUrl: String): DataFrame =
    Scans.json(spark, path)
      .select(explode(col(s"`$fetchUrl`.response.docs")).as("d"))
      .select(col("d.*"))

  def loadHgnc(spark: SparkSession, store: PersistentGraphStore,
      docs: DataFrame, table: String = "genes"): Map[String, Long] =
    store.writeAll(Seq(
      Merge(table, hgncFeatures(docs), keyCols = Seq("sourceId", "name"),
        compareCols = Seq("displayName", "longName", "deprecated", "dependent")),
      Edges(hgncEdges(docs))))
}
