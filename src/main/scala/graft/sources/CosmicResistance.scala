package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.lowerCase
import graft.variant.HgvsParser

/** COSMIC resistance-mutation variant ladder (reference
  * src/cosmic/resistance.js:56-206 `processVariants`): one row yields
  *  - the PROTEIN variant on its ensembl translation (notation-embedded
  *    ENSP reference, created on demand like `_ensembl.fetchAndLoadById`);
  *  - a GENERAL protein duplicate on the entrez gene — symbol resolved
  *    entrez-first with the HGNC fallback (:63-88), linked
  *    protein→general with Infers; a gene miss only loses the general
  *    form (:67-74 warn-and-continue);
  *  - the CDS variant on its ensembl transcript, linked cds→protein;
  *  - the GENOMIC variant on the chromosome dimension (unversioned,
  *    biotype gate) with assembly GRCh38, linked genomic→(cds||protein),
  *    a chromosome miss loses only the genomic form;
  *  - the CATALOG variant from the legacy mutation id, linked
  *    catalog→(genomic||cds||protein).
  *
  * Scale: parses executor-side; gene/hgnc/chromosome dims broadcast;
  * merges bucket-pruned.
  */
object CosmicResistance {

  case class ResistanceRecord(
      recId: String, gene: String, protein: String, cds: String,
      genomic: String, mutationId: String)

  case class Form(
      recId: String, pos: Int, form: String, notation: String,
      vtype: String, break1: Option[String], ref1: String)

  /** Executor-side parse of the three notations; per-form failures drop
    * the form (the reference's per-block try/catch).
    */
  def forms(r: ResistanceRecord): Seq[Form] = {
    def p(form: String, pos: Int, notation: String): Option[Form] =
      if (notation == null || notation.trim.isEmpty) None
      else HgvsParser.parseOpt(notation).map { v =>
        Form(r.recId, pos, form, notation, v.vtype, v.break1Repr,
          v.reference1.getOrElse(""))
      }
    val geneName = r.gene.split("_").head // MAP2K2_ENST... → MAP2K2
    val protein = p("protein", 0, r.protein)
    val general = protein.map(_.copy(pos = 1, form = "general", ref1 = geneName))
    val cds = p("cds", 2, r.cds)
    val genomic = p("genomic", 3, r.genomic)
    val catalog =
      if (r.mutationId == null || r.mutationId.isEmpty) None
      else Some(Form(r.recId, 4, "catalog", r.mutationId, "catalogue", None,
        r.mutationId))
    Seq(protein, general, cds, genomic, catalog).flatten
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      records: Seq[ResistanceRecord], genes: DataFrame, hgnc: DataFrame,
      chromosomes: DataFrame, vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val f = spark.createDataset(records).flatMap(forms).toDF()
    // entrez-first, hgnc-fallback symbol resolve (J7 coalesce)
    val geneDim = genes.select(lowerCase(col("symbol")).as("sym"),
      col("sourceId").as("entrez_sid"))
    val hgncDim = hgnc.select(lowerCase(col("symbol")).as("sym"),
      col("sourceId").as("hgnc_sid"))
    val chromDim = chromosomes.select(col("sourceId").as("chrom_key"),
      col("sourceId").as("chrom_sid"))
    val anyTerms = vocab.groupBy(col("name").as("vtype"))
      .agg(min(col("term_id")).as("term"))
    val resolved = f
      .join(broadcast(geneDim), lowerCase(col("ref1")) === col("sym"), "left")
      .drop("sym")
      .join(broadcast(hgncDim), lowerCase(col("ref1")) === col("sym"), "left")
      .drop("sym")
      .join(broadcast(chromDim), col("ref1") === col("chrom_key"), "left")
      .join(broadcast(anyTerms), Seq("vtype"), "left")
      .withColumn("ref_sid",
        when(col("form") === "general",
          coalesce(col("entrez_sid"), col("hgnc_sid")))
          .when(col("form") === "genomic", col("chrom_sid"))
          .otherwise(col("ref1")))
      .filter(col("ref_sid").isNotNull)
      .withColumn("vid", concat(col("ref_sid"), lit(":"), col("notation"),
        lit("@"), coalesce(col("term"), lit("-"))))
    withCached(resolved) {
      // Infers: protein→general, cds→protein, genomic→(cds||protein),
      // catalog→(genomic||cds||protein) (resistance.js:101-196)
      def vidOf(form: String) = resolved.filter(col("form") === form)
        .select(col("recId"), col("vid").as(s"${form}_vid"))
      val byRec = spark.createDataset(records.map(_.recId)).toDF("recId")
        .join(vidOf("protein"), Seq("recId"), "left")
        .join(vidOf("general"), Seq("recId"), "left")
        .join(vidOf("cds"), Seq("recId"), "left")
        .join(vidOf("genomic"), Seq("recId"), "left")
        .join(vidOf("catalog"), Seq("recId"), "left")
      val protToGen = byRec
        .filter(col("protein_vid").isNotNull && col("general_vid").isNotNull)
        .select(col("protein_vid").as("out"), col("general_vid").as("in"))
      val cdsToProt = byRec
        .filter(col("cds_vid").isNotNull && col("protein_vid").isNotNull)
        .select(col("cds_vid").as("out"), col("protein_vid").as("in"))
      val genomicTo = byRec.filter(col("genomic_vid").isNotNull &&
          coalesce(col("cds_vid"), col("protein_vid")).isNotNull)
        .select(col("genomic_vid").as("out"),
          coalesce(col("cds_vid"), col("protein_vid")).as("in"))
      val catalogTo = byRec.filter(col("catalog_vid").isNotNull &&
          coalesce(col("genomic_vid"), col("cds_vid"), col("protein_vid")).isNotNull)
        .select(col("catalog_vid").as("out"),
          coalesce(col("genomic_vid"), col("cds_vid"), col("protein_vid")).as("in"))
      store.writeAll(Seq(
        Merge("variants",
          resolved.select(col("vid"), col("form"), col("notation"),
            col("term"), col("break1"), col("ref_sid").as("reference1"),
            when(col("form") === "genomic", "grch38").as("assembly"))
            .dropDuplicates("vid"),
          keyCols = Seq("vid"),
          compareCols = Seq("form", "notation", "term", "reference1", "assembly")),
        Edges(protToGen.unionByName(cdsToProt).unionByName(genomicTo)
          .unionByName(catalogTo).withColumn("edgeClass", lit("Infers")))))
    }
  }
}
