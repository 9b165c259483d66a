package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.variant.{DocmFixes, HgvsParser}

/** DOCM variant loader (reference src/docm/index.js:72-165
  * `buildGenomicVariant` + `processVariants`): each record yields a
  * PROTEIN variant (notation through the F4 DOCM fixes, gene resolved by
  * symbol) and a GENOMIC variant (chromosome-prefixed notation composed
  * from variant_type, chromosome resolved by sourceId-OR-name — the J7
  * coalesce — with the assembly lowercased), linked genomic→protein with
  * an `Infers` edge.
  *
  * Failure isolation transcribed from the reference: a protein-side
  * failure fails the record (index.js:117-120), a genomic-side failure
  * only loses the genomic variant and its edge — the protein variant
  * survives and no Infers is written (index.js:148-155, `if (genomic)`).
  *
  * Scale: grammar + parse executor-side in a typed flatMap; gene and
  * chromosome dims broadcast; store merges bucket-pruned.
  */
object Docm {

  case class DocmRecord(
      recId: String, aminoAcid: String, gene: String, chromosome: String,
      referenceVersion: String, start: Long, stop: Long,
      reference: String, variant: String, variantType: String)

  /** docm/index.js:72-90 — the genomic notation, chromosome-prefixed. */
  def buildGenomicVariant(r: DocmRecord): String = r.variantType match {
    case "SNV" => s"${r.chromosome}:g.${r.start}${r.reference}>${r.variant}"
    case "DEL" =>
      if (r.start == r.stop) s"${r.chromosome}:g.${r.start}del${r.reference}"
      else s"${r.chromosome}:g.${r.start}_${r.stop}del${r.reference}"
    case "INS" => s"${r.chromosome}:g.${r.start}_${r.stop}ins${r.variant}"
    case _ =>
      if (r.start == r.stop)
        s"${r.chromosome}:g.${r.start}del${r.reference}ins${r.variant}"
      else
        s"${r.chromosome}:g.${r.start}_${r.stop}del${r.reference}ins${r.variant}"
  }

  case class Form(
      recId: String, form: String, notation: String, vtype: String,
      break1: Option[String], reference1: String, assembly: Option[String])

  def forms(r: DocmRecord): Seq[Form] = {
    val fixed = DocmFixes.fix(r.aminoAcid)
    val p = HgvsParser.parse(fixed)
    val protein = Form(r.recId, "protein", fixed, p.vtype, p.break1Repr,
      r.gene, None)
    val gNotation = buildGenomicVariant(r)
    val g = HgvsParser.parse(gNotation)
    val genomic = Form(r.recId, "genomic", gNotation, g.vtype, g.break1Repr,
      r.chromosome, Some(r.referenceVersion.toLowerCase.trim))
    Seq(protein, genomic)
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      records: Seq[DocmRecord], genes: DataFrame, chromosomes: DataFrame,
      vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val f = spark.createDataset(records).flatMap(forms).toDF()
    val geneDim = genes.select(col("symbol").as("reference1"),
      col("sourceId").as("gene_sid"))
    // chromosome resolves on sourceId OR name (docm/index.js:127-136)
    val chromDim = chromosomes
      .select(col("sourceId").as("reference1"), col("sourceId").as("chrom_sid"))
      .unionByName(chromosomes
        .select(col("name").as("reference1"), col("sourceId").as("chrom_sid")))
      .distinct()
    val anyTerms = vocab.groupBy(col("name").as("vtype"))
      .agg(min(col("term_id")).as("term"))
    val resolved = f
      .join(broadcast(geneDim), Seq("reference1"), "left")
      .join(broadcast(chromDim), Seq("reference1"), "left")
      .withColumn("ref_sid", when(col("form") === "genomic", col("chrom_sid"))
        .otherwise(col("gene_sid")))
      .join(broadcast(anyTerms), Seq("vtype"), "left")
      .withColumn("vid", concat(col("ref_sid"), lit(":"), col("notation"),
        lit("@"), col("term")))
    withCached(resolved) {
      // protein-side failure fails the record; genomic-side failure only
      // loses the genomic variant + edge
      // badRecs is a RECORD-id set (row-proportional) — no broadcast
      // hint; AQE broadcasts when it is actually small
      val badRecs = resolved
        .filter(col("form") === "protein" && col("ref_sid").isNull)
        .select(col("recId")).distinct()
      val live = resolved.join(badRecs, Seq("recId"), "left_anti")
        .filter(col("ref_sid").isNotNull)
      val pairs = live.filter(col("form") === "genomic")
        .select(col("recId"), col("vid").as("out"))
        .join(live.filter(col("form") === "protein")
          .select(col("recId"), col("vid").as("in")), Seq("recId"))
        .select(col("out"), col("in"), lit("Infers").as("edgeClass"))
      store.writeAll(Seq(
        Merge("variants",
          live.select(col("vid"), col("form"), col("notation"), col("term"),
            col("break1"), col("ref_sid").as("reference1"), col("assembly"))
            .dropDuplicates("vid"),
          keyCols = Seq("vid"),
          compareCols = Seq("form", "notation", "term", "reference1", "assembly")),
        Edges(pairs))) + ("record_errors" -> badRecs.count())
    }
  }
}
