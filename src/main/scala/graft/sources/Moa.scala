package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.variant.HgvsParser

/** MOAlmanac small-mutation loader (reference src/moa/index.js:48-188
  * `loadSmallMutation`): one MOA variant record fans out into up to four
  * positional forms (genomic / cds / protein / exon) plus a category
  * fallback, each upserted as a variant, with `Infers` edges chaining
  * consecutive forms in join order (genomic → cds → protein → exon →
  * category, index.js:164-185).
  *
  * Semantics transcribed:
  *  - the genomic form exists only when ALL of reference_allele /
  *    alternate_allele / start / end / chromosome are present
  *    (index.js:61); its notation is `composeGenomicHgvs` (:19-45) and
  *    its reference is the CHROMOSOME feature — 'X'/'Y'/'MT' kept
  *    verbatim, numeric strings parseInt-normalized ('07' → '7',
  *    :64-75);
  *  - cds / protein forms parse their change strings (:87-110);
  *  - the exon form is `e.<n>mut` typed by the variant_annotation term
  *    (moa-source first, any-source fallback, :113-121) else 'mutation';
  *  - the category fallback fires only without an exon form: annotation
  *    term if present, else plain 'mutation' only when NO positional
  *    form exists (:147-161);
  *  - germline = (feature_type == 'germline_variant') (:59).
  *
  * Scale: the per-record grammar + HGVS parse run executor-side in a
  * typed flatMap; chromosome/gene/vocab resolutions are broadcast dim
  * joins; upserts ride the bucket-pruned store merge.
  */
object Moa {

  case class MoaVariant(
      assertionId: Long, gene: String, featureType: String,
      chromosome: Option[String], startPos: Option[Long], endPos: Option[Long],
      refAllele: Option[String], altAllele: Option[String],
      cdnaChange: Option[String], proteinChange: Option[String],
      exon: Option[Long], variantAnnotation: Option[String])

  /** One variant form; `pos` is the Infers join order. */
  case class Form(
      assertionId: Long, pos: Int, form: String, notation: String,
      vtype: String, annotationFirst: Boolean, break1: Option[String],
      refIsChromosome: Boolean, reference1: String, germline: Boolean)

  /** Scala twin of Scalars.composeGenomicHgvs (moa/index.js:19-45). */
  def composeGenomicHgvs(ref: String, alt: String, start: Long, end: Long): String =
    if (ref == "-") s"g.${start}_${end}ins$alt"
    else if (alt == "-") {
      if (start == end) s"g.${start}del$ref" else s"g.${start}_${end}del$ref"
    } else if (ref.length > 1 || alt.length > 1) {
      if (start == end && alt.length == ref.length)
        s"g.${start}_${end + alt.length - 1}del${ref}ins$alt"
      else s"g.${start}_${end}del${ref}ins$alt"
    } else s"g.$start$ref>$alt"

  private val SexChroms = Set("X", "Y", "MT")

  /** Fan one record out into its present forms, join-ordered. */
  def forms(v: MoaVariant): Seq[Form] = {
    val germline = v.featureType == "germline_variant"
    val buf = Seq.newBuilder[Form]
    var idx = 0
    def add(form: String, notation: String, vtype: String,
        annotationFirst: Boolean, break1: Option[String],
        refIsChromosome: Boolean, ref1: String): Unit = {
      buf += Form(v.assertionId, idx, form, notation, vtype, annotationFirst,
        break1, refIsChromosome, ref1, germline)
      idx += 1
    }
    val genomic = for {
      r <- v.refAllele; a <- v.altAllele; s <- v.startPos; e <- v.endPos
      c <- v.chromosome
    } yield {
      val hg = composeGenomicHgvs(r, a, s, e)
      val p = HgvsParser.parse(hg)
      val sid = if (SexChroms(c)) c else c.toLong.toString
      add("genomic", hg, p.vtype, annotationFirst = false, p.break1Repr,
        refIsChromosome = true, sid)
    }
    v.cdnaChange.filter(_.nonEmpty).foreach { c =>
      val p = HgvsParser.parse(c)
      add("cds", c, p.vtype, annotationFirst = false, p.break1Repr,
        refIsChromosome = false, v.gene)
    }
    v.proteinChange.filter(_.nonEmpty).foreach { c =>
      val p = HgvsParser.parse(c)
      add("protein", c, p.vtype, annotationFirst = false, p.break1Repr,
        refIsChromosome = false, v.gene)
    }
    val hasPositional = genomic.isDefined ||
      v.cdnaChange.exists(_.nonEmpty) || v.proteinChange.exists(_.nonEmpty)
    v.exon match {
      case Some(n) =>
        val notation = s"e.${n}mut"
        val p = HgvsParser.parse(notation)
        add("exon", notation,
          v.variantAnnotation.getOrElse("mutation"),
          annotationFirst = v.variantAnnotation.isDefined, p.break1Repr,
          refIsChromosome = false, v.gene)
      case None =>
        v.variantAnnotation match {
          case Some(ann) =>
            add("category", s"${v.gene} $ann", ann, annotationFirst = true,
              None, refIsChromosome = false, v.gene)
          case None if !hasPositional =>
            add("category", s"${v.gene} mutation", "mutation",
              annotationFirst = false, None, refIsChromosome = false, v.gene)
          case None => ()
        }
    }
    buf.result()
  }

  def formsDF(spark: SparkSession, records: Seq[MoaVariant]): DataFrame = {
    import spark.implicits._
    spark.createDataset(records).flatMap(forms).toDF()
  }

  /** Resolve references + type terms, upsert variants and the Infers
    * chain. `genes` (symbol → sourceId), `chromosomes` (sourceId),
    * `vocab` (name, source, term_id) are broadcast dims.
    */
  def load(spark: SparkSession, store: PersistentGraphStore,
      records: Seq[MoaVariant], genes: DataFrame, chromosomes: DataFrame,
      vocab: DataFrame): Map[String, Long] = {
    val f = formsDF(spark, records)
    val geneDim = genes.select(col("symbol").as("reference1"),
      col("sourceId").as("gene_sid"))
    val chromDim = chromosomes.select(col("sourceId").as("reference1"),
      col("sourceId").as("chrom_sid"))
    val moaTerms = vocab.filter(col("source") === "moa")
      .select(col("name").as("vtype"), col("term_id").as("moa_term"))
    val anyTerms = vocab.groupBy(col("name").as("vtype"))
      .agg(min(col("term_id")).as("any_term"))
    val resolved = f
      .join(broadcast(geneDim), Seq("reference1"), "left")
      .join(broadcast(chromDim), Seq("reference1"), "left")
      .withColumn("ref_sid", when(col("refIsChromosome"), col("chrom_sid"))
        .otherwise(col("gene_sid")))
      // the reference's getUniqueRecordBy THROWS on a miss; an unresolved
      // reference drops the form (K10 callers route these to an error sink)
      .filter(col("ref_sid").isNotNull)
      .join(broadcast(moaTerms), Seq("vtype"), "left")
      .join(broadcast(anyTerms), Seq("vtype"), "left")
      .withColumn("term",
        when(col("annotationFirst"), coalesce(col("moa_term"), col("any_term")))
          .otherwise(col("any_term")))
      // variant identity in GraphKB includes the TYPE (two category
      // variants on one gene with different terms are distinct records),
      // so the upsert key carries the resolved term; a batch can emit the
      // same variant from two assertions — addVariant existsOk dedup
      .withColumn("vid", concat(col("ref_sid"), lit(":"), col("notation"),
        lit("@"), col("term")))
    withCached(resolved) {
      // Infers chain: out = previous form, in = current (index.js:174-181)
      val w = Window.partitionBy(col("assertionId")).orderBy(col("pos"))
      val infers = resolved
        .withColumn("prev_vid", lag(col("vid"), 1).over(w))
        .filter(col("prev_vid").isNotNull)
        .select(col("prev_vid").as("out"), col("vid").as("in"),
          lit("Infers").as("edgeClass"))
      store.writeAll(Seq(
        Merge("variants",
          resolved.select(col("vid"), col("form"), col("notation"),
            col("term"), col("break1"), col("ref_sid").as("reference1"),
            col("germline")).dropDuplicates("vid"),
          keyCols = Seq("vid"),
          compareCols = Seq("form", "notation", "term", "reference1", "germline")),
        Edges(infers)))
    }
  }
}
