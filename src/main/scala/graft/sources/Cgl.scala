package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.variant.HgvsParser

/** CGL (Clinical Genomics Laboratory) variant loader (reference
  * src/cgl/index.js:33-295): each row yields up to three independent
  * forms, each with its own warn-and-continue isolation (:215-245) —
  *  - CDS on the refseq transcript resolved by versioned (sourceId,
  *    sourceIdVersion) key (:33-58);
  *  - PROTEIN with the `p.(X)` paren strip and the trailing-`*` → `Ter`
  *    rewrite EXCEPT for frameshifts (:61-77);
  *  - GENOMIC from VCF-style (position, ref, alt): an SNV when both are
  *    single bases; otherwise ref and alt must share their first base
  *    (else error), which is trimmed before the insertion / deletion /
  *    indel routing with span checks — the insertion branch writes
  *    `ins${ref}` where ref was just emptied, so the notation carries NO
  *    inserted sequence (transcribed from code; the bug is the
  *    reference's behavior, :101-152) — stamped hg19;
  * then Infers cds→protein and genomic→(cds else protein), and one
  * 'pathogenic' statement per record on the most specific form
  * (protein > cds > genomic) with the generic cancer as subject —
  * a record with no loadable form at all errors (:269-291).
  */
object Cgl {

  case class CglRecord(
      recId: String, transcript: String, codingHgvs: String, gene: String,
      proteinHgvs: String, chromosome: String, position: String,
      ref: String, alt: String)

  /** cgl/index.js:61-71 — HGVSp normalization. */
  def normalizeProtein(p: String): String = {
    require(p.startsWith("p."), s"invalid HGVSp notation ($p)")
    val stripped = p.replaceAll("^p\\.\\(", "p.").replaceAll("\\)$", "")
    if (stripped.contains("fs")) stripped
    else stripped.replaceAll("\\*$", "Ter")
  }

  /** cgl/index.js:101-152 — VCF triplet → genomic HGVS. The reference's
    * loadGenomicVariant returns null when !chromosome (:104), so the guard
    * lives here, not in a downstream dim-null filter.
    */
  def genomicNotation(chromosome: String, position: String, ref0: String,
      alt0: String): Option[String] = {
    if (chromosome.isEmpty || ref0.isEmpty || alt0.isEmpty || position.isEmpty) return None
    if (ref0.length == alt0.length && ref0.length == 1)
      return Some(s"g.$position$ref0>$alt0")
    require(ref0.head == alt0.head,
      s"unexpected ref ($ref0) vs alt ($alt0) combination, do not match on first base")
    val parts = position.split("_").map(_.toLong)
    val start = parts(0)
    var end: Option[Long] = parts.lift(1)
    val ref = ref0.tail
    val alt = alt0.tail
    if (ref.isEmpty) { // insertion/duplication — `ins${ref}` as written
      val e = end.getOrElse(start + 1)
      Some(s"g.${start}_${e}ins$ref")
    } else if (alt.isEmpty) { // deletion
      if (ref.length > 1) {
        val e = end.getOrElse(start + ref.length - 1)
        require(ref.length == e - start + 1,
          s"deletion position ($position) span (${e - start + 1}) does not match the length of reference sequence (${ref.length}) deleted")
        end = Some(e)
      }
      val suffix = end.filter(_ != start).map(e => s"_$e").getOrElse("")
      Some(s"g.$start${suffix}del$ref")
    } else { // indel
      if (ref.length > 1) {
        val e = end.getOrElse(start + ref.length - 1)
        require(ref.length == e - start + 1,
          s"indel position ($position) span (${e - start + 1}) does not match the length of reference sequence (${ref.length}) deleted")
        end = Some(e)
      }
      val suffix = end.filter(_ != start).map(e => s"_$e").getOrElse("")
      Some(s"g.$start${suffix}del${ref}ins$alt")
    }
  }

  case class Form(
      recId: String, form: String, notation: String, vtype: String,
      break1: Option[String], ref1: String, ref1Version: Option[String],
      assembly: Option[String])

  /** Per-form warn-and-continue: a failing form is dropped, never the
    * whole record (the statement stage errors only when NO form loads).
    */
  def forms(r: CglRecord): Seq[Form] = {
    def tryOpt[T](t: => Option[Form]): Option[Form] =
      scala.util.Try(t).toOption.flatten
    val cds = tryOpt {
      if (r.codingHgvs.isEmpty) None
      else {
        require(r.codingHgvs.startsWith("c."),
          s"invalid HGVSc notation (${r.codingHgvs})")
        val p = HgvsParser.parse(r.codingHgvs)
        val Array(tid, tver @ _*) = r.transcript.split("\\."): @unchecked
        Some(Form(r.recId, "cds", r.codingHgvs, p.vtype, p.break1Repr,
          tid, tver.headOption, None))
      }
    }
    val protein = tryOpt {
      if (r.proteinHgvs.isEmpty) None
      else {
        val n = normalizeProtein(r.proteinHgvs)
        val p = HgvsParser.parse(n)
        Some(Form(r.recId, "protein", n, p.vtype, p.break1Repr, r.gene,
          None, None))
      }
    }
    val genomic = tryOpt {
      genomicNotation(r.chromosome, r.position, r.ref, r.alt).map { n =>
        val p = HgvsParser.parse(n)
        Form(r.recId, "genomic", n, p.vtype, p.break1Repr, r.chromosome,
          None, Some("hg19"))
      }
    }
    Seq(cds, protein, genomic).flatten
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      records: Seq[CglRecord], transcripts: DataFrame, genes: DataFrame,
      chromosomes: DataFrame, vocab: DataFrame,
      diseaseSid: String): Map[String, Long] = {
    import spark.implicits._
    val f = spark.createDataset(records).flatMap(forms).toDF()
    val txDim = transcripts.select(col("sourceId").as("ref1"),
      col("sourceIdVersion").as("ref1Version"), lit("cds").as("dim_form"),
      concat_ws(".", col("sourceId"), col("sourceIdVersion")).as("dim_sid"))
    val geneDim = genes.select(col("name").as("ref1"),
      lit(null).cast("string").as("ref1Version"), lit("protein").as("dim_form"),
      col("sourceId").as("dim_sid"))
    val chromDim = chromosomes
      .select(col("sourceId").as("ref1"))
      .unionByName(chromosomes.select(col("name").as("ref1")))
      .distinct()
      .join(chromosomes.select(col("sourceId").as("dim_sid"),
        col("sourceId").as("k"), col("name").as("n")),
        col("ref1") === col("k") || col("ref1") === col("n"))
      .select(col("ref1"), lit(null).cast("string").as("ref1Version"),
        lit("genomic").as("dim_form"), col("dim_sid"))
    val dims = txDim.unionByName(geneDim).unionByName(chromDim)
    val anyTerms = vocab.groupBy(col("name").as("vtype"))
      .agg(min(col("term_id")).as("term"))
    val resolved = f.alias("f")
      .join(broadcast(dims).alias("d"),
        col("f.ref1") === col("d.ref1") && col("f.form") === col("d.dim_form") &&
          col("f.ref1Version") <=> col("d.ref1Version"), "left")
      .select(col("f.*"), col("d.dim_sid"))
      .join(broadcast(anyTerms), Seq("vtype"), "left")
      .filter(col("dim_sid").isNotNull)
      .withColumn("vid", concat(col("dim_sid"), lit(":"), col("notation"),
        lit("@"), col("term")))
    withCached(resolved) {
      def vidOf(form: String) = resolved.filter(col("form") === form)
        .select(col("recId"), col("vid").as(s"${form}_vid"))
      val byRec = spark.createDataset(records.map(_.recId)).toDF("recId")
        .join(vidOf("cds"), Seq("recId"), "left")
        .join(vidOf("protein"), Seq("recId"), "left")
        .join(vidOf("genomic"), Seq("recId"), "left")
      val cdsToProt = byRec
        .filter(col("cds_vid").isNotNull && col("protein_vid").isNotNull)
        .select(col("cds_vid").as("out"), col("protein_vid").as("in"))
      val genomicTo = byRec.filter(col("genomic_vid").isNotNull &&
          coalesce(col("cds_vid"), col("protein_vid")).isNotNull)
        .select(col("genomic_vid").as("out"),
          coalesce(col("cds_vid"), col("protein_vid")).as("in"))
      val best = byRec.withColumn("condition",
        coalesce(col("protein_vid"), col("cds_vid"), col("genomic_vid")))
      val counts = store.writeAll(Seq(
        Merge("variants",
          resolved.select(col("vid"), col("form"), col("notation"), col("term"),
            col("break1"), col("dim_sid").as("reference1"), col("assembly"))
            .dropDuplicates("vid"),
          keyCols = Seq("vid"),
          compareCols = Seq("form", "notation", "term", "reference1", "assembly")),
        Edges(cdsToProt.unionByName(genomicTo)
          .withColumn("edgeClass", lit("Infers"))),
        Merge("statements",
          best.filter(col("condition").isNotNull)
            .select(col("recId").as("sourceId"),
              lit("pathogenic").as("relevance"),
              lit(diseaseSid).as("subject"),
              sort_array(array(col("condition"), lit(diseaseSid))).as("conditions"),
              lit("reviewed by Clinical Molecular Geneticist at CGL")
                .as("description")),
          keyCols = Seq("sourceId"),
          compareCols = Seq("relevance", "subject", "description"),
          setCols = Seq("conditions"), prefix = "statements_")))
      counts + ("error" -> best.filter(col("condition").isNull).count())
    }
  }
}
