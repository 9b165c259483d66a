package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge
import graft.functions.CaseFold.lowerCase
import graft.variant.{HgvsParser, OncoKbNames}

/** OncoKB variant loader (reference src/oncokb/index.js:199-312
  * `processVariant`): the F3 name grammar routed into the reference's
  * category-first decision —
  *  - 'Other Biomarkers' records support ONLY microsatellite
  *    instability-high, typed 'strong signature' with the Signature as
  *    reference (:208-224);
  *  - gene records resolve reference1 by entrez id; a fusion's
  *    reference2 resolves by symbol and `flipped` swaps the pair
  *    (:227-263);
  *  - the parsed type is tried as a VOCABULARY term first
  *    (CategoryVariant); only when no term matches is it parsed as HGVS
  *    (with a `p.` retry) into a PositionalVariant (:265-296);
  *  - an unparseable name falls back to the raw variantName as a
  *    vocabulary candidate (:236-242).
  *
  * Scale: grammar executor-side; gene/signature/vocab dims broadcast;
  * upserts bucket-pruned.
  */
object OncoKb {

  case class OncoKbVariant(
      recId: String, gene: String, variantName: String, entrezGeneId: String)

  case class Hydrated(
      recId: String, gene: String, entrezGeneId: String,
      vtype: String,                 // vocabulary candidate (raw name on parse failure)
      posNotation: Option[String],   // HGVS fallback if no vocab term matches
      posVtype: Option[String], posBreak1: Option[String],
      reference2: Option[String], flipped: Boolean, biomarker: Boolean,
      unsupported: Boolean)

  def hydrate(v: OncoKbVariant): Hydrated = {
    if (v.gene.toLowerCase == "other biomarkers") {
      val supported =
        v.variantName.trim.toLowerCase == "microsatellite instability-high"
      Hydrated(v.recId, v.gene, v.entrezGeneId, "strong signature",
        None, None, None, None, flipped = false, biomarker = true,
        unsupported = !supported)
    } else {
      val parsed =
        try OncoKbNames.parse(v.variantName, Some(v.gene))
        catch { // unparseable name → raw name as vocabulary candidate
          case _: OncoKbNames.OncoKbParseError =>
            OncoKbNames.Parsed(v.variantName)
        }
      val pos = HgvsParser.parseOpt(parsed.vtype)
        .map(p => (parsed.vtype, p))
        .orElse(HgvsParser.parseOpt(s"p.${parsed.vtype}")
          .map(p => (s"p.${parsed.vtype}", p)))
      Hydrated(v.recId, v.gene, v.entrezGeneId, parsed.vtype,
        pos.map(_._1), pos.map(_._2.vtype), pos.flatMap(_._2.break1Repr),
        parsed.reference2, parsed.flipped.getOrElse(false),
        biomarker = false, unsupported = false)
    }
  }

  /** `genes` is (sourceId, symbol); `signatures` is (name, sourceId);
    * `vocab` is (name, term_id). Returns merge + error counts.
    */
  def load(spark: SparkSession, store: PersistentGraphStore,
      records: Seq[OncoKbVariant], genes: DataFrame, signatures: DataFrame,
      vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val h = spark.createDataset(records).map(hydrate).toDF()
    val byId = genes.select(col("sourceId").as("entrezGeneId"),
      col("sourceId").as("gene1_sid"))
    val bySymbol = genes.select(lowerCase(col("symbol")).as("reference2"),
      col("sourceId").as("gene2_sid"))
    val sigDim = signatures
      .filter(col("name") === "microsatellite instability")
      .select(col("sourceId").as("sig_sid"))
    val terms = vocab.select(lowerCase(col("name")).as("term_name"),
      col("term_id"))
    val resolved = h
      .join(broadcast(byId), Seq("entrezGeneId"), "left")
      .join(broadcast(bySymbol), Seq("reference2"), "left")
      .crossJoin(broadcast(sigDim))
      // category-first: the vocabulary term wins over the HGVS parse
      .join(broadcast(terms.withColumnRenamed("term_id", "cat_term")),
        lowerCase(col("vtype")) === col("term_name"), "left")
      .drop("term_name")
      .join(broadcast(terms.withColumnRenamed("term_id", "pos_term")),
        lowerCase(col("posVtype")) === col("term_name"), "left")
      .withColumn("ref1",
        when(col("biomarker"), col("sig_sid")).otherwise(col("gene1_sid")))
      .withColumn("ref2_resolved", col("gene2_sid"))
      // flipped fusions swap the references (index.js:259-263)
      .withColumn("r1", when(col("flipped"), col("ref2_resolved"))
        .otherwise(col("ref1")))
      .withColumn("r2", when(col("flipped"), col("ref1"))
        .otherwise(col("ref2_resolved")))
      .withColumn("isCategory", col("cat_term").isNotNull)
      .withColumn("err",
        col("unsupported") || col("r1").isNull ||
          (col("reference2").isNotNull && col("ref2_resolved").isNull) ||
          (!col("isCategory") && col("posNotation").isNull))
      .withColumn("notation",
        when(col("isCategory"), col("vtype")).otherwise(col("posNotation")))
      .withColumn("term",
        when(col("isCategory"), col("cat_term")).otherwise(col("pos_term")))
      .withColumn("vid", concat_ws("", col("r1"),
        when(col("r2").isNotNull, concat(lit("::"), col("r2"))),
        lit(":"), col("notation"), lit("@"), col("term")))
    withCached(resolved) {
      val live = resolved.filter(!col("err"))
      store.writeAll(Seq(Merge("variants",
        live.select(col("vid"),
          when(col("isCategory"), "category").otherwise("positional").as("form"),
          col("notation"), col("term"), col("posBreak1").as("break1"),
          col("r1").as("reference1"), col("r2").as("reference2"))
          .dropDuplicates("vid"),
        keyCols = Seq("vid"),
        compareCols = Seq("form", "notation", "term", "reference1", "reference2")))) +
        ("error" -> resolved.filter(col("err")).count())
    }
  }
}
