package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge
import graft.variant.{CivicNames, HgvsParser}

/** CIViC variant hydration (reference src/civic/variant.js:410-553
  * `uploadVariant` + :349-378 `normalizeVariant`): a raw CIViC variant
  * detail record is normalized through the CIViC name grammar (one CIViC
  * record can yield several GraphKB variants), positional notations are
  * parsed with the HGVS parser (`jsonifyVariant(parseVariant(...))`,
  * :530-533), the variant type is resolved against a vocabulary dimension
  * (`getVocabularyTerm` civic-source first, any-source fallback,
  * :538-549), and the variant plus its gene reference(s) are upserted
  * into the store.
  *
  * Scale: the grammar + parser run executor-side in a typed flatMap (one
  * record in, a handful of normalized variants out — embarrassingly
  * parallel); the vocabulary resolution is a broadcast dim join; the
  * upserts ride the bucket-pruned store merge.
  */
object CivicVariants {

  /** One normalized-and-parsed variant row. `notation` is the GraphKB
    * shorthand (`gene:variant` for positional, `gene vtype` for category
    * — the upsert key the reference's addVariant content hashes to).
    */
  case class Hydrated(
      recId: Long, positional: Boolean, notation: String, vtype: String,
      break1: Option[String], geneName: String, geneSourceId: Option[String])

  /** Normalize + parse every record of a CIViC variant detail JSON file.
    * Gene-feature records only (Factor/Fusion features carry their
    * feature payload, not entrez fields — CivicNames.normalizeFeature
    * handles those shapes for callers that have them).
    */
  def hydrated(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.read.option("multiLine", true).json(path)
      .select(col("id").cast("long"), col("name"),
        col("entrez_name"), col("entrez_id").cast("long"))
      .as[(Long, String, String, Long)]
      .flatMap { case (id, name, entrezName, entrezId) =>
        CivicNames.normalize(name, Some(entrezId), entrezName).map { n =>
          val parsed =
            if (n.positional) n.variant.map(v => HgvsParser.parse(v)) else None
          val vtype = n.vtype.orElse(parsed.map(_.vtype)).getOrElse("")
          val notation =
            if (n.positional) s"${n.reference1.name}:${n.variant.get}"
            else s"${n.reference1.name} $vtype"
          Hydrated(id, n.positional, notation, vtype,
            parsed.flatMap(_.break1Repr), n.reference1.name, n.reference1.sourceId)
        }
      }.toDF()
  }

  /** Upsert hydrated variants + their gene references. `vocab` is the
    * vocabulary dimension (name, source, term_id); the civic-source term
    * wins, any-source is the fallback — the reference's try/catch double
    * `getVocabularyTerm` (variant.js:538-549).
    *
    * `rsidLoad`: the rsID exception (variant.js:508-522) — a
    * non-positional variant whose name is `rs\d+` routes to the dbSNP
    * loader FIRST and becomes a `CatalogueVariant` (plus its docsum
    * ladder), never a category variant and never a gene feature (the
    * reference returns before `uploadReferences`). Callers wire
    * [[Snp.fetchAndLoad]] against the same store; without the hook the
    * rsID rows fall through the category path unchanged.
    */
  def load(spark: SparkSession, store: PersistentGraphStore, path: String,
      vocab: DataFrame, featuresTable: String = "features",
      variantsTable: String = "variants",
      rsidLoad: Option[Dataset[String] => Map[String, Long]] = None): Map[String, Long] = {
    import spark.implicits._
    val rsPat = "^\\s*rs[0-9]+\\s*$" // names are already lowercased
    val h0 = hydrated(spark, path)
    // cached only when the rsID hook consumes h0 twice (the rs split +
    // the remainder)
    withCached((if (rsidLoad.isDefined) Seq(h0) else Nil): _*) {
      val (h, rsCounts) = rsidLoad match {
        case Some(loader) =>
          val isRs = !col("positional") && col("vtype").rlike(rsPat)
          val ids = h0.filter(isRs).select(trim(col("vtype"))).distinct().as[String]
          val counts = loader(ids).map { case (k, v) => s"rsid_$k" -> v }
          (h0.filter(!isRs), counts)
        case None => (h0, Map.empty[String, Long])
      }
      val civicTerms = vocab.filter(col("source") === "civic")
        .select(col("name").as("vtype"), col("term_id").as("civic_term"))
      val anyTerms = vocab.groupBy(col("name").as("vtype"))
        .agg(min(col("term_id")).as("any_term"))
      val typed = h
        .join(broadcast(civicTerms), Seq("vtype"), "left")
        .join(broadcast(anyTerms), Seq("vtype"), "left")
        .withColumn("term", coalesce(col("civic_term"), col("any_term")))
      val feats = typed.select(
        coalesce(col("geneSourceId"), col("geneName")).as("sourceId"),
        col("geneName").as("name")).distinct()
      // variant identity = reference + notation + type term (vid), the
      // shared-variants-table key every loader agrees on
      val variants = typed.select(col("notation"), col("positional"),
        col("term"), col("break1"),
        coalesce(col("geneSourceId"), col("geneName")).as("reference1"))
        .withColumn("vid", concat(col("reference1"), lit(":"),
          col("notation"), lit("@"), col("term")))
      store.writeAll(Seq(
        Merge(featuresTable, feats, Seq("sourceId"), Seq("name"), prefix = "features_"),
        Merge(variantsTable, variants, Seq("vid"),
          Seq("notation", "positional", "term", "break1", "reference1"),
          prefix = "variants_"))) ++ rsCounts
    }
  }
}
