package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.variant.HgvsParser

/** cancerhotspots.org loader (reference src/cancerhotspots/index.js:
  * 56-243): each TSV row yields up to three variant forms —
  *  - GENOMIC: `-` ref/untemplated sequences normalized to empty, then
  *    notation routed substitution / indel / insertion / deletion
  *    (:80-102), chromosome resolved by sourceId-OR-name (J7), failure
  *    non-fatal (:112-115);
  *  - PROTEIN: `fs*?` uncertain truncations trimmed to `fs` (:128-131),
  *    entrez gene reference, failure FATAL to the record (:139-141);
  *  - CDS: ensembl transcript reference by (sourceId, biotype), failure
  *    non-fatal (:182-184);
  * linked cds→protein, then genomic→cds if both exist else
  * genomic→protein (:186-201), and one Statement per row — relevance
  * 'mutation hotspot', oncotree disease as BOTH condition and subject,
  * rows whose sourceId was already loaded skipped via the previous-load
  * set (:270-280 — J13 anti-join).
  *
  * Scale: grammar executor-side; all four dims broadcast; the
  * previous-load skip is an anti-join against the store's statements.
  */
object CancerHotspots {

  case class HotspotRecord(
      sourceId: String, chromosome: String, start: Long, stop: Long,
      refSeq: String, untemplatedSeq: String, geneId: String,
      protein: String, transcriptId: String, cds: String, diseaseId: String)

  /** index.js:80-102 — genomic notation routing. */
  def genomicNotation(r: HotspotRecord): String = {
    val ref = if (r.refSeq == "-") "" else r.refSeq
    val ut = if (r.untemplatedSeq == "-") "" else r.untemplatedSeq
    val base = s"${r.chromosome}:g."
    if (ref.nonEmpty && ut.nonEmpty) {
      if (ref.length == 1 && ut.length == 1) s"$base${r.start}$ref>$ut"
      else s"$base${r.start}_${r.stop}del${ref}ins$ut"
    } else if (ref.isEmpty) s"$base${r.start}_${r.stop}ins$ut"
    else s"$base${r.start}_${r.stop}del$ref"
  }

  case class Form(
      recId: String, form: String, notation: String, vtype: String,
      break1: Option[String], reference1: String)

  /** Each form's parse failure mirrors the reference's per-form
    * try/catch: an unparseable genomic/cds just loses that form; an
    * unparseable protein leaves the record with no protein form, which
    * `load` treats as the fatal case (like an unresolved gene).
    */
  def forms(r: HotspotRecord): Seq[Form] = {
    def tryForm(form: String, notation: String, ref1: String): Option[Form] =
      scala.util.Try(HgvsParser.parse(notation)).toOption
        .map(p => Form(r.sourceId, form, notation, p.vtype, p.break1Repr, ref1))
    val protNotation = r.protein.replaceAll("fs\\*\\?$", "fs")
    tryForm("genomic", genomicNotation(r), r.chromosome).toSeq ++
      tryForm("protein", protNotation, r.geneId).toSeq ++
      tryForm("cds", r.cds, r.transcriptId).toSeq
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      records: Seq[HotspotRecord], genes: DataFrame, chromosomes: DataFrame,
      transcripts: DataFrame, diseases: DataFrame,
      vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    loadDs(spark, store, spark.createDataset(records), genes, chromosomes,
      transcripts, diseases, vocab)
  }

  /** [[load]] over an already-distributed record Dataset — the form the
    * sf-scaled bench rows drive: the per-record HGVS grammar work and the
    * three-form ladder run executor-side over inputs that grow with the
    * corpus, not over a driver literal.
    */
  def loadDs(spark: SparkSession, store: PersistentGraphStore,
      records: org.apache.spark.sql.Dataset[HotspotRecord], genes: DataFrame,
      chromosomes: DataFrame, transcripts: DataFrame, diseases: DataFrame,
      vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val f = records.flatMap(forms).toDF()
    val chromDim = chromosomes
      .select(col("sourceId").as("reference1"), col("sourceId").as("dim_sid"))
      .unionByName(chromosomes
        .select(col("name").as("reference1"), col("sourceId").as("dim_sid")))
      .distinct().withColumn("dim_form", lit("genomic"))
    val geneDim = genes.select(col("sourceId").as("reference1"),
      col("sourceId").as("dim_sid"), lit("protein").as("dim_form"))
    val txDim = transcripts.filter(col("biotype") === "transcript")
      .select(col("sourceId").as("reference1"), col("sourceId").as("dim_sid"),
        lit("cds").as("dim_form"))
    val dims = chromDim.unionByName(geneDim).unionByName(txDim)
    val anyTerms = vocab.groupBy(col("name").as("vtype"))
      .agg(min(col("term_id")).as("term"))
    val resolved = f
      .join(broadcast(dims),
        f("reference1") === dims("reference1") && f("form") === dims("dim_form"),
        "left")
      .drop(dims("reference1"))
      .join(broadcast(anyTerms), Seq("vtype"), "left")
      .withColumn("vid", concat(col("dim_sid"), lit(":"), col("notation"),
        lit("@"), col("term")))
    // records has three consumers (forms, the fatal-record census, the
    // statement build): cached so a scale-sized upstream derivation runs once
    withCached(records, resolved) {
      // protein failure (unparseable OR unresolved gene) is fatal to the
      // record; genomic/cds failures are not. goodProt/badRecs are
      // RECORD-id sets — row-proportional, unlike the dimension frames
      // above — so the anti-joins carry no broadcast hint: they shuffle
      // on recId (AQE still broadcasts when the sets turn out small,
      // e.g. the fixture rows, without pinning an OOM at corpus scale)
      val allRecs = records.select(col("sourceId").as("recId"))
      val goodProt = resolved
        .filter(col("form") === "protein" && col("dim_sid").isNotNull)
        .select(col("recId")).distinct()
      val badRecs = allRecs.join(goodProt, Seq("recId"), "left_anti")
      val live = resolved.join(badRecs, Seq("recId"), "left_anti")
        .filter(col("dim_sid").isNotNull)
      // per-record form presence → conditional Infers topology
      def vidOf(form: String) =
        live.filter(col("form") === form)
          .select(col("recId"), col("vid").as(s"${form}_vid"))
      val byRec = vidOf("protein")
        .join(vidOf("genomic"), Seq("recId"), "left")
        .join(vidOf("cds"), Seq("recId"), "left")
      val cdsToProt = byRec.filter(col("cds_vid").isNotNull)
        .select(col("cds_vid").as("out"), col("protein_vid").as("in"))
      val genomicTo = byRec.filter(col("genomic_vid").isNotNull)
        .select(col("genomic_vid").as("out"),
          coalesce(col("cds_vid"), col("protein_vid")).as("in"))
      // statements: disease both condition and subject; previous sourceIds skipped
      val recsDF = records.toDF()
        .join(badRecs.withColumnRenamed("recId", "sourceId"),
          Seq("sourceId"), "left_anti")
      val disDim = diseases.select(col("sourceId").as("diseaseId"),
        col("sourceId").as("disease_sid"))
      val withDisease = recsDF.join(broadcast(disDim), Seq("diseaseId"))
        .join(byRec.withColumnRenamed("recId", "sourceId"), Seq("sourceId"))
      val candidates = withDisease.select(col("sourceId"),
        lit("mutation hotspot").as("relevance"),
        col("disease_sid").as("subject"),
        sort_array(array(col("protein_vid"), col("disease_sid"))).as("conditions"),
        lit("not required").as("reviewStatus"))
      // the previous-load id set is table-proportional too — no hint
      val fresh = store.read("statements") match {
        case Some(prev) => candidates.join(
          prev.select("sourceId"), Seq("sourceId"), "left_anti")
        case None => candidates
      }
      // the statements merge reads only its own table (`fresh` above), so
      // the three writes are independent
      store.writeAll(Seq(
        Merge("variants",
          live.select(col("vid"), col("form"), col("notation"), col("term"),
            col("break1"), col("dim_sid").as("reference1"))
            .dropDuplicates("vid"),
          keyCols = Seq("vid"),
          compareCols = Seq("form", "notation", "term", "reference1")),
        Edges(cdsToProt.unionByName(genomicTo)
          .withColumn("edgeClass", lit("Infers"))),
        Merge("statements", fresh, keyCols = Seq("sourceId"),
          compareCols = Seq("relevance", "subject", "reviewStatus"),
          setCols = Seq("conditions"), prefix = "statements_"))) +
        ("record_errors" -> badRecs.count())
    }
  }
}
