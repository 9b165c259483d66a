package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.lowerCase

/** Sequence Ontology loader (reference src/sequenceOntology.js:82-133):
  * SO OWL RDF/XML → Vocabulary vertices + subclassof edges, end-to-end
  * through the store.
  *
  * Reference semantics transcribed:
  *  - subject ids parse `.*\/SO_(\d+)$` → `so:NNNN`
  *    (sequenceOntology.js parseId:40-48); non-matching subjects (bnodes,
  *    annotation properties, other ontologies) are dropped — the idParser
  *    throw is the filter (util.js convertOwlGraphToJson:28-32);
  *  - a record REQUIRES an rdfs:label (parseRecord:51-53 throws "Could not
  *    find record label") — unlabeled SO subjects are warn-and-skipped and
  *    surface in the error count;
  *  - name = label with underscores replaced by spaces, sourceId = the code
  *    lowercased (parseRecord:57-60);
  *  - description = first IAO_0000115 annotation, deprecated = first
  *    owl#deprecated literal === 'true' (parseRecord:64-69);
  *  - hasExactSynonym aliases are COLLECTED but never uploaded — parseRecord
  *    fills `record.aliases` (:56) and uploadFile reads only `content` and
  *    `subclassof` (:98-103); the GENERALIZATION / SUBSETOF / CROSSREF
  *    predicates in the PREDICATES map (:20-32) are likewise declared but
  *    unread. Dead branches transcribed as this comment, not as columns;
  *  - subclassof parents keep only objects matching /^so:[0-9]+$/i AFTER
  *    the object itself went through parseId (parseRecord:71-75 +
  *    util.js:53-60) — non-SO parent resources keep their raw URL and fail
  *    the regex;
  *  - edges are emitted only when BOTH endpoints became records
  *    (uploadFile:116-129, records lookup) — a link to an unlabeled or
  *    missing code is warn-and-dropped and surfaces in the drop count.
  *
  * Scale: triples explode in one narrow pass; the label/description/
  * deprecated pivot is a single hash aggregation on code; the edge-endpoint
  * gate is a broadcast semi-join against the (small) labeled-code set.
  */
object SequenceOntology {

  val LabelPred = "http://www.w3.org/2000/01/rdf-schema#label"
  val DescPred = "http://purl.obolibrary.org/obo/IAO_0000115"
  val DeprecatedPred = "http://www.w3.org/2002/07/owl#deprecated"
  val SubClassPred = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

  /** parseId (sequenceOntology.js:40-48): URL → `so:NNNN`, else ''. */
  def parseCode(c: Column): Column =
    when(regexp_extract(c, ".*/SO_(\\d+)$", 1) =!= "",
      concat(lit("so:"), regexp_extract(c, ".*/SO_(\\d+)$", 1)))
      .otherwise(lit(""))

  /** SO-subject triples with the subject code parsed. */
  def soTriples(spark: SparkSession, path: String): DataFrame =
    OwlScan.triples(spark, path)
      .withColumn("code", parseCode(col("subject")))
      .filter(col("code") =!= "")

  /** Per-code pivot: (code, label, description, deprecated). Unlabeled
    * codes stay (label null) so the caller can count them as errors.
    */
  def records(triples: DataFrame): DataFrame =
    triples.groupBy(col("code"))
      .agg(
        min(when(col("predicate") === LabelPred, col("obj"))).as("label"),
        min(when(col("predicate") === DescPred, col("obj"))).as("description"),
        coalesce(
          min(when(col("predicate") === DeprecatedPred, col("obj"))) === "true",
          lit(false)).as("deprecated"))

  /** Labeled terms ready for the vocabulary sink. */
  def terms(recs: DataFrame): DataFrame =
    recs.filter(col("label").isNotNull)
      .select(
        lowerCase(col("code")).as("sourceId"),
        regexp_replace(col("label"), "_", " ").as("name"),
        col("description"), col("deprecated"))

  /** Candidate subclassof links (out=child code, in=parent code), parent
    * already idParsed and gated on the reference's /^so:[0-9]+$/i.
    */
  def subclassCandidates(triples: DataFrame): DataFrame =
    triples.filter(col("predicate") === SubClassPred)
      .select(col("code").as("out"), parseCode(col("obj")).as("in"))
      .filter(col("in").rlike("(?i)^so:[0-9]+$"))
      .distinct()

  /** Load the ontology into `store`; returns merge + edge + error counts.
    * `errors` = unlabeled SO subjects; `edge_drops` = subclassof links
    * with an endpoint that never became a record.
    */
  def load(spark: SparkSession, store: PersistentGraphStore,
      path: String, table: String = "vocabulary"): Map[String, Long] = {
    val triples = soTriples(spark, path)
    val recs = records(triples)
    withCached(triples, recs) {
      val labeled = terms(recs)
      val codes = broadcast(labeled.select(col("sourceId")).distinct())
      val cands = subclassCandidates(triples)
        .select(lowerCase(col("out")).as("out"), lowerCase(col("in")).as("in"))
      val good = cands
        .join(codes.withColumnRenamed("sourceId", "out"), Seq("out"), "left_semi")
        .join(codes.withColumnRenamed("sourceId", "in"), Seq("in"), "left_semi")
        .select(col("out"), col("in"), lit("subclassof").as("edgeClass"))
      val counts = store.writeAll(Seq(
        Merge(table, labeled, keyCols = Seq("sourceId", "name"),
          compareCols = Seq("description", "deprecated")),
        Edges(good)))
      val errors = recs.filter(col("label").isNull).count()
      val drops = cands.count() - good.count()
      counts + ("errors" -> errors) + ("edge_drops" -> drops)
    }
  }
}
