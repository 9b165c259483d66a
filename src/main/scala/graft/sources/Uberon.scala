package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.lowerCase

/** Uberon anatomy ontology loader (reference src/uberon/index.js:36-207):
  * OWL classes keyed `uberon:<digits>` (parseUberonId, :36-41), entities
  * require a label (:98-100), carry description / parsed subset names
  * (parseSubsetName keeps the last URL segment, :49-57) / the deprecated
  * flag, subclassof edges require BOTH endpoints loaded (:150-152), and
  * `ncit:c…` hasDbXref aliases become crossreferenceof edges gated on the
  * NCIt dimension — misses are skipped, not fatal (:170-200).
  *
  * All column expressions over the S5 triple scan — one shuffle on the
  * subject, broadcast NCIt gate, bucket-pruned merges.
  */
object Uberon {

  val Label = "http://www.w3.org/2000/01/rdf-schema#label"
  val SubClassOf = "http://www.w3.org/2000/01/rdf-schema#subClassOf"
  val Description = "http://purl.obolibrary.org/obo/IAO_0000115"
  val Deprecated = "http://www.w3.org/2002/07/owl#deprecated"
  val CrossRef = "http://www.geneontology.org/formats/oboInOwl#hasDbXref"
  val SubsetOf = "http://www.geneontology.org/formats/oboInOwl#inSubset"

  private def uberonId(c: org.apache.spark.sql.Column) =
    when(regexp_extract(c, ".*/UBERON_(\\d+)$", 1) =!= "",
      concat(lit("uberon:"), regexp_extract(c, ".*/UBERON_(\\d+)$", 1)))

  /** Entities with a label and a parseable code. `[0]`-style first-value
    * picks are made deterministic with min().
    */
  def entities(triples: DataFrame): DataFrame =
    triples.withColumn("code", uberonId(col("subject")))
      .filter(col("code").isNotNull)
      .groupBy(col("code").as("sourceId"))
      .agg(
        min(when(col("predicate") === Label, col("obj"))).as("name"),
        min(when(col("predicate") === Description, col("obj"))).as("description"),
        coalesce(max(when(col("predicate") === Deprecated, col("obj") === "true")),
          lit(false)).as("deprecated"),
        sort_array(collect_set(when(col("predicate") === SubsetOf,
          regexp_extract(col("obj"), ".*/([^/]+)$", 1)))).as("subsets"))
      .filter(col("name").isNotNull)

  def load(spark: SparkSession, store: PersistentGraphStore, path: String,
      ncitDim: DataFrame, table: String = "anatomy"): Map[String, Long] = {
    val t = OwlScan.triples(spark, path)
    withCached(t) {
      val ents = entities(t)
      val loaded = ents.select(col("sourceId"))
      val sub = t
        .select(uberonId(col("subject")).as("out"),
          when(col("predicate") === SubClassOf, uberonId(col("obj"))).as("in"))
        .filter(col("out").isNotNull && col("in").isNotNull)
        // both endpoints must be loaded entities (index.js:150-152)
        .join(loaded.withColumnRenamed("sourceId", "out"), Seq("out"), "left_semi")
        .join(loaded.withColumnRenamed("sourceId", "in"), Seq("in"), "left_semi")
        .select(col("out"), col("in"), lit("subclassof").as("edgeClass"))
      val xref = t
        .filter(col("predicate") === CrossRef &&
          lowerCase(col("obj")).rlike("^ncit:c\\d+$"))
        .select(uberonId(col("subject")).as("out"),
          lowerCase(col("obj")).substr(6, Int.MaxValue).as("in"))
        .filter(col("out").isNotNull)
        .join(loaded.withColumnRenamed("sourceId", "out"), Seq("out"), "left_semi")
        // NCIt misses are skipped, not fatal (index.js:196-199)
        .join(broadcast(ncitDim.select(col("sourceId").as("in")).distinct()),
          Seq("in"), "left_semi")
        .select(col("out"), col("in"), lit("crossreferenceof").as("edgeClass"))
      store.writeAll(Seq(
        Merge(table, ents, keyCols = Seq("sourceId"),
          compareCols = Seq("name", "description", "deprecated"),
          setCols = Seq("subsets")),
        Edges(sub.unionByName(xref))))
    }
  }
}
