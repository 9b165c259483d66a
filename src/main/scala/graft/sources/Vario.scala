package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.lowerCase

/** VariO loader (reference src/vario.js:45-105): OWL RDF/XML → vocabulary
  * vertices + subclassof edges, end-to-end through the store.
  *
  * Reference semantics transcribed:
  *  - subject ids parse `.../VariO_\d+` → lowercased `vario:NNNN`
    *    (vario.js parseId:36-44); non-matching subjects (bnodes, other
  *    ontologies) are dropped;
  *  - only subjects with an rdfs:label become records (vario.js:70-72);
  *  - description = first IAO_0000115 annotation (vario.js:74);
  *  - subclassof edges require BOTH endpoints to be labeled VariO records
  *    (vario.js:88-99 — recordsByCode only holds labeled terms).
  *
  * Scale: triples explode in one narrow pass; the label/description pivot
  * is a single hash aggregation on code; the edge-endpoint check is a
  * broadcast semi-join against the (small) labeled-code set.
  */
object Vario {

  val NamePred = "http://www.w3.org/2000/01/rdf-schema#label"
  val DescPred = "http://purl.obolibrary.org/obo/IAO_0000115"
  val SubPred = "http://www.w3.org/2000/01/rdf-schema#subClassOf"

  def parseCode(c: Column): Column =
    lowerCase(regexp_replace(regexp_extract(c, ".*/(VariO_\\d+)$", 1), "_", ":"))

  /** VariO-subject triples with both ends code-parsed. */
  def varioTriples(spark: SparkSession, path: String): DataFrame =
    OwlScan.triples(spark, path)
      .withColumn("code", parseCode(col("subject")))
      .filter(col("code") =!= "")

  /** Labeled terms: (sourceId, name, description). */
  def terms(triples: DataFrame): DataFrame =
    triples.groupBy(col("code"))
      .agg(
        min(when(col("predicate") === NamePred, col("obj"))).as("name"),
        min(when(col("predicate") === DescPred, col("obj"))).as("description"))
      .filter(col("name").isNotNull)
      .select(col("code").as("sourceId"), col("name"), col("description"))

  /** subclassof edges between labeled VariO terms. */
  def subclassEdges(triples: DataFrame, labeled: DataFrame): DataFrame = {
    val codes = broadcast(labeled.select(col("sourceId")).distinct())
    triples.filter(col("predicate") === SubPred)
      .select(col("code").as("out"), parseCode(col("obj")).as("in"))
      .filter(col("in") =!= "")
      .join(codes.withColumnRenamed("sourceId", "out"), Seq("out"), "left_semi")
      .join(codes.withColumnRenamed("sourceId", "in"), Seq("in"), "left_semi")
      .select(col("out"), col("in"), lit("subclassof").as("edgeClass"))
      .distinct()
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      path: String, table: String = "vocabulary"): Map[String, Long] = {
    val triples = varioTriples(spark, path)
    withCached(triples) {
      val labeled = terms(triples)
      store.writeAll(Seq(
        Merge(table, labeled,
          keyCols = Seq("sourceId"), compareCols = Seq("name", "description")),
        Edges(subclassEdges(triples, labeled))))
    }
  }
}
