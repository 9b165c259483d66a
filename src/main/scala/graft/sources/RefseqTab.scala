package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}

/** RefSeq LRG_RefSeqGene loader (reference src/refseq/index.js:23-155):
  * tab file → versioned + generalized transcript/protein Features,
  * generalizationof + elementof edges, and the entrez gene link.
  *
  * Reference semantics transcribed:
  *  - RNA / Protein accessions split on '.' into (sourceId,
  *    sourceIdVersion); a generalized (version-null) feature is created
  *    alongside every versioned one (index.js:55-77, 92-112);
  *  - generalizationof: general → versioned (index.js:70-77);
  *  - elementof: protein → transcript at both version levels
  *    (index.js:120-143), and general transcript → entrez gene
  *    (index.js:79-89) — the gene edge requires the gene to resolve in
  *    the hydrated entrez dimension (the catch-block skips it otherwise).
  *
  * Scale: block-splittable TSV scan; features/edges are narrow projections
  * + one distinct shuffle each; the gene gate is a broadcast semi-join.
  */
object RefseqTab {

  def rows(spark: SparkSession, path: String): DataFrame =
    Scans.delim(spark, path, inferSchema = false)
      .select(
        col("GeneID").as("geneId"),
        split_part(col("RNA"), lit("."), lit(1)).as("rnaId"),
        nullif(split_part(col("RNA"), lit("."), lit(2)), lit("")).as("rnaVer"),
        split_part(coalesce(col("Protein"), lit("")), lit("."), lit(1)).as("proteinId"),
        nullif(split_part(coalesce(col("Protein"), lit("")), lit("."), lit(2)), lit(""))
          .as("proteinVer"))
      .withColumn("proteinId", nullif(col("proteinId"), lit("")))
      .filter(col("rnaId").isNotNull && col("rnaId") =!= "")

  /** Versioned + generalized transcript/protein features. */
  def features(spark: SparkSession, path: String): DataFrame = {
    val r = rows(spark, path)
    def feat(bio: String, id: String, ver: String) = {
      val versioned = r.filter(col(id).isNotNull)
        .select(lit(bio).as("biotype"), col(id).as("sourceId"),
          col(ver).as("sourceIdVersion"))
      versioned.unionByName(
        versioned.withColumn("sourceIdVersion", lit(null).cast("string")))
    }
    feat("transcript", "rnaId", "rnaVer")
      .unionByName(feat("protein", "proteinId", "proteinVer"))
      .distinct()
  }

  /** generalizationof / elementof edges; the gene elementof is gated on
    * the entrez dimension (geneDim.sourceId).
    */
  def edges(spark: SparkSession, path: String, geneDim: DataFrame): DataFrame = {
    val r = rows(spark, path)
    def vid(id: String, ver: String) = concat_ws(".", col(id), col(ver))
    val hasProt = r.filter(col("proteinId").isNotNull)
    val parts = Seq(
      r.select(col("rnaId").as("out"), vid("rnaId", "rnaVer").as("in"),
        lit("generalizationof").as("edgeClass")),
      hasProt.select(col("proteinId").as("out"),
        vid("proteinId", "proteinVer").as("in"),
        lit("generalizationof").as("edgeClass")),
      hasProt.select(col("proteinId").as("out"), col("rnaId").as("in"),
        lit("elementof").as("edgeClass")),
      hasProt.select(vid("proteinId", "proteinVer").as("out"),
        vid("rnaId", "rnaVer").as("in"), lit("elementof").as("edgeClass")),
      r.join(broadcast(geneDim.select(col("sourceId").as("geneId")).distinct()),
          Seq("geneId"), "left_semi")
        .select(col("rnaId").as("out"),
          concat(lit("entrez:"), col("geneId")).as("in"),
          lit("elementof").as("edgeClass")))
    parts.reduce(_ unionByName _).distinct()
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      path: String, geneDim: DataFrame): Map[String, Long] =
    store.writeAll(Seq(
      Merge("features", features(spark, path),
        keyCols = Seq("sourceId", "sourceIdVersion"), compareCols = Seq("biotype")),
      Edges(edges(spark, path, geneDim))))
}
