package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.upperCase

/** ChEMBL loader (reference src/chembl/index.js:30-107): one molecule
  * document per fetch → a Therapy vertex, plus an optional USAN-stem
  * parent Therapy and a SubClassOf edge into it.
  *
  * Reference semantics transcribed:
  *  - name = pref_name, falling back to the molecular formula
  *    (index.js:52-56);
  *  - displayName = `name [CHEMBLID]` with the id uppercased, or the bare
  *    uppercased id when the name is absent (index.js:58-62);
  *  - molecularFormula carried when present (index.js:64-66);
  *  - usan_stem_definition → parent Therapy (sourceId = name = the
  *    definition text) + SubClassOf drug→parent (index.js:76-100).
  */
object Chembl {

  /** One row per molecule document (the recorded API response shape). */
  def molecules(spark: SparkSession, path: String): DataFrame = {
    val raw = Scans.json(spark, path)
    val name = coalesce(col("pref_name"), col("molecule_properties.full_molformula"))
    raw.select(
      col("molecule_chembl_id").as("sourceId"),
      name.as("name"),
      when(name.isNotNull,
          concat(name, lit(" ["), upperCase(col("molecule_chembl_id")), lit("]")))
        .otherwise(upperCase(col("molecule_chembl_id"))).as("displayName"),
      col("molecule_properties.full_molformula").as("molecularFormula"),
      col("usan_stem_definition").as("usanStem"))
  }

  /** USAN-stem parent therapies (index.js:78-86). */
  def usanParents(mols: DataFrame): DataFrame =
    mols.filter(col("usanStem").isNotNull)
      .select(col("usanStem").as("sourceId"), col("usanStem").as("name"),
        col("usanStem").as("displayName"),
        lit(null).cast("string").as("molecularFormula"))
      .distinct()

  def load(spark: SparkSession, store: PersistentGraphStore,
      path: String): Map[String, Long] = {
    val mols = molecules(spark, path)
    val therapyCols = Seq("name", "displayName", "molecularFormula")
    store.writeAll(Seq(
      Merge("therapies", mols.drop("usanStem").unionByName(usanParents(mols)),
        keyCols = Seq("sourceId"), compareCols = therapyCols),
      Edges(mols.filter(col("usanStem").isNotNull)
        .select(col("sourceId").as("out"), col("usanStem").as("in"),
          lit("SubClassOf").as("edgeClass")))))
  }
}
