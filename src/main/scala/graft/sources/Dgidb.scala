package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Edges
import graft.functions.CaseFold.lowerCase

/** DGIdb drug-gene interaction loader (reference src/dgidb/index.js:
  * 30-86): each interaction record resolves its entrez gene and its
  * ChEMBL drug against the pre-loaded dimensions (`preLoadCache`,
  * index.js:58-60) and creates a `TargetOf` edge carrying the canonical
  * actionType — the interaction types lowercased, trimmed, SORTED and
  * ';'-joined (index.js:61; T4 canonical sort) — and the input uuid. A
  * record whose gene or drug cannot be resolved errors and is skipped,
  * not created (index.js:76-81 error counting — K10).
  *
  * Scale: both dimensions broadcast; the fact side never shuffles; the
  * edge upsert rides the bucket-pruned anti-join.
  */
object Dgidb {

  case class Interaction(
      id: String, entrezId: String, conceptId: String,
      interactionTypes: Seq[String])

  def load(spark: SparkSession, store: PersistentGraphStore,
      records: Seq[Interaction], genes: DataFrame,
      therapies: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val recs = spark.createDataset(records).toDF()
      .withColumn("chemblId",
        regexp_replace(col("conceptId"), "^chembl:", ""))
      .withColumn("actionType", array_join(sort_array(
        transform(col("interactionTypes"), x => lowerCase(trim(x)))), ";"))
    val g = genes.select(col("sourceId").as("entrezId"), lit(true).as("gene_ok"))
    val d = therapies.select(col("sourceId").as("chemblId"), lit(true).as("drug_ok"))
    val joined = recs
      .join(broadcast(g), Seq("entrezId"), "left")
      .join(broadcast(d), Seq("chemblId"), "left")
    withCached(joined) {
      val ok = joined.filter(col("gene_ok").isNotNull && col("drug_ok").isNotNull)
      val e = store.writeAll(Seq(Edges(ok.select(
        col("entrezId").as("out"), col("chemblId").as("in"),
        lit("TargetOf").as("edgeClass"), col("actionType"),
        col("id").as("uuid")))))
      val errors = joined
        .filter(col("gene_ok").isNull || col("drug_ok").isNull).count()
      Map("success" -> (joined.count() - errors), "error" -> errors) ++ e
    }
  }
}
