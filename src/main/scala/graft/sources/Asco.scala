package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge

/** ASCO abstracts loader (reference src/asco/index.js:47-93
  * `collapseAbstractDups` + :150-190 upload): ASCO's solr feed returns
  * several records per abstract; duplicates group on (AbstID, Year,
  * Meeting, Title, FirstAuthor) and the record with the most filled
  * fields wins — the reference's ascending-sort-then-reverse keeps the
  * LAST-encountered record among fill-score ties (JS sort stability), so
  * the tie-break here is the highest input index. Winners upsert as
  * abstracts keyed by the duplicate key.
  *
  * The collapse is T1 top-1-per-group: one window over the dup key, fill
  * score computed as a column expression — no driver-side loops.
  */
object Asco {

  case class Abstract(
      recId: Long, abstId: String, year: String, meeting: String,
      title: String, firstAuthor: String, citation: String, doi: String)

  /** Non-empty-field count (Object.values filter, index.js:53). */
  def fillScore(cols: Seq[String]): Column =
    cols.map(c => when(col(c).isNotNull && col(c) =!= "", 1).otherwise(0))
      .reduce(_ + _)

  val DupKey = Seq("abstId", "year", "meeting", "title", "firstAuthor")

  def collapse(df: DataFrame): DataFrame = {
    val valueCols = df.columns.toSeq.filterNot(_ == "recId")
    val w = Window.partitionBy(DupKey.map(col): _*)
      .orderBy(fillScore(valueCols).desc, col("recId").desc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      abstracts: Seq[Abstract]): Map[String, Long] = {
    import spark.implicits._
    val winners = collapse(spark.createDataset(abstracts).toDF())
      .withColumn("sourceId", concat_ws("|", DupKey.map(col): _*))
    store.writeAll(Seq(Merge("abstracts",
      winners.select(col("sourceId"), col("abstId"), col("year"),
        col("meeting"), col("title"), col("firstAuthor"), col("citation"),
        col("doi")),
      keyCols = Seq("sourceId"),
      compareCols = Seq("abstId", "year", "meeting", "title", "firstAuthor",
        "citation", "doi"))))
  }
}
