package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge

/** PMC4468049 recurrent-fusions loader (reference
  * src/PMC4468049/index.js:32-185, Table S7): `A__B` fusion pairs with a
  * per-tumor-type count matrix —
  *  - rows with Total < 3 are skipped as low-frequency (:126-130);
  *  - the disease is the FIRST count column (header order) whose value
  *    equals Total — the fusion is specific to that tumor type — else
  *    the generic 'cancer' (:133-141);
  *  - a specific code whose mapped disease name did not resolve skips
  *    the row (:143-146);
  *  - survivors create the fusion CategoryVariant on the resolved gene
  *    pair and a 'recurrent' statement with the disease as condition and
  *    subject (:148-180); unresolvable genes error the row.
  *
  * Scale: the first-matching-column rule is an ordered array filter
  * (codegen'd); all dims broadcast; merges bucket-pruned.
  */
object Pmc4468049 {

  case class CodeCount(code: String, n: String)

  case class FusionRow(
      rowId: String, fusionPair: String, total: String,
      codes: Seq[CodeCount])

  def load(spark: SparkSession, store: PersistentGraphStore,
      rows: Seq[FusionRow], codeNames: Map[String, String],
      diseases: DataFrame, genes: DataFrame,
      vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val codeNameDim = codeNames.toSeq.toDF("diseaseCode", "diseaseName")
    // disease resolves on sourceId OR name (J7)
    val disDim = diseases
      .select(col("sourceId").as("diseaseName"), col("sourceId").as("disease_sid"))
      .unionByName(diseases
        .select(col("name").as("diseaseName"), col("sourceId").as("disease_sid")))
      .distinct()
    val geneDim = genes.select(col("symbol"), col("sourceId").as("gene_sid"))
    val terms = vocab.groupBy(col("name")).agg(min(col("term_id")).as("tid"))
    val fusionTerm = terms.filter(col("name") === "in-frame fusion")
      .select(col("tid").as("fusion_term"))
    val lowFreq = rows.count(_.total.toLong < 3).toLong
    val pre = spark.createDataset(rows).toDF()
      .filter(col("total").cast("long") >= 3)
      .withColumn("geneA", split(col("fusionPair"), "__").getItem(0))
      .withColumn("geneB", split(col("fusionPair"), "__").getItem(1))
      // first count column (in order) equal to Total → specific disease
      .withColumn("diseaseCode", expr(
        "get(filter(codes, c -> c.n = total), 0).code"))
    val resolved = pre
      .join(broadcast(codeNameDim), Seq("diseaseCode"), "left")
      .withColumn("diseaseName",
        when(col("diseaseCode").isNull, lit("cancer"))
          .otherwise(col("diseaseName")))
      .join(broadcast(disDim), Seq("diseaseName"), "left")
      .join(broadcast(geneDim.withColumnRenamed("symbol", "geneA")
        .withColumnRenamed("gene_sid", "sidA")), Seq("geneA"), "left")
      .join(broadcast(geneDim.withColumnRenamed("symbol", "geneB")
        .withColumnRenamed("gene_sid", "sidB")), Seq("geneB"), "left")
      .crossJoin(broadcast(fusionTerm))
    withCached(resolved) {
      // specific-code disease miss → skip; gene miss → error
      val skips = resolved.filter(col("disease_sid").isNull).count()
      val withDisease = resolved.filter(col("disease_sid").isNotNull)
      val errors = withDisease
        .filter(col("sidA").isNull || col("sidB").isNull).count()
      val live = withDisease
        .filter(col("sidA").isNotNull && col("sidB").isNotNull)
        .withColumn("vid", concat(col("sidA"), lit("::"), col("sidB"),
          lit(":fusion@"), col("fusion_term")))
      store.writeAll(Seq(
        Merge("variants",
          live.select(col("vid"), col("fusion_term").as("term"),
            col("sidA").as("reference1"), col("sidB").as("reference2"))
            .dropDuplicates("vid"),
          keyCols = Seq("vid"),
          compareCols = Seq("term", "reference1", "reference2")),
        Merge("statements",
          live.select(col("rowId").as("sourceId"),
            lit("recurrent").as("relevance"),
            col("disease_sid").as("subject"),
            sort_array(array(col("vid"), col("disease_sid"))).as("conditions")),
          keyCols = Seq("sourceId"),
          compareCols = Seq("relevance", "subject"),
          setCols = Seq("conditions"), prefix = "statements_"))) +
        ("skip" -> (skips + lowFreq)) + ("error" -> errors)
    }
  }
}
