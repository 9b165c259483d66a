package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge
import graft.functions.CaseFold.lowerCase
import graft.variant.HgvsParser

/** PMC4232638 supplementary-table loader (reference
  * src/PMC4232638/index.js:24-170): the super-header XLSX (S7) filtered
  * to non-neutral rows, then the relevance decision table —
  *  - kinase-activity oncogenes / new cancer genes → 'likely gain of
  *    function' (:61-64);
  *  - the TP53 category columns use the reference's `no `-prefix
  *    falsiness (a bare 'no' counts as PRESENT — transcribed from code),
  *    multi-category rows keep the kinase relevance, then gof /
  *    dominant-negative / lof in that order (:67-82);
  *  - PMID cells split on ',', each matched against
  *    `^\s*(\d+)\s*(\([^)]+\))?$` — parseable ids join the paper's own
  *    PMID in the evidence, the trimmed originals (annotations kept)
  *    become the comment, unparseable ids are skipped (:85-110);
  * and one protein variant + statement per surviving row (conditions
  * [variant, gene], subject gene, :135-165).
  *
  * Scale: rules are pure column expressions; only the HGVS parse runs in
  * a typed map; dims broadcast; merges bucket-pruned.
  */
object Pmc4232638 {

  val ThisPubmedId = "25348012"
  val KinaseCol = "Functional categories for oncogenes/ new cancer genes - Change in kinase, GTPase, or other enzymatic activity (i.e. RNase)"
  val Gof = "Functional categories for TP53 - Gain of function"
  val Lof = "Functional categories for TP53 - Loss of function"
  val Dom = "Functional categories for TP53 - Dominant negative activity"

  /** index.js:67 — falsy iff empty/null or lowercase starts with 'no '
    * (a bare 'no' is TRUTHY in the reference).
    */
  private def isNo(c: Column): Column =
    c.isNull || c === "" || lowerCase(c).startsWith("no ")

  /** Relevance-annotated rows from the scanned grid (already
    * super-header-flattened); '----' cells are blanked like the
    * reference's row loop (:46-52).
    */
  def annotated(grid: DataFrame): DataFrame = {
    def cc(name: String) =
      when(col(s"`$name`") === "----", lit("")).otherwise(col(s"`$name`"))
    val kinaseRel = when(cc(KinaseCol) === "yes" &&
        cc("Type").isin("Oncogene", "New cancer gene"),
      lit("likely gain of function"))
    val gof = !isNo(cc(Gof))
    val lof = !isNo(cc(Lof))
    val dom = !isNo(cc(Dom))
    val relevance = when(gof && (lof || dom), kinaseRel)
      .when(gof, lit("gain of function"))
      .when(dom && lof, lit("dominant negative"))
      .when(lof, lit("loss of function"))
      .otherwise(kinaseRel)
    // `parts_tmp` (the trimmed, shape-validated PMID segments) is added
    // by the caller so the column name stays escapable
    grid.filter(cc("Functional classification") === "non-neutral")
      .withColumn("relevance", relevance)
      .filter(col("relevance").isNotNull)
      .withColumn("evidence", concat(array(lit(ThisPubmedId)),
        expr("transform(parts_tmp, x -> regexp_extract(x, '^([0-9]+)', 1))")))
      .withColumn("comment", expr(
        "array_join(transform(parts_tmp, x -> concat('PMID:', x)), '; ')"))
  }

  def load(spark: SparkSession, store: PersistentGraphStore, grid: DataFrame,
      genes: DataFrame, vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    val rows = annotated(grid.withColumn("parts_tmp", expr(
      """filter(transform(split(coalesce(`PubMed ID (PMID)`, ''), ','),
        |  x -> trim(x)),
        |  x -> x rlike '^[0-9]+\\s*(\\([^)]+\\))?$')""".stripMargin)))
      .select(col("Gene").as("gene"),
        col("`Amino acid change`").as("aa"), col("relevance"),
        col("evidence"), col("comment"))
      .as[(String, String, String, Seq[String], String)]
      .map { case (g, aa, rel, ev, com) =>
        val p = HgvsParser.parse(s"p.$aa")
        (g, s"p.$aa", p.vtype, p.break1Repr.getOrElse(""), rel, ev, com)
      }
      .toDF("gene", "notation", "vtype", "break1", "relevance", "evidence",
        "comment")
    val geneDim = genes.select(col("symbol").as("gene"),
      col("sourceId").as("gene_sid"))
    val terms = vocab.groupBy(col("name")).agg(min(col("term_id")).as("tid"))
    val resolved = rows
      .join(broadcast(geneDim), Seq("gene"))
      .join(broadcast(terms.withColumnRenamed("tid", "type_term")),
        col("vtype") === col("name"), "left").drop("name")
      .join(broadcast(terms.withColumnRenamed("tid", "rel_term")),
        col("relevance") === col("name"), "left").drop("name")
      .withColumn("vid", concat(col("gene_sid"), lit(":"), col("notation"),
        lit("@"), col("type_term")))
    withCached(resolved) {
      store.writeAll(Seq(
        Merge("variants",
          resolved.select(col("vid"), col("notation"), col("type_term"),
            col("break1"), col("gene_sid").as("reference1"))
            .dropDuplicates("vid"),
          keyCols = Seq("vid"),
          compareCols = Seq("notation", "type_term", "break1", "reference1")),
        Merge("statements",
          resolved.select(
            concat(col("gene_sid"), lit(":"), col("notation"), lit("@"),
              col("rel_term")).as("sourceId"),
            col("rel_term").as("relevance"),
            col("gene_sid").as("subject"),
            sort_array(array(col("vid"), col("gene_sid"))).as("conditions"),
            sort_array(col("evidence")).as("evidence"),
            col("comment")),
          keyCols = Seq("sourceId"),
          compareCols = Seq("relevance", "subject", "comment"),
          setCols = Seq("conditions", "evidence"), prefix = "statements_")))
    }
  }
}
