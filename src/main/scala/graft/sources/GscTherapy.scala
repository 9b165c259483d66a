package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.lowerCase

/** GSC therapeutic (drug-class) ontology loader (reference
  * src/gscTherapeuticOntology.js:13-240): TSV rows → therapy records with
  * drug-class subset tags, alias / subclassof / crossreferenceof edges.
  *
  * Reference semantics transcribed:
  *  - all five name-ish columns (source, Class_1, Class_2, Class_3_pathway,
  *    alias) are cleaned trim → lowercase → FIRST `\binhibitors\b` →
  *    `inhibitor` (uploadFile:160-162; JS `.replace` without /g is
  *    first-occurrence only);
  *  - the drug name resolves through a preference ladder (getDrugOrAdd:
  *    31-77): drugbank by name, else chembl by name, else a NEW record in
  *    the gsc source with `sourceId = name` and subset tags for every
  *    class column the name equals (TAGS:22-26);
  *  - class columns ALWAYS get a gsc record (addDrugClass:84-134), even
  *    when a drugbank drug shares the name — that case adds a
  *    crossreferenceof edge class→drug instead of reusing the drug record;
  *  - aliases split on comma-with-whitespace, dropping empties and the drug's own name
  *    (uploadFile:172-175), each resolved through getDrugOrAdd WITHOUT the
  *    raw record (so no tags), then aliasof alias→drug (:177-181);
  *  - hierarchy: drug→parent unless same rid, parent→grandparent1 and
  *    parent→grandparent2 (BOTH from the parent, not chained through gp1)
  *    unless same rid (uploadFile:183-210);
  *  - a DrugBankID matching /^DB\d+$/i resolves by drugbank sourceId →
  *    crossreferenceof drug→dbDrug unless same rid (:212-233); a MISS here
  *    throws and the whole record counts as an error — but the edges and
  *    records created earlier in the record's processing REMAIN (the
  *    try/catch wraps the tail, nothing rolls back);
  *  - record creation is existsOk + fetch-by-(name, source, sourceId), so
  *    the FIRST creation's subsets win and later encounters fetch the
  *    existing record. Transcribed order-independently as min_by over
  *    (row, site) where site is the reference's within-row creation order
  *    (drug, parent, gp1, gp2, aliases).
  *
  * Scale: both dims broadcast (drug catalogs are dim-sized); the
  * first-wins fold is one hash aggregation on the term name; everything
  * else is narrow column work on the row frame.
  */
object GscTherapy {

  /** One cleaned TSV row (HEADER map, gscTherapeuticOntology.js:13-20). */
  case class GscRow(rowId: Int, name: String, alias: String,
      drugbankId: String, parent: String, grandparent1: String,
      grandparent2: String)

  /** trim → lower → first-occurrence `\binhibitors\b` → `inhibitor`.
    * The `^(.*?)` anchor makes regexp_replace single-shot, matching the
    * /g-less JS replace.
    */
  def cleanTerm(c: Column): Column =
    regexp_replace(lowerCase(trim(c)), "^(.*?)\\binhibitors\\b", "$1inhibitor")

  /** TAGS: subset labels for every class column the term equals. */
  private def tagsFor(term: Column): Column =
    array_compact(array(
      when(term === col("parent"), lit("specific drug class")),
      when(term === col("grandparent1"), lit("general drug class")),
      when(term === col("grandparent2"), lit("pathway drug class"))))

  /** Load the drug ontology; dims are (name, sourceId) catalogs. Returns
    * merge/edge counts plus `errors` (rows whose DrugBankID regex-matched
    * but missed the drugbank dim).
    */
  def load(spark: SparkSession, store: PersistentGraphStore,
      rows: Seq[GscRow], drugbank: DataFrame, chembl: DataFrame,
      sourceName: String = "gsc therapeutic ontology"): Map[String, Long] = {
    import spark.implicits._

    val cleaned = rows.toDF()
      .select(col("rowId"), cleanTerm(col("name")).as("name"),
        cleanTerm(col("alias")).as("alias"), trim(col("drugbankId")).as("drugbankId"),
        cleanTerm(col("parent")).as("parent"),
        cleanTerm(col("grandparent1")).as("grandparent1"),
        cleanTerm(col("grandparent2")).as("grandparent2"))

    val db = broadcast(drugbank.select(col("name"),
      concat(lit("drugbank:"), col("sourceId")).as("db_rid")))
    val dbById = broadcast(drugbank.select(
      lowerCase(col("sourceId")).as("db_id"),
      concat(lit("drugbank:"), col("sourceId")).as("dbid_rid")))
    val ch = broadcast(chembl.select(col("name"),
      concat(lit("chembl:"), col("sourceId")).as("ch_rid")))

    // getDrugOrAdd ladder on the drug name: drugbank → chembl → new gsc
    val withDrug = cleaned
      .join(db, Seq("name"), "left")
      .join(ch, Seq("name"), "left")
      .withColumn("drug_rid",
        coalesce(col("db_rid"), col("ch_rid"), concat(lit("gsct:"), col("name"))))
    // ---- record-creation candidates, in the reference's creation order
    val drugCands = withDrug
      .filter(col("db_rid").isNull && col("ch_rid").isNull)
      .select(col("rowId"), lit(0).as("site"), col("name").as("term"),
        tagsFor(col("name")).as("subsets"))
    val classCands = Seq(("parent", 1), ("grandparent1", 2), ("grandparent2", 3))
      .map { case (c, site) =>
        withDrug.filter(col(c) =!= "")
          .select(col("rowId"), lit(site).as("site"), col(c).as("term"),
            tagsFor(col(c)).as("subsets"))
      }.reduce(_ unionByName _)
    val aliasTerms = withDrug
      .select(col("rowId"), col("name"), col("drug_rid"),
        explode(split(col("alias"), "\\s*,\\s*")).as("term"))
      .filter(col("term") =!= "" && col("term") =!= col("name"))
      .join(db.withColumnRenamed("name", "term")
        .withColumnRenamed("db_rid", "a_db_rid"), Seq("term"), "left")
      .join(ch.withColumnRenamed("name", "term")
        .withColumnRenamed("ch_rid", "a_ch_rid"), Seq("term"), "left")
      .withColumn("alias_rid", coalesce(col("a_db_rid"), col("a_ch_rid"),
        concat(lit("gsct:"), col("term"))))
    withCached(withDrug, aliasTerms) {
      val aliasCands = aliasTerms
        .filter(col("a_db_rid").isNull && col("a_ch_rid").isNull)
        .select(col("rowId"), lit(4).as("site"), col("term"),
          array().cast("array<string>").as("subsets"))

      // first-creation-wins subsets (existsOk fetch on later encounters)
      val records = drugCands.unionByName(classCands).unionByName(aliasCands)
        .groupBy(col("term"))
        .agg(min_by(col("subsets"), struct(col("rowId"), col("site"))).as("subsets"))
        .select(col("term").as("sourceId"), col("term").as("name"),
          lit(sourceName).as("source"), col("subsets"))

      // ---- edges
      val aliasEdges = aliasTerms.select(col("alias_rid").as("out"),
        col("drug_rid").as("in"), lit("aliasof").as("edgeClass"))
      val drugParent = withDrug.filter(col("parent") =!= "" &&
          col("drug_rid") =!= concat(lit("gsct:"), col("parent")))
        .select(col("drug_rid").as("out"),
          concat(lit("gsct:"), col("parent")).as("in"),
          lit("subclassof").as("edgeClass"))
      val parentGp = Seq("grandparent1", "grandparent2").map { c =>
        withDrug.filter(col("parent") =!= "" && col(c) =!= "" &&
            col("parent") =!= col(c))
          .select(concat(lit("gsct:"), col("parent")).as("out"),
            concat(lit("gsct:"), col(c)).as("in"),
            lit("subclassof").as("edgeClass"))
      }.reduce(_ unionByName _)
      // addDrugClass: class record → same-name drugbank drug
      val classXref = classCands.select(col("term")).distinct()
        .join(db.withColumnRenamed("name", "term"), Seq("term"))
        .select(concat(lit("gsct:"), col("term")).as("out"),
          col("db_rid").as("in"), lit("crossreferenceof").as("edgeClass"))
      // DrugBankID mapping: hit → crossref unless same rid; miss → error
      val dbIdRows = withDrug
        .filter(col("drugbankId").rlike("(?i)^DB\\d+$"))
        .join(dbById, lowerCase(col("drugbankId")) === col("db_id"), "left")
      withCached(dbIdRows) {
        val dbIdXref = dbIdRows
          .filter(col("dbid_rid").isNotNull && col("dbid_rid") =!= col("drug_rid"))
          .select(col("drug_rid").as("out"), col("dbid_rid").as("in"),
            lit("crossreferenceof").as("edgeClass"))
        val errors = dbIdRows.filter(col("dbid_rid").isNull).count()

        store.writeAll(Seq(
          Merge("therapies", records,
            keyCols = Seq("sourceId", "name", "source"),
            compareCols = Seq("subsets")),
          Edges(aliasEdges.unionByName(drugParent).unionByName(parentGp)
            .unionByName(classXref).unionByName(dbIdXref)))) +
          ("errors" -> errors)
      }
    }
  }
}
