package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore.Merge
import graft.functions.CaseFold.lowerCase

/** Cancer Genome Interpreter row parsing (reference
  * src/cancergenomeinterpreter/index.js:73-190):
  *  - `parseCategoryVariant` strips the gene prefix off the biomarker,
  *    fixes the 'undexpression' typo, and folds CNA deletions to
  *    'copy loss' (:73-88);
  *  - `parseEvidence` routes PMID / PMC / NCT items, silently drops
  *    FDA/NCCN/ASCO/AACR guidelines, and errors on anything else
  *    (:91-107);
  *  - `parseTherapy` falls back to the drug family and strips the
  *    square brackets (:110-117);
  *  - `preprocessVariants` expands '+'-concomitant biomarkers into the
  *    cartesian product of their per-gene variant lists (X2), rewrites
  *    protein lists (`GENE (A1,B2)`) into per-variant HGVS with the
  *    variantClass suffix for bare positions, exon phrases into `e.N…`
  *    notations, and `A-B fusion` pairs; three-plus combinations are
  *    unsupported and error (:121-190).
  *
  * All parsing is deterministic executor-side row logic (flatMap); the
  * error path is the K10 side-channel.
  */
object Cgi {

  case class CgiRow(
      rowId: String, biomarker: String, gene: String, variantClass: String,
      protein: String, drug: String, drugFamily: String, evidence: String,
      disease: String = "", relevance: String = "")

  /** One parsed variant spec within a combination. */
  case class VariantSpec(
      gene: String, protein: Option[String] = None,
      exonic: Option[String] = None, vtype: Option[String] = None,
      gene2: Option[String] = None, isCat: Boolean = false) {
    def repr: String =
      protein.orElse(exonic.map(e => s"$gene:$e"))
        .orElse(vtype.map(t => gene2 match {
          case Some(g2) => s"$gene::$g2:$t"
          case None => s"$gene $t"
        })).getOrElse(gene)
  }

  def parseCategoryVariant(biomarker: String, gene: String,
      variantClass: String): VariantSpec = {
    val vtype = biomarker.drop(gene.length).trim
      .replace("undexpression", "underexpression")
    if (variantClass == "CNA" && vtype == "deletion")
      VariantSpec(gene, vtype = Some("copy loss"), isCat = true)
    else VariantSpec(gene, vtype = Some(vtype), isCat = true)
  }

  def parseEvidence(evidence: String): Seq[String] =
    evidence.split(";").map(_.trim).toSeq.flatMap { item =>
      if (item.startsWith("PMID:")) Seq(item.drop("PMID:".length))
      else if (item.startsWith("PMC")) Seq(item)
      else if (item.matches("^NCT\\d+$")) Seq(item)
      else if (Seq("FDA", "NCCN", "ASCO", "AACR").exists(item.startsWith))
        Seq.empty
      else throw new IllegalArgumentException(
        s"cannot process non-pubmed/nct/aacr/asco evidence $item")
    }

  def parseTherapy(drug: String, drugFamily: String): String = {
    val d = if (drug == "[]" || drug.isEmpty) drugFamily else drug
    d.replaceAll("^\\[", "").replaceAll("\\]$", "")
  }

  private val ProteinList = "^(\\w+) \\(([A-Z0-9*,;]+)\\)$".r
  private val GeneTail = "^(\\w+)\\s+(.*)$".r
  private val ExonPhrase = "^exon (\\d+) (insertion|deletion)s?$".r
  private val FusionPair = "^([A-Za-z0-9.]+)-([A-Za-z0-9.]+) fusion$".r
  private val BarePos = "^([A-Z])?(\\d+)$".r
  private val PosRange = "^(\\d+)-(\\d+)$".r

  /** cgi/index.js:121-190 — expand one row into variant combinations. */
  def preprocessVariants(row: CgiRow): Seq[Seq[VariantSpec]] = {
    if (row.biomarker.split("\\+").length > 2)
      throw new IllegalArgumentException(
        "Missing logic to process variant combinations of 3 or more")
    if (row.protein.trim.nonEmpty)
      return Seq(Seq(VariantSpec(row.gene,
        protein = Some(row.protein.replace(":", ":p.")))))

    val combinations = row.biomarker.split("\\s*\\+\\s*").toSeq.map {
      case variant @ ProteinList(gene, tail) =>
        tail.split("[,;]").toSeq.map { singleProtein =>
          val hgvsp = singleProtein match {
            case BarePos(refAA, pos) =>
              s"p.${Option(refAA).getOrElse("?")}$pos${row.variantClass.toLowerCase}"
            case _ => tail match {
              case PosRange(start, end) =>
                s"p.(?${start}_?$end)${row.variantClass.toLowerCase}"
              case _ => s"p.$singleProtein"
            }
          }
          VariantSpec(gene, protein = Some(s"$gene:$hgvsp"))
        }
      case variant @ GeneTail(gene, tail) =>
        tail match {
          case ExonPhrase(pos, kind) =>
            Seq(VariantSpec(gene, exonic = Some(s"e.$pos${kind.take(3)}")))
          case _ =>
            // the reference call (index.js:163) does NOT pass variantClass,
            // so the CNA→copy-loss fold never fires on this path —
            // transcribed from code, not the function's intent
            Seq(parseCategoryVariant(row.biomarker, gene, variantClass = ""))
        }
      case FusionPair(gene1, gene2) =>
        Seq(VariantSpec(gene1, gene2 = Some(gene2), vtype = Some("fusion"),
          isCat = true))
      case variant => throw new IllegalArgumentException(
        s"unable to process variant ($variant)")
    }

    if (combinations.length > 1)
      for (a <- combinations(0); b <- combinations(1)) yield Seq(a, b)
    else combinations(0).map(Seq(_))
  }

  // cgi/index.js:39-43 — relevance typo fixes, applied lowercased
  val RelevanceMapping: Map[String, String] = Map(
    "increased toxicity (myelosupression)" -> "increased toxicity (myelosuppression)",
    "no responsive" -> "no response",
    "resistant" -> "resistance",
    "responsive" -> "response")

  // cgi/index.js:46-58 — disease-name fixes; unmapped names fall back to
  // the `name|name cancer` alias ladder (processDisease:323-352)
  val DiseaseMapping: Map[String, String] = Map(
    "any cancer type" -> "cancer",
    "billiary tract" -> "Biliary tract cancer",
    "cervix squamous cell" -> "cervix squamous cell carcinoma",
    "endometrium" -> "endometrial cancer",
    "gastrointestinal stromal" -> "gastrointestinal stromal tumor",
    "head an neck" -> "head and neck cancer",
    "head an neck squamous" -> "head and neck squamous cell carcinoma",
    "lung squamous cell" -> "lung squamous cell carcinoma",
    "malignant peripheral nerve sheat tumor" -> "malignant peripheral nerve sheath tumor",
    "ovary" -> "ovarian cancer",
    "thymic" -> "thymic tumor")

  // cgi/index.js:61-71 — therapy fixes, looked up lowercased; the
  // reference's mixed-case 'MEK inhibitor (alone or in combination)' key
  // can never match a lowercased name (dead entry), transcribed as this
  // comment rather than an unreachable map entry
  val TherapyMapping: Map[String, String] = Map(
    "egfr tk inhibitor" -> "egfr tyrosine kinase inhibitor",
    "egfr tk inhibitors" -> "egfr tyrosine kinase inhibitor",
    "flourouracil" -> "fluorouracil",
    "fluvestrant" -> "fulvestrant",
    "jak inhibitors (alone or in combination)" -> "jak inhibitor",
    "mek inhibitors (alone or in combination)" -> "mek inhibitor",
    "tensirolimus" -> "temsirolimus",
    "trastuzumab deruxtecan-nxki" -> "fam-trastuzumab deruxtecan-nxki")

  case class ParsedRow(
      rowId: String, kind: String, comboIdx: Long, value: String)

  /** Parse every row; errors become K10 side-channel rows. */
  def parse(spark: SparkSession, rows: Seq[CgiRow]): DataFrame = {
    import spark.implicits._
    spark.createDataset(rows).flatMap { row =>
      try {
        val combos = preprocessVariants(row).zipWithIndex.map {
          case (combo, i) =>
            ParsedRow(row.rowId, "combo", i.toLong,
              combo.map(_.repr).mkString(" AND "))
        }
        val ev = ParsedRow(row.rowId, "evidence", 0L,
          parseEvidence(row.evidence).mkString(","))
        val th = ParsedRow(row.rowId, "therapy", 0L,
          parseTherapy(row.drug, row.drugFamily))
        combos :+ ev :+ th
      } catch {
        case e: IllegalArgumentException =>
          Seq(ParsedRow(row.rowId, "error", 0L, e.getMessage))
      }
    }.toDF()
  }

  /** Composed statement path (cgi/index.js processRow:392-460): disease
    * mapping + `name|name cancer` alias ladder against the disease dim,
    * therapy resolve-or-create under the cgi source (addTherapyCombination
    * 's single-drug rung; `;` combinations fold to the sorted ` + ` name),
    * relevance typo-fold + vocabulary lookup, evidence falling back to the
    * source rid when the guideline drops empty it, then ONE statement per
    * variant combination with conditions = variants + disease + drug and
    * subject = drug. A row failing disease or relevance resolution counts
    * as an error (the reference throw); parse errors ride in from
    * [[parse]]'s side-channel.
    *
    * Scale: every dim joins broadcast; statements/variants/therapies merge
    * through the bucketed store; no driver loops.
    */
  def load(spark: SparkSession, store: graft.core.PersistentGraphStore,
      rows: Seq[CgiRow], diseases: DataFrame, therapies: DataFrame,
      vocab: DataFrame): Map[String, Long] = {
    import spark.implicits._
    import org.apache.spark.sql.functions._

    val parsed = parse(spark, rows)
    // id set, not a count: a row can fail BOTH the parse rung and a
    // resolve rung, and the reference's per-row try/catch throws once —
    // the error total is distinct failed rows, not failed rungs
    val parseErrorIds = parsed.filter(col("kind") === "error")
      .select(col("rowId"))

    // ---- per-row scalar resolves (relevance, disease)
    val meta = rows.map(r => (r.rowId, r.disease, r.relevance))
      .toDF("rowId", "disease", "relevance")
    val relName = coalesce(
      element_at(typedLit(RelevanceMapping), lowerCase(trim(col("relevance")))),
      col("relevance"))
    // dims dedup to ONE row per lowercased key (deterministic min) —
    // a caller-supplied dim with case-duplicate names (e.g. the DAG's
    // vertices ∪ diseases union) would otherwise fan the left joins
    // out into duplicate statement rows under the same merge key
    val withRel = meta.withColumn("rel_name", relName)
      .join(broadcast(vocab.select(lowerCase(col("name")).as("rel_key"),
        col("term_id").as("rel_term"))
        .groupBy("rel_key").agg(min("rel_term").as("rel_term"))),
        lowerCase(col("rel_name")) === col("rel_key"), "left")
    val dDim = broadcast(diseases.select(lowerCase(col("name")).as("d_key"),
      col("sourceId").as("d_sid"))
      .groupBy("d_key").agg(min("d_sid").as("d_sid")))
    val mapped = withRel.withColumn("d_mapped",
      element_at(typedLit(DiseaseMapping), lowerCase(trim(col("disease")))))
    // rung 1: the mapped name, else the raw name
    val direct = mapped.join(dDim,
      coalesce(lowerCase(col("d_mapped")), lowerCase(trim(col("disease")))) === col("d_key"),
      "left").drop("d_key")
    // rung 2: unmapped misses retry as `<name> cancer`
    val retry = direct.filter(col("d_sid").isNull && col("d_mapped").isNull)
      .drop("d_sid")
      .join(dDim, concat(lowerCase(trim(col("disease"))), lit(" cancer")) === col("d_key"),
        "left").drop("d_key")
    val rowMeta = direct.filter(col("d_sid").isNotNull || col("d_mapped").isNotNull)
      .unionByName(retry)

    // ---- therapy resolve-or-create
    val tDim = broadcast(therapies.select(lowerCase(col("name")).as("t_key"),
      col("sourceId").as("t_dim_sid"))
      .groupBy("t_key").agg(min("t_dim_sid").as("t_dim_sid")))
    val comboName = when(col("value").contains(";"),
      array_join(array_sort(transform(split(col("value"), ";"),
        x => lowerCase(trim(x)))), " + "))
      .otherwise(col("value"))
    val drugs = parsed.filter(col("kind") === "therapy")
      .withColumn("t_name", lowerCase(trim(coalesce(
        element_at(typedLit(TherapyMapping), lowerCase(trim(comboName))),
        comboName))))
      .join(tDim, col("t_name") === col("t_key"), "left")
      .withColumn("t_rid",
        coalesce(col("t_dim_sid"), concat(lit("cgi:"), col("t_name"))))
      .select(col("rowId"), col("t_name"), col("t_dim_sid"), col("t_rid"))
    withCached(parsed, drugs) {
      val newTherapies = drugs.filter(col("t_dim_sid").isNull)
        .select(col("t_rid").as("sourceId"), col("t_name").as("name"),
          lit("cancer genome interpreter").as("source"))
        .distinct()

      // ---- statements: one per combo, rows passing both resolves
      val evid = parsed.filter(col("kind") === "evidence")
        .select(col("rowId"),
          when(col("value") === "", "cancer genome interpreter")
            .otherwise(col("value")).as("evidence"))
      val ok = rowMeta.filter(col("rel_term").isNotNull && col("d_sid").isNotNull)
      val combos = parsed.filter(col("kind") === "combo")
        .join(ok.select(col("rowId"), col("rel_term"), col("d_sid")), Seq("rowId"))
        .join(drugs.select(col("rowId"), col("t_rid")), Seq("rowId"))
        .join(evid, Seq("rowId"))
      withCached(combos) {
        val counts = store.writeAll(Seq(
          Merge("therapies", newTherapies,
            keyCols = Seq("sourceId"), compareCols = Seq("name", "source"),
            prefix = "therapies_"),
          Merge("variants",
            combos.select(explode(split(col("value"), " AND ")).as("vid"))
              .distinct()
              .select(col("vid"), lit("cgi").as("form"), col("vid").as("notation")),
            keyCols = Seq("vid"), compareCols = Seq("form", "notation"),
            prefix = "variants_"),
          Merge("statements",
            combos.select(
              concat(col("rowId"), lit(":"), col("comboIdx")).as("sourceId"),
              col("rel_term").as("relevance"), col("t_rid").as("subject"),
              sort_array(concat(split(col("value"), " AND "),
                array(col("d_sid"), col("t_rid")))).as("conditions"),
              col("evidence").as("description")),
            keyCols = Seq("sourceId"),
            compareCols = Seq("relevance", "subject", "description"),
            setCols = Seq("conditions"))))
        val errorRows = parseErrorIds
          .unionByName(rowMeta
            .filter(col("rel_term").isNull || col("d_sid").isNull)
            .select(col("rowId")))
          .distinct().count()
        counts + ("errors" -> errorRows)
      }
    }
  }
}
