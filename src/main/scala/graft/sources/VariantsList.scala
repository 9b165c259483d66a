package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge
import graft.remote.EntrezBatch
import graft.variant.HgvsParser

/** Plain-text HGVS variant-list upload (reference src/variants/index.js:
  * 9-81): one notation per line → parse → vocabulary-type resolve →
  * entrez gene resolve with a fetch fallback → PositionalVariant upsert.
  *
  * Reference semantics transcribed, including the per-record failure
  * ladder — a record stops at its FIRST failing step and counts one error
  * (uploadFile:46-77 try/catch):
  *  1. lines trimmed, empties dropped (:39-41);
  *  2. parseVariant(variant, true) — feature prefix REQUIRED (:50);
  *  3. the parsed type must resolve in the vocabulary (:51,
  *     getVocabularyTerm throws on miss);
  *  4. reference1 (and reference2 when present, :55-58) resolve against
  *     the entrez gene dimension by (source='entrez gene',
  *     biotype='gene', name) FIRST, falling back to a by-symbol fetch
  *     that also upserts the fetched gene (getEntrezGene:9-28 +
  *     fetchAndLoadBySymbol) — J9's anti-join-then-fetch, keyed by symbol;
  *  5. addVariant with rid references (:60-70), existsOk.
  *
  * Scale: the gene fetch runs once for the DISTINCT missing symbol set
  * (not per line); vocab and gene dims broadcast; parsing is a narrow
  * map over the line dataset.
  */
object VariantsList {

  /** One line's parse outcome (nulls when the parse threw). */
  case class ParsedLine(notation: String, parseError: String,
      ref1: String, ref2: String, vtype: String, break1Repr: String,
      break2Repr: String)

  /** Parse every non-empty line with the feature-required grammar. */
  def parseLines(spark: SparkSession, lines: DataFrame): DataFrame = {
    import spark.implicits._
    lines.select(trim(col("line")).as("line"))
      .filter(col("line") =!= "")
      .as[String]
      .map { n =>
        try {
          val v = HgvsParser.parse(n, requireFeatures = true)
          ParsedLine(n, null, v.reference1.orNull, v.reference2.orNull,
            v.vtype, v.break1Repr.orNull, v.break2Repr.orNull)
        } catch {
          case e: Exception => ParsedLine(n, e.getMessage, null, null, null,
            null, null)
        }
      }
      .toDF()
  }

  /** Load a notation list into `store`; `vocab` is (name, term_id) and
    * `geneFetcher` is the by-symbol esummary proxy. Returns variant merge
    * counts plus the error ladder (`parse_errors`, `vocab_errors`,
    * `gene_errors`).
    */
  def load(spark: SparkSession, store: PersistentGraphStore, path: String,
      vocab: DataFrame,
      geneFetcher: Seq[String] => Seq[(String, String)]): Map[String, Long] = {
    import spark.implicits._

    val parsed = parseLines(spark, Scans.textLines(spark, path))
    val wellFormed = parsed.filter(col("parseError").isNull)
    val typed = wellFormed
      .join(broadcast(vocab.select(col("name").as("vtype"),
        col("term_id").as("term"))), Seq("vtype"), "left")
    withCached(parsed, typed) {
      val withTerm = typed.filter(col("term").isNotNull)

      // J9 by-symbol hydration: fetch only symbols absent from the
      // gene-biotype slice of the dimension, upsert the fetched genes
      val geneCols = Seq("biotype", "name", "displayName", "longName",
        "description", "url")
      // readLatest, not read: the second geneDim() call below must see
      // the genes THIS loader just merged (read-your-own-writes), even
      // under the orchestrator's level pin
      def geneDim(): DataFrame = store.readLatest("genes")
        .map(_.filter(col("biotype") === "gene").select(col("name"), col("sourceId")))
        .getOrElse(Seq.empty[(String, String)].toDF("name", "sourceId"))
      val symbols = withTerm.select(col("ref1").as("name"))
        .unionByName(withTerm.filter(col("ref2").isNotNull)
          .select(col("ref2").as("name")))
        .distinct()
      val missing = symbols.join(geneDim(), Seq("name"), "left_anti").as[String]
      val fetched = EntrezBatch.fetchByIds(missing, geneFetcher)
      store.writeAll(Seq(Merge("genes", Entrez.parseGene(fetched),
        keyCols = Seq("sourceId"), compareCols = geneCols)))

      val dim = broadcast(geneDim())
      val resolved = withTerm
        .join(dim.select(col("name").as("ref1"), col("sourceId").as("ref1_sid")),
          Seq("ref1"), "left")
        .join(dim.select(col("name").as("ref2"), col("sourceId").as("ref2_sid")),
          Seq("ref2"), "left")
      withCached(resolved) {
        val good = resolved.filter(col("ref1_sid").isNotNull &&
          (col("ref2").isNull || col("ref2_sid").isNotNull))
        // vid keys on the gene-resolved rid + the featureless HGVS tail
        // (the feature prefix is already the rid), matching the other
        // composed variant loaders' key convention
        val variants = good.select(
          concat(col("ref1_sid"),
            when(col("ref2_sid").isNotNull, concat(lit("::"), col("ref2_sid")))
              .otherwise(lit("")),
            lit(":"), regexp_replace(col("notation"), "^[^:]*:", ""),
            lit("@"), col("term")).as("vid"),
          col("notation"), col("vtype"), col("term"),
          col("ref1_sid").as("reference1"), col("ref2_sid").as("reference2"),
          col("break1Repr").as("break1"), col("break2Repr").as("break2"))
          .dropDuplicates("vid")
        val counts = store.writeAll(Seq(Merge("variants", variants,
          keyCols = Seq("vid"),
          compareCols = Seq("notation", "vtype", "term", "reference1",
            "reference2", "break1", "break2"))))
        val parseErrors = parsed.filter(col("parseError").isNotNull).count()
        val vocabErrors = typed.filter(col("term").isNull).count()
        val geneErrors = resolved.count() - good.count()
        counts + ("parse_errors" -> parseErrors) +
          ("vocab_errors" -> vocabErrors) + ("gene_errors" -> geneErrors)
      }
    }
  }
}
