package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}

/** fdaSrs loader (reference src/fdaSrs/index.js:10-110): the FDA UNII
  * records TSV → Therapy vertices keyed by UNII, plus CrossReferenceOf
  * edges into the already-loaded NCIt therapy dimension.
  *
  * Reference semantics transcribed:
  *  - header remap UNII→id, PT→name, NCIT→ncit (index.js:12-17);
  *  - rows missing id or name are skipped (index.js:52-56);
  *  - the NCIT link resolves `sourceId = ncit` against NCIt therapies and
  *    a miss only logs — the drug row is still created, the edge is not
  *    (index.js:66-81, 96-103).
  *
  * Scale: the UNII file is a plain TSV (block-splittable scan); the NCIt
  * resolution is a broadcast semi-join against the dimension (small dim,
  * no shuffle of the fact side).
  */
object FdaSrs {

  val Header: Map[String, String] = Map(
    "UNII" -> "id", "PT" -> "name", "NCIT" -> "ncit", "PUBCHEM" -> "pubchem")

  /** Parsed rows with the reference's min-fields filter applied. The
    * UNII file's header ends in a BLANK column name — patched to a real
    * name so Spark's CSV header checker doesn't log an `Expected: _c17`
    * warning on every scan (data lines never start with the literal
    * header prefix, so the patch is content-keyed and order-safe).
    */
  def rows(spark: SparkSession, path: String): DataFrame =
    Scans.delim(spark, path, headerMap = Header, inferSchema = false,
      patchLine = l => if (l.startsWith("UNII\t")) l + "TRAILING_BLANK" else l)
      .select(col("id"), col("name"), col("ncit"))
      .filter(col("id").isNotNull && col("name").isNotNull)

  /** Therapy vertices (content = {name, sourceId}, index.js:87-91). */
  def therapies(spark: SparkSession, path: String): DataFrame =
    rows(spark, path).select(col("id").as("sourceId"), col("name"))

  /** CrossReferenceOf edges: only rows whose NCIT code resolves in the
    * provided NCIt therapy dimension (sourceId column); unresolved codes
    * are dropped like the reference's logged lookup error.
    */
  def ncitXrefs(spark: SparkSession, path: String, ncitDim: DataFrame): DataFrame =
    rows(spark, path)
      .filter(col("ncit").isNotNull)
      .join(broadcast(ncitDim.select(col("sourceId").as("ncit")).distinct()),
        Seq("ncit"), "left_semi")
      .select(col("id").as("out"), col("ncit").as("in"),
        lit("CrossReferenceOf").as("edgeClass"))

  def load(spark: SparkSession, store: PersistentGraphStore,
      path: String, ncitDim: DataFrame): Map[String, Long] =
    store.writeAll(Seq(
      Merge("therapies", therapies(spark, path),
        keyCols = Seq("sourceId"), compareCols = Seq("name")),
      Edges(ncitXrefs(spark, path, ncitDim))))
}
