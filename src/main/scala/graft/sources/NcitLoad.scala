package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.lowerCase

/** The composed NCIt flat-file pipeline (reference `uploadFile`
  * src/ncit/index.js:199-460): scan → parent-concept derivation → row
  * normalization (NcitClean) → deprecation skip → name-collision
  * resolution → primary + alias vertices → aliasof/SubClassOf edges →
  * store upsert, with the error side-channel.
  *
  * Collision semantics transcribed from the reference CODE, including its
  * always-truthy `allPreferredNamesDifferent` guard (ncit/index.js:293-305:
  * the function reference is never CALLED, so every duplicate group takes
  * the preferred-name reassignment branch and the humanDups>1 rejection
  * below it is dead code): species-bearing duplicates are rejected; every
  * row of a duplicate group is renamed to its first ORIGINAL-case synonym
  * (the NCIt preferred name), while keeping the displayName computed from
  * the pre-reassignment name.
  *
  * Scale: one scan; parentConcepts is a self-join on the parent id
  * (broadcastable dimension side); collision grouping is one window over
  * name; everything else is narrow.
  */
object NcitLoad {

  val Header: Seq[String] = Seq("id", "xmlTag", "parents", "synonyms",
    "definition", "name", "conceptStatus", "semanticType", "conceptInSubset")

  /** One normalized row, or its pipeline error. */
  case class Staged(
      sourceId: String, name: String, displayName: String, description: String,
      deprecated: Boolean, parents: Seq[String], synonyms: Seq[String],
      originalSynonyms: Seq[String], species: String, endpoint: String,
      url: String, error: String)

  /** Scan the tab-delimited NCIt dump (no header line in the real export —
    * the reference passes the column list, util.js:69-84).
    */
  def scan(spark: SparkSession, path: String): DataFrame =
    Scans.delim(spark, path, header = false, inferSchema = false)
      .toDF(Header: _*)

  /** Rows with `parentConcepts` = their parents' semantic types joined
    * with '|' (ncit/index.js:231-236) — the input to pickEndpoint's
    * parent fallback. Self-join on the parent id. The id→semanticType
    * side is the WHOLE concept table (row-proportional, not a fixed
    * dimension), so no broadcast hint is pinned: AQE broadcasts the real
    * NCIt export (~150k concepts) but a corpus-scale input shuffles
    * instead of OOMing every executor.
    */
  def withParentConcepts(raw: DataFrame): DataFrame = {
    val dim = raw.select(col("id").as("__pid"),
      col("semanticType").as("__ptype"))
    val exploded = raw.select(col("id"),
      posexplode_outer(split(coalesce(col("parents"), lit("")), "\\|")))
      .select(col("id"), col("pos"), trim(col("col")).as("__pid"))
    val joined = exploded.join(dim, Seq("__pid"), "left")
      .groupBy("id")
      .agg(concat_ws("|",
        transform(
          array_sort(collect_list(struct(col("pos").as("p"),
            coalesce(col("__ptype"), lit("")).as("t")))),
          x => x("t"))).as("parentConcepts"))
    raw.join(joined, Seq("id"), "left")
      .withColumn("parentConcepts", coalesce(col("parentConcepts"), lit("")))
  }

  /** Normalize every row through NcitClean.cleanRawRow, capturing the
    * pickEndpoint routing error as a side-channel column instead of
    * aborting the batch (counts.skip semantics, ncit/index.js:240-266).
    */
  def staged(spark: SparkSession, path: String): org.apache.spark.sql.Dataset[Staged] =
    stagedFrom(spark, scan(spark, path))

  /** [[staged]] over an already-scanned raw 9-column frame — the entry
    * the sf-scaled bench rows use, so the normalization + collision plan
    * is timed against inputs that grow with the corpus.
    */
  def stagedFrom(spark: SparkSession, raw: DataFrame): org.apache.spark.sql.Dataset[Staged] = {
    import spark.implicits._
    withParentConcepts(raw)
      .select(Header.map(c => coalesce(col(c), lit("")).as(c)) :+ col("parentConcepts"): _*)
      .as[(String, String, String, String, String, String, String, String, String, String)]
      .map { case (id, xmlTag, parents, synonyms, definition, name, status, semType, subset, parentConcepts) =>
        val raw = NcitClean.RawRow(id, synonyms, parents, xmlTag, name,
          definition, semType, status, parentConcepts)
        try {
          val c = NcitClean.cleanRawRow(raw)
          Staged(c.sourceId, c.name, c.displayName, c.description, c.deprecated,
            c.parents, c.synonyms, c.originalSynonyms, c.species, c.endpoint,
            c.url, null)
        } catch {
          case e: NcitClean.EndpointError =>
            Staged(id.toLowerCase.trim, null, null, null, false, Nil, Nil, Nil,
              null, null, null, e.msg)
        }
      }
  }

  /** Live rows with collision resolution applied: `rejected` flags
    * species-bearing duplicates; `name` is reassigned to the first
    * original-case synonym within duplicate groups.
    */
  def resolved(spark: SparkSession, path: String): DataFrame =
    resolvedFrom(staged(spark, path).toDF())

  /** [[resolved]] over an already-staged frame (sf-scaled bench entry). */
  def resolvedFrom(stagedRows: DataFrame): DataFrame = {
    val live = stagedRows
      .filter(col("error").isNull && !col("deprecated"))
    val w = Window.partitionBy(col("name"))
    live
      .withColumn("__dups", count(lit(1)).over(w))
      .withColumn("rejected", col("__dups") > 1 && col("species") =!= "")
      .withColumn("name",
        when(col("__dups") > 1,
          // try_: a dup row with NO synonyms keeps its name (element_at
          // would raise on the empty array under ANSI)
          coalesce(expr("try_element_at(originalSynonyms, 1)"), col("name")))
          .otherwise(col("name")))
      .drop("__dups")
  }

  /** Alias names of a concept, each once. `synonyms` is lowercased
    * already, but `NcitClean` dedupes it on the original case before
    * lowercasing, so `Foo Bar|foo bar` leaves one name twice, which would
    * offer one `(sourceId, name)` key twice to a merge.
    */
  private def aliasNames = array_distinct(col("synonyms"))

  /** Primary + alias vertices (alias displayName = `synonym [sourceId]`,
    * ncit/index.js:398-418). Synonyms equal to the (possibly reassigned)
    * name are not aliased.
    */
  def vertices(resolvedRows: DataFrame): DataFrame = {
    val live = resolvedRows.filter(!col("rejected"))
    val primary = live.select(col("sourceId"), col("name"),
      col("displayName"), col("endpoint"), lit(false).as("alias"))
    val alias = live
      .select(col("sourceId"), col("name").as("__primary"), col("endpoint"),
        explode(aliasNames).as("syn"))
      .filter(lowerCase(col("syn")) =!= lowerCase(col("__primary")))
      .select(col("sourceId"), col("syn").as("name"),
        concat(col("syn"), lit(" ["), col("sourceId"), lit("]")).as("displayName"),
        col("endpoint"), lit(true).as("alias"))
    primary.unionByName(alias)
  }

  /** aliasof (alias → primary) and SubClassOf (child → parent, only when
    * both primaries loaded, ncit/index.js:442-463). Endpoints are
    * `sourceId|name` composite ids.
    */
  def edges(resolvedRows: DataFrame): DataFrame = {
    val live = resolvedRows.filter(!col("rejected"))
    def rid(id: org.apache.spark.sql.Column, name: org.apache.spark.sql.Column) =
      concat_ws("|", id, name)
    val aliasOf = live
      .select(col("sourceId"), col("name").as("__primary"),
        explode(aliasNames).as("syn"))
      .filter(lowerCase(col("syn")) =!= lowerCase(col("__primary")))
      .select(rid(col("sourceId"), col("syn")).as("out"),
        rid(col("sourceId"), col("__primary")).as("in"),
        lit("aliasof").as("edgeClass"))
    val prim = live.select(col("sourceId"), col("name"))
    val subClass = live
      .select(col("sourceId").as("childId"), col("name").as("childName"),
        explode(col("parents")).as("parentId"))
      .join(prim.select(col("sourceId").as("parentId"), col("name").as("parentName")),
        Seq("parentId"))
      .select(rid(col("childId"), col("childName")).as("out"),
        rid(col("parentId"), col("parentName")).as("in"),
        lit("SubClassOf").as("edgeClass"))
    aliasOf.unionByName(subClass)
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      path: String): Map[String, Long] =
    loadFrom(spark, store, scan(spark, path))

  /** [[load]] over an already-scanned raw 9-column frame — the sf-scaled
    * bench entry, sharing the SAME store phase (merge keys, compare
    * columns, edge upsert) as the path form so the bench row can never
    * drift from the plan the fixture row pins.
    */
  def loadFrom(spark: SparkSession, store: PersistentGraphStore,
      raw: DataFrame): Map[String, Long] = {
    val r = resolvedFrom(stagedFrom(spark, raw).toDF())
    withCached(r) {
      store.writeAll(Seq(
        Merge("terms", vertices(r), keyCols = Seq("sourceId", "name"),
          compareCols = Seq("displayName", "endpoint", "alias")),
        Edges(edges(r))))
    }
  }
}
