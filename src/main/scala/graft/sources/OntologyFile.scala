package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}

/** Generic local-ontology JSON loader (reference src/ontology/index.js:
  * 106-242 `uploadFromJSON` — the loader behind the local data JSON DAG
  * roots: vocab, signatures, chromosomes, evidenceLevels, aacr, asco):
  *  - records are keyed by their object key; `sourceId` defaults to the
  *    key, `name` defaults to the sourceId when the file sets
  *    `defaultNameToSourceId` (:133-143);
  *  - a record's `source` defaults to the file's 'default' source
  *    definition (:183-186);
  *  - links are validated first (target must be a record in the file,
  *    source must be defined — any error rejects the WHOLE file,
  *    :145-160) and become edges out=record in=target of the link's
  *    class, skipped when either endpoint record failed (:212-218).
  *
  * The file is driver-parsed (it is a small local config by nature, read
  * synchronously in the reference too); the merges and edge upserts are
  * the distributed store path.
  */
object OntologyFile {

  case class OntRecord(key: String, sourceId: String, name: String,
      description: Option[String], deprecated: Boolean,
      displayName: Option[String], source: String)

  case class OntLink(outKey: String, edgeClass: String, target: String)

  case class Parsed(recordClass: String, records: Seq[OntRecord],
      links: Seq[OntLink])

  def parse(path: String): Parsed = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)))
    val defaultName = root.path("defaultNameToSourceId").asBoolean(false)
    val sources = root.path("sources")
    val recs = Seq.newBuilder[OntRecord]
    val links = Seq.newBuilder[OntLink]
    val it = root.path("records").fields()
    while (it.hasNext) {
      val e = it.next()
      val (key, v) = (e.getKey, e.getValue)
      val sourceId =
        if (v.hasNonNull("sourceId")) v.get("sourceId").asText else key
      val name =
        if (v.hasNonNull("name")) v.get("name").asText
        else if (defaultName) sourceId else ""
      val src =
        if (v.hasNonNull("source")) v.get("source").asText else "default"
      require(sources.has(src), s"Missing source definition ($src)")
      recs += OntRecord(key, sourceId, name,
        Option(v.get("description")).filter(!_.isNull).map(_.asText),
        v.path("deprecated").asBoolean(false),
        Option(v.get("displayName")).filter(!_.isNull).map(_.asText), src)
      val ls = v.path("links")
      if (ls.isArray) {
        ls.forEach { l =>
          val target = l.path("target").asText
          require(root.path("records").has(target),
            s"Invalid link (${l.path("class").asText}) from $key to undefined record $target")
          links += OntLink(key, l.path("class").asText, target)
        }
      }
    }
    Parsed(root.path("class").asText, recs.result(), links.result())
  }

  def load(spark: SparkSession, store: PersistentGraphStore, path: String,
      table: String): Map[String, Long] = {
    import spark.implicits._
    val parsed = parse(path)
    val recs = spark.createDataset(parsed.records).toDF()
    val byKey = recs.select(col("key"), col("sourceId"))
    val edges = spark.createDataset(parsed.links).toDF()
      .join(byKey.withColumnRenamed("key", "outKey")
        .withColumnRenamed("sourceId", "out"), Seq("outKey"))
      .join(byKey.withColumnRenamed("key", "target")
        .withColumnRenamed("sourceId", "in"), Seq("target"))
      .select(col("out"), col("in"), col("edgeClass"))
    store.writeAll(Seq(
      Merge(table, recs, keyCols = Seq("sourceId", "name", "source"),
        compareCols = Seq("description", "deprecated", "displayName")),
      Edges(edges)))
  }
}
