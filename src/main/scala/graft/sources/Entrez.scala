package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge
import graft.functions.CaseFold.upperCase
import graft.remote.EntrezBatch

/** Entrez dimension hydration (reference src/entrez/{gene,pubmed,refseq}.js
  * + src/entrez/util.js:269-303): the composed J9 + S15 pattern — resolve
  * requested ids against the store dimension, batch-fetch only the misses
  * through the esummary API shape, parse, and union into the dimension.
  *
  * The esummary payload envelope is `{result: {uids: [...], <uid>: {...}}}`;
  * `esummaryDocs` splits one response into per-uid document strings (the
  * per-record loop in entrez/util.js:217-231), and each parser below is a
  * column-expression transcription of the corresponding `parseRecord`.
  *
  * Scale: fetch parallelism is bounded by EntrezBatch's repartition; the
  * parsers are pure `get_json_object` projections (codegen'd, no UDFs).
  */
object Entrez {

  /** Split an esummary response body into (uid, documentJson) rows
    * (entrez/util.js:217-231 iterates result.uids).
    */
  def esummaryDocs(json: String): Seq[(String, String)] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(json)
    val result = root.path("result")
    val uids = result.path("uids")
    (0 until uids.size).map { i =>
      val uid = uids.get(i).asText
      uid -> mapper.writeValueAsString(result.path(uid))
    }
  }

  /** Disk-proxy fetcher (S16): id → recorded esummary response file. Ids
    * without a recorded response yield nothing (the API's missing-uid
    * behavior). When the request id is a uid, only that uid's document is
    * kept; refseq requests use ACCESSION ids while the response is keyed
    * by numeric uid (entrez/util.js:217-231) — then the whole recorded
    * response for that id is the answer.
    */
  def fileFetcher(files: Map[String, String]): Seq[String] => Seq[(String, String)] =
    ids => ids.flatMap { id =>
      files.get(id).toSeq.flatMap { path =>
        val body = new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
        val docs = esummaryDocs(body)
        val byUid = docs.filter(_._1 == id)
        if (byUid.nonEmpty) byUid else docs
      }
    }

  private def g(payload: Column, field: String) =
    get_json_object(payload, "$." + field)

  /** entrez/gene.js:34-45 parseRecord. */
  def parseGene(fetched: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val p = col(payloadCol)
    fetched.select(
      g(p, "uid").as("sourceId"),
      lit("gene").as("biotype"),
      g(p, "name").as("name"),
      g(p, "name").as("displayName"),
      g(p, "description").as("longName"),
      g(p, "summary").as("description"),
      concat(lit("https://www.ncbi.nlm.nih.gov/gene/"), g(p, "uid")).as("url"))
  }

  /** entrez/pubmed.js:32-59 parseRecord + createDisplayName. */
  def parsePubmed(fetched: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val p = col(payloadCol)
    val year = regexp_extract(
      coalesce(g(p, "sortpubdate"), g(p, "sortdate"), lit("")), "^(\\d{4})/", 1)
    fetched.select(
      g(p, "uid").as("sourceId"),
      g(p, "title").as("name"),
      g(p, "fulljournalname").as("journalName"),
      nullif(year, lit("")).cast("long").as("year"),
      concat(lit("pmid:"), g(p, "uid")).as("displayName"))
  }

  /** entrez/refseq.js:41-67 parseRecord: accessionversion split, biomol →
    * biotype routing, chromosome name from subname.
    */
  def parseRefseq(fetched: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val p = col(payloadCol)
    val acc = g(p, "accessionversion")
    val biotype = when(g(p, "biomol") === "genomic", "chromosome")
      .when(g(p, "biomol") === "peptide", "protein")
      .otherwise("transcript")
    fetched.select(
      split_part(acc, lit("."), lit(1)).as("sourceId"),
      nullif(split_part(acc, lit("."), lit(2)), lit("")).as("sourceIdVersion"),
      biotype.as("biotype"),
      when(biotype === "chromosome", g(p, "subname")).as("name"),
      upperCase(acc).as("displayName"),
      g(p, "title").as("longName"))
  }

  /** J9 + S15: fetch only the ids absent from the store dimension, parse
    * with `parser`, merge into `table`.
    */
  def hydrate(
      spark: SparkSession,
      store: PersistentGraphStore,
      table: String,
      ids: Seq[String],
      fetcher: Seq[String] => Seq[(String, String)],
      parser: DataFrame => DataFrame,
      keyCols: Seq[String],
      compareCols: Seq[String],
      matchCol: String = "sourceId"): Map[String, Long] = {
    import spark.implicits._
    val requested = ids.toDS().toDF(matchCol)
    val missing = store.read(table) match {
      case Some(dim) => requested.join(dim.select(matchCol), Seq(matchCol), "left_anti")
      case None => requested
    }
    val fetched = EntrezBatch.fetchByIds(missing.as[String], fetcher)
    store.writeAll(Seq(Merge(table, parser(fetched), keyCols, compareCols)))
  }
}
