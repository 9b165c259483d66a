package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached
import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.{Edges, Merge}
import graft.functions.CaseFold.lowerCase
import graft.functions.Scalars

/** clinicaltrials.gov loader (reference src/clinicaltrialsgov/index.js):
  * API study documents → ClinicalTrial vertices + ElementOf links to the
  * resolved therapy/disease dimensions.
  *
  * `convert` is `convertAPIRecord` (index.js:29-92): title fallback,
  * optional start/completion dates, drug/biological interventions only,
  * lowercased city/country pairs. `process` is `processRecord`
  * (index.js:118-244): status underscore-strip + the two legacy mappings,
  * F12 phase normalization, the order-dependent single-country/city
  * consensus fold (A7 variant), name-resolution of drugs/diseases with a
  * `Missing: ...` comment for the misses.
  *
  * Scale: conversion is a pure projection; link resolution explodes the
  * (short) per-trial drug/disease lists and broadcast-joins the dims; the
  * consensus fold is a per-row `aggregate` over the locations array — no
  * shuffle beyond the link regroup on sourceId.
  */
object ClinicalTrials {

  /** convertAPIRecord: one row per raw study document. */
  def convert(studies: DataFrame): DataFrame = {
    val p = "protocolSection"
    val ident = col(s"$p.identificationModule")
    val status = col(s"$p.statusModule")
    val title = coalesce(ident("officialTitle"), ident("briefTitle"))
    // the raw arrays carry whatever extra fields the document has — filter/
    // transform them first, then null-coalesce at the uniform result type
    val drugs = coalesce(
      filter(col(s"$p.armsInterventionsModule.interventions"),
        i => lowerCase(i("type")).isin("drug", "biological")).getField("name"),
      array().cast("array<string>"))
    val locations = coalesce(
      filter(
        transform(col(s"$p.contactsLocationsModule.locations"), l =>
          struct(lowerCase(l("city")).as("city"), lowerCase(l("country")).as("country"))),
        l => l("city").isNotNull || l("country").isNotNull),
      array().cast("array<struct<city:string,country:string>>"))
    studies.select(
      ident("nctId").as("sourceId"),
      status("lastUpdatePostDateStruct")("date").as("sourceIdVersion"),
      title.as("name"),
      title.as("displayName"),
      status("overallStatus").as("recruitmentStatus"),
      status("startDateStruct")("date").as("startDate"),
      status("completionDateStruct")("date").as("completionDate"),
      col(s"$p.conditionsModule.conditions").as("diseases"),
      col(s"$p.designModule.phases").as("phases"),
      drugs.as("drugs"),
      locations.as("locations"))
  }

  /** The reference's order-dependent location consensus (index.js:156-192):
    * a country mismatch nulls both and stops scanning; a city mismatch
    * nulls the city but scanning continues (so a later city re-seeds it).
    * City only surfaces when a consensus country exists.
    */
  def locationConsensus(locations: Column): Column = {
    val folded = aggregate(
      locations,
      struct(lit(null).cast("string").as("country"),
        lit(null).cast("string").as("city"), lit(false).as("done")),
      (acc, loc) => {
        val countryMismatch = loc("country").isNotNull && acc("country").isNotNull &&
          acc("country") =!= loc("country")
        val nextCountry = when(loc("country").isNotNull && acc("country").isNull,
          loc("country")).otherwise(acc("country"))
        val nextCity = when(loc("city").isNotNull && acc("city").isNotNull,
            when(acc("city") =!= loc("city"), lit(null).cast("string"))
              .otherwise(acc("city")))
          .when(loc("city").isNotNull, loc("city"))
          .otherwise(acc("city"))
        when(acc("done"), acc)
          .when(countryMismatch,
            struct(lit(null).cast("string").as("country"),
              lit(null).cast("string").as("city"), lit(true).as("done")))
          .otherwise(struct(nextCountry.as("country"), nextCity.as("city"),
            lit(false).as("done")))
      })
    struct(folded("country").as("country"),
      when(folded("country").isNotNull, folded("city")).as("city"))
  }

  /** processRecord content columns (no link resolution). */
  def process(converted: DataFrame): DataFrame = {
    val spaced = regexp_replace(col("recruitmentStatus"), "_", " ")
    val status = when(lowerCase(spaced) === "active not recruiting",
        lit("active, not recruiting"))
      .when(lowerCase(spaced) === "unknown status", lit("unknown"))
      .otherwise(spaced)
    val consensus = locationConsensus(col("locations"))
    converted
      .withColumn("recruitmentStatus", status)
      .withColumn("phase",
        nullif(Scalars.normalizePhases(concat_ws(",", col("phases"))), lit("")))
      .withColumn("country", consensus("country"))
      .withColumn("city", consensus("city"))
  }

  /** Resolve one name list against a dimension: per trial, the hit count,
    * the resolved names (for edges) and the misses wrapped as
    * `Kind(name)` in list order (index.js:194-223).
    */
  private def resolve(trials: DataFrame, listCol: String, dim: DataFrame,
      kind: String): DataFrame = {
    val exploded = trials
      .select(col("sourceId"), posexplode_outer(col(listCol)).as(Seq("pos", "nm")))
    exploded
      .join(broadcast(dim.select(col("name").as("nm")).distinct()
        .withColumn("hit", lit(true))), Seq("nm"), "left")
      .groupBy(col("sourceId"))
      .agg(
        collect_list(when(col("hit"), col("nm"))).as(s"${kind}_links"),
        transform(
          array_sort(collect_list(when(col("hit").isNull && col("nm").isNotNull,
            struct(col("pos"), col("nm"))))),
          m => concat(lit(s"$kind("), m("nm"), lit(")"))).as(s"${kind}_missing"))
  }

  /** Full processRecord: content + links + the Missing comment. */
  def processWithLinks(converted: DataFrame, therapyDim: DataFrame,
      diseaseDim: DataFrame): DataFrame = {
    val content = process(converted)
    val missing = concat(col("Therapy_missing"), col("Disease_missing"))
    content
      .join(resolve(content, "drugs", therapyDim, "Therapy"), Seq("sourceId"), "left")
      .join(resolve(content, "diseases", diseaseDim, "Disease"), Seq("sourceId"), "left")
      .withColumn("comment",
        when(size(missing) > 0,
          concat(lit("Missing: "), array_join(missing, "; "))))
      .withColumn("links", concat(col("Therapy_links"), col("Disease_links")))
      .drop("Therapy_links", "Disease_links", "Therapy_missing", "Disease_missing")
  }

  def load(spark: SparkSession, store: PersistentGraphStore, path: String,
      therapyDim: DataFrame, diseaseDim: DataFrame): Map[String, Long] = {
    val processed = processWithLinks(convert(Scans.json(spark, path)),
      therapyDim, diseaseDim)
    withCached(processed) {
      store.writeAll(Seq(
        Merge("trials",
          processed.select(col("sourceId"), col("sourceIdVersion"), col("name"),
            col("displayName"), col("recruitmentStatus"), col("phase"),
            col("startDate"), col("completionDate"), col("country"), col("city"),
            col("comment")),
          keyCols = Seq("sourceId"),
          compareCols = Seq("sourceIdVersion", "name", "displayName",
            "recruitmentStatus", "phase", "startDate", "completionDate",
            "country", "city", "comment")),
        Edges(processed.select(col("sourceId").as("in"), explode(col("links")).as("out"))
          .select(col("out"), col("in"), lit("ElementOf").as("edgeClass")))))
    }
  }
}
