package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import CaseFold.{lowerCase, upperCase}

/** Scalar normalization layer (SURVEY §2.8) — every function is a pure
  * Column expression (codegen'd, no UDFs).
  */
object Scalars {

  /** F5 — genomic HGVS composer (reference `composeGenomicHgvs`
    * moa/index.js:19-45; same shapes in docm/index.js:72-90,
    * cancerhotspots/index.js:87-103): (ref, alt, start, end) → `g.`
    * notation for ins / del / delins / substitution.
    */
  def composeGenomicHgvs(ref: Column, alt: Column, start: Column, end: Column): Column = {
    val ins = concat(lit("g."), start, lit("_"), end, lit("ins"), alt)
    val delOne = concat(lit("g."), start, lit("del"), ref)
    val delRange = concat(lit("g."), start, lit("_"), end, lit("del"), ref)
    val delinsSameLen = concat(lit("g."), start, lit("_"),
      (end + length(alt) - 1).cast("long"), lit("del"), ref, lit("ins"), alt)
    val delins = concat(lit("g."), start, lit("_"), end, lit("del"), ref, lit("ins"), alt)
    val sub = concat(lit("g."), start, ref, lit(">"), alt)
    when(ref === "-", ins)
      .when(alt === "-", when(start === end, delOne).otherwise(delRange))
      .when(length(ref) > 1 || length(alt) > 1,
        when(start === end && length(alt) === length(ref), delinsSameLen)
          .otherwise(delins))
      .otherwise(sub)
  }

  /** F7 — OncoKB evidence level → relevance (oncokb/index.js:555-562):
    * `r\d+` → resistance, `\d+[a-z]?` → sensitivity.
    */
  def levelToRelevance(level: Column): Column =
    when(lowerCase(level).rlike("^r\\d+$"), lit("resistance"))
      .when(lowerCase(level).rlike("^\\d+[a-z]?$"), lit("sensitivity"))
      .otherwise(lit(null).cast("string"))

  /** F8 — name cleaning: lower/trim, whitespace squash, plural inhibitors
    * fold (gscTherapeuticOntology.js:157-160), leukaemia→leukemia
    * (cosmic/resistance.js:232-237).
    */
  def cleanName(c: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(lowerCase(trim(c)), "\\s+", " "),
        "\\binhibitors\\b", "inhibitor"),
      "leukaemia", "leukemia")

  /** F9 — title match normalization (civic/publication.js:17-21): case,
    * trailing periods and markup insensitive.
    */
  def titleNorm(c: Column): Column =
    regexp_replace(regexp_replace(lowerCase(trim(c)), "<[^>]+>", ""), "\\.$", "")

  /** F10 — abstract citation parse (oncokb/index.js:389-397):
    * `Abstract# 8001, ASCO 2014` → (number, meeting, year).
    */
  def citationFields(c: Column): Seq[Column] = Seq(
    regexp_extract(c, "(?i)abstract#?\\s*(\\S+),", 1).as("abstract_number"),
    regexp_extract(c, "(?i)abstract#?\\s*\\S+,\\s*([A-Za-z]+)\\s+\\d{4}", 1).as("meeting"),
    regexp_extract(c, "(\\d{4})\\s*$", 1).as("cit_year"))

  /** F11 — id parsing: DOID url → `doid:N` (diseaseOntology/index.js:22-29),
    * versioned ids `ENSG.12` / `NM_x.y` split (ensembl/index.js:106-109,
    * refseq/index.js:55).
    */
  def doidFromUrl(c: Column): Column =
    lowerCase(regexp_replace(regexp_extract(c, "(?i).*(DOID_\\d+)$", 1), "_", ":"))

  def versionedIdBase(c: Column): Column =
    regexp_extract(c, "^([^.]+)(\\.\\d+)?$", 1)

  def versionedIdVersion(c: Column): Column =
    nullif(regexp_extract(c, "\\.(\\d+)$", 1), lit(""))

  /** F12 — phase normalization (clinicaltrialsgov/index.js:92-110):
    * `PHASE1/EARLY_PHASE1,NA` lists → sorted joined digits (`1/2`).
    */
  def normalizePhases(c: Column): Column =
    array_join(
      array_sort(array_distinct(
        filter(
          transform(split(c, "[/,]"),
            p => regexp_extract(trim(p), "(?i)PHASE[_ ]?(\\d+)", 1)),
          p => p =!= ""))),
      "/")

  /** F14 — species detection (ncit/index.js:141-166). */
  def nonHumanSpecies(c: Column): Column =
    lowerCase(c).rlike("\\b(murine|mouse|rat|bovine|canine)\\b")

  /** F17 — display-name builders: `pmid:N` (entrez/pubmed.js:62),
    * `name [SOURCEID]` (ncit/index.js:178-180).
    */
  def pmidDisplay(id: Column): Column = concat(lit("pmid:"), id)

  def nameWithSourceId(name: Column, sourceId: Column): Column =
    concat(lowerCase(trim(name)), lit(" ["), upperCase(sourceId), lit("]"))

  /** T3 — version-string sort key (`NM_005228.5`, `2021-03-02`,
    * `v1.2.10`): extract numeric runs, pad each to fixed width so
    * lexicographic order == numeric order component-wise.
    */
  def versionSortKey(c: Column): Column =
    array_join(
      transform(
        filter(split(c, "[^0-9]+"), p => p =!= ""),
        p => lpad(p, 10, "0")),
      ".")
}
