package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.PersistentGraphStore
import graft.core.PersistentGraphStore.Merge
import graft.remote.Scrape

/** FDA oncology approval announcements loader (reference
  * src/fdaApprovals/index.js:40-137): harvest `/drugs` links off the
  * index page minus the navigation blacklist (:49-66), extract each
  * announcement's title (`h1.content-title`) and article text, and pin
  * the announcement year only when every dated line agrees — the
  * reference collects the first `Month D, 20YY` match per line and sets
  * `year` iff exactly ONE distinct year was seen (:90-105). Records
  * upsert as CuratedContent keyed by the link (:117-126).
  *
  * The scrape itself is the S17 regex tier; block-level tags are folded
  * to newlines first so the per-LINE date rule sees the same lines
  * html-to-text produces.
  */
object FdaApprovals {

  val Blacklist: Set[String] = Set(
    "/drugs",
    "/drugs/development-approval-process-drugs",
    "/drugs/development-approval-process-drugs/drug-approvals-and-databases",
    "/drugs/drug-approvals-and-databases/resources-information-approved-drugs")

  def announcementLinks(html: String): Seq[String] =
    Scrape.links(html)
      .filter(h => h.startsWith("/drugs") && !Blacklist.contains(h))
      .distinct

  /** Block-level tags → newlines, then tag-strip per line. */
  def blockText(html: String): String =
    html.replaceAll("(?i)</(p|div|h1|h2|h3|li|tr)>|<br\\s*/?>", "\n")
      .split("\n").map(Scrape.text).mkString("\n").trim

  private val DateLine =
    "(?i)((jan|feb|mar|apr|may|jun|jul|aug|sep|oct|nov|dec)[a-z]*\\.?) \\d+, (20\\d\\d)".r

  /** index.js:90-105 — the year iff every dated line names the same one. */
  def announcementYear(content: String): Option[String] = {
    val years = content.split("\n").toSeq
      .flatMap(l => DateLine.findFirstMatchIn(l).map(_.group(3)))
    if (years.distinct.length == 1) Some(years.head) else None
  }

  private val TitleRe =
    "(?is)<h1[^>]*class=\"[^\"]*content-title[^\"]*\"[^>]*>(.*?)</h1>".r
  private val ArticleRe = "(?is)<article[^>]*>(.*?)</article>".r

  case class Announcement(sourceId: String, name: String, content: String,
      year: Option[String], url: String)

  def parseAnnouncement(link: String, html: String,
      baseUrl: String): Announcement = {
    val title = TitleRe.findFirstMatchIn(html)
      .map(m => Scrape.text(m.group(1))).getOrElse("")
    val content = ArticleRe.findFirstMatchIn(html)
      .map(m => blockText(m.group(1))).getOrElse("")
    Announcement(link, title, content, announcementYear(content),
      baseUrl + link)
  }

  def load(spark: SparkSession, store: PersistentGraphStore,
      indexHtml: String, pages: Map[String, String],
      baseUrl: String = "https://www.fda.gov"): Map[String, Long] = {
    import spark.implicits._
    val links = announcementLinks(indexHtml)
    val (found, missing) = links.partition(pages.contains)
    val records = found.map(l => parseAnnouncement(l, pages(l), baseUrl))
    store.writeAll(Seq(Merge("curated", spark.createDataset(records).toDF(),
      keyCols = Seq("sourceId"),
      compareCols = Seq("name", "content", "year", "url")))) +
      ("error" -> missing.size.toLong)
  }
}
