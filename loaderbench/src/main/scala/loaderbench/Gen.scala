package loaderbench

import graft.sources.CancerHotspots.HotspotRecord
import graft.sources.CosmicFusions.FusionRow

/** One raw NCIt flat-file row, in `NcitLoad.Header` column order. */
case class NcitRaw(id: String, xmlTag: String, parents: String,
    synonyms: String, definition: String, name: String,
    conceptStatus: String, semanticType: String, conceptInSubset: String)

/** One loader call's input: the records of its kind (the others empty). */
case class Inputs(ncit: Seq[NcitRaw], hotspots: Seq[HotspotRecord],
    fusions: Seq[FusionRow]) {
  def size: Int = ncit.size + hotspots.size + fusions.size
}

/** Event-derived loader inputs — the derivations of the `ldr_ncit_scale`,
  * `ldr_hotspot_scale` and `ldr_fusion_scale` bench rows, written as plain
  * Scala so the model can replay them record by record.
  *
  * An event is an (id, user) pair. Ids are dense from 0; the seed draws
  * the users, which ids a refresh changes, which ids it adds, and (for the
  * DAG) how the ids are sliced across loaders.
  */
object Gen {

  case class Event(id: Long, user: Long)

  def events(n: Int, rng: scala.util.Random, from: Long = 0L): Seq[Event] =
    (0 until n).map(i => Event(from + i, rng.nextInt(2000).toLong))

  /** The `kind` records of `ev`; ids in `changed` are the ones a refresh
    * changes. `fusionKeys` is fixed by the base corpus, so refresh events
    * land in existing fusion keys and shift their sample counts.
    */
  def inputs(kind: String, ev: Seq[Event], fusionKeys: Long, changed: Set[Long]): Inputs =
    kind match {
      case "ncit" => Inputs(ev.map(e => ncit(e.id, changed(e.id))), Nil, Nil)
      case "hotspots" => Inputs(Nil, ev.map(e => hotspot(e.id)), Nil)
      case _ => Inputs(Nil, Nil, ev.map(e => fusion(e, fusionKeys)))
    }

  /** A refresh that flips a concept to a therapeutic semantic type moves
    * it from the Disease to the Therapy endpoint, a compared column.
    */
  def ncit(id: Long, therapy: Boolean): NcitRaw = NcitRaw(
    id = s"C$id",
    xmlTag = s"<http://n/C$id>",
    parents = if (id > 0) s"C${id / 2}" else "",
    synonyms = if (id % 5 == 0) s"Syn $id|Alt $id" else "",
    definition = "a concept",
    name = s"Name ${id / 3}",
    conceptStatus = if (id % 23 == 0) "Obsolete_Concept" else "",
    semanticType = if (therapy) "Pharmacologic Substance" else "Neoplastic Process",
    conceptInSubset = "")

  def hotspot(id: Long): HotspotRecord = {
    val m = id % 4
    val start = id + 100L
    HotspotRecord(
      sourceId = s"h$id",
      chromosome = if (id % 2 == 0) s"chr${id % 22 + 1}" else s"nm${id % 22 + 1}",
      start = start,
      stop = start + (if (m == 0) 0L else 1L),
      refSeq = Seq("A", "-", "TG", "AA")(m.toInt),
      untemplatedSeq = Seq("T", "AG", "-", "CGG")(m.toInt),
      geneId = s"G${id % 300}",
      protein = m match {
        case 0 => s"p.G${id % 50 + 13}D"
        case 1 => s"p.P${id % 50 + 2}fs*?"
        case 2 => "p.E3_A4delEA"
        case _ => "p.K5delKinsRG"
      },
      transcriptId = s"T${id % 100}",
      cds = m match {
        case 0 => s"c.${id % 500 + 1}G>A"
        case 1 => "c.4_5insAG"
        case 2 => "c.7_12delGAAGCA"
        case _ => "c.13_15delAAGinsCG"
      },
      // names an NCIt concept, the disease dimension the DAG reads back
      diseaseId = s"c${id % 10}")
  }

  def fusion(e: Event, keys: Long): FusionRow = {
    val k = e.id % keys
    val exon = (if (k % 7 == 1) e.id * 37 % 101 + 1 else e.id % 3 + 1).toString
    FusionRow(
      recId = s"r${e.id}",
      fusionId = s"f$k",
      sampleId = s"s${e.user % (if (k % 11 == 0) 2L else 40L)}",
      gene1 = s"G$k" + (if (k % 6 == 0) "_v1" else ""),
      gene2 = s"H$k",
      exon1 = exon,
      exon2 = exon,
      disease = if (k % 4 == 0) "NS" else s"D${k % 4}",
      diseaseFamily = if (k % 5 == 0) "NS" else s"F${k % 5}",
      pubmed = "")
  }

  // ---- dimensions (the ldr_* rows' fixed dimension frames) ----------------

  val hotspotGenes: Seq[String] = (0 until 250).map(i => s"G$i")
  val hotspotChroms: Seq[(String, String)] = (1 to 22).map(i => (s"chr$i", s"nm$i"))
  val hotspotTranscripts: Seq[(String, String)] =
    (0 until 100).map(i => (s"T$i", if (i < 80) "transcript" else "gene"))
  val hotspotVocab: Seq[(String, String)] = Seq(("substitution", "t:sub"),
    ("deletion", "t:del"), ("insertion", "t:ins"), ("indel", "t:indel"),
    ("frameshift", "t:fs"))
  val fusionDiseases: Seq[(String, String)] = Seq(("D1", "d:1"), ("D2", "d:2"),
    ("cancer", "d:c"), ("F1", "d:f1"), ("F2", "d:f2"))
}
