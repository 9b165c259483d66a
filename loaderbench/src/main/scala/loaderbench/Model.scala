package loaderbench

import graft.sources.{CancerHotspots, NcitClean}
import graft.sources.CancerHotspots.HotspotRecord
import graft.sources.CosmicFusions.{FusionRow, RecurrenceThreshold}

/** What one loader call writes, replayed record by record in plain Scala:
  * per table, the natural key and the compared values of each row, plus
  * the edge keys and the loader's rejected-record count. The expected
  * store counters of a pass follow from applying these to the model's
  * store state with [[Model.State]].
  *
  * Row normalization and the HGVS grammar are the library's own pure row
  * functions (`NcitClean.cleanRawRow`, `CancerHotspots.forms`); the set
  * logic around them (collision resolution, dimension ladders, the
  * three-level fusion rollup, merge classification) is written out here
  * independently of the Spark plans it checks.
  */
case class Written(rows: Map[String, Map[Seq[Any], Seq[Any]]],
    cols: Map[String, Cols], edges: Set[(String, String, String)], rejected: Long,
    statementsSkipExisting: Boolean = false)

/** A table's natural key columns and the columns of the modelled values. */
case class Cols(key: Seq[String], values: Seq[String])

object Model {

  // ---- NCIt (NcitLoad.loadFrom) -------------------------------------------

  def ncit(raw: Seq[NcitRaw]): Written = {
    val semType = raw.map(r => r.id -> r.semanticType).toMap
    val staged = raw.flatMap { r =>
      val parentConcepts = r.parents.split("\\|", -1).map(p =>
        semType.getOrElse(p.trim, "")).mkString("|")
      val rr = NcitClean.RawRow(r.id, r.synonyms, r.parents, r.xmlTag, r.name,
        r.definition, r.semanticType, r.conceptStatus, parentConcepts)
      try Some(NcitClean.cleanRawRow(rr))
      catch { case _: NcitClean.EndpointError => None }
    }
    val errors = raw.size - staged.size
    val live0 = staged.filter(!_.deprecated)
    val dups = live0.groupBy(_.name).view.mapValues(_.size).toMap
    // (row, resolved name, rejected)
    val resolved = live0.map { c =>
      val d = dups(c.name)
      (c, if (d > 1) c.originalSynonyms.headOption.getOrElse(c.name) else c.name,
        d > 1 && c.species != "")
    }
    val live = resolved.filter(!_._3)
    def aliases(c: NcitClean.CleanRow, name: String) =
      c.synonyms.filter(_.toLowerCase != name.toLowerCase)
    val terms = live.flatMap { case (c, name, _) =>
      (Seq(c.sourceId, name) -> Seq(c.displayName, c.endpoint, false)) +:
        aliases(c, name).map(s =>
          Seq(c.sourceId, s) -> Seq(s"$s [${c.sourceId}]", c.endpoint, true))
    }
    val primName = live.map { case (c, name, _) => c.sourceId -> name }.toMap
    val edges = live.flatMap { case (c, name, _) =>
      aliases(c, name).map(s =>
        (s"${c.sourceId}|$s", s"${c.sourceId}|$name", "aliasof")) ++
        c.parents.flatMap(p => primName.get(p).map(pn =>
          (s"${c.sourceId}|$name", s"$p|$pn", "SubClassOf")))
    }
    Written(Map("terms" -> distinctRows("terms", terms)),
      Map("terms" -> Cols(Seq("sourceId", "name"), Seq("displayName", "endpoint", "alias"))),
      edges.toSet, rejected = errors + (live0.size - live.size) + staged.count(_.deprecated))
  }

  // ---- cancerhotspots (CancerHotspots.loadDs) -----------------------------

  def hotspots(recs: Seq[HotspotRecord], diseases: Set[String]): Written = {
    val chrom = Gen.hotspotChroms.flatMap { case (sid, name) =>
      Seq(sid -> sid, name -> sid) }.toMap
    val genes = Gen.hotspotGenes.toSet
    val tx = Gen.hotspotTranscripts.filter(_._2 == "transcript").map(_._1).toSet
    val terms = Gen.hotspotVocab.groupBy(_._1).view
      .mapValues(_.map(_._2).min).toMap
    case class R(recId: String, form: String, notation: String, term: String,
        break1: Option[String], sid: String, vid: String)
    val resolved = recs.flatMap(CancerHotspots.forms).map { f =>
      val sid = f.form match {
        case "genomic" => chrom.get(f.reference1)
        case "protein" => Some(f.reference1).filter(genes)
        case _ => Some(f.reference1).filter(tx)
      }
      val term = terms.get(f.vtype)
      val vid = for (s <- sid; t <- term) yield s"$s:${f.notation}@$t"
      R(f.recId, f.form, f.notation, term.orNull, f.break1, sid.orNull, vid.orNull)
    }
    val goodProt = resolved.filter(r => r.form == "protein" && r.sid != null)
      .map(_.recId).toSet
    val live = resolved.filter(r => goodProt(r.recId) && r.sid != null)
    val variants = live.map(r =>
      Seq(r.vid) -> Seq(r.form, r.notation, r.term, r.sid))
    def vidOf(form: String) =
      live.filter(_.form == form).map(r => r.recId -> r.vid).toMap
    val (prot, gen, cds) = (vidOf("protein"), vidOf("genomic"), vidOf("cds"))
    val edges = prot.toSeq.flatMap { case (rec, p) =>
      cds.get(rec).filter(_ != null).map(c => (c, p, "Infers")).toSeq ++
        gen.get(rec).filter(_ != null).map(g =>
          (g, cds.get(rec).orNull match { case null => p; case c => c }, "Infers"))
    }
    val statements = recs.filter(r => goodProt(r.sourceId) &&
        diseases(r.diseaseId) && prot.contains(r.sourceId))
      .map(r => Seq(r.sourceId) -> Seq("mutation hotspot", r.diseaseId,
        "not required", Seq(prot(r.sourceId), r.diseaseId).sortBy(Option(_))))
    Written(Map("variants" -> firstRows(variants),
      "statements" -> distinctRows("statements", statements)),
      Map("variants" -> Cols(Seq("vid"), Seq("form", "notation", "term", "reference1")),
        "statements" -> Cols(Seq("sourceId"),
          Seq("relevance", "subject", "reviewStatus", "conditions"))),
      edges.toSet, rejected = recs.size - goodProt.size, statementsSkipExisting = true)
  }

  // ---- COSMIC fusions (CosmicFusions.loadDf) ------------------------------

  def fusions(rows: Seq[FusionRow], diseases: Map[String, String]): Written = {
    case class P(recId: String, sample: String, g1: String, g2: String,
        exon1: String, exon2: String, disease: String, family: String,
        variant: String, nonSpec: String)
    val pre = rows.map { r =>
      val dis = if (r.disease.toUpperCase == "NS") "" else r.disease
      val fam0 = if (r.diseaseFamily.toUpperCase == "NS") "" else r.diseaseFamily
      val fam = if (dis == "" && fam0 == "") "cancer" else fam0
      val (g1, g2) = (r.gene1.split("_")(0), r.gene2.split("_")(0))
      P(r.recId, r.sampleId, g1, g2, r.exon1, r.exon2, dis, fam,
        s"($g1,$g2).fus(e.${r.exon1},e.${r.exon2})", s"($g1,$g2).fus(e.?,e.?)")
    }
    // (level, n_samples, representative, disease sid or null)
    type W = (Int, Long, P, String)
    def winners(key: P => Any, level: Int, blocked: P => Boolean): Seq[W] =
      pre.groupBy(key).values.toSeq.flatMap { g =>
        val n = g.map(_.sample).distinct.size.toLong
        val rep = g.minBy(_.recId)
        if (n < RecurrenceThreshold || blocked(rep)) None
        else {
          val name = if (level == 2) "cancer"
            else Option(rep.disease).filter(_.nonEmpty)
              .orElse(Option(rep.family).filter(_.nonEmpty)).orNull
          Some((level, n, rep, diseases.get(name).orNull))
        }
      }
    val r0 = winners(p => (p.variant, p.family, p.disease), 0, _ => false)
    val s0 = r0.filter(_._4 != null).map(_._3)
    val block1 = s0.map(p => (p.nonSpec, p.family, p.disease)).toSet
    val r1 = winners(p => (p.nonSpec, p.family, p.disease), 1,
      p => block1((p.nonSpec, p.family, p.disease)))
    val block2 = (s0 ++ r1.filter(_._4 != null).map(_._3)).map(_.nonSpec).toSet
    val r2 = winners(_.nonSpec, 2, p => block2(p.nonSpec))
    val all = r0 ++ r1 ++ r2
    val live = all.filter(_._4 != null)
    def general(p: P) = s"${p.g1}::${p.g2}:fusion"
    def specific(w: W) =
      if (w._1 == 0) Some(s"${w._3.g1}::${w._3.g2}:fus(e.${w._3.exon1},e.${w._3.exon2})")
      else None
    val variants = live.flatMap { w =>
      (Seq(general(w._3)) -> Seq("category", null, null)) +:
        specific(w).map(v => Seq(v) ->
          Seq("positional", s"e.${w._3.exon1}", s"e.${w._3.exon2}")).toSeq
    }
    val edges = live.flatMap(w => specific(w).map(v => (v, general(w._3), "Infers")))
    val statements = live.map(w => Seq(w._3.recId) -> Seq(w._1.toLong,
      "recurrent", specific(w).getOrElse(general(w._3)), w._4, w._2))
    Written(Map("variants" -> firstRows(variants),
      "statements" -> distinctRows("statements", statements)),
      Map("variants" -> Cols(Seq("vid"), Seq("form", "break1", "break2")),
        "statements" -> Cols(Seq("sourceId"),
          Seq("level", "relevance", "condition", "subject", "n_samples"))),
      edges.toSet, rejected = (all.size - live.size).toLong)
  }

  /** A table whose incoming keys are unique by construction; a repeated key
    * would make the merge's counters ambiguous, so it is a generator bug.
    */
  private def distinctRows(table: String,
      rows: Seq[(Seq[Any], Seq[Any])]): Map[Seq[Any], Seq[Any]] = {
    val m = rows.toMap
    require(m.size == rows.size, s"model: repeated $table key in one batch")
    m
  }

  /** `dropDuplicates(key)` input: every copy of a key carries equal values. */
  private def firstRows(rows: Seq[(Seq[Any], Seq[Any])]): Map[Seq[Any], Seq[Any]] =
    rows.groupBy(_._1).map { case (k, vs) =>
      require(vs.map(_._2).distinct.size == 1, s"model: conflicting rows for $k")
      k -> vs.head._2
    }

  /** The modelled store: per table, key → the writer's columns and its
    * values; plus edges.
    */
  final class State {
    val tables = scala.collection.mutable.Map.empty[String, Map[Seq[Any], (Cols, Seq[Any])]]
    var edges = Set.empty[(String, String, String)]

    /** Merge one loader call's output and return the counters the store
      * reports for it: per table `create`/`update`, and `edges_created`.
      * Rows already present with equal values are noops and are not
      * counted (the store's noop count also includes untouched rows of
      * touched buckets, which depends on the bucket hash).
      */
    def apply(w: Written): Map[String, Long] = {
      val counts = w.rows.toSeq.flatMap { case (table, in0) =>
        val cur = tables.getOrElse(table, Map.empty)
        val in = if (w.statementsSkipExisting && table == "statements")
          in0.filter { case (k, _) => !cur.contains(k) } else in0
        val create = in.count { case (k, _) => !cur.contains(k) }
        val update = in.count { case (k, v) => cur.get(k).exists(_._2 != v) }
        tables(table) = cur ++ in.map { case (k, v) => k -> ((w.cols(table), v)) }
        Seq(s"$table.create" -> create.toLong, s"$table.update" -> update.toLong)
      }
      val fresh = w.edges -- edges
      edges ++= fresh
      (counts :+ ("edges.create" -> fresh.size.toLong)).toMap
    }

    def rowCount(table: String): Long =
      if (table == "edges") edges.size.toLong
      else tables.get(table).map(_.size.toLong).getOrElse(0L)
  }
}
