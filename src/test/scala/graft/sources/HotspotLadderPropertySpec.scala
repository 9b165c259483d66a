package graft.sources

import graft.{Inputs, TestSpark}
import graft.core.PersistentGraphStore
import graft.variant.HgvsParser
import org.scalatest.funsuite.AnyFunSuite

/** Seeded-random equivalence of the CancerHotspots three-form ladder
  * against a straight-line simulation. The simulation reuses
  * HgvsParser.parse (pinned separately by its own jest-corpus specs) but
  * re-derives everything else independently — per-form failure
  * semantics (bad genomic/cds lose the form, bad protein kills the
  * record), dim resolution incl. the chromosome name-or-id fold, variant
  * dedup, the cds→protein / genomic→(cds|protein) edge topology, and
  * the disease-gated statement build.
  */
class HotspotLadderPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import CancerHotspots.HotspotRecord

  private def simulate(recs: Seq[HotspotRecord], chromIds: Set[String],
      chromNames: Map[String, String], genes: Set[String], txs: Set[String],
      diseases: Set[String], terms: Map[String, String]) = {
    case class F(form: String, notation: String, term: String,
        break1: Option[String], sid: Option[String])
    def parse(form: String, notation: String, ref1: String,
        resolve: String => Option[String]): Option[F] =
      scala.util.Try(HgvsParser.parse(notation)).toOption.map { p =>
        F(form, notation, terms(p.vtype), p.break1Repr, resolve(ref1))
      }
    val perRec = recs.map { r =>
      val genomic = parse("genomic", CancerHotspots.genomicNotation(r),
        r.chromosome, c => if (chromIds(c)) Some(c) else chromNames.get(c))
      val protein = parse("protein", r.protein.replaceAll("fs\\*\\?$", "fs"),
        r.geneId, g => Some(g).filter(genes))
      val cds = parse("cds", r.cds, r.transcriptId, t => Some(t).filter(txs))
      (r, genomic, protein, cds)
    }
    val bad = perRec.collect {
      case (r, _, p, _) if p.isEmpty || p.get.sid.isEmpty => r.sourceId
    }.toSet
    val live = perRec.filterNot { case (r, _, _, _) => bad(r.sourceId) }
    def vid(f: F) = f.sid.map(s => s"$s:${f.notation}@${f.term}")
    val variants = live.flatMap { case (_, g, p, c) =>
      Seq(g, p, c).flatten.filter(_.sid.nonEmpty)
        .map(f => (vid(f).get, f.form, f.notation, f.term, f.sid.get))
    }.groupBy(_._1).map(_._2.head).toSet
    val edges = live.flatMap { case (_, g, p, c) =>
      val pv = vid(p.get).get
      val cv = c.flatMap(vid)
      val gv = g.flatMap(vid)
      cv.map(v => (v, pv)).toSeq ++ gv.map(v => (v, cv.getOrElse(pv))).toSeq
    }.toSet
    val stmts = live.collect {
      case (r, _, p, _) if diseases(r.diseaseId) =>
        (r.sourceId, r.diseaseId,
          Seq(vid(p.get).get, r.diseaseId).sorted.mkString(","))
    }.toSet
    (variants, edges, stmts, bad.size.toLong)
  }

  test("loadDs ≡ ladder simulation on 3 seeded-random record sets") {
    import spark.implicits._
    val protPool = Vector("p.G12D", "p.V600E", "p.P2fs*?", "p.E3_A4delEA",
      "p.K5delKinsRG", "NOT A NOTATION")
    val cdsPool = Vector("c.1799T>A", "c.4_5insAG", "c.7_12delGAAGCA",
      "garbage", "c.13_15delAAGinsCG")
    val genesDim = Set("673", "1956")
    val txDim = Set("T1", "T2")
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(77 + trial)
      val recs = (0 until 120).map { i =>
        val refUt = Vector(("A", "T"), ("-", "AG"), ("TG", "-"), ("AA", "CGG"),
          ("-", "-"))(rnd.nextInt(5)) // ("-","-") => unparseable genomic
        HotspotRecord(s"h$i",
          Vector("7", "chr7", "X", "nochrom")(rnd.nextInt(4)),
          100L + i, 100L + i + (if (refUt._1.length + refUt._2.length > 2) 1 else 0),
          refUt._1, refUt._2,
          Vector("673", "1956", "9999")(rnd.nextInt(3)),
          protPool(rnd.nextInt(protPool.size)),
          Vector("T1", "T2", "TMISS")(rnd.nextInt(3)),
          cdsPool(rnd.nextInt(cdsPool.size)),
          Vector("mel", "lung", "unknown_d")(rnd.nextInt(3)))
      }
      val store = new PersistentGraphStore(spark,
        Inputs.scratchDir(s"graft-hprop$trial"))
      val terms = Map("substitution" -> "t:sub", "deletion" -> "t:del",
        "insertion" -> "t:ins", "indel" -> "t:indel", "frameshift" -> "t:fs")
      val c = CancerHotspots.loadDs(spark, store,
        spark.createDataset(recs),
        genesDim.toSeq.toDF("sourceId"),
        Seq(("7", "chr7"), ("X", "chrX")).toDF("sourceId", "name"),
        Seq(("T1", "transcript"), ("T2", "transcript"), ("TMISS", "gene"))
          .toDF("sourceId", "biotype"),
        Seq("mel", "lung").toDF("sourceId"),
        terms.toSeq.toDF("name", "term_id"))
      val (wantV, wantE, wantS, wantBad) = simulate(recs,
        chromIds = Set("7", "X"), chromNames = Map("chr7" -> "7", "chrX" -> "X"),
        genes = genesDim, txs = txDim, diseases = Set("mel", "lung"), terms)
      // non-triviality: variants in all three forms, edges, statements,
      // and fatal records must all occur in the random corpus
      assert(wantV.map(_._2) == Set("genomic", "protein", "cds") &&
        wantE.nonEmpty && wantS.nonEmpty && wantBad > 0,
        s"trial $trial degenerate corpus: forms=${wantV.map(_._2)}, " +
          s"${wantE.size} edges, ${wantS.size} stmts, $wantBad bad")
      val gotV = store.read("variants").get
        .select("vid", "form", "notation", "term", "reference1")
        .as[(String, String, String, String, String)].collect().toSet
      val gotE = store.read("edges").get.select("out", "in")
        .as[(String, String)].collect().toSet
      val gotS = store.read("statements").get
        .selectExpr("sourceId", "subject", "array_join(conditions, ',')")
        .as[(String, String, String)].collect().toSet
      assert(gotV == wantV, s"trial $trial variants: only-engine=${gotV -- wantV}, only-sim=${wantV -- gotV}")
      assert(gotE == wantE, s"trial $trial edges: only-engine=${gotE -- wantE}, only-sim=${wantE -- gotE}")
      assert(gotS == wantS, s"trial $trial stmts: only-engine=${gotS -- wantS}, only-sim=${wantS -- gotS}")
      assert(c("record_errors") == wantBad)
    }
  }
}
