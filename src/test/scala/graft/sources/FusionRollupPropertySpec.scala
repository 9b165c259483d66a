package graft.sources

import graft.{Inputs, TestSpark}
import graft.core.PersistentGraphStore
import org.scalatest.funsuite.AnyFunSuite

/** Seeded-random equivalence of the CosmicFusions three-level rollup
  * against a brute-force plain-Scala simulation (the offline-scalacheck
  * convention of core.PropertySpec): the DuckDB oracle replays the same
  * relational algebra the engine runs, so this straight-line third
  * implementation — groupBy on Scala collections, explicit suppression
  * sets, minBy representative — is the independent opinion that catches
  * a shared misreading of fusions.js:163-221.
  */
class FusionRollupPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import CosmicFusions.FusionRow

  private case class P(recId: String, sampleId: String, g1: String,
      g2: String, exon1: String, exon2: String, dis: String, fam: String) {
    def variant = s"($g1,$g2).fus(e.$exon1,e.$exon2)"
    def nonspec = s"($g1,$g2).fus(e.?,e.?)"
  }

  /** Straight-line simulation of the whole loader: returns the expected
    * statement set (sourceId, level, condition, subject, n_samples) and
    * the disease-miss error count.
    */
  private def simulate(rows: Seq[FusionRow], dis: Map[String, String])
      : (Set[(String, Long, String, String, Long)], Long) = {
    val pre = rows.map { r =>
      val g1 = r.gene1.split("_")(0)
      val g2 = r.gene2.split("_")(0)
      val d0 = if (r.disease.toUpperCase == "NS") "" else r.disease
      val f0 = if (r.diseaseFamily.toUpperCase == "NS") "" else r.diseaseFamily
      val f = if (d0.isEmpty && f0.isEmpty) "cancer" else f0
      P(r.recId, r.sampleId, g1, g2, r.exon1, r.exon2, d0, f)
    }
    def winners[K](key: P => K): Seq[(K, Long, P)] =
      pre.groupBy(key).toSeq.collect {
        case (k, ps) if ps.map(_.sampleId).distinct.size >= CosmicFusions.RecurrenceThreshold =>
          (k, ps.map(_.sampleId).distinct.size.toLong, ps.minBy(_.recId))
      }
    def resolve(p: P, level: Int): Option[String] =
      if (level == 2) dis.get("cancer")
      else dis.get(if (p.dis.nonEmpty) p.dis else p.fam)
        .filter(_ => p.dis.nonEmpty || p.fam.nonEmpty)
    var errors = 0L
    val stmts = scala.collection.mutable.Set.empty[(String, Long, String, String, Long)]

    val w0 = winners(p => (p.variant, p.fam, p.dis))
    val s0 = w0.flatMap { case (_, n, rep) => resolve(rep, 0).map(sid => (rep, n, sid)) }
    errors += w0.size - s0.size
    s0.foreach { case (rep, n, sid) =>
      stmts += ((rep.recId, 0L,
        s"${rep.g1}::${rep.g2}:fus(e.${rep.exon1},e.${rep.exon2})", sid, n))
    }
    val blocked1 = s0.map { case (rep, _, _) => (rep.nonspec, rep.fam, rep.dis) }.toSet
    val w1 = winners(p => (p.nonspec, p.fam, p.dis))
      .filterNot { case (k, _, _) => blocked1(k) }
    val s1 = w1.flatMap { case (_, n, rep) => resolve(rep, 1).map(sid => (rep, n, sid)) }
    errors += w1.size - s1.size
    s1.foreach { case (rep, n, sid) =>
      stmts += ((rep.recId, 1L, s"${rep.g1}::${rep.g2}:fusion", sid, n))
    }
    val blocked2 = (s0 ++ s1).map(_._1.nonspec).toSet
    val w2 = winners(_.nonspec).filterNot { case (k, _, _) => blocked2(k) }
    val s2 = w2.flatMap { case (_, n, rep) => resolve(rep, 2).map(sid => (rep, n, sid)) }
    errors += w2.size - s2.size
    s2.foreach { case (rep, n, sid) =>
      stmts += ((rep.recId, 2L, s"${rep.g1}::${rep.g2}:fusion", sid, n))
    }
    (stmts.toSet, errors)
  }

  test("loadDf statements ≡ brute-force simulation on 3 seeded-random corpora") {
    import spark.implicits._
    val dis = Map("D1" -> "d:1", "D2" -> "d:2", "cancer" -> "d:c",
      "F1" -> "d:f1")
    val disDf = dis.toSeq.toDF("name", "sourceId")
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(4242 + trial)
      val genes = Vector("G0", "G1", "G2", "G3_v1", "G4")
      val disPool = Vector("NS", "", "D1", "D2", "DX")
      val famPool = Vector("NS", "", "F1", "F9")
      val rows = (0 until 300).map { i =>
        FusionRow(s"r$i", s"f${i % 7}", s"s${rnd.nextInt(6)}",
          genes(rnd.nextInt(genes.size)), genes(rnd.nextInt(genes.size)),
          (rnd.nextInt(3) + 1).toString, (rnd.nextInt(3) + 1).toString,
          disPool(rnd.nextInt(disPool.size)),
          famPool(rnd.nextInt(famPool.size)), "")
      }
      val store = new PersistentGraphStore(spark,
        Inputs.scratchDir(s"graft-fprop$trial"))
      val counts = CosmicFusions.loadDf(spark, store,
        spark.createDataset(rows).toDF(), disDf)
      val got = store.read("statements").get
        .select("sourceId", "level", "condition", "subject", "n_samples")
        .as[(String, Long, String, String, Long)].collect().toSet
      val (want, wantErrors) = simulate(rows, dis)
      // non-triviality: the random corpus must actually exercise the
      // paths being compared (winners at 2+ levels, some misses)
      assert(want.map(_._2).size >= 1 && want.nonEmpty && wantErrors > 0,
        s"trial $trial degenerate corpus: ${want.size} stmts, $wantErrors errors")
      assert(want.map(_._2).toSet.size >= 2,
        s"trial $trial only one rollup level populated")
      assert(got == want, s"trial $trial statement mismatch: " +
        s"only-engine=${got -- want}, only-sim=${want -- got}")
      assert(counts.getOrElse("error", 0L) == wantErrors,
        s"trial $trial error count ${counts.get("error")} vs $wantErrors")
    }
  }
}
