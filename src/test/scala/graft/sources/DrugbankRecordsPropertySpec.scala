package graft.sources

import graft.{Inputs, TestSpark}
import org.scalatest.funsuite.AnyFunSuite

/** Seeded-random drugbank XML → drugbankRecords equivalence: each trial
  * builds a corpus of random `<drug>` elements FROM a spec object and
  * asserts the parsed frame equals the expectation derived from that same
  * object — pinning the primary-id pick (incl. the NO-id → null sourceId
  * degradation), the `^[a-zA-Z]\w+$` alias filter + self-name exclusion,
  * last-kind-wins calculated properties, ChEMBL-resource case folding,
  * per-target action joins over MULTIPLE targets (the deliberate
  * intent-over-quirk fan-out the reference's single-target stream shape
  * never reaches — each target contributes its own (gene, actions)
  * pairs), the empty-unii and empty/missing-`updated` null folds, the
  * FIRST-atc-code-only level ladder with lowercased codes (a second
  * atc-code element must be ignored), and the categories → subsets list
  * (null when absent; FIRST inner <category> per wrapper when a wrapper
  * carries several — cat.category[0]) — on shapes the one-drug fixture
  * can't reach.
  */
class DrugbankRecordsPropertySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private case class DrugSpec(ids: Seq[(String, Boolean)], name: String,
      description: String, updated: String, mechanism: String,
      props: Seq[(String, String)], products: Seq[String],
      xrefs: Seq[(String, String)], unii: String,
      targets: Seq[(Seq[String], Seq[(String, String)])], // (actions, (resource, id))
      atc: Seq[Seq[(String, String)]], // atc-code elements, each (levelName, code)
      cats: Seq[Seq[String]]) // category wrappers, each with ≥1 inner <category>

  private def xmlOf(d: DrugSpec): scala.xml.Elem =
    <drug type="small molecule" updated={
      if (d.updated == null) null else scala.xml.Text(d.updated)}>
      {d.ids.map { case (id, p) =>
        if (p) <drugbank-id primary="true">{id}</drugbank-id>
        else <drugbank-id>{id}</drugbank-id> }}
      <name>{d.name}</name>
      <description>{d.description}</description>
      <unii>{d.unii}</unii>
      <mechanism-of-action>{d.mechanism}</mechanism-of-action>
      <calculated-properties>
        {d.props.map { case (k, v) =>
          <property><kind>{k}</kind><value>{v}</value></property> }}
      </calculated-properties>
      <external-identifiers>
        {d.xrefs.map { case (r, i) =>
          <external-identifier><resource>{r}</resource><identifier>{i}</identifier></external-identifier> }}
      </external-identifiers>
      {if (d.cats.isEmpty) scala.xml.NodeSeq.Empty
       else <categories>
         {d.cats.map(c =>
           <category>{c.map(cc => <category>{cc}</category>)}<mesh-id>D000970</mesh-id></category>)}
       </categories>}
      {if (d.atc.isEmpty) scala.xml.NodeSeq.Empty
       else <atc-codes>
         {d.atc.map(code =>
           <atc-code code={code.headOption.map(_._2).getOrElse("X")}>
             {code.map { case (n, c) => <level code={c}>{n}</level> }}
           </atc-code>)}
       </atc-codes>}
      <products>
        {d.products.map(p => <product><name>{p}</name></product>)}
      </products>
      <targets>
        {d.targets.map { case (actions, xr) =>
          <target>
            <actions>{actions.map(a => <action>{a}</action>)}</actions>
            <polypeptide id="P1" source="sp">
              <external-identifiers>
                {xr.map { case (r, i) =>
                  <external-identifier><resource>{r}</resource><identifier>{i}</identifier></external-identifier> }}
              </external-identifiers>
            </polypeptide>
          </target> }}
      </targets>
    </drug>

  private def expected(d: DrugSpec) = {
    val primary = d.ids.find(_._2).map(_._1)
      .orElse(d.ids.headOption.map(_._1)).orNull
    val aliases = d.products
      .filter(p => p.matches("^[a-zA-Z]\\w+$") && p.toLowerCase != d.name.toLowerCase)
      .map(_.toLowerCase).distinct.sorted
    val chembl = d.xrefs.collect { case (r, i) if r.toLowerCase == "chembl" => i }
    val targets = d.targets.flatMap { case (actions, xr) =>
      xr.collect { case ("HUGO Gene Nomenclature Committee (HGNC)", i) =>
        (i, actions.mkString("/"))
      }
    }
    // first atc-code element only; codes lowercased, document order kept
    val atcLevels = d.atc.headOption.getOrElse(Seq.empty)
      .map { case (n, c) => (n, c.toLowerCase) }
    // cat.category[0]: first inner element per wrapper (index.js:63)
    val subsets: Seq[String] = if (d.cats.isEmpty) null else d.cats.map(_.head)
    (primary, d.name, d.description,
      Option(d.updated).filter(_.nonEmpty).orNull, d.mechanism,
      d.props.toMap.get("IUPAC Name").orNull,
      d.props.toMap.get("Molecular Formula").orNull,
      Option(d.unii.trim).filter(_.nonEmpty).orNull,
      aliases, chembl, targets, atcLevels, subsets)
  }

  test("drugbankRecords ≡ spec-derived expectation on 3 random corpora") {
    for (trial <- 0 until 3) {
      val rnd = new scala.util.Random(9090 + trial)
      val namePool = Vector("Erlotinib", "Foo", "BarDrug")
      val prodPool = Vector("Tarceva", "Apo-mix", "GoodName7", "Two Words",
        "x", "UPPER", "erlotinib", "With_score")
      val kindPool = Vector("IUPAC Name", "Molecular Formula", "logP")
      val resPool = Vector("ChEMBL", "chembl", "PubChem", "Wikipedia")
      val levelPool = Vector(("Protein kinase inhibitors", "L01XE"),
        ("OTHER AGENTS", "L01X"), ("ANTINEOPLASTIC", "L01"), ("TOP", "L"))
      val catPool = Vector("Antineoplastic Agents", "Kinase Inhibitors",
        "Immunomodulating Agents")
      val drugs = (0 until 20).map { i =>
        // ~1 in 10 drugs has NO drugbank-id at all (checkSpec error shape)
        val nIds = if (rnd.nextInt(10) == 0) 0 else rnd.nextInt(2) + 1
        val primaryAt =
          if (nIds > 0 && rnd.nextBoolean()) Some(rnd.nextInt(nIds)) else None
        DrugSpec(
          (0 until nIds).map(j => (s"DB${trial}0$i$j", primaryAt.contains(j))),
          namePool(rnd.nextInt(namePool.size)),
          s"desc $i",
          // null = attribute absent, "" = present-but-empty — both → null
          Vector(null, "", f"2019-0${rnd.nextInt(9) + 1}-02")(rnd.nextInt(3)),
          s"mech $i",
          Seq.fill(rnd.nextInt(4))(
            (kindPool(rnd.nextInt(kindPool.size)), s"v${rnd.nextInt(5)}")),
          Seq.fill(rnd.nextInt(5))(prodPool(rnd.nextInt(prodPool.size))),
          Seq.fill(rnd.nextInt(3))(
            (resPool(rnd.nextInt(resPool.size)), s"CHEMBL$i")),
          Vector("J4T82NDH7E", "", "  ")(rnd.nextInt(3)),
          // up to 3 targets: pins the multi-target fan-out contract
          Seq.fill(rnd.nextInt(4))((
            Seq.fill(rnd.nextInt(2) + 1)(
              Vector("antagonist", "inhibitor")(rnd.nextInt(2))),
            Seq.fill(rnd.nextInt(2) + 1)(
              (Vector("HUGO Gene Nomenclature Committee (HGNC)", "GenAtlas")(
                rnd.nextInt(2)), s"HGNC:$i")))),
          // 0–2 atc-code elements, each with 1–4 levels; only the first counts
          Seq.fill(rnd.nextInt(3))(
            rnd.shuffle(levelPool).take(rnd.nextInt(4) + 1)),
          // some wrappers carry a SECOND inner <category> — only the
          // first may be taken (the reference's cat.category[0])
          Seq.fill(rnd.nextInt(3))(catPool(rnd.nextInt(catPool.size))).distinct
            .map(c => if (rnd.nextBoolean()) Seq(c, s"Second $c") else Seq(c)))
      }
      val doc = <drugbank version="5.1">{drugs.map(xmlOf)}</drugbank>
      val f = Inputs.file(s"dbprop$trial.xml", doc.toString)
      val got = Loaders.drugbankRecords(spark, f.toString).collect()
        .map { r =>
          (r.getString(0), r.getString(1), r.getString(2), r.getString(3),
            r.getString(4), r.getString(5), r.getString(6), r.getString(7),
            r.getSeq[String](8), r.getSeq[String](9),
            r.getSeq[org.apache.spark.sql.Row](10)
              .map(t => (t.getString(0), t.getString(1))),
            r.getSeq[org.apache.spark.sql.Row](11)
              .map(t => (t.getString(0), t.getString(1))),
            r.getSeq[String](12))
        }.toSet
      val want = drugs.map(expected).map { e =>
        (e._1, e._2, e._3, e._4, e._5, e._6, e._7, e._8,
          e._9: Seq[String], e._10: Seq[String], e._11: Seq[(String, String)],
          e._12: Seq[(String, String)], e._13)
      }.toSet
      // non-triviality: every interesting shape must occur in the corpus
      assert(want.exists(_._9.nonEmpty) && want.exists(_._10.nonEmpty) &&
        want.exists(_._11.nonEmpty), s"trial $trial degenerate corpus")
      assert(want.exists(_._1 == null), s"trial $trial: no no-id drug")
      assert(want.exists(_._4 == null), s"trial $trial: no null-updated drug")
      assert(want.exists(_._12.nonEmpty), s"trial $trial: no atc ladder")
      assert(want.exists(_._13 != null), s"trial $trial: no subsets")
      assert(want.exists(_._13 == null), s"trial $trial: no absent-categories")
      assert(drugs.exists(_.targets.size > 1), s"trial $trial: no multi-target")
      assert(drugs.exists(_.atc.size > 1),
        s"trial $trial: no second-atc-code-ignored case")
      assert(got == want, s"trial $trial: only-engine=${got -- want}, " +
        s"only-sim=${want -- got}")
    }
  }
}
