package graft.sources

import graft.Inputs
import graft.Inputs.TestData
import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScansSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("S1 delim: ## comments skipped, header map applied, types inferred") {
    val path = Inputs.file("scan.tsv",
      """## generated by a tool
        |## second comment line
        |id\tGene name\tscore
        |1\tKRAS\t0.5
        |2\tTP53\t1.5
        |""".stripMargin.replace("\\t", "\t"))
    val df = Scans.delim(spark, path, headerMap = Map("Gene name" -> "gene"))
    assert(df.columns.toSeq == Seq("id", "gene", "score"))
    assert(df.count() == 2)
    assert(df.schema("score").dataType.typeName == "double")
    assert(df.filter(col("gene") === "KRAS").count() == 1)
  }

  test("S1 delim: quoting disabled — quotes pass through verbatim") {
    val path = Inputs.file("scan.tsv", "a\tb\n\"x\ty\"\tz\n")
    val rows = Scans.delim(spark, path, inferSchema = false)
      .as[(String, String)].collect()
    assert(rows.head._1 == "\"x")
  }

  test("S1 delim reads the reference ensembl biomart fixture") {
    val df = Scans.delim(spark,
      s"$TestData/ensembl_biomart_export_ENSG00000139618.tsv",
      headerMap = Map("Gene stable ID" -> "gene_id", "Gene name" -> "gene_name"))
    assert(df.count() > 0)
    assert(df.select("gene_id").distinct().as[String].collect().toSeq ==
      Seq("ENSG00000139618"))
  }

  test("S9 text lines") {
    val path = Inputs.file("scan.txt", "KRAS:p.G12D\nEGFR:c.2573T>G\n")
    assert(Scans.textLines(spark, path).count() == 2)
  }
}

class XmlScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val drugbank = s"$TestData/drugbank_sample.xml"

  test("S4 rowTag streaming split yields well-formed fragments") {
    val frags = XmlScan.rowTagFragments(spark, drugbank, "drug").collect()
    assert(frags.length == 1)
    val x = scala.xml.XML.loadString(frags.head)
    assert((x \ "name").text == "Erlotinib")
  }

  test("S4 rowTag on synthetic multi-row xml") {
    val path = Inputs.file("rows.xml",
      """<root xmlns:m="urn:m"><row><m:a>1</m:a></row><row><m:a>2</m:a></row>
        |<other/><row><m:a>3</m:a></row></root>""".stripMargin)
    val frags = XmlScan.rowTagFragments(spark, path, "row").collect()
    assert(frags.length == 3)
    // namespace repair keeps fragments independently parseable
    frags.foreach(f => scala.xml.XML.loadString(f))
  }

  test("S3 dom→json: mergeAttrs, repeated tags→arrays, emptyTag→null, trim") {
    val json = XmlScan.domToJson(
      """<d type="small"><g>a</g><g> b  c </g><empty/><nested x="1">t</nested></d>""")
    val df = spark.read.json(Seq(json).toDS())
    val row = df.select("d.type", "d.g", "d.empty", "d.nested.x", "d.nested._").head()
    assert(row.getString(0) == "small")
    assert(row.getSeq[String](1) == Seq("a", "b c"))
    assert(row.isNullAt(2))
    assert(row.getString(3) == "1")
    assert(row.getString(4) == "t")
  }

  test("S3/S4 composed rowTagDF over drugbank") {
    val df = XmlScan.rowTagDF(spark, drugbank, "drug")
    val r = df.select(col("name"), col("`cas-number`"), col("unii"),
      col("groups.group")).head()
    assert(r.getString(0) == "Erlotinib")
    assert(r.getString(1) == "183321-74-6")
    assert(r.getString(2) == "J4T82NDH7E")
    assert(r.getSeq[String](3) == Seq("approved", "investigational"))
  }
}

class OwlScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  val vario = s"$TestData/vario_v2018-04-27.owl"

  test("S5 triples: 447 VariO classes (matches owl:Class rdf:about count)") {
    val tr = OwlScan.triples(spark, vario)
    val classes = tr.filter(col("predicate") === (OwlScan.RDF_NS + "type") &&
        col("obj") === "http://www.w3.org/2002/07/owl#Class" &&
        col("subject").rlike("VariO_\\d+$"))
      .select("subject").distinct().count()
    assert(classes == 447L)
  }

  test("S5 grouped: label + subClassOf accessible per subject") {
    val tr = OwlScan.triples(spark, vario)
    val g = OwlScan.grouped(tr)
    val props = g.filter(col("subject").endsWith("/VariO_0001"))
      .select(explode(col("props")).as("p"))
      .select(col("p.predicate"), col("p.objects"))
      .as[(String, Seq[String])].collect().toMap
    assert(props("http://www.w3.org/2000/01/rdf-schema#label") == Seq("variation"))
  }
}

class XlsxScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("S7 super-header flattening (PMC4232638 semantics)") {
    val path = Inputs.xlsx("s7.xlsx", Seq(
      Seq("A big title"),
      Seq("", "Functional categories for TP53", "", "Other"),
      Seq("Gene", "Gain of function", "Loss of function", ""),
      Seq("TP53", "yes", "no effect", "x"),
      Seq("KRAS", "----", "", "y")))
    val df = XlsxScan.df(spark, path, superHeader = true)
    assert(df.columns.toSeq == Seq(
      "Gene",
      "Functional categories for TP53 - Gain of function",
      "Functional categories for TP53 - Loss of function",
      "Other"))
    val rows = df.collect()
    assert(rows(0).getString(1) == "yes")
    assert(rows(1).getString(1) == "") // '----' normalized
  }

  test("S7 plain header") {
    val path = Inputs.xlsx("plain.xlsx", Seq(Seq("a", "b"), Seq("1", "2")))
    val df = XlsxScan.df(spark, path)
    assert(df.columns.toSeq == Seq("a", "b"))
    assert(df.head().getString(0) == "1")
  }
}
