package graft

import java.io.FileOutputStream
import java.nio.file.{Files, Path, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Where a run's input files live — the one owner of that decision:
  *  - the reference loader's recorded inputs, under two roots that the
  *    Scala loaders and the DuckDB oracle SQL (`OraclesRef`) both read;
  *  - fixtures bundled on the classpath under `/fixtures`;
  *  - inline inputs a row or spec authors itself.
  * Bundled fixtures are copied, and inline inputs written, under ONE
  * JVM-lifetime scratch root that a shutdown hook deletes, so repeated
  * bench reps and spec runs leave no file behind. The per-invocation
  * stores of the g-, k- and sketch-registry rows root their layers there
  * too (`scratchDir`).
  */
object Inputs {

  /** The reference loader's recorded test inputs (its `test/data`). */
  val TestData = "/root/reference/test/data"

  /** The reference loader's seed ontologies (its `data` JSON files). */
  val SeedData = "/root/reference/data"

  lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft-scratch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => core.Fs.deleteRecursively(root)))
    root
  }

  /** A fresh directory under the scratch root. */
  def scratchDir(tag: String): String =
    Files.createTempDirectory(scratchRoot, tag).toString

  /** The bundled fixture `/fixtures/<name>` (the repo's analog of the
    * reference's `test/data/entrez_*.json` recordings), copied to a local
    * file so the disk-proxy fetchers can read it.
    */
  def fixture(name: String): String = {
    val in = getClass.getResourceAsStream(s"/fixtures/$name")
    require(in != null, s"missing fixture $name")
    try write("fixture", name)(Files.copy(in, _)) finally in.close()
  }

  /** An inline input `content`, written as a fresh file named `name`. */
  def file(name: String, content: String): String =
    write("input", name)(Files.writeString(_, content))

  /** A minimal single-sheet OOXML workbook named `name`: one inline-string
    * cell per non-empty value, `rows` top to bottom.
    */
  def xlsx(name: String, rows: Seq[Seq[String]]): String = write("input", name) { p =>
    val zos = new ZipOutputStream(new FileOutputStream(p.toFile))
    def entry(entryName: String, content: String): Unit = {
      zos.putNextEntry(new ZipEntry(entryName))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    def colRef(i: Int): String = {
      var n = i + 1; var s = ""
      while (n > 0) { val r = (n - 1) % 26; s = ('A' + r).toChar + s; n = (n - 1) / 26 }
      s
    }
    try {
      entry("[Content_Types].xml",
        """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
      val body = rows.zipWithIndex.map { case (r, ri) =>
        val cells = r.zipWithIndex.collect {
          case (v, ci) if v.nonEmpty =>
            s"""<c r="${colRef(ci)}${ri + 1}" t="inlineStr"><is><t>$v</t></is></c>"""
        }.mkString
        s"""<row r="${ri + 1}">$cells</row>"""
      }.mkString
      entry("xl/worksheets/sheet1.xml",
        s"""<?xml version="1.0"?><worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>$body</sheetData></worksheet>""")
    } finally zos.close()
  }

  /** A fresh file `name` in a fresh `<kind>…` directory under the scratch
    * root, filled by `body`.
    */
  private def write(kind: String, name: String)(body: Path => Any): String = {
    val p = Paths.get(scratchDir(kind), name)
    body(p)
    p.toString
  }
}
