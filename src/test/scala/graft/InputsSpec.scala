package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.orchestrate.FullCorpus

/** Run-time input files live under the one scratch root, which the JVM's
  * shutdown hook deletes, so no run leaves an input file in the system
  * temp directory.
  */
class InputsSpec extends AnyFunSuite {

  private def underScratch(p: String): Boolean =
    Paths.get(p).toAbsolutePath.normalize.startsWith(Inputs.scratchRoot)

  test("inline inputs, bundled fixtures and the NCIt sample live under the scratch root") {
    val paths = Seq(FullCorpus.writeNcitSample(), Inputs.file("inline.txt", "x"),
      Inputs.fixture("entrez_gene.1956.json"))
    paths.foreach(p => assert(underScratch(p), p))
    assert(Files.readString(Paths.get(paths(1))) == "x")
  }

  test("a second NCIt sample write reads the same content as the first") {
    val (a, b) = (FullCorpus.writeNcitSample(), FullCorpus.writeNcitSample())
    assert(Files.readString(Paths.get(b)) == Files.readString(Paths.get(a)))
    assert(Files.readString(Paths.get(a)).startsWith("C1001\t"))
  }
}
