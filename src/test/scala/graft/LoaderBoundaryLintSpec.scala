package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-text lint of the loader system's boundary: what the loader
  * packages may depend on, how a loader writes to the store, where the
  * load path starts threads, and where input paths and input files are
  * made. Reads source files only.
  */
class LoaderBoundaryLintSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")
  private val test = Paths.get("src/test/scala")

  private def scalaFiles(dir: Path): Seq[Path] = {
    val stream = Files.walk(dir)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }

  private def lines(f: Path): Seq[(String, Int)] =
    Files.readAllLines(f).asScala.toSeq.zipWithIndex.map { case (l, i) => (l, i + 1) }

  private val loaderPackages =
    Seq("core", "sources", "orchestrate", "variant", "remote", "functions")

  test("the loader packages import nothing from llm, streaming or plans") {
    val offenders = loaderPackages.flatMap { pkg =>
      scalaFiles(main.resolve(s"graft/$pkg")).flatMap { f =>
        val ls = lines(f)
        // one `package graft.<pkg>` clause: a sibling package is then only
        // reachable through its full `graft.` name, which the scan sees
        val clause = ls.collect { case (l, _) if l.startsWith("package ") => l.trim }
        val badClause =
          if (clause == Seq(s"package graft.$pkg")) Nil
          else Seq(s"$f: package clauses ${clause.mkString("; ")}")
        badClause ++ ls.collect {
          case (l, n) if "\\bgraft\\.(llm|streaming|plans)\\b".r.findFirstIn(l).nonEmpty =>
            s"$f:$n: ${l.trim}"
        }
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("loaders write to the store only through writeAll") {
    val offenders = scalaFiles(main.resolve("graft/sources")).flatMap { f =>
      lines(f).collect {
        case (l, n) if "\\.(merge|upsertEdges)\\(".r.findFirstIn(l).nonEmpty =>
          s"$f:$n: ${l.trim}"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("src/main starts threads only in Concurrent and the scratch shutdown hook") {
    val sites = scalaFiles(main).flatMap { f =>
      lines(f).collect {
        case (l, _) if l.contains("new Thread(") || l.contains("Executors.") =>
          s"${main.relativize(f)}: ${l.trim}"
      }
    }
    val allowed = (s: String) =>
      s.startsWith("graft/core/Concurrent.scala: ") ||
        (s.startsWith("graft/Inputs.scala: ") && s.contains("addShutdownHook(new Thread("))
    assert(sites.exists(_.startsWith("graft/core/Concurrent.scala: ")))
    assert(sites.filterNot(allowed).isEmpty, sites.filterNot(allowed).mkString("\n"))
  }

  /** `file:line` of every line in `files` that contains one of `needles`. */
  private def sitesOf(files: Seq[Path], needles: Seq[String]): Seq[String] =
    files.flatMap { f =>
      lines(f).collect { case (l, n) if needles.exists(l.contains) => s"$f:$n: ${l.trim}" }
    }

  private val inputs = main.resolve("graft/Inputs.scala")

  private def assertOnlyInInputs(sites: Seq[String]): Unit = {
    assert(sites.exists(_.startsWith(s"$inputs:")))
    val elsewhere = sites.filterNot(_.startsWith(s"$inputs:"))
    assert(elsewhere.isEmpty, elsewhere.mkString("\n"))
  }

  // the needles are split so that this file never names them whole
  test("the reference root is named only in Inputs") {
    assertOnlyInInputs(
      sitesOf(scalaFiles(main) ++ scalaFiles(test), Seq("/root/" + "reference")))
  }

  test("src/main makes temp files and reads resources only in Inputs") {
    assertOnlyInInputs(sitesOf(scalaFiles(main),
      Seq("createTempFile" + "(", "getResourceAsStream" + "(")))
  }

  test("specs make temp dirs and files only under the Inputs scratch root") {
    val sites = sitesOf(scalaFiles(test),
      Seq("createTempDirectory" + "(", "createTempFile" + "("))
    assert(sites.isEmpty, sites.mkString("\n"))
  }

  test("the loader packages do not name the registry plumbing EntryHelpers") {
    val offenders = loaderPackages.flatMap(pkg =>
      sitesOf(scalaFiles(main.resolve(s"graft/$pkg")), Seq("EntryHelpers")))
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
