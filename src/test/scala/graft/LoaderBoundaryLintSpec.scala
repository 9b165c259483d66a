package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-text lint of the loader system's boundary: what the loader
  * packages may depend on, how a loader writes to the store, and where
  * the load path starts threads. Reads source files only.
  */
class LoaderBoundaryLintSpec extends AnyFunSuite {

  private val main = Paths.get("src/main/scala")

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
        (s.startsWith("graft/EntryHelpers.scala: ") && s.contains("addShutdownHook(new Thread("))
    assert(sites.exists(_.startsWith("graft/core/Concurrent.scala: ")))
    assert(sites.filterNot(allowed).isEmpty, sites.filterNot(allowed).mkString("\n"))
  }
}
