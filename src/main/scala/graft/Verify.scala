package graft
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Write one row's result to `<outDir>/<name>`; true when it wrote. A
    * row that fails, also inside its write, leaves no directory behind, so
    * `outDir` holds exactly one directory per written row.
    */
  def writeRow(outDir: String, name: String)(result: => DataFrame): Boolean =
    try {
      result.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: $e")
      core.Fs.deleteRecursively(s"$outDir/$name")
      false
    }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name subset (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = GraftSession.local(GraftSession.cpus)
    new java.io.File(outDir).mkdirs()
    val rows = SparkEntry.queries.filter { case (name, _) => only.forall(_.contains(name)) }
    val failed = rows.keys.toSeq.filterNot { name =>
      try writeRow(outDir, name)(rows(name)(spark, sfDir))
      // queries that persist intermediates (DiffMerge tiers, resolver
      // passes) would otherwise accumulate storage blocks across the ~90
      // query run and squeeze execution memory
      finally spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    GraftSession.stop(spark)
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] failed ${failed.size} of ${rows.size}: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
