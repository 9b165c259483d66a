package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2, with a DuckDB-equivalent `oracleSql` where the operator is
  * SQL-expressible.
  *
  * Determinism rules (the driver hash-compares values after sorting columns
  * by name):
  *  - money aggregates are summed as DECIMAL(18,4) (exact, order-independent)
  *    then cast to double — identical on the DuckDB side;
  *  - every computed column is aliased identically in both dialects;
  *  - timestamps are cast to DATE (or formatted strings) before output;
  *  - top-k / "pick one" always carries a total tiebreak order.
  */object SparkEntry {
  import EntryHelpers._

  /** Flagship query on sf=0.001 (driver smoke-checks rows>0): revenue by
    * region — scan→broadcast dim joins→agg, the shape of every loader's
    * resolve-then-aggregate pipeline (SURVEY §3.1).
    */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val li = t(spark, dir, "lineitem")
    val o = t(spark, dir, "orders")
    val c = t(spark, dir, "customer")
    val n = t(spark, dir, "nation")
    val r = t(spark, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("n_items"))
  }

  // ---------------------------------------------------------------- queries

  // -------------------------------------------------------------- registry
  // Per-package registries (round-14 split): reference surface + streaming
  // + LLM pipeline, concatenated here so the driver contract
  // (queries/oracleSql) is unchanged. Row counts live in README.md and are
  // spec-pinned (BenchConsistencySpec), not repeated here.

  private def registry: Map[String, Timed] =
    QueriesRef.registry ++ QueriesStreaming.registry ++ QueriesLlm.registry

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, row) => name -> row.run }

  /** The names of the rows declared with `timing`, in name order. */
  private[graft] def timedAs(timing: Timing): Seq[String] =
    registry.collect { case (name, row) if row.timing == timing => name }.toSeq.sorted

  def oracleSql: Map[String, String] =
    OraclesRef.registry ++ OraclesStreaming.registry ++ OraclesLlm.registry
}
