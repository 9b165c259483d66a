package graft.core

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Cached.withCached

/** Declarative record validation with an error side-channel.
  *
  * Re-expresses the reference's Ajv `checkSpec` (util.js:201-214) +
  * per-loader error logs (SURVEY P4/K10): rules are named Column
  * predicates; rows failing any rule go to the error frame with the list
  * of violated rule names (the jsonpath-style report, SURVEY P9), rows
  * passing all flow on. One pass, no UDFs — every rule is a codegen'd
  * predicate, so validation rides inside WholeStageCodegen at any scale.
  */
object Specs {

  case class Validated(valid: DataFrame, errors: DataFrame)

  /** Split `df` by named rules. Each rule must evaluate true for a valid
    * row; nulls count as failures (Ajv's required/type semantics).
    */
  def validate(df: DataFrame, rules: Seq[(String, Column)]): Validated = {
    val violations = array(
      rules.map { case (name, pred) =>
        when(!coalesce(pred, lit(false)), lit(name))
      }: _*)
    val tagged = df.withColumn("__violations", filter(violations, _.isNotNull))
    Validated(
      valid = tagged.filter(size(col("__violations")) === 0).drop("__violations"),
      errors = tagged.filter(size(col("__violations")) > 0)
        .withColumnRenamed("__violations", "violations"))
  }

  /** K10 — error side-channel: persist the error frame (the reference
    * writes `errorLogPrefix-*.json` files per loader,
    * civic/index.js:491-499); parquet keeps the violations column typed.
    * Returns the error count for the audit trail (A8/K9).
    */
  def writeErrors(errors: DataFrame, path: String): Long = {
    withCached(errors) {
      val n = errors.count()
      errors.write.mode("overwrite").parquet(path)
      n
    }
  }

  /** The reference's recursive 'None'/'' → null cleanup
    * (moa fixStringNulls, SURVEY P6) over the given string columns.
    */
  def nullifyNoneLike(df: DataFrame, cols: Seq[String]): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.withColumn(c, when(trim(col(c)) === "" || col(c) === "None", lit(null)).otherwise(col(c)))
    }
}
