package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The case fold every loader uses on names, ids and join keys: Spark's
  * default lower/upper-casing of a UTF8_BINARY string, without the class
  * initializer Spark's own expressions pay for it.
  *
  * With `spark.sql.icu.caseMappings.enabled` at its default (true), Spark
  * 4.1's `Lower`/`Upper` call `CollationAwareUTF8String.toLowerCase` /
  * `toUpperCase`. Loading that class first fills its one-to-many
  * title-case table by calling ICU `toTitleCase` on all 1,114,112 code
  * points — 1.1–1.3 s in an idle fresh JVM on a 4-vCPU machine, 3.3–3.6 s
  * under a loader benchmark's contention, with every task that reaches a
  * case fold waiting on it.
  * Lower- and upper-casing never read that table.
  *
  * This expression runs the body of those two methods itself, so its
  * output is byte-identical to Spark's default:
  *  - all-ASCII input: `UTF8String.toLowerCaseAscii` / `toUpperCaseAscii`;
  *  - otherwise the one-argument ICU `UCharacter.toLowerCase` /
  *    `toUpperCase` (ICU's default locale, as in Spark) of
  *    `toValidString`, so invalid UTF-8 folds as U+FFFD and `ß`
  *    upper-cases to `SS`.
  * Null in → null out; a non-string input is cast to string first, as
  * for Spark's own. Whole-stage codegen and interpreted eval both call
  * [[CaseFold.fold]].
  */
case class CaseFold(child: Expression, upper: Boolean)
    extends UnaryExpression with ImplicitCastInputTypes {

  // the element type is private to Spark's sql package, so it is inferred
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def contextIndependentFoldable: Boolean = child.contextIndependentFoldable
  override def prettyName: String = if (upper) "upper_case" else "lower_case"
  // the flag is in the name already
  override def flatArguments: Iterator[Any] = Iterator(child)

  override protected def nullSafeEval(input: Any): Any =
    CaseFold.fold(input.asInstanceOf[UTF8String], upper)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, s => s"graft.functions.CaseFold.fold($s, $upper)")

  override protected def withNewChildInternal(newChild: Expression): CaseFold =
    copy(child = newChild)
}

object CaseFold {

  def fold(s: UTF8String, upper: Boolean): UTF8String =
    if (s.isFullAscii) { if (upper) s.toUpperCaseAscii else s.toLowerCaseAscii }
    else UTF8String.fromString(
      if (upper) com.ibm.icu.lang.UCharacter.toUpperCase(s.toValidString)
      else com.ibm.icu.lang.UCharacter.toLowerCase(s.toValidString))

  def lowerCase(c: Column): Column = Bridge.column(CaseFold(Bridge.expression(c), upper = false))

  def upperCase(c: Column): Column = Bridge.column(CaseFold(Bridge.expression(c), upper = true))
}
