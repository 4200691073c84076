package graft.plans

import com.ibm.icu.lang.UCharacter
import org.apache.spark.sql.catalyst.expressions.{Expression, Lower, UnaryExpression, Upper}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.UPPER_OR_LOWER
import org.apache.spark.sql.catalyst.util.CollationFactory
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The two case-map kernels, exactly what Spark 4.1.2's
  * `CollationAwareUTF8String.toLowerCase/toUpperCase` compute for a
  * UTF8_BINARY string with ICU case mappings on: an all-ASCII string maps
  * byte by byte, anything else goes through ICU's full (context-aware,
  * one-to-many) case mapping of the string with invalid UTF-8 replaced by
  * U+FFFD. Spark's copy lives in a class whose static initializer builds a
  * title-case table over all 1,114,112 code points — about 2 s of CPU the
  * first time any `lower`/`upper` runs in a JVM. These kernels never load
  * that class. */
object CaseMapImpl {
  def lower(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toLowerCaseAscii
    else UTF8String.fromString(UCharacter.toLowerCase(s.toValidString))

  def upper(s: UTF8String): UTF8String =
    if (s.isFullAscii) s.toUpperCaseAscii
    else UTF8String.fromString(UCharacter.toUpperCase(s.toValidString))
}

/** `lower(s)` / `upper(s)` over a default-collation string, through
  * [[CaseMapImpl]]; only [[CaseMapRewrite]] builds it. */
case class CaseMap(child: Expression, upper: Boolean) extends UnaryExpression {
  override def dataType: DataType = child.dataType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = if (upper) "upper" else "lower"
  override protected def nullSafeEval(s: Any): Any = {
    val str = s.asInstanceOf[UTF8String]
    if (upper) CaseMapImpl.upper(str) else CaseMapImpl.lower(str)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.plans.CaseMapImpl.$prettyName($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Optimizer rule: `Lower`/`Upper` over a UTF8_BINARY string become
  * [[CaseMap]] while `spark.sql.icu.caseMappings.enabled` is on (Spark's
  * default), so the results are Spark's own and its title-case table is
  * never built. Other collations, and sessions with ICU case mappings off,
  * keep Spark's expressions. `initcap` is not rewritten and still pays
  * for the table. */
object CaseMapRewrite extends Rule[LogicalPlan] {

  private def binary(e: Expression): Boolean = e.dataType match {
    case st: StringType => st.collationId == CollationFactory.UTF8_BINARY_COLLATION_ID
    case _ => false
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!SQLConf.get.getConf(SQLConf.ICU_CASE_MAPPINGS_ENABLED)) plan
    else plan.transformAllExpressionsWithPruning(_.containsPattern(UPPER_OR_LOWER)) {
      case Lower(c) if binary(c) => CaseMap(c, upper = false)
      case Upper(c) if binary(c) => CaseMap(c, upper = true)
    }
}
