package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, JavaCode}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{FilterExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.FileSourceStrategy
import org.apache.spark.sql.types._

/**
 * Planner strategy: file scans planned exactly as Spark's own
 * `FileSourceStrategy` plans them, except that the constants of the
 * filter evaluated after the scan reach generated code BY REFERENCE.
 *
 * Why: Spark writes a primitive [[Literal]] (boolean, integral, float,
 * double, date, timestamp) into the generated Java source, so two
 * queries that differ only in such a constant generate different source,
 * miss Spark's codegen cache and pay a Janino compile each. String and
 * binary literals already ride the generated class's `references`
 * array, so their source is shared. An interactive client sends many
 * reads that differ only in their constants (a bbox read's `_bbox_*`
 * envelope bounds, a PostgREST `area=gt.N`, a SQL `d_od >= DATE '...'`);
 * with the constants of the after-scan `FilterExec` turned into
 * [[ParamLiteral]]s those reads generate identical Java and hit the
 * cache.
 *
 * Only non-null primitive Literals that are an operand of a binary
 * comparison or an element of an `IN` list are replaced; every other
 * literal (null, string, binary, decimal, a `LIKE`/`RLIKE` pattern, an
 * `InSet`, whose switch needs compile-time constants) is left as it is.
 * The scan node's own `dataFilters` — the Parquet `PushedFilters` that
 * drive row-group pruning — keep their plain Literals.
 *
 * Installed by [[graft.engine.GeoDb]] (`spark.experimental
 * .extraStrategies`) and by [[graft.GraftExtensions]]
 * (`injectPlannerStrategy`). Extra strategies are consulted before
 * Spark's own, so this plan is the one chosen for every file scan.
 */
object ParamFilters extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] =
    FileSourceStrategy(plan).map(_.transform {
      case f: FilterExec => f.copy(condition = parametrize(f.condition))
    })

  private[graft] def parametrize(cond: Expression): Expression = cond.transformUp {
    case c: BinaryComparison => c.withNewChildren(c.children.map(param))
    case in: In => in.copy(list = in.list.map(param))
  }

  private def param(e: Expression): Expression = e match {
    case l @ Literal(v, t) if v != null && ParamLiteral.types(t) => ParamLiteral(l)
    case other => other
  }
}

/**
 * A constant that generated code reads from the `references` array
 * instead of inlining it, so the generated source does not depend on its
 * value (see [[ParamFilters]]). Evaluates, prints and renders as SQL
 * like the [[Literal]] it replaces; it is not foldable, since its whole
 * purpose is to stay out of the generated source.
 */
case class ParamLiteral(lit: Literal) extends LeafExpression {
  require(lit.value != null && ParamLiteral.types(lit.dataType),
    s"ParamLiteral: not a non-null primitive literal: $lit")

  override def dataType: DataType = lit.dataType
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def eval(input: InternalRow): Any = lit.value
  override def toString: String = lit.toString
  override def sql: String = lit.sql

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val javaType = CodeGenerator.javaType(dataType)
    val ref = ctx.addReferenceObj("param", lit.value, CodeGenerator.boxedType(dataType))
    ExprCode.forNonNullValue(JavaCode.global(s"$ref.${javaType}Value()", dataType))
  }
}

object ParamLiteral {
  /** The types whose literals Spark inlines into generated source. */
  val types: DataType => Boolean = {
    case BooleanType | ByteType | ShortType | IntegerType | LongType |
         FloatType | DoubleType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }
}
