package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.expressions.{Expression, In, InSet, Literal, Predicate, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{IN, INSET}
import org.apache.spark.sql.execution.{ColumnarRule, LeafExecNode, SparkPlan}
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType}

/** `child IN (v₁, …, vₙ)` over an integral column, with the values held
  * BY REFERENCE: a sorted primitive `long[]` rides `ctx.references` and the
  * generated code is one binary search, so the source — and the compiled
  * class — is the same for every value list.
  *
  * Spark's own `In` writes one `==` per value into the generated source,
  * and `InSet` a `switch` over its values (up to
  * `spark.sql.optimizer.inSetSwitchThreshold`): both make a new class per
  * value list, so a serving path whose lists vary per request (an IVF
  * probe set, an LSH bucket set) pays a Janino compile per request.
  *
  * SQL semantics are `In`'s: a null value gives null; a value not found
  * gives null when the list held a null (`hasNull`), else false.
  * `values` is sorted ascending and distinct. */
case class InLongList(child: Expression, values: Seq[Long], hasNull: Boolean)
    extends UnaryExpression with Predicate {

  @transient private lazy val sorted: Array[Long] = values.toArray

  override def nullable: Boolean = child.nullable || hasNull

  override protected def nullSafeEval(v: Any): Any =
    if (java.util.Arrays.binarySearch(sorted, v.asInstanceOf[Number].longValue) >= 0) true
    else if (hasNull) null
    else false

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val arr = ctx.addReferenceObj("inValues", sorted, "long[]")
      val found = s"java.util.Arrays.binarySearch($arr, (long) $v) >= 0"
      if (hasNull) s"if ($found) { ${ev.value} = true; } else { ${ev.isNull} = true; }"
      else s"${ev.value} = $found;"
    })

  override def toString: String =
    s"$child IN (${(values.map(_.toString) ++ (if (hasNull) Seq("null") else Nil)).mkString(",")})"

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object InLongList {

  private def integral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** `In` over an all-literal, non-empty list, or `InSet` over a non-empty
    * set, on an integral column — as an [[InLongList]]; anything else None.
    * (Empty lists stay Spark's: their null behaviour is a legacy conf.) */
  def unapply(e: Expression): Option[InLongList] = e match {
    case In(v, list) if integral(v.dataType) && list.nonEmpty &&
        list.forall(l => l.isInstanceOf[Literal] && l.dataType == v.dataType) =>
      Some(of(v, list.map(_.asInstanceOf[Literal].value)))
    case InSet(v, set) if integral(v.dataType) && set.nonEmpty =>
      Some(of(v, set.toSeq))
    case _ => None
  }

  private def of(v: Expression, raw: Seq[Any]): InLongList = {
    val nonNull = raw.filter(_ != null)
    InLongList(v, nonNull.map(_.asInstanceOf[Number].longValue).distinct.sorted,
      hasNull = nonNull.length < raw.length)
  }
}

/** Physical-plan rule: every integral `In`/`InSet` against literal values
  * in a non-scan operator becomes an [[InLongList]], so whole-stage codegen
  * reuses one compiled class across value lists. Scans are left alone:
  * their partition filters and pushed filters — partition pruning and
  * parquet pushdown — are exactly Spark's, and the logical plan is
  * untouched. Installed as a post-transition columnar rule, which runs
  * before `CollapseCodegenStages` both in the regular plan and in each of
  * AQE's query stages. */
object InListByReference extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan =
    plan.transformUpWithPruning(_.containsAnyPattern(IN, INSET)) {
      case p if !p.isInstanceOf[LeafExecNode] =>
        p.transformExpressionsUpWithPruning(_.containsAnyPattern(IN, INSET)) {
          case InLongList(rewritten) => rewritten
        }
    }

  /** The rule in the slot `SparkSessionExtensions.injectColumnar` takes. */
  object Columnar extends ColumnarRule {
    override def postColumnarTransitions: Rule[SparkPlan] = InListByReference
  }
}
