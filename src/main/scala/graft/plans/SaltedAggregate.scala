package graft.plans

import org.apache.spark.sql.{Column, GraftColumnBridge, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{DataType, DecimalType}

/** Skew-salting as a Catalyst optimizer rule (tier (c) of SURVEY §7.3):
  * the user marks a hot grouping key with `salt_key(k)` and the rule
  * rewrites the single aggregation into the two-stage salted form —
  *
  *   Aggregate(k, f(x))  ⇒  Aggregate(k, merge(p))
  *                            └ Aggregate((k, salt), p = partial f(x))
  *
  * where `salt = pmod(xxhash64(child.output), buckets)` spreads one
  * pathologically hot key over `SaltBuckets` reducers (the shuffle on
  * (k, salt) is skew-free; the second shuffle moves only `buckets` rows
  * per hot key). Semantically identical for decomposable aggregates —
  * count/sum/min/max (sum of counts, sum of sums, min of mins, max of
  * maxes). Non-decomposable shapes (distinct aggregates, filters,
  * decimal sums whose precision would widen, expressions over aggregate
  * results) fall back to the plain aggregate with markers stripped, so
  * `salt_key` is always safe to add.
  *
  * This automates the hand-written pattern in
  * `ValidationQueries.uniquenessVerdict` —
  * reference analogue: the fmt/phash hot-key handling called out in the
  * north rule. AQE's skew-join handling covers joins; this covers
  * aggregations, which AQE does not re-balance.
  *
  * Install: `SaltedAgg.install(spark)` (runtime, via
  * `spark.experimental.extraOptimizations`) or
  * `--conf spark.sql.extensions=graft.plans.GraftExtensions`
  * (spark-submit, also registers the SQL function `salt_key`).
  */
case class SaltKey(child: Expression) extends UnaryExpression {
  override def prettyName: String = "salt_key"
  override def dataType: DataType = child.dataType
  override protected def nullSafeEval(input: Any): Any = input
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => c)
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SaltedAggregateRule extends Rule[LogicalPlan] {

  val SaltBuckets = 32

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rewritten = plan.transformDown {
      // the analyzer (PullOutGroupingExpressions) extracts complex grouping
      // keys — salt_key(k) included — into a child Project, so the marker
      // usually sits one level below the Aggregate
      case agg @ Aggregate(_, _, proj: Project, _)
          if proj.projectList.exists(e => hasMarker(e)) =>
        val markedIds = proj.projectList
          .collect { case al: Alias if hasMarker(al) => al.exprId }.toSet
        val cleanAgg = cleaned(agg).copy(child =
          proj.copy(projectList =
            proj.projectList.map(ne => stripE(ne).asInstanceOf[NamedExpression])))
        val groupingMarked = agg.groupingExpressions.exists {
          case a: Attribute => markedIds.contains(a.exprId)
          case e => hasMarker(e)
        }
        if (groupingMarked) rewriteCore(cleanAgg).getOrElse(cleanAgg) else cleanAgg
      case agg: Aggregate if agg.groupingExpressions.exists(hasMarker) =>
        rewriteCore(cleaned(agg)).getOrElse(cleaned(agg))
    }
    // any marker left in an inert position must not leak into execution
    rewritten.transformAllExpressions { case SaltKey(c) => c }
  }

  private def hasMarker(e: Expression): Boolean = e.exists(_.isInstanceOf[SaltKey])

  private def stripE(e: Expression): Expression =
    e.transformUp { case SaltKey(c) => c }

  private def cleaned(agg: Aggregate): Aggregate =
    agg.copy(
      groupingExpressions = agg.groupingExpressions.map(stripE),
      aggregateExpressions =
        agg.aggregateExpressions.map(ne => stripE(ne).asInstanceOf[NamedExpression]))

  /** Sum's result type only equals its input's for non-decimal numerics
    * (decimal sums widen precision, so sum-of-sums would change the
    * output schema → bail out).
    */
  private def sumStable(dt: DataType): Boolean = dt match {
    case _: DecimalType => false
    case _ => true
  }

  /** The two-stage rewrite; `agg` must already be marker-free. */
  private def rewriteCore(agg: Aggregate): Option[Aggregate] = {
    val cleanKeys = agg.groupingExpressions
    val keyAliases = cleanKeys.zipWithIndex.map { case (k, i) => Alias(k, s"_gk$i")() }
    val keyAttr: Map[Expression, Attribute] =
      cleanKeys.map(_.canonicalized).zip(keyAliases.map(_.toAttribute)).toMap

    val partials = Seq.newBuilder[NamedExpression]
    var pIdx = 0
    def partialOf(fn: AggregateFunction): Attribute = {
      val al = Alias(AggregateExpression(fn, Complete, isDistinct = false), s"_p$pIdx")()
      pIdx += 1
      partials += al
      al.toAttribute
    }
    def complete(fn: AggregateFunction): Expression =
      AggregateExpression(fn, Complete, isDistinct = false)

    val finals: Seq[NamedExpression] = agg.aggregateExpressions.map { ne =>
      stripE(ne) match {
        case a: Attribute if keyAttr.contains(a.canonicalized) =>
          Alias(keyAttr(a.canonicalized), a.name)(exprId = a.exprId)
        case al @ Alias(child, name) if keyAttr.contains(child.canonicalized) =>
          Alias(keyAttr(child.canonicalized), name)(exprId = al.exprId)
        case al @ Alias(ae: AggregateExpression, name)
            if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
          val merged: Option[Expression] = ae.aggregateFunction match {
            case c: Count =>
              // count = sum of partial counts; Coalesce keeps the original
              // non-nullable LongType schema
              Some(Coalesce(Seq(complete(Sum(partialOf(c))), Literal(0L))))
            case s: Sum if sumStable(s.dataType) =>
              Some(complete(Sum(partialOf(s))))
            case m: Min => Some(complete(Min(partialOf(m))))
            case m: Max => Some(complete(Max(partialOf(m))))
            case _ => None
          }
          merged match {
            case Some(e) => Alias(e, name)(exprId = al.exprId)
            case None => return None
          }
        case _ => return None // expression over aggregates etc. → fall back
      }
    }

    // content-derived salt: varies WITHIN a key (hash of the whole input
    // row), deterministic under task retry — never rand()
    val salt = Pmod(new XxHash64(agg.child.output), Literal(SaltBuckets.toLong))
    val stage1 = Aggregate(cleanKeys :+ salt, keyAliases ++ partials.result(), agg.child)
    Some(Aggregate(keyAliases.map(_.toAttribute), finals, stage1))
  }
}

object SaltedAgg {
  /** Mark a grouping key as hot: `df.groupBy(SaltedAgg.saltKey(col("k")).as("k"))`. */
  def saltKey(c: Column): Column =
    GraftColumnBridge.column(SaltKey(GraftColumnBridge.expression(c)))

  /** Runtime installation on an existing session. Idempotent. */
  def install(spark: SparkSession): Unit =
    if (!spark.experimental.extraOptimizations.contains(SaltedAggregateRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ SaltedAggregateRule
}

/** `spark.sql.extensions=graft.plans.GraftExtensions`: optimizer rule +
  * the `salt_key` SQL function.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => SaltedAggregateRule)
    ext.injectFunction((FunctionIdentifier("salt_key"),
      new ExpressionInfo(classOf[SaltKey].getName, "salt_key"),
      (children: Seq[Expression]) => SaltKey(children.head)))
  }
}
