package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, Cast, ExprId, Expression, Literal, NamedExpression, TruncTimestamp}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, SubqueryAlias, View}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.unsafe.types.UTF8String

/** Transparent materialized-view routing for the meter rollup hierarchy
  * (SURVEY §4.2's deferred rewrite `Rule`; reference grain tables at
  * /root/reference/setup_and_notes.txt:16-44).
  *
  * The reference maintains second/minute/hour/day tables and expects readers
  * to pick the right one by hand. [[graft.meter.MeterStore.energyReport]] does
  * that at the API layer; this rule does it inside Catalyst, so ANY
  * aggregation over the raw grain — DataFrame or SQL — is rewritten to scan
  * the coarsest registered rollup that still answers it exactly. At 100 TB
  * that turns a full raw-table scan (~46 KB/row) into a scan of a table four
  * to five orders of magnitude smaller, with zero query changes.
  *
  * Soundness: a rewrite fires only when every aggregate is a plain
  * `SUM(joules)` (sum is associative over pre-aggregated partials), grouping
  * keys are a subset of {said, date_trunc(g, datetime)} with g no finer than
  * the routed grain (day-aligned grains week/month/quarter/year route to
  * day), and any residual filter references only `said` (meter selection
  * commutes with time aggregation; time predicates do not, so they block
  * routing).
  */
object RollupRouting {

  /** Stored grains, fine to coarse; a grain's index is its level. */
  private[graft] val storedGrains = Vector("second", "minute", "hour", "day")

  /** Stored grain → position in the fine-to-coarse chain. */
  private[plans] val storedLevel = storedGrains.zipWithIndex.toMap

  /** Query grain (a lower-cased `date_trunc` unit) → coarsest stored
    * level that answers it exactly. week/month/quarter/year truncation
    * boundaries are day-aligned. millisecond/microsecond are absent: no
    * stored table answers a grain finer than a second. */
  private[graft] val queryLevel = Map(
    "second" -> 0, "minute" -> 1, "hour" -> 2, "day" -> 3, "dd" -> 3,
    "week" -> 3, "month" -> 3, "mon" -> 3, "mm" -> 3,
    "quarter" -> 3, "year" -> 3, "yyyy" -> 3, "yy" -> 3)

  private[plans] final case class Entry(grain: String, level: Int, plan: LogicalPlan)

  private val catalogs = new ConcurrentHashMap[SparkSession, Seq[Entry]]()

  /** Register the grain hierarchy for `spark`. Keys are grain names
    * ("second"/"minute"/"hour"/"day"); values the corresponding tables
    * (schema ⊇ said, datetime, joules). Call after the frames are built —
    * the rule only rewrites plans analyzed after installation. */
  def install(spark: SparkSession, tables: Map[String, DataFrame]): Unit =
    catalogs.put(spark, tables.toSeq
      .flatMap { case (g, df) =>
        storedLevel.get(g).map(l => Entry(g, l, df.queryExecution.analyzed))
      }
      .sortBy(-_.level))

  def uninstall(spark: SparkSession): Unit = catalogs.remove(spark)

  private[plans] def catalogFor(spark: SparkSession): Seq[Entry] =
    catalogs.getOrDefault(spark, Nil)
}

/** `SparkSessionExtensions` installer: `builder.withExtensions(new
  * GraftExtensions)` or `spark.sql.extensions=graft.plans.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    ext.injectPostHocResolutionRule(RouteToRollup.apply)
}

/** The rewrite itself. Runs post-hoc in the analyzer (plans still carry
  * their view structure and have not been mutated by the optimizer, so
  * `sameResult` against the registered frames is reliable). */
case class RouteToRollup(session: SparkSession) extends Rule[LogicalPlan] {
  import RollupRouting._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val catalog = catalogFor(session)
    if (catalog.isEmpty) plan
    // Top-down, so an aggregate OVER a rollup view routes before the view's
    // own defining aggregate is considered; the sameResult guard keeps the
    // defining plans themselves (and the entry subtrees we substitute in)
    // from being rewritten into self-references.
    else plan.transformDown {
      case agg: Aggregate if agg.resolved &&
          !catalog.exists(_.plan.sameResult(agg)) =>
        route(agg, catalog).getOrElse(agg)
    }
  }

  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => strip(c)
    case v: View => strip(v.child)
    case other => other
  }

  private def stripAlias(e: Expression): Expression = e match {
    case a: Alias => stripAlias(a.child)
    case other => other
  }

  /** SUM argument must be the joules column itself (modulo casts): only
    * then does sum-over-partials equal sum-over-raw. */
  private def sumChildOk(e: Expression): Boolean = e match {
    case a: AttributeReference => a.name == "joules"
    case c: Cast => sumChildOk(c.child)
    case _ => false
  }

  private def route(agg: Aggregate, catalog: Seq[Entry]): Option[LogicalPlan] = {
    // Child must be a registered grain table, optionally under a
    // meter-selection filter.
    val (filterCond, base) = strip(agg.child) match {
      case Filter(cond, c) => (Some(cond), strip(c))
      case b => (None, b)
    }
    if (filterCond.exists(c => !c.references.forall(_.name == "said"))) return None
    val cur = catalog.find(_.plan.sameResult(base)).getOrElse(return None)

    // Grain demanded by the grouping keys (MaxValue = unconstrained).
    var needed = Int.MaxValue
    agg.groupingExpressions.map(stripAlias).foreach {
      case a: AttributeReference if a.name == "said" => ()
      case TruncTimestamp(Literal(fmt: UTF8String, _), t, _)
          if stripAlias(t).isInstanceOf[AttributeReference] &&
            stripAlias(t).asInstanceOf[AttributeReference].name == "datetime" =>
        needed = math.min(needed,
          queryLevel.getOrElse(fmt.toString.toLowerCase, return None))
      case _ => return None
    }
    if (needed == Int.MaxValue) needed = storedLevel("day")

    // Every aggregate function must be a plain (non-distinct, unfiltered)
    // SUM over joules.
    val sumsOk = agg.aggregateExpressions.forall { ne =>
      ne.collect { case ae: AggregateExpression => ae }.forall { ae =>
        !ae.isDistinct && ae.filter.isEmpty && (ae.aggregateFunction match {
          case s: Sum => sumChildOk(s.child)
          case _ => false
        })
      }
    }
    if (!sumsOk) return None

    val target = catalog
      .find(e => e.level <= needed && e.level > cur.level)
      .getOrElse(return None) // catalog is sorted coarse→fine

    // Remap base attributes to the target table's by name; keep the
    // aggregate's OUTPUT exprIds stable (parents reference them) by
    // re-aliasing pass-through attributes under their old ids.
    val byName = target.plan.output.map(a => a.name -> a).toMap
    val mapping: Map[ExprId, Attribute] = base.output
      .flatMap(old => byName.get(old.name).map(old.exprId -> _)).toMap
    val referenced = agg.references ++ filterCond.toSeq.flatMap(_.references)
    if (!referenced.forall(a => mapping.contains(a.exprId))) return None

    def remap(e: Expression): Expression =
      e.transform { case a: AttributeReference => mapping.getOrElse(a.exprId, a) }

    val newChild = filterCond
      .map(c => Filter(remap(c), target.plan): LogicalPlan)
      .getOrElse(target.plan)
    val newAggExprs = agg.aggregateExpressions.map { ne =>
      remap(ne) match {
        case a: Attribute if a.exprId != ne.exprId =>
          Alias(a, ne.name)(exprId = ne.exprId, qualifier = ne.qualifier)
        case other => other.asInstanceOf[NamedExpression]
      }
    }
    Some(agg.copy(
      groupingExpressions = agg.groupingExpressions.map(remap),
      aggregateExpressions = newAggExprs,
      child = newChild))
  }
}
