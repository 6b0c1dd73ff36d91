package graft.plans

import graft.sources.Sources
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{
  Alias, AttributeReference, Coalesce, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Complete, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{
  Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.LongType

/** Opt-in TRANSPARENT MATERIALIZED-VIEW rewrite (the warehouse "query
  * rewrite" feature): when `spark.graft.summaryDir` points at a
  * summary table pre-aggregated at (l_returnflag, l_linestatus,
  * ship_month) granularity, an eligible aggregate over the RAW
  * lineitem scan is redirected to the summary and RE-AGGREGATED —
  * sum rolls up as sum-of-sums, count as sum-of-counts — so the query
  * reads the MV's few dozen rows instead of the fact table. At 100 TB
  * this is the difference between a dashboard query costing a full
  * fact scan and costing a KB read; the layout job that maintains the
  * MV pays the scan ONCE per refresh (`Relational.ensureSummaryLayout`).
  *
  * Deliberately narrow (the ApproxDistinctRewrite discipline), because
  * a wrong MV route silently changes answers: the rule fires only when
  * (a) the child is a bare (possibly column-pruned) parquet scan of a
  * `lineitem` table, (b) EVERY grouping key is a raw MV dimension
  * column, and (c) EVERY aggregate is an unfiltered, non-distinct
  * `sum(l_quantity)` or `count(*)` — the measures the MV carries.
  * Anything else keeps its plan. Result names, exprIds, types and
  * nullability are preserved (count's non-nullability via coalesce
  * around the combining sum), so downstream operators are untouched.
  * The rewrite is EXACT — the MV is a lossless partial aggregation —
  * unlike the approxDistinct knob there is no error trade, only the
  * staleness contract every MV system carries (refresh = rerun the
  * layout job).
  */
object SummaryRewrite extends Rule[LogicalPlan] {

  private val dims = Set("l_returnflag", "l_linestatus")
  private val measureOf = Map("l_quantity" -> "sum_qty")

  private def scanOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case l: LogicalRelation => Some(l)
    case Project(projs, l: LogicalRelation)
        if projs.forall(_.isInstanceOf[AttributeReference]) => Some(l)
    case _ => None
  }

  /** The lineitem scan's root path (scheme-stripped), if the child is
    * a bare (possibly pruned) lineitem parquet scan. */
  private def lineitemRoot(p: LogicalPlan): Option[String] =
    scanOf(p).flatMap(_.relation match {
      case h: HadoopFsRelation =>
        h.location.rootPaths.find(_.getName.startsWith("lineitem"))
          .map(_.toUri.getPath)
      case _ => None
    })

  /** The MV's recorded source table, from the `_MV_SOURCE` sidecar the
    * layout job writes next to the summary parquet. The rule fires
    * ONLY when the scan being rewritten reads exactly that path — a
    * session reading two scale dirs with the flag set must never have
    * one dir's queries silently answered from the other dir's MV.
    * Fail-closed: a summary dir without a sidecar serves nothing. */
  // memoized per summaryDir: the sidecar is immutable once the layout
  // job writes it, and this sits on the optimizer hot path (once per
  // eligible Aggregate per optimization of every query in the session)
  // — driver-side file IO there must happen at most once per dir. Only
  // successful reads are cached: a dir whose sidecar hasn't landed yet
  // stays fail-closed AND re-probed, so a layout job finishing later
  // in the session is still picked up.
  private val mvSourceCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def mvSource(dir: String): Option[String] = {
    Option(mvSourceCache.get(dir)).orElse {
      val f = new java.io.File(dir, "_MV_SOURCE")
      if (f.isFile) {
        val v = new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim
        mvSourceCache.put(dir, v)
        Some(v)
      } else None
    }
  }

  private def eligible(agg: Aggregate): Boolean =
    agg.groupingExpressions.nonEmpty &&
      agg.groupingExpressions.forall {
        case a: AttributeReference => dims(a.name)
        case _ => false
      } &&
      agg.aggregateExpressions.forall {
        case a: AttributeReference => dims(a.name)
        case Alias(a: AttributeReference, _) => dims(a.name)
        case Alias(AggregateExpression(fn, Complete, false, None, _), _) =>
          fn match {
            case s: Sum => s.child match {
              case c: AttributeReference => measureOf.contains(c.name)
              case _ => false
            }
            case c: Count => c.children match {
              case Seq(Literal(1, _)) => true
              case _ => false
            }
            case _ => false
          }
        case _ => false
      } &&
      agg.aggregateExpressions.exists {
        case Alias(_: AggregateExpression, _) => true
        case _ => false
      }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val dir = conf.getConfString("spark.graft.summaryDir", "")
    if (dir.isEmpty) plan
    else plan.transform {
      case agg: Aggregate
          if eligible(agg) &&
            lineitemRoot(agg.child).exists(src =>
              mvSource(dir).contains(src)) =>
        // analyze (not optimize) the MV scan — fresh attribute ids,
        // no optimizer recursion
        val mv = Sources.readParquet(SparkSession.active, dir)
          .queryExecution.analyzed
        val mvOut = mv.output.map(a => a.name -> a).toMap
        val newGroups = agg.groupingExpressions.map {
          case a: AttributeReference => mvOut(a.name)
        }
        def reAgg(fn: org.apache.spark.sql.catalyst.expressions.aggregate
            .AggregateFunction) = fn match {
          case s: Sum =>
            val src = s.child.asInstanceOf[AttributeReference]
            AggregateExpression(Sum(mvOut(measureOf(src.name))),
              Complete, isDistinct = false, filter = None)
          case _: Count =>
            Coalesce(Seq(
              AggregateExpression(Sum(mvOut("cnt")),
                Complete, isDistinct = false, filter = None),
              Literal(0L, LongType)))
          case other =>
            throw new IllegalStateException(s"unreachable: $other")
        }
        val newAggs = agg.aggregateExpressions.map {
          case a: AttributeReference =>
            Alias(mvOut(a.name), a.name)(exprId = a.exprId)
          case al @ Alias(a: AttributeReference, n) =>
            Alias(mvOut(a.name), n)(exprId = al.exprId)
          case al @ Alias(ae: AggregateExpression, n) =>
            Alias(reAgg(ae.aggregateFunction), n)(exprId = al.exprId)
        }
        Aggregate(newGroups, newAggs, mv)
    }
  }
}
