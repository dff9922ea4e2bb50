package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.types.DoubleType

/** Materialized-view ROLLUP REWRITE — the serve side of the engine's
  * incremental-view story (q114 maintains aggregates incrementally;
  * this rule makes user queries USE them without being rewritten by
  * hand — the lakehouse `OPTIMIZE`/MV-routing feature, re-expressed as
  * a Catalyst optimizer rule).
  *
  * A registered MV is a persisted aggregate of a base table at FINER
  * grouping grain (e.g. per (flag, status, ship-date) with count/sum/
  * min/max). Any user aggregate over the base table whose grouping
  * keys are a SUBSET of the MV's grain and whose aggregates are
  * derivable from the MV's columns re-aggregates the MV instead:
  *
  *  - `count(*)`  → `sum(mv.cnt)`   (0-coalesced for the global case)
  *  - `sum(x)`    → `sum(mv.sum_x)`
  *  - `min(x)`    → `min(mv.min_x)` , `max(x)` → `max(mv.max_x)`
  *  - `avg(x)`    → `sum(mv.sum_x) / sum(mv.cnt_x)` — SYNTHESIZED,
  *    and only when the MV carries x's NON-NULL count (`count(x)`,
  *    not `count(*)` — `avg` ignores NULLs, so dividing by the row
  *    count would be wrong on a nullable column). Double-typed only;
  *    re-associating partial sums can differ from the direct plan in
  *    the last ulp — the same caveat `sum(double)` rollups already
  *    carry.
  *
  * At 100 TB the base scan is the dominant cost of every dashboard
  * rollup; the MV is O(grain) rows, so a served query reads orders of
  * magnitude less.
  *
  * Staleness: the spec does NOT capture an MV plan at registration —
  * a frozen plan would pin the registering session's file index and
  * silently serve pre-append data after the base table changes (the
  * process-global-handle failure mode the IndexStore exists to kill).
  * Instead the spec stores the ARTIFACT COORDINATES (warehouse dir and
  * artifact spec), and [[apply]] re-resolves the artifact AT PLAN TIME
  * through [[graft.observe.IndexStore.readIfCurrent]]: the current
  * base fingerprint must have a published, chain-intact artifact or
  * the rule leaves the query on the base table — stale serve is
  * structurally impossible, and the failure direction is "slower,
  * correct". The price is one `ls -R` of the base path per candidate
  * rewrite — metadata-class, amortized trivially against the scan it
  * replaces (and paid only by queries that actually match a
  * registered base).
  *
  * Type safety: a rolled-up aggregate must have EXACTLY the original
  * aggregate's data type or the rule bails — e.g. `sum` over a
  * decimal base is `decimal(p+10, s)` while re-summing the MV's sums
  * widens to `decimal(p+20, s)`; serving that would change the user
  * query's output schema (round-4 verdict #3).
  *
  * Safety: the rule fires only on the exact shape — grouping
  * expressions are bare base-table columns within the MV grain;
  * every aggregate is an undistinct, unfiltered
  * count(*)/sum/min/max/avg of a covered column; the child is the
  * base relation (optionally under a pure-attribute Project, the
  * column-pruning residue); a Filter in between must touch only grain
  * columns (a slice on a grain dimension selects whole MV rows).
  * Anything else — other tables, other functions, expressions inside
  * aggregates, DISTINCT, FILTER clauses — leaves the plan untouched.
  * Registered via `spark.experimental.extraOptimizations` (the
  * public post-batch hook, same slot as [[TopOnePerKey]]).
  */
object MvRewrite extends Rule[LogicalPlan] {

  /** One registered view: the warehouse dir, the IndexStore artifact
    * it is served from (its table is the base table; re-resolved per
    * apply — never a frozen plan), the MV grain, and the base→MV column
    * maps per aggregate kind. `nonNullCntCols` maps a base column to
    * the MV column holding its `count(x)` — the denominator `avg`
    * synthesis needs. */
  case class Spec(
      dir: String,
      artifact: graft.observe.ArtifactSpec,
      groupCols: Set[String],
      cntCol: String,
      sumCols: Map[String, String],
      minCols: Map[String, String],
      maxCols: Map[String, String],
      nonNullCntCols: Map[String, String] = Map.empty) {
    def basePath: String = artifact.source(dir)
  }

  /** Registry keyed by the base table's normalized path. */
  private[plans] val specs = new ConcurrentHashMap[String, Spec]()

  def register(spec: Spec): Unit =
    specs.put(normalize(spec.basePath), spec)

  private def normalize(p: String): String = new Path(p).toUri.getPath

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (specs.isEmpty) plan
    else plan.transformUp {
      case agg @ Aggregate(groups, aggExprs, child, _) =>
        baseRelationOf(child)
          .flatMap { case (spec, cond) =>
            rewrite(agg, groups, aggExprs, spec, cond) }
          .getOrElse(agg)
    }

  /** The artifact currently serving `spec.basePath`'s LIVE state, as a
    * freshly analyzed plan — None when the base changed since the last
    * build (or the artifact was reclaimed/torn), which makes the rule
    * fall back to the base table. Resolved per rewrite attempt so no
    * session, file index, or fingerprint is ever frozen into the
    * registry. */
  private def resolveMv(spec: Spec): Option[LogicalPlan] =
    SparkSession.getActiveSession.flatMap { s =>
      graft.observe.IndexStore.readIfCurrent(s, spec.artifact, spec.dir)
        .map(_.queryExecution.analyzed)
    }

  /** The registered base relation under `child`, tolerating the
    * column-pruning Project (pure attributes only — an expression in
    * between could alias a computed value the MV cannot supply) and a
    * Filter whose predicate touches ONLY grain columns (a slice on a
    * grain dimension selects whole MV rows, so it pushes through the
    * rollup exactly; any other predicate references detail the MV
    * lost — bail). Returns the spec plus the translatable residual
    * predicate. */
  private def baseRelationOf(
      child: LogicalPlan): Option[(Spec, Option[Expression])] = child match {
    case l: LogicalRelation => specFor(l).map((_, None))
    case Project(projList, inner)
        if projList.forall(_.isInstanceOf[AttributeReference]) =>
      baseRelationOf(inner)
    case Filter(cond, inner) if cond.deterministic =>
      baseRelationOf(inner).flatMap {
        case (spec, None)
            if cond.references.forall(a => spec.groupCols(a.name)) =>
          Some((spec, Some(cond)))
        case _ => None // stacked filters collapse before this rule runs
      }
    case _ => None
  }

  private def specFor(l: LogicalRelation): Option[Spec] = l.relation match {
    case fs: HadoopFsRelation =>
      fs.location.rootPaths.headOption
        .flatMap(p => Option(specs.get(normalize(p.toString))))
    case _ => None
  }

  private def rewrite(
      agg: Aggregate,
      groups: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      spec: Spec,
      cond: Option[Expression]): Option[LogicalPlan] = {
    // Grouping keys: bare columns inside the MV grain. Checked BEFORE
    // resolving the artifact so non-candidates never pay the listing.
    val groupAttrs = groups.map {
      case a: AttributeReference if spec.groupCols(a.name) => a
      case _ => return None
    }

    val mvPlan = resolveMv(spec).getOrElse(return None)
    val mvAttr: Map[String, Attribute] =
      mvPlan.output.map(a => a.name -> a).toMap
    // the registered maps must resolve against the artifact's actual
    // schema (an older-generation artifact could miss a column)
    def mv(name: String): Option[Attribute] = mvAttr.get(name)

    // Each output: a grouping passthrough or a derivable aggregate.
    val newAggExprs = aggExprs.map {
      case a: AttributeReference if spec.groupCols(a.name) =>
        Alias(mv(a.name).getOrElse(return None), a.name)(exprId = a.exprId)
      case al @ Alias(a: AttributeReference, name) if spec.groupCols(a.name) =>
        Alias(mv(a.name).getOrElse(return None), name)(exprId = al.exprId)
      case al @ Alias(
          orig @ AggregateExpression(f, Complete, false, None, _), name) =>
        val rolled: Expression = f match {
          case Count(Seq(Literal(1, _))) =>
            // count can never be NULL: coalesce covers the global
            // (group-less) aggregate over an empty MV
            Coalesce(Seq(
              Sum(mv(spec.cntCol).getOrElse(return None))
                .toAggregateExpression(),
              Literal(0L)))
          case Sum(a: AttributeReference, _) if spec.sumCols.contains(a.name) =>
            Sum(mv(spec.sumCols(a.name)).getOrElse(return None))
              .toAggregateExpression()
          case Min(a: AttributeReference) if spec.minCols.contains(a.name) =>
            Min(mv(spec.minCols(a.name)).getOrElse(return None))
              .toAggregateExpression()
          case Max(a: AttributeReference) if spec.maxCols.contains(a.name) =>
            Max(mv(spec.maxCols(a.name)).getOrElse(return None))
              .toAggregateExpression()
          case Average(a: AttributeReference, _)
              if a.dataType == DoubleType &&
                spec.sumCols.contains(a.name) &&
                spec.nonNullCntCols.contains(a.name) =>
            // avg(x) = sum(x) / count(x) — the NON-NULL count, so the
            // synthesis is exact on nullable columns too
            Divide(
              Sum(mv(spec.sumCols(a.name)).getOrElse(return None))
                .toAggregateExpression(),
              Cast(
                Sum(mv(spec.nonNullCntCols(a.name)).getOrElse(return None))
                  .toAggregateExpression(),
                DoubleType))
          case _ => return None
        }
        // the rolled aggregate must keep the user query's output type
        // exactly (decimal sums widen on re-aggregation — bail, don't
        // change the schema out from under the caller)
        if (rolled.dataType != orig.dataType) return None
        Alias(rolled, name)(exprId = al.exprId)
      case _ => return None
    }

    // same discipline as the aggregate outputs: every grain column and
    // every attribute inside the pushed-through Filter must exist in
    // the RESOLVED artifact's schema — an older-generation artifact
    // missing one means "fall back to the base table", not an
    // optimizer-time NoSuchElementException that fails the user query
    val newGroups = groupAttrs.map(a => mv(a.name).getOrElse(return None))
    val source = cond match {
      case Some(c) =>
        if (!c.references.forall(a => mvAttr.contains(a.name))) return None
        Filter(c.transform {
          case a: AttributeReference => mvAttr(a.name)
        }, mvPlan)
      case None => mvPlan
    }
    Some(Aggregate(newGroups, newAggExprs, source))
  }
}

/** Build-and-register lifecycle for the shipped lineitem daily MV —
  * grain (l_returnflag, l_linestatus, ship day), covering count,
  * sum(l_quantity) (+ its non-null count, the `avg` denominator),
  * min/max(l_extendedprice). The artifact lives in the
  * [[graft.observe.IndexStore]] (content-addressed to the base files,
  * retained, rebuild-on-change) and is re-resolved by [[MvRewrite]]
  * at every plan — registration wires coordinates, never a plan.
  * Registration also installs [[MvRewrite]] into
  * `spark.experimental.extraOptimizations` once per session. */
object MvCatalog {
  import org.apache.spark.sql.functions._

  /** Artifact version 2: adds `cnt_qty` (non-null count of
    * l_quantity) for avg synthesis — bumping the version retires any
    * v1 artifact without the column.
    *
    * SEGMENTED (E157 rollout): the MV is PARTIAL aggregates under a
    * re-aggregation fold — every consumer ([[MvRewrite]]'s rewritten
    * plans) re-aggregates the artifact anyway (sum of cnt/sums, min of
    * mins, avg synthesized from sums), so a chain holding one partial
    * row per (grain, segment) folds to the identical answer:
    * file-decomposable AS CONSUMED. An append rolls up only the added
    * files; a base-table DELETE excises only the touched segments. */
  private[graft] val lineitemDailySpec: graft.observe.ArtifactSpec =
    graft.observe.ArtifactSpec("mv_lineitem_daily", 2, "lineitem",
      graft.observe.Decomp.Segmented((s, _) => files => graft.Tables.scan(s, files)
        .groupBy(col("l_returnflag"), col("l_linestatus"),
          to_date(col("l_shipdate")).as("ship_day"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("l_quantity")).as("sum_qty"),
          count(col("l_quantity")).as("cnt_qty"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price"))))

  def registerLineitemDaily(s: SparkSession, dir: String): DataFrame = {
    val mv = graft.observe.IndexStore.read(s, lineitemDailySpec, dir)
    MvRewrite.register(MvRewrite.Spec(
      dir = dir,
      artifact = lineitemDailySpec,
      groupCols = Set("l_returnflag", "l_linestatus"),
      cntCol = "cnt",
      sumCols = Map("l_quantity" -> "sum_qty"),
      minCols = Map("l_extendedprice" -> "min_price"),
      maxCols = Map("l_extendedprice" -> "max_price"),
      nonNullCntCols = Map("l_quantity" -> "cnt_qty")))
    if (!s.experimental.extraOptimizations.contains(MvRewrite)) {
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ MvRewrite
    }
    mv
  }
}
