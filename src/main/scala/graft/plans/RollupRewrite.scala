package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import org.apache.spark.sql.graftshim.ColumnShim
import graft.catalog.{AggProjection, Companion, LogFileIndex}

/** A registered raw-path rollup: `rollupPath` holds `SELECT dims…,
  * count(*) AS cntCol[, sum(m) AS sumCols(m)…] FROM basePath GROUP BY
  * dims…` — the stars-MV shape (reference README.md:256-266) plus optional
  * summable measure states (SummingMergeTree-style partials), maintained
  * by the MV/backfill machinery. `sumCols` maps each base measure column
  * to the rollup column holding its per-group partial sum. A catalog
  * table's declared projections are never registered: its live scan
  * carries them ([[LogFileIndex.companions]]).
  */
final case class ProjectionDef(basePath: String, rollupPath: String,
                               dims: Seq[String], cntCol: String,
                               sumCols: Map[String, String] = Map.empty)

/** The two projection rules in a session's final optimizer batch, and
  * where they find the candidates for a scan: a catalog table's log index
  * carries the companions of its live head (a snapshot, pruned or
  * rewrite-input scan carries none); any other file index is looked up by
  * its single root path in the raw-path registries (a multi-path read
  * contains rows a projection of one path never saw).
  */
object ProjectionRules {
  /** Install both rules in `s`, once: a catalog table that declares
    * projections needs nothing more.
    */
  def install(s: SparkSession): Unit = Seq(RollupRewrite, SortedProjectionRewrite).foreach(add(s, _))

  private[plans] def add(s: SparkSession, r: Rule[LogicalPlan]): Unit = synchronized {
    if (!s.experimental.extraOptimizations.contains(r))
      s.experimental.extraOptimizations = s.experimental.extraOptimizations :+ r
  }

  /** The candidates of a scan: those `catalog` makes of a catalog
    * scan's companions, or the ones `registry` holds for the root of
    * another (qualified only while it holds anything).
    */
  private[plans] def of[C](loc: FileIndex, registry: ConcurrentHashMap[String, Vector[C]])(
      catalog: PartialFunction[Companion, C]): Seq[C] = loc match {
    case l: LogFileIndex => l.companions.collect(catalog)
    case _ if loc.rootPaths.length == 1 && !registry.isEmpty =>
      Option(registry.get(canon(loc.rootPaths.head.toString))).toSeq.flatten
    case _ => Nil
  }

  // Fully-qualified URI, not the bare path: two tables at the same path on
  // DIFFERENT filesystems (file:/data/t vs hdfs:/data/t) must not collide
  // in a registry — a scan of one silently answered from the other's
  // projection would be a wrong-filesystem wrong answer. Scan rootPaths
  // arrive already qualified; registration-time strings qualify here the
  // same way.
  private[plans] def canon(p: String): String = {
    val path = new Path(p)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val q = path.getFileSystem(conf).makeQualified(path).toUri
    // normalize the authority: `file:/x` (null authority, how scan
    // rootPaths print) and `file:///x` (empty authority, how makeQualified
    // renders a bare local path) are the same filesystem location
    s"${q.getScheme}://${Option(q.getAuthority).getOrElse("")}${q.getPath}"
  }
}

/** ClickHouse-PROJECTION analog: automatic rollup selection as a Catalyst
  * optimizer rule (reference engine feature class; clickhub's
  * `github_stars_mv` is the manual version of exactly this rewrite).
  *
  * A count aggregate over a base table whose grouping columns and filter
  * columns are all projection dimensions is answered from the
  * pre-aggregated rollup instead — `count(*)` becomes `sum(cnt)` over a
  * table that is orders of magnitude smaller. At 100 TB this is the
  * difference between scanning the event log and scanning its rollup; the
  * rewrite is what makes stored MVs pay off without queries opting in.
  *
  * Soundness gates (all conservative — any miss leaves the plan alone):
  *   - the scan chain down to the base relation is only column-pruning
  *     `Project`s and `Filter`s;
  *   - every filter references projection dimensions only (a filter on a
  *     non-dim column cannot be evaluated post-aggregation);
  *   - every grouping expression is a bare dimension attribute;
  *   - every aggregate is a non-distinct `count(literal)` (`count(*)` /
  *     `count(1)` — the summable-partial-state case; `count(x)` skips
  *     nulls and is NOT derivable from a count rollup);
  *   - output names and exprIds are preserved via a top-level Project, so
  *     parent operators (sorts, joins) are untouched.
  *
  * Freshness: a catalog companion is listed in the same log entry as
  * the data it summarizes, so a live scan's companions always match its
  * files; a raw-path rollup is the registrant's contract, as with
  * ClickHouse projections — register it only while it is maintained
  * alongside its base (StarsMv backfill in this repo).
  *
  * Runs in `spark.experimental.extraOptimizations` (the final optimizer
  * batch, [[ProjectionRules]]): [[register]] is idempotent, and the
  * rewritten subtree contains no candidate scan, so re-application is a
  * no-op.
  */
object RollupRewrite extends Rule[LogicalPlan] {

  // a base may carry SEVERAL rollups (CH tables routinely declare several
  // projections); tryRewrite picks the narrowest eligible one
  private val registry = new ConcurrentHashMap[String, Vector[Rollup]]()

  /** One rollup a scan may be answered from: its dims, count column,
    * measure partial columns and its rows (`path` names a raw one).
    */
  private final case class Rollup(dims: Seq[String], cntCol: String, sumCols: Map[String, String],
                                  rows: SparkSession => DataFrame, path: String = "")

  /** Register a raw-path rollup and install the rule in the session
    * (once). Re-registering the same rollupPath replaces its entry
    * (idempotent); a different rollupPath over the same base ADDS a
    * candidate. Build the rollup before registering it: its build query is
    * itself rewrite-eligible.
    */
  def register(s: SparkSession, p: ProjectionDef): Unit = {
    registry.compute(ProjectionRules.canon(p.basePath), (_, cur) =>
      Option(cur).getOrElse(Vector.empty).filterNot(_.path == p.rollupPath) :+
        Rollup(p.dims, p.cntCol, p.sumCols, _.read.parquet(p.rollupPath), p.rollupPath))
    ProjectionRules.add(s, this)
  }

  /** Is any rollup currently registered for this base path? */
  def isRegistered(basePath: String): Boolean =
    registry.containsKey(ProjectionRules.canon(basePath))

  /** Test hook: forget every registered rollup. */
  def clear(): Unit = registry.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
    }

  private def candidates(rel: HadoopFsRelation): Seq[Rollup] = ProjectionRules.of(rel.location, registry) {
    case c @ Companion(p: AggProjection, _, _, _) =>
      Rollup(p.dims, p.cntCol, p.sumCols.map(m => m -> p.sumCol(m)).toMap, c.frame)
  }

  /** Unwrap pruning Projects / Filters down to a parquet scan, collecting
    * filter conditions. Anything else (joins, windows, non-attribute
    * projections) disqualifies the subtree.
    */
  private def unwrap(plan: LogicalPlan,
                     filters: List[Expression]): Option[(List[Expression], LogicalRelation)] =
    plan match {
      case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
        unwrap(child, filters)
      case Filter(cond, child) => unwrap(child, cond :: filters)
      case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
        Some((filters, r))
      case _ => None
    }

  private def isCountLiteral(e: Expression): Boolean = e match {
    case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
      ae.aggregateFunction match {
        // NON-NULL literals only: count(NULL) is 0 for every group, not
        // the group's row count — rewriting it to sum(cnt) would be a
        // silent wrong answer
        case Count(children) => children.forall {
          case l: Literal => l.value != null
          case _ => false
        }
        case _ => false
      }
    case _ => false
  }

  /** The base measure name when `e` is a plain `sum(measure)` the rollup
    * carries a partial for (sum of per-group partial sums ≡ the total:
    * re-association only, same summed type).
    */
  private def sumMeasure(e: Expression, sumCols: Map[String, String]): Option[String] =
    e match {
      case ae: AggregateExpression if !ae.isDistinct && ae.filter.isEmpty =>
        ae.aggregateFunction match {
          case org.apache.spark.sql.catalyst.expressions.aggregate.Sum(a: AttributeReference, _)
              if sumCols.contains(a.name) => Some(a.name)
          case _ => None
        }
      case _ => None
    }

  /** Attribute references NOT under any AggregateExpression — the
    * grouping-attr occurrences inside an output expression.
    */
  private def nonAggRefs(e: Expression): Seq[AttributeReference] = e match {
    case _: AggregateExpression => Nil
    case a: AttributeReference => Seq(a)
    case other => other.children.flatMap(nonAggRefs)
  }

  /** Can `proj` answer this aggregate? Every filter must be DETERMINISTIC
    * (a rand() filter has an empty reference set — replaying it per
    * rollup GROUP would sample whole groups instead of base rows) and
    * reference only projection dims; every grouping expression a bare
    * dim; every output a bare/aliased dim or ANY expression over eligible
    * aggregates — count(literal) and rollup-carried sums — whose
    * non-aggregate attribute references are all dims (so round(sum(x), 2),
    * sum(x)/count(*), … all qualify).
    */
  private def eligible(agg: Aggregate, filters: List[Expression],
                       proj: Rollup): Boolean = {
    val dims = proj.dims.toSet
    filters.forall(f =>
      f.deterministic && f.references.forall(a => dims(a.name))) &&
    agg.groupingExpressions.forall {
      case a: AttributeReference => dims(a.name)
      case _ => false
    } &&
    agg.aggregateExpressions.forall {
      case a: AttributeReference => dims(a.name)
      case al: Alias =>
        val aggs = al.child.collect { case ae: AggregateExpression => ae }
        aggs.forall(ae =>
          isCountLiteral(ae) || sumMeasure(ae, proj.sumCols).isDefined) &&
          nonAggRefs(al.child).forall(a => dims(a.name))
      case _ => false
    }
  }

  private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
    val candidate = for {
      (filters, rel) <- unwrap(agg.child, Nil)
      // among the base's rollups, the NARROWEST eligible one (fewest dims
      // = fewest groups = smallest companion scan) wins
      proj <- candidates(rel.relation.asInstanceOf[HadoopFsRelation])
        .filter(eligible(agg, filters, _))
        .sortBy(_.dims.length).headOption
      dims = proj.dims.toSet
    } yield (filters, proj, dims)

    candidate.flatMap { case (filters, proj, dims) =>
      // any failure past this point (rollup dir deleted, stale rollup
      // missing a dim column) must degrade to "leave the plan alone" —
      // an optimizer rule that throws fails an otherwise-valid query
      try {
        val spark = SparkSession.active
        var df = proj.rows(spark)
        val byName = df.queryExecution.analyzed.output.map(a => a.name -> a).toMap
        // the distinct aggregates this query needs, each mapped to one
        // rolled column: count(literal) → sum(cnt), sum(m) → sum(sum_m)
        val neededAggs: Seq[AggregateExpression] = agg.aggregateExpressions
          .flatMap(_.collect { case ae: AggregateExpression => ae })
          .foldLeft(Vector.empty[AggregateExpression])((acc, ae) =>
            if (acc.exists(_.semanticEquals(ae))) acc else acc :+ ae)
        val measures = neededAggs.flatMap(sumMeasure(_, proj.sumCols)).distinct
        val neededCols = dims + proj.cntCol ++ measures.map(proj.sumCols)
        if (!neededCols.forall(byName.contains)) None
        else {
          // replay the dim filters against the rollup's attributes (by name)
          filters.foreach { c =>
            df = df.filter(ColumnShim.column(c.transform {
              case a: AttributeReference => byName(a.name)
            }))
          }
          val groupCols = agg.groupingExpressions.map {
            case a: AttributeReference => col(a.name)
          }
          // count(*) over the base ≡ sum(cnt) over the rollup, and
          // sum(measure) ≡ sum of its per-group partials (rollup rows
          // partition the base rows; re-association only). coalesce on
          // the count: an UNGROUPED count over zero surviving rollup rows
          // must yield 0, where sum alone yields null
          val rolledCols = neededAggs.zipWithIndex.map { case (ae, i) =>
            val c = sumMeasure(ae, proj.sumCols) match {
              // cast back to the ORIGINAL aggregate's type: Spark widens
              // sum-of-decimal precision per level (sum(m): decimal(p+10,s),
              // sum(sum_m): decimal(p+20,s)), and past precision 18 the
              // UnsafeRow encoding flips long-backed → byte-array while
              // parents' attribute refs still carry the old type — the
              // exprId-pinned Alias would expose garbage downstream. For
              // type-stable measures (long, double) the cast is a no-op.
              case Some(m) => sum(col(proj.sumCols(m))).cast(ae.dataType)
              case None =>
                coalesce(sum(col(proj.cntCol)).cast("long"), lit(0L))
            }
            c.as(s"__rollup_$i")
          }
          // grouping-only aggregates (SELECT DISTINCT dims / GROUP BY
          // dims with no measures) are answerable too: the rollup's dim
          // rows cover the base's distinct dims. A groupBy (not
          // .distinct()) because the companion may hold per-block PARTIAL
          // rows per group AND because this rule runs in the FINAL
          // optimizer batch — a Deduplicate node injected here would
          // never meet ReplaceDeduplicateWithAggregate again. The dummy
          // count is dropped by the aligning Project below.
          val rolled =
            if (neededAggs.isEmpty) df.groupBy(groupCols: _*)
              .agg(coalesce(sum(lit(0L)), lit(0L)).as("__rollup_drop"))
            else df.groupBy(groupCols: _*)
              .agg(rolledCols.head, rolledCols.tail: _*)
          val analyzed = rolled.queryExecution.analyzed
          val outByName = analyzed.output.map(a => a.name -> a).toMap
          // rebuild each output expression over the rollup: aggregates
          // swap for their rolled column, dim attrs rebind by name, and
          // the original names AND exprIds are pinned so parents are
          // untouched
          val aligned: Seq[NamedExpression] = agg.aggregateExpressions.map {
            case a: AttributeReference =>
              Alias(outByName(a.name), a.name)(exprId = a.exprId)
            case al: Alias =>
              val rebuilt = al.child.transform {
                case ae: AggregateExpression =>
                  val i = neededAggs.indexWhere(_.semanticEquals(ae))
                  outByName(s"__rollup_$i")
                // dims inside an output EXPRESSION must bind to the
                // post-groupBy attributes: Spark currently keeps grouping
                // exprIds stable through groupBy (making the scan attr
                // equivalent), but that invariant is implicit — prefer the
                // aggregate's own output, fall back to the scan attr
                case a: AttributeReference =>
                  outByName.getOrElse(a.name, byName(a.name))
              }
              Alias(rebuilt, al.name)(exprId = al.exprId)
          }
          Some(Project(aligned, analyzed))
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"RollupRewrite: leaving plan alone (${e.getMessage})")
          None
      }
    }
  }
}
