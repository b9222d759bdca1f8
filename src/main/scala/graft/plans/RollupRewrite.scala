package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.{coalesce, col, lit, sum}
import org.apache.spark.sql.graftshim.ColumnShim

/** A registered rollup: `rollupPath` holds `SELECT dims…, count(*) AS
  * cntCol[, sum(m) AS sumCols(m)…] FROM basePath GROUP BY dims…` — the
  * stars-MV shape (reference README.md:256-266) plus optional summable
  * measure states (SummingMergeTree-style partials), maintained by the
  * MV/backfill machinery. `sumCols` maps each base measure column to the
  * rollup column holding its per-group partial sum.
  */
final case class ProjectionDef(basePath: String, rollupPath: String,
                               dims: Seq[String], cntCol: String,
                               sumCols: Map[String, String] = Map.empty)

/** The base a scan reads, as the projection registries key it: a catalog
  * table's log index names its table only when it scans the whole live
  * head (a snapshot, pruned or rewrite-input scan names none); any other
  * file index names its single root path (a multi-path read contains rows
  * a projection of one path never saw).
  */
private[plans] object ScanBase {
  def of(rel: HadoopFsRelation): Option[String] = rel.location match {
    case l: graft.catalog.LogFileIndex => l.liveTable
    case loc if loc.rootPaths.length == 1 => Some(loc.rootPaths.head.toString)
    case _ => None
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
  * Freshness is the caller's contract, as with ClickHouse projections:
  * register a rollup only while it is maintained alongside its base (the
  * Catalog's append path + StarsMv backfill in this repo).
  *
  * Registered through `spark.experimental.extraOptimizations` (the final
  * optimizer batch): [[register]] is idempotent, and the rewritten subtree
  * contains no registered base scan, so re-application is a no-op.
  */
object RollupRewrite extends Rule[LogicalPlan] {

  // a base may carry SEVERAL rollups (CH tables routinely declare several
  // projections); tryRewrite picks the narrowest eligible one
  private val registry = new ConcurrentHashMap[String, Vector[ProjectionDef]]()

  // Fully-qualified URI, not the bare path: two tables at the same path on
  // DIFFERENT filesystems (file:/data/t vs hdfs:/data/t) must not collide
  // in the registry — a scan of one silently answered from the other's
  // rollup would be a wrong-filesystem wrong answer. Scan rootPaths arrive
  // already qualified; registration-time strings qualify here the same way.
  private def canon(p: String): String = {
    val path = new Path(p)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val q = path.getFileSystem(conf).makeQualified(path).toUri
    // normalize the authority: `file:/x` (null authority, how scan
    // rootPaths print) and `file:///x` (empty authority, how makeQualified
    // renders a bare local path) are the same filesystem location
    s"${q.getScheme}://${Option(q.getAuthority).getOrElse("")}${q.getPath}"
  }

  /** Register a projection and install the rule in the session (once).
    * Re-registering the same rollupPath replaces its entry (idempotent);
    * a different rollupPath over the same base ADDS a candidate.
    */
  def register(s: SparkSession, p: ProjectionDef): Unit = {
    registry.compute(canon(p.basePath), (_, cur) =>
      Option(cur).getOrElse(Vector.empty)
        .filterNot(_.rollupPath == p.rollupPath) :+ p)
    if (!s.experimental.extraOptimizations.contains(RollupRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ RollupRewrite
  }

  /** Is any projection currently registered for this base path? */
  def isRegistered(basePath: String): Boolean =
    registry.containsKey(canon(basePath))

  /** Deregister a base's projections (all of them, or just the one at
    * `rollupPath`). REQUIRED before rebuilding a rollup in the same
    * session: a rebuild query (count over the base grouped by the dims)
    * is itself rewrite-eligible, and answering it from the rollup file
    * being overwritten would read and destroy the same path.
    */
  def unregister(basePath: String, rollupPath: Option[String] = None): Unit =
    rollupPath match {
      case None => registry.remove(canon(basePath))
      case Some(rp) =>
        registry.computeIfPresent(canon(basePath), (_, cur) =>
          cur.filterNot(_.rollupPath == rp) match {
            case v if v.isEmpty => null
            case v => v
          })
    }

  /** Test hook: forget every registered projection. */
  def clear(): Unit = registry.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transformDown {
      case agg: Aggregate => tryRewrite(agg).getOrElse(agg)
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
                       proj: ProjectionDef): Boolean = {
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
      base <- ScanBase.of(rel.relation.asInstanceOf[HadoopFsRelation])
      cands <- Option(registry.get(canon(base)))
      // among the base's registered rollups, the NARROWEST eligible one
      // (fewest dims = fewest groups = smallest companion scan) wins
      proj <- cands.filter(eligible(agg, filters, _))
        .sortBy(_.dims.length).headOption
      dims = proj.dims.toSet
    } yield (filters, proj, dims)

    candidate.flatMap { case (filters, proj, dims) =>
      // any failure past this point (rollup dir deleted, stale rollup
      // missing a dim column) must degrade to "leave the plan alone" —
      // an optimizer rule that throws fails an otherwise-valid query
      try {
        val spark = SparkSession.active
        var df = spark.read.parquet(proj.rollupPath)
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
