package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, BinaryComparison, EqualNullSafe, Expression, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import graft.catalog.{Companion, SortProjection}

/** A registered raw-path SORTED projection: `sortedPath` holds the SAME
  * rows as `basePath`, re-clustered on `sortKey` (ClickHouse's
  * `PROJECTION p (SELECT * ORDER BY key)` — the alternate-sort-order
  * half of the projection feature; [[ProjectionDef]]/[[RollupRewrite]]
  * is the aggregate half). Maintained alongside the base by whoever
  * registers it, same freshness contract as rollups; a catalog table's
  * declared sorted projection rides on its live scan instead.
  */
final case class SortedProjectionDef(basePath: String, sortedPath: String,
                                     sortKey: String)

/** Answer selective scans from the copy whose layout can actually skip:
  * a base clustered on key A gives row-group min/max pruning only for A —
  * a point/range lookup on column B scans every file. When a registered
  * sorted projection on B exists and the scan carries a deterministic
  * selective predicate on B, the base relation is swapped for the
  * projection relation (exprIds pinned through an aliasing Project, so
  * every parent — the Filter itself included — is untouched and the
  * predicate now pushes into a scan whose min/max stats match it).
  *
  * Soundness: the projection holds IDENTICAL rows, only physically
  * reordered, and SQL results are order-free — so the swap is safe for
  * any plan shape; the gates below are about PROFIT and degradation:
  *   - only scans reached through pruning Projects/Filters (same unwrap
  *     discipline as [[RollupRewrite]]);
  *   - scans of a live catalog head carrying a sorted companion, or of
  *     exactly a registered raw base ([[ProjectionRules]]);
  *   - at least one conjunct is a comparison/IN on the sort key with
  *     foldable bounds (otherwise the sorted copy skips nothing);
  *   - the projection must carry every column the scan outputs with
  *     identical types — else leave the plan alone;
  *   - any failure (projection dir missing, schema drift) degrades to
  *     no-op, never an error.
  */
object SortedProjectionRewrite extends Rule[LogicalPlan] {

  // a raw registration's sort key and relation, resolved (listed) once
  // when it is registered: the registrant keeps the files in place
  private val registry = new ConcurrentHashMap[String, Vector[(String, () => LogicalRelation)]]()

  private def relationOf(df: DataFrame): LogicalRelation =
    df.queryExecution.analyzed.collect { case r: LogicalRelation => r }.head

  def register(s: SparkSession, p: SortedProjectionDef): Unit = {
    val r = relationOf(s.read.parquet(p.sortedPath))
    // fresh exprIds per use: the one instance appearing in two plans (or
    // twice in one) with identical attribute ids would alias unrelated
    // subtrees
    registry.put(ProjectionRules.canon(p.basePath), Vector((p.sortKey, () => r.newInstance())))
    ProjectionRules.add(s, this)
  }

  def isRegistered(basePath: String): Boolean =
    registry.containsKey(ProjectionRules.canon(basePath))

  def unregister(basePath: String): Unit = registry.remove(ProjectionRules.canon(basePath))

  /** Test hook: forget every registered projection. */
  def clear(): Unit = registry.clear()

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case f: Filter => trySwap(f).getOrElse(f)
    }

  /** The sort key of the scan's sorted projection and its relation: a
    * live catalog scan's companion, built from its logged files, or a
    * registered raw one.
    */
  private def candidate(rel: HadoopFsRelation): Option[(String, () => LogicalRelation)] =
    ProjectionRules.of(rel.location, registry) {
      case c @ Companion(SortProjection(_, key), _, _, _) =>
        (key, () => relationOf(c.frame(SparkSession.active)))
    }.headOption

  private def unwrap(plan: LogicalPlan, conds: List[Expression])
      : Option[(List[Expression], LogicalRelation)] = plan match {
    case Project(exprs, child) if exprs.forall(_.isInstanceOf[AttributeReference]) =>
      unwrap(child, conds)
    case Filter(cond, child) => unwrap(child, cond :: conds)
    case r: LogicalRelation if r.relation.isInstanceOf[HadoopFsRelation] =>
      Some((conds, r))
    case _ => None
  }

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** A conjunct the sorted layout can skip on: a binary comparison or IN
    * over the sort key alone, with every non-attribute side foldable.
    */
  private def selectiveOnKey(c: Expression, key: String): Boolean =
    c.deterministic && c.references.toSeq.map(_.name).distinct == Seq(key) &&
      (c match {
        // EqualNullSafe included: it extends BinaryComparison, and the
        // foldable-side requirement applies to it the same way
        case bc: BinaryComparison =>
          bc.left.foldable || bc.right.foldable
        case in: In => in.list.forall(_.foldable)
        case _: InSet => true
        case _ => false
      })

  private def trySwap(top: Filter): Option[LogicalPlan] = {
    val found = for {
      (conds, rel) <- unwrap(top, Nil)
      (key, projRel) <- candidate(rel.relation.asInstanceOf[HadoopFsRelation])
      if conds.flatMap(conjuncts).exists(selectiveOnKey(_, key))
    } yield (rel, projRel)

    found.flatMap { case (rel, projRel) =>
      try {
        val newRel = projRel()
        val byName = newRel.output.map(a => a.name -> a).toMap
        // every base output column, same type, or leave the plan alone
        if (!rel.output.forall(a =>
          byName.get(a.name).exists(_.dataType == a.dataType))) None
        else {
          val pinned = Project(
            rel.output.map(a => Alias(byName(a.name), a.name)(exprId = a.exprId)),
            newRel)
          Some(top.transformDown {
            case r: LogicalRelation if r.eq(rel) => pinned
          })
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"SortedProjectionRewrite: leaving plan alone (${e.getMessage})")
          None
      }
    }
  }
}
