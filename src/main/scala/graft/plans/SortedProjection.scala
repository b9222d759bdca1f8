package graft.plans

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, BinaryComparison, EqualNullSafe, Expression, In, InSet}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** A registered SORTED projection: `projPath` holds the SAME rows as
  * `basePath`, re-clustered on `sortKey` (ClickHouse's
  * `PROJECTION p (SELECT * ORDER BY key)` — the alternate-sort-order
  * half of the projection feature; [[ProjectionDef]]/[[RollupRewrite]]
  * is the aggregate half). Maintained alongside the base by whoever
  * registers it, same freshness contract as rollups.
  */
final case class SortedProjectionDef(basePath: String, projPath: String,
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
  *   - scans of exactly the registered base's live data (`ScanBase`);
  *   - at least one conjunct is a comparison/IN on the sort key with
  *     foldable bounds (otherwise the sorted copy skips nothing);
  *   - the projection must carry every column the scan outputs with
  *     identical types — else leave the plan alone;
  *   - any failure (projection dir missing, schema drift) degrades to
  *     no-op, never an error.
  */
object SortedProjectionRewrite extends Rule[LogicalPlan] {

  private val registry = new ConcurrentHashMap[String, SortedProjectionDef]()

  // the analyzed relation (whose construction pays a full driver-side
  // file-index listing) is cached per (session, path) and VALIDATED by
  // the projection dir's modification time: a Catalog-MAINTAINED
  // projection changes on every append/compact, and serving the stale
  // file listing would read deleted files after a compaction. A
  // stat that fails (dir missing mid-rebuild, object store without dir
  // mtimes) drops the cache and re-resolves — never serves stale.
  private val relCache =
    new ConcurrentHashMap[(SparkSession, String), (Long, LogicalRelation)]()

  private def dirMtime(spark: SparkSession, p: String): Long = {
    val path = new Path(p)
    path.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(path).getModificationTime
  }

  private def projRelation(spark: SparkSession, projPath: String): LogicalRelation = {
    val mt = dirMtime(spark, projPath)
    relCache.compute((spark, projPath), { (_, cached) =>
      cached match {
        case (t, _) if t == mt => cached
        case _ =>
          (mt, spark.read.parquet(projPath).queryExecution.analyzed
            .collect { case r: LogicalRelation => r }.head)
      }
    })._2
  }

  /** Drop the cached resolved relation for a base's projection — called
    * by the Catalog after maintaining a declared projection, so the next
    * optimization re-lists even if the filesystem's mtime granularity
    * hid a same-millisecond rewrite.
    */
  def invalidate(basePath: String): Unit =
    Option(registry.get(canon(basePath))).foreach { p =>
      relCache.keySet.removeIf(_._2 == p.projPath)
    }

  private def canon(p: String): String = {
    val path = new Path(p)
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val q = path.getFileSystem(conf).makeQualified(path).toUri
    s"${q.getScheme}://${Option(q.getAuthority).getOrElse("")}${q.getPath}"
  }

  def register(s: SparkSession, p: SortedProjectionDef): Unit = {
    registry.put(canon(p.basePath), p)
    if (!s.experimental.extraOptimizations.contains(SortedProjectionRewrite))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ SortedProjectionRewrite
  }

  def isRegistered(basePath: String): Boolean =
    registry.containsKey(canon(basePath))

  def unregister(basePath: String): Unit = {
    val removed = Option(registry.remove(canon(basePath)))
    removed.foreach { p =>
      relCache.keySet.removeIf(_._2 == p.projPath)
    }
  }

  /** Test hook: forget every registered projection. */
  def clear(): Unit = { registry.clear(); relCache.clear() }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (registry.isEmpty) plan
    else plan.transformDown {
      case f: Filter => trySwap(f).getOrElse(f)
    }

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
    val candidate = for {
      (conds, rel) <- unwrap(top, Nil)
      base <- ScanBase.of(rel.relation.asInstanceOf[HadoopFsRelation])
      proj <- Option(registry.get(canon(base)))
      if conds.flatMap(conjuncts).exists(selectiveOnKey(_, proj.sortKey))
    } yield (rel, proj)

    candidate.flatMap { case (rel, proj) =>
      try {
        val spark = SparkSession.active
        // fresh exprIds per use: the cached instance appearing in two
        // plans (or twice in one) with identical attribute ids would
        // alias unrelated subtrees; newInstance() re-ids without paying
        // the file-index listing again
        val newRel = projRelation(spark, proj.projPath).newInstance()
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
