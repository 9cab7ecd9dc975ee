package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Count, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.{SinkMv, SinkSource, SinkTable}

/** MATERIALIZED-VIEW QUERY REWRITING: an optimizer rule that answers
  * the exact aggregate a registered MV maintains — `k, COUNT(*),
  * SUM(v)` grouped by the layout key over a whole sink table — from
  * the MV's stored rows instead of scanning the source (the
  * Calcite/warehouse "MV substitution" move, scoped to the shape
  * [[SinkMv]] maintains). The rewrite fires ONLY when it is provably
  * answer-preserving:
  *
  *   - the MV is FRESH: its ledger watermark equals the source's
  *     current version (both metadata reads, consulted only after the
  *     plan shape matches);
  *   - the scan is the CURRENT table (no time-travel pin) with no
  *     surviving predicate between scan and aggregate (a pushed skip
  *     filter always leaves a residual Filter node, which breaks the
  *     match — a filtered aggregate is NOT the MV's content);
  *   - row semantics agree: the MV retracts deletes, so a source with
  *     deletion vectors only rewrites for a merge-on-read scan
  *     (a plain read would include tombstoned rows the MV already
  *     dropped);
  *   - every output column maps onto the MV's (the group key, a
  *     non-distinct unfiltered COUNT of a non-null literal, a
  *     non-distinct unfiltered SUM of the value column).
  *
  * Output attribute ids are preserved through aliases, so parents of
  * the aggregate are untouched. Registration: set
  * `graft.mv.registry` to a comma-separated list of MV paths; the rule
  * itself is injected by [[graft.GraftExtensions]] in every session
  * [[graft.GraftSession]] builds. As an injected operator-optimization
  * rule it runs before scan pushdown, so it matches the
  * [[DataSourceV2Relation]] shape, and it emits a
  * [[DataSourceV2ScanRelation]], which both the pushdown rule and the
  * planner pass through.
  *
  * Scale notes (100 TB): the rewritten plan reads the GROUPS-sized MV
  * — no source scan, no shuffle, no aggregate at all (the metadata
  * freshness probe costs two manifest reads). This is the read-side
  * dividend of q297's incremental maintenance: keep the aggregate
  * fresh for the cost of deltas, then serve every dashboard hit from
  * it for free.
  */
class RewriteToMv(session: SparkSession) extends Rule[LogicalPlan] {

  /** A registered MV over `src`, fresh at the source's head, whose
    * row semantics match the scan's (`morRead`). */
  private def freshMvFor(src: String, morRead: Boolean): Option[String] = {
    val reg = try session.conf.get("graft.mv.registry", "")
    catch { case _: Exception => "" }
    if (reg.trim.isEmpty) return None
    reg.split(',').map(_.trim).filter(_.nonEmpty).find { mv =>
      try SinkMv.sourceOf(mv) == src &&
        SinkMv.watermark(mv) == SinkSource.currentVersion(src) &&
        (morRead || SinkSource.deleteSidecar(src).isEmpty)
      catch { case _: Exception => false }
    }
  }

  /** The aggregate's child, stripped of attribute-only projections:
    * a sink scan eligible for substitution. */
  private def scanTarget(p: LogicalPlan): Option[(Seq[Attribute], String, Boolean)] =
    p match {
      case r: DataSourceV2Relation => r.table match {
        case t: SinkTable =>
          t.mvRewriteInfo.map { case (path, mor) => (r.output, path, mor) }
        case _ => None
      }
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        scanTarget(child)
      case _ => None
    }

  /** Which MV column answers this output expression — Right(column),
    * or Left(the expression itself) for constants the collapsed
    * projections folded into the aggregate list (`lit("arm")`
    * columns), which survive the substitution verbatim. */
  private def mvColumnFor(ne: NamedExpression, k: Attribute,
      v: Attribute): Option[Either[NamedExpression, String]] = ne match {
    case a: Attribute if a.semanticEquals(k) => Some(scala.Right("k"))
    case Alias(a: Attribute, _) if a.semanticEquals(k) => Some(scala.Right("k"))
    case Alias(AggregateExpression(Count(Seq(Literal(x, _))), _, false, None, _), _)
        if x != null => Some(scala.Right("n_rows"))
    case Alias(AggregateExpression(s: Sum, _, false, None, _), _)
        if s.child.semanticEquals(v) && s.dataType == v.dataType =>
      Some(scala.Right("sum_v"))
    case a: Alias if a.child.foldable => Some(scala.Left(a))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg @ Aggregate(Seq(groupK: Attribute), outs, child, _)
        if scanTarget(child).isDefined =>
      val (scanOut, srcPath, morRead) = scanTarget(child).get
      val (kAttr, vAttr) =
        (scanOut.find(_.name == "k"), scanOut.find(_.name == "v"))
      val mapped: Option[Seq[Either[NamedExpression, String]]] =
        if (kAttr.exists(groupK.semanticEquals) && vAttr.isDefined) {
          val m = outs.map(mvColumnFor(_, kAttr.get, vAttr.get))
          // at least one MAINTAINED column must be asked for, or there
          // is nothing the MV answers (an all-constant aggregate)
          if (m.forall(_.isDefined) && m.exists(_.exists(_.isRight)))
            Some(m.flatten)
          else None
        } else None
      mapped.flatMap(cols => freshMvFor(srcPath, morRead).map((_, cols))) match {
        case None => agg
        case Some((mvPath, cols)) =>
          val opts = CaseInsensitiveStringMap.empty()
          val mvTable = new SinkTable(mvPath)
          val mvRel = DataSourceV2Relation.create(mvTable, None, None, opts)
          val mvScan = mvTable.newScanBuilder(opts).build()
          val scanRel = DataSourceV2ScanRelation(mvRel, mvScan, mvRel.output)
          val byName = scanRel.output.map(a => a.name -> a).toMap
          // original output ids preserved: parents never notice
          val projList = outs.zip(cols).map {
            case (_, scala.Left(passThrough)) => passThrough
            case (ne, scala.Right(c)) => Alias(byName(c), ne.name)(exprId = ne.exprId)
          }
          Project(projList, scanRel)
      }
  }
}
