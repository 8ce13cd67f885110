package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Statistics, SupportsReportStatistics, V1Scan}
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, PushedDownOperators, V1ScanWrapper}
import org.apache.spark.sql.sources.Filter

/** Spark's V2ScanRelationPushDown wraps every [[V1Scan]] in a plain
  * [[V1ScanWrapper]], which does NOT forward
  * [[SupportsReportStatistics]] — so `DataSourceV2ScanRelation
  * .computeStats` falls back to "unknown = Long.MaxValue" and the
  * bridged scan's carefully computed size/row/NDV estimates
  * ([[LakeV2Table]]'s `estimateStatistics`, M50) never reach the
  * planner: no size-based broadcast, no CBO filter selectivity, on any
  * plan the [[NativeReadRule]] splice can't serve (time travel,
  * metadata-column scans). This wrapper subclass keeps the exact
  * case-class shape the physical strategy pattern-matches
  * (`case V1ScanWrapper(scan, filters, ops)` still extracts) while
  * forwarding the statistics interface to the wrapped scan.
  *
  * Seam pin (Spark 4.1.2 — see [[SparkSeams]]): the three-field
  * case-class shape `V1ScanWrapper(v1Scan, handledFilters,
  * pushedDownOperators)` and its generated equals/canEqual semantics.
  * A field change breaks the compile here; a batch-order change in the
  * optimizer silently drops the stats — TableStatsSpec's SMJ→BHJ flip
  * is the runtime canary. */
class StatsV1ScanWrapper(
    v1: V1Scan, handled: Seq[Filter], ops: PushedDownOperators)
    extends V1ScanWrapper(v1, handled, ops) with SupportsReportStatistics {
  override def estimateStatistics(): Statistics =
    v1.asInstanceOf[SupportsReportStatistics].estimateStatistics()
  // the inherited case-class equals makes this wrapper == the plain one
  // it replaces, so TreeNode.transform would judge the rewrite a no-op
  // (fastEquals) and DISCARD it — stats-bearing and stats-blind wrappers
  // must compare unequal
  override def equals(other: Any): Boolean = other match {
    case s: StatsV1ScanWrapper => super.equals(s)
    case _ => false
  }
  // the plain wrapper's generated equals delegates to THIS side's
  // canEqual — without this override old.equals(new) is still true and
  // the rewrite is still dropped
  override def canEqual(that: Any): Boolean =
    that.isInstanceOf[StatsV1ScanWrapper]
  override def hashCode(): Int = 31 * super.hashCode() + 1
}

/** Re-wrap stats-capable V1 scans so their estimates are visible to the
  * planner. A pure metadata substitution — the scan object, pushed
  * filters and operators are untouched; the second pass sees the
  * (SupportsReportStatistics) subclass and leaves the plan unchanged,
  * so the fixed-point batch converges. */
case class V1StatsRule(session: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case r: DataSourceV2ScanRelation => r.scan match {
      case w: V1ScanWrapper if !w.isInstanceOf[SupportsReportStatistics] &&
          w.v1Scan.isInstanceOf[SupportsReportStatistics] =>
        r.copy(scan = new StatsV1ScanWrapper(
          w.v1Scan, w.handledFilters, w.pushedDownOperators))
      case _ => r
    }
  }
}

object V1StatsRule {
  /** The wrapper is created by V2ScanRelationPushDown ("Early Filter
    * and Projection Push-Down"), which runs AFTER every
    * SparkSessionExtensions optimizer hook (operator-optimization rules
    * and even "Pre CBO Rules" both precede it) — the one seam that runs
    * after pushdown and before physical join selection is the "User
    * Provided Optimizers" batch, i.e. `experimental.extraOptimizations`,
    * the LAST optimizer batch. Installation is idempotent and invoked
    * from both session surfaces (LakeSql and the DSv2
    * catalog), so whichever path touches the session first wires it. */
  def install(session: SparkSession): Unit = synchronized {
    val cur = session.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[V1StatsRule]))
      session.experimental.extraOptimizations = cur :+ V1StatsRule(session)
  }
}
