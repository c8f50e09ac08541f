package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.{ProjectExec, SparkPlan}
import org.apache.spark.sql.functions.col

import graft.io.MergeOnRead
import graft.io.dsv2.GraftScan

/** Plans an OVER-CAP merge-on-read scan as a distributed anti-join.
  *
  * The DSv2 read path of a tombstoned table normally merges deletes
  * with a reader-factory filter over a driver-collected key set —
  * the right physical strategy while accumulated deletes are small
  * (one scan of the data, zero shuffle; see
  * [[graft.io.dsv2.GraftScanBuilder]]'s cap comment). Past
  * `spark.graft.mor.maxBroadcastKeys` that collect would push an
  * unbounded key set through driver memory and every task closure —
  * a 10⁸-key takedown on a 100 TB table OOMs the driver — so the
  * scan builder stops collecting, marks the scan
  * ([[GraftScan.overCapTombs]]), and THIS strategy re-plans the
  * relation as [[MergeOnRead.snapshot]]'s logical plan: the data
  * parquet, tagged with each directory's epoch, anti-joined against the
  * tombstones' (key, highest rank) frame — the same rule the reader
  * filter applies — shuffled by Spark's join machinery, correct and
  * bounded at any delete volume. Results are identical to the
  * reader-filter regime; only the physical strategy differs.
  *
  * Installed automatically with every graft catalog
  * ([[graft.io.dsv2.GraftCatalog.initialize]]) and by
  * [[graft.expressions.GraftExtensions]]; a session with neither
  * fails loudly at the physical scan instead of collecting.
  *
  * Deliberately NOT handled here (the scan's loud refusal covers
  * them — rare shapes where the snapshot plan cannot substitute):
  * row-level-operation scans (their write side owns the directory
  * surgery), column-mapped tables (the snapshot reads physical
  * names), and `_dir` metadata-column requests (the snapshot plan
  * has no per-row directory tag).
  */
class MorAntiJoinStrategy
  extends org.apache.spark.sql.execution.SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case r: DataSourceV2ScanRelation => r.scan match {
      case g: GraftScan if g.overCapTombs && !g.rowOp &&
          g.colMap.isEmpty && g.tombKeys.isDefined &&
          !r.output.exists(_.name == "_dir") =>
        val key = g.tombKeys.get._1
        val snap = MergeOnRead.snapshot(g.session, g.root, key,
          Some(g.version))
        // defensive: a drifted table whose snapshot resolves fewer
        // columns than the relation advertises falls through to the
        // scan's loud refusal rather than a wrong-schema substitute
        if (!r.output.forall(a => snap.columns.contains(a.name))) Nil
        else {
          // prune to the relation's output before optimizing so the
          // parquet scans read only the needed columns, then align
          // the snapshot plan's attributes to the relation's exprIds
          // (the operators above were resolved against those)
          val pruned = snap.select(r.output.map(a => col(a.name)): _*)
          val lp = pruned.queryExecution.optimizedPlan
          val byName = lp.output.map(a => a.name -> a).toMap
          val proj = r.output.map(a =>
            Alias(byName(a.name), a.name)(exprId = a.exprId))
          ProjectExec(proj, planLater(lp)) :: Nil
        }
      case _ => Nil
    }
    case _ => Nil
  }
}

object MorAntiJoinStrategy {
  /** Idempotently add the strategy to a LIVE session's extra
    * strategies — the install path for sessions built without
    * `spark.sql.extensions` (the catalog's initialize calls this, so
    * any session that configures a graft catalog gets the over-cap
    * re-plan without opting in).
    */
  def install(s: SparkSession): Unit = synchronized {
    val cur = s.experimental.extraStrategies
    if (!cur.exists(_.isInstanceOf[MorAntiJoinStrategy]))
      s.experimental.extraStrategies = cur :+ new MorAntiJoinStrategy
  }
}
