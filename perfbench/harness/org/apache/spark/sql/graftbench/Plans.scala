package org.apache.spark.sql.graftbench

import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** Plan inspection the benchmark needs from Spark's SQL package: the
  * executed plan carried by an execution-end event (`qe` is
  * `private[sql]`), its scan metrics, and its exchange count. */
object Plans extends AdaptiveSparkPlanHelper {

  /** One finished SQL execution: its end time, the scan time (ms) and
    * rows its scan nodes report in their SQL metrics, and its exchanges. */
  final case class ExecStat(endMs: Long, scanMs: Long, rows: Long, exchanges: Int)

  def execStat(e: SparkListenerEvent): Option[ExecStat] = e match {
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      val plan = try end.qe.executedPlan catch { case _: Throwable => null }
      if (plan == null) None
      else {
        val scans = collectWithSubqueries(plan) { case s: FileSourceScanExec => s }
        def metric(s: FileSourceScanExec, k: String) =
          s.metrics.get(k).map(_.value).getOrElse(0L)
        Some(ExecStat(end.time,
          scans.map(metric(_, "scanTime")).sum,
          scans.map(metric(_, "numOutputRows")).sum,
          exchanges(plan)))
      }
    case _ => None
  }

  def exchanges(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }.size
}
