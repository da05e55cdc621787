package graft.operators

import graft.core.PipelineConfig
import graft.model.{Alert, Baseline, WindowAggregate}

/** The alert kernel (O10/O11, flinkarima.py:284-376 in the reference):
  * one window aggregate checked against its key's latest baseline. The
  * stateful part — which baseline is the latest — lives in [[NodePipeline]].
  */
object AlertOp {

  /** Alert math — exact port of flinkarima.py:301-360. No baseline yet for the
    * key => no alert (:313-316); pct guarded by `baseline >= min_baseline`
    * (:324-326); z guarded by `std > 0` (:327-329); z-reason takes priority
    * over pct-reason (:331-340); severity high iff |z| >= 2 * z_threshold
    * (:346).
    */
  def check(cfg: PipelineConfig, aggRow: WindowAggregate, latest: Option[Baseline]): Option[Alert] =
    latest.flatMap { b =>
      val observed = aggRow.cpu
      val deviation = observed - b.baselineCpu
      val pctDeviation =
        if (b.baselineCpu >= cfg.alertMinBaseline) deviation / b.baselineCpu * 100.0 else 0.0
      val zScore = if (b.runningStd > 0.0) deviation / b.runningStd else 0.0

      val reason: Option[String] =
        if (math.abs(zScore) >= cfg.alertZThreshold)
          Some(f"z_score=$zScore%.2f exceeds threshold=${cfg.alertZThreshold}")
        else if (math.abs(pctDeviation) >= cfg.alertPctThreshold)
          Some(f"pct_deviation=$pctDeviation%.2f%% exceeds threshold=${cfg.alertPctThreshold}%%")
        else None

      reason.map { r =>
        Alert(
          nodeId = aggRow.nodeId,
          alertType = "cpu_deviation",
          severity = if (math.abs(zScore) >= cfg.alertZThreshold * 2) "high" else "medium",
          observedCpu = observed,
          baselineCpu = b.baselineCpu,
          deviation = deviation,
          pctDeviation = pctDeviation,
          zScore = zScore,
          alertReason = r,
          eventTime = aggRow.eventTime,
          baselineEventTime = b.eventTime)
      }
    }
}
