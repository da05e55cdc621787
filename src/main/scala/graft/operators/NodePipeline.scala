package graft.operators

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.core.PipelineConfig
import graft.model._

/** Fused per-key streaming pipeline: tumbling-window aggregation + SARIMAX
  * baseline + latest-baseline alerting in ONE keyed stateful operator — the
  * only streaming form of the paper's operator. [[BaselineOp.step]] and
  * [[AlertOp.check]] are its kernels.
  *
  * Why fused: Structured Streaming allows at most one
  * `flatMapGroupsWithState` stage per streaming query (and none after a
  * streaming aggregation), and every stage of the reference job
  * (flinkarima.py:392-476) is keyed by the same `node_id` — the dataflow is
  * logically one keyed pipeline. Fusing gives a single shuffle on `node_id`
  * and a single state store — less data movement than the reference's two
  * hash exchanges + broadcast.
  *
  * Co-partitioning instead of broadcast: the reference physically broadcasts
  * every baseline to all alert instances and keeps a `node_id -> latest
  * baseline` map in broadcast state (flinkarima.py:284-376). That is a Flink
  * API artifact: baselines and aggregates are keyed by the SAME key, so this
  * key's latest baseline sits in its own keyed state (SURVEY §7.5.2).
  *
  * Alert against the PREVIOUS baseline: in the reference the raw path is one
  * map shorter than the SARIMAX path, so a window aggregate is alerted
  * against the baseline before the one it itself triggers. A closing window
  * is therefore checked first and stepped through the model second.
  *
  * Window semantics: event-time tumbling windows. A window for a key is
  * finalized either by a later-window record for that key (zero-lateness
  * watermark analog, SURVEY §1.4) or — matching the reference's guaranteed
  * processing-time window fire (flinkarima.py:420-428) — by a
  * processing-time idle timeout of `windowMillis`, so a node that goes
  * quiet still emits its last window (and can still alert: a dead node is
  * exactly the case alerting exists for). Records at or before an already
  * finalized window are dropped. A micro-batch's records are taken in
  * event-time order (the reference takes arrival order; SURVEY §7.4.2).
  */
object NodePipeline {

  def apply(metrics: Dataset[Metric], cfg: PipelineConfig): Dataset[PipelineOutput] = {
    import metrics.sparkSession.implicits._
    metrics
      .groupByKey(_.nodeId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.ProcessingTimeTimeout())(processGroup(cfg) _)
  }

  def processGroup(cfg: PipelineConfig)(
      key: String,
      rows: Iterator[Metric],
      state: GroupState[NodePipelineState]): Iterator[PipelineOutput] = {
    var st = state.getOption.getOrElse(NodePipelineState.empty)
    val out = ArrayBuffer.empty[PipelineOutput]
    val windowMs = cfg.windowMillis

    def finalizeWindow(ow: OpenWindow): Unit = {
      val eventTime = if (ow.maxTs == 0L) ow.windowStart + windowMs else ow.maxTs
      val aggRow = WindowAggregate(key, ow.sum / ow.count, eventTime)
      // alert FIRST against the previous baseline (see the scaladoc)
      AlertOp.check(cfg, aggRow, st.latestBaseline).foreach { a =>
        out += PipelineOutput("alert", key, a.eventTime, alertJson(a))
      }
      val (nodeNext, emitted) = BaselineOp.step(cfg, st.node, aggRow)
      emitted.foreach { b =>
        out += PipelineOutput("baseline", key, b.eventTime, b.toJson)
      }
      st = st.copy(
        node = nodeNext,
        latestBaseline = emitted.orElse(st.latestBaseline),
        closedThrough = math.max(st.closedThrough, ow.windowStart))
    }

    if (state.hasTimedOut && st.open.isEmpty) {
      // the key stayed silent through its idle flush AND the retention
      // period that followed: evict its state entirely, so permanently-dead
      // keys don't hold NodeState/latestBaseline (up to 2x maxHistory
      // doubles) forever on a long-running stream
      state.remove()
      Iterator.empty
    } else {
      if (state.hasTimedOut) {
        // idle key: flush the open window so a silent node still reports
        st.open.foreach(finalizeWindow)
        st = st.copy(open = None)
      } else {
        rows.toArray.sortBy(_.eventTime).foreach { m =>
          val ws = math.floorDiv(m.eventTime, windowMs) * windowMs
          st.open match {
            case Some(ow) if ow.windowStart == ws =>
              st = st.copy(open = Some(OpenWindow(ws, ow.sum + m.cpu, ow.count + 1, math.max(ow.maxTs, m.eventTime))))
            case Some(ow) if ws > ow.windowStart =>
              finalizeWindow(ow)
              st = st.copy(open = Some(OpenWindow(ws, m.cpu, 1L, m.eventTime)))
            case Some(_) => // late record for the open window's past: drop
            case None if ws <= st.closedThrough => // late after idle flush: drop
            case None =>
              st = st.copy(open = Some(OpenWindow(ws, m.cpu, 1L, m.eventTime)))
          }
        }
      }

      state.update(st)
      // retention ladder (no-op in batch execution, where every group is
      // processed exactly once): an open window arms the idle flush; a key
      // with no open window (just flushed, or all records late-dropped)
      // arms the longer retention timeout, whose expiry hits the remove()
      // branch above if nothing new arrived in between
      state.setTimeoutDuration(
        if (st.open.isDefined) cfg.idleFlushMillis.getOrElse(windowMs)
        else cfg.idleRetentionMillis.getOrElse(24 * windowMs))
      out.iterator
    }
  }

  private[operators] def alertJson(a: Alert): String = {
    import JsonFormat.{esc, num}
    s"""{"node_id": "${esc(a.nodeId)}", "alert_type": "${esc(a.alertType)}", "severity": "${esc(a.severity)}", """ +
      s""""observed_cpu": ${num(a.observedCpu)}, "baseline_cpu": ${num(a.baselineCpu)}, """ +
      s""""deviation": ${num(a.deviation)}, "pct_deviation": ${num(a.pctDeviation)}, """ +
      s""""z_score": ${num(a.zScore)}, "alert_reason": "${esc(a.alertReason)}", """ +
      s""""event_time": ${a.eventTime}, "baseline_event_time": ${a.baselineEventTime}}"""
  }
}
