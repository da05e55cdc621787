package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.util.{Failure, Success, Try}

import org.apache.spark.internal.Logging
import org.apache.spark.sql.Dataset

import graft.core.PipelineConfig
import graft.model.{Baseline, NodeState, WindowAggregate}
import graft.ts.{DailyTrend, SarimaxLite, Welford}

/** The SARIMAX baseline kernel (O6/O7, flinkarima.py:145-258 in the
  * reference): [[step]] takes one key's state and one closed window to the
  * next state and, on the emit cadence, a baseline. The streaming operator
  * that carries the state is [[NodePipeline]].
  *
  * Exact reference semantics preserved per element:
  *   1. z-score the sample with the PRE-update Welford stats (:194-198);
  *   2. append to bounded scaled+raw histories, cap at maxHistory (:199-206);
  *   3. update Welford stats (:209-216);
  *   4. bump emit counter modulo emitEveryN; fit+emit only when the counter
  *      wraps AND history >= minHistory (:218-223);
  *   5. fit failures are logged and swallowed (:257-258).
  *
  * Ordering note: each key's elements are folded in event-time order (the
  * reference processes in arrival order; SURVEY §7.4.2).
  */
object BaselineOp extends Logging {

  /** Batch replay: each key's aggregates, sorted by event time, folded
    * through [[step]] from the empty state.
    */
  def apply(aggregates: Dataset[WindowAggregate], cfg: PipelineConfig): Dataset[Baseline] = {
    import aggregates.sparkSession.implicits._
    aggregates
      .groupByKey(_.nodeId)
      .flatMapGroups { (_, rows) =>
        val out = ArrayBuffer.empty[Baseline]
        rows.toArray.sortBy(_.eventTime).foldLeft(NodeState.empty) { (st, aggRow) =>
          val (next, emitted) = step(cfg, st, aggRow)
          out ++= emitted
          next
        }
        out.iterator
      }
  }

  /** One reference `process_element` step: (state, aggregate) -> (state', baseline?). */
  def step(cfg: PipelineConfig, st: NodeState, aggRow: WindowAggregate): (NodeState, Option[Baseline]) = {
    val pre = Welford(st.count, st.mean, st.m2)
    val scaled = pre.zscore(aggRow.cpu)
    val history = (st.history :+ scaled).takeRight(cfg.maxHistory)
    val raw = (st.rawHistory :+ aggRow.cpu).takeRight(cfg.maxHistory)
    val post = pre.add(aggRow.cpu)
    val counter = (st.emitCounter + 1) % cfg.emitEveryN
    val next = NodeState(history, raw, counter, post.count, post.mean, post.m2)

    if (counter != 0 || history.length < cfg.minHistory) (next, None)
    else {
      val spec = SarimaxLite.Spec(
        cfg.order.p, cfg.order.d, cfg.order.q,
        cfg.seasonalOrder.bigP, cfg.seasonalOrder.bigD, cfg.seasonalOrder.bigQ, cfg.seasonalOrder.s)
      Try {
        val scaledForecast = SarimaxLite.forecast(history.toArray, spec, cfg.forecastSteps).get
        val std = post.std
        val baseline =
          if (std > 0) scaledForecast * std + post.mean
          else if (post.count > 0) post.mean
          else 0.0
        val days = math.max(5, cfg.maxHistory / math.max(1, cfg.seasonalOrder.s))
        val trend = DailyTrend.metrics(raw, cfg.seasonalOrder.s, days)
        Baseline(
          nodeId = aggRow.nodeId,
          observedCpu = aggRow.cpu,
          baselineCpu = math.max(0.0, baseline),
          historySize = history.length,
          eventTime = aggRow.eventTime,
          runningMean = post.mean,
          runningStd = std,
          dailyAvgLatest = trend.latestDayAvg,
          dailyAvgLast5 = trend.fiveDayAvg)
      } match {
        case Success(b) => (next, Some(b))
        case Failure(exc) =>
          logWarning(s"Failed SARIMAX fit for ${aggRow.nodeId}: ${exc.getMessage}")
          (next, None)
      }
    }
  }
}
