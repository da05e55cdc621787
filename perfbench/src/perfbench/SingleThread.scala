package perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}

import graft.model.{Metric, NodePipelineState, NodeState, PipelineOutput, WindowAggregate}
import graft.operators.{BaselineOp, MetricParse, NodePipeline}
import graft.ts.SarimaxLite

/** The operator and model costs without the engine: the replay sample's
  * records fed, trigger by trigger, straight into `NodePipeline.processGroup`
  * through Spark's `TestGroupState`, and their closed windows stepped
  * through `BaselineOp.step` with each fit's `SarimaxLite.forecast` timed
  * on its own. Only the timed triggers' work is counted.
  */
object SingleThread {

  final case class Result(
      processGroupUsPerRow: Double,
      baselineStepUs: Double,
      forecastMs: Double,
      forecasts: Int,
      outputs: Seq[PipelineOutput])

  def run(spark: SparkSession, spec: StreamSpec, files: Seq[Path]): Result = {
    import spark.implicits._
    val cfg = spec.cfg
    val sample = spec.replaySample
    val rows = MetricParse.parse(spark.read.text(files.map(_.toString): _*), "value")
      .filter(col("nodeId").isin(sample: _*)).collect()

    // processGroup, one call per node per trigger, state carried across
    val byFile = rows.groupBy(m => spec.fileOf(m.eventTime))
    val states = mutable.Map.empty[String, NodePipelineState]
    val outputs = mutable.ArrayBuffer.empty[PipelineOutput]
    var groupNs, timedRows = 0L
    for (f <- byFile.keys.toSeq.sorted; (node, ms) <- byFile(f).groupBy(_.nodeId).toSeq.sortBy(_._1)) {
      val gs = TestGroupState.create[NodePipelineState](
        Optional.ofNullable(states.get(node).orNull), GroupStateTimeout.ProcessingTimeTimeout(),
        System.currentTimeMillis(), Optional.empty[Long](), false)
      val t0 = System.nanoTime()
      val out = NodePipeline.processGroup(cfg)(node, ms.iterator, gs).toArray
      val dt = System.nanoTime() - t0
      if (f > 0) { groupNs += dt; timedRows += ms.length }
      gs.getOption.foreach(states(node) = _)
      outputs ++= out
    }

    // BaselineOp.step over the same closed windows, and each fit's forecast
    val sarimax = SarimaxLite.Spec(
      cfg.order.p, cfg.order.d, cfg.order.q,
      cfg.seasonalOrder.bigP, cfg.seasonalOrder.bigD, cfg.seasonalOrder.bigQ, cfg.seasonalOrder.s)
    var stepNs, steps, fitNs = 0L
    var fits = 0
    rows.groupBy(_.nodeId).toSeq.sortBy(_._1).foreach { case (_, ms) =>
      var st = NodeState.empty
      closedWindows(ms, cfg.windowMillis).foreach { w =>
        val t0 = System.nanoTime()
        val (next, _) = BaselineOp.step(cfg, st, w)
        val dt = System.nanoTime() - t0
        val timed = w.eventTime >= spec.timedStartMs - cfg.windowMillis
        if (timed) { stepNs += dt; steps += 1 }
        if (timed && next.emitCounter == 0 && next.history.length >= cfg.minHistory) {
          val h = next.history.toArray
          val f0 = System.nanoTime()
          SarimaxLite.forecast(h, sarimax, cfg.forecastSteps)
          fitNs += System.nanoTime() - f0
          fits += 1
        }
        st = next
      }
    }
    Result(
      if (timedRows == 0) 0.0 else groupNs / 1e3 / timedRows,
      if (steps == 0) 0.0 else stepNs / 1e3 / steps,
      if (fits == 0) 0.0 else fitNs / 1e6 / fits,
      fits,
      outputs.toSeq)
  }

  /** The node's 5-minute windows that a later record closes, as the fused
    * pipeline aggregates them: mean cpu, stamped with the last record's time.
    */
  private def closedWindows(ms: Array[Metric], windowMs: Long): Seq[WindowAggregate] = {
    val sorted = ms.sortBy(_.eventTime)
    val groups = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Metric]]
    sorted.foreach { m =>
      val ws = Math.floorDiv(m.eventTime, windowMs)
      if (groups.isEmpty || Math.floorDiv(groups.last.head.eventTime, windowMs) != ws) groups += mutable.ArrayBuffer(m)
      else groups.last += m
    }
    groups.dropRight(1).map(g => WindowAggregate(g.head.nodeId, g.map(_.cpu).sum / g.size, g.last.eventTime)).toSeq
  }
}
