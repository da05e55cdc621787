package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.{PipelineConfig, SeasonalOrder}
import graft.model.Metric

/** Specs of the benchmark's own checks, on a tiny stream (4 nodes, one
  * record per 5-minute window, a baseline every 2nd window):
  *
  *  - a trigger that throws is counted as failed, by name, and is never
  *    recorded as a timing;
  *  - the output check passes on an untouched run and catches a perturbed
  *    payload, a dropped row and an extra row.
  *
  * Run with `python3 perfbench/run.py --selfcheck`; exits non-zero on a
  * failed spec.
  */
object SelfCheck {

  val tiny: StreamSpec = StreamSpec("selfcheck", nodes = 4, warmWindows = 12, intervalMs = Inputs.WindowMs,
    recordsPerTrigger = 2, settleTriggers = 0, fastestTriggerMs = 1000L, replayNodes = 2,
    cfg = PipelineConfig(maxHistory = 50, minHistory = 4, emitEveryN = 2,
      seasonalOrder = SeasonalOrder(0, 1, 1, 4)))

  def run(spark: SparkSession, work: Path): Boolean = {
    val results = Seq(
      "a throwing trigger is counted as failed and never timed" -> (() => throwingTrigger(spark, work)),
      "the output check catches perturbed output" -> (() => perturbedOutput(spark, work)))
      .map { case (name, spec) =>
        val err = scala.util.Try(spec()).fold(e => Some(e.toString), identity)
        println(s"[selfcheck] ${if (err.isEmpty) "ok  " else "FAIL"} $name${err.fold("")(e => s": $e")}")
        err.isEmpty
      }
    results.forall(identity)
  }

  /** The payload with its first digit changed. */
  private def bumpDigit(s: String): String = {
    val i = s.indexWhere(_.isDigit)
    s.updated(i, ('0' + (s(i) - '0' + 1) % 10).toChar)
  }

  private def expect(cond: Boolean, what: => String): Option[String] = if (cond) None else Some(what)

  private def throwingTrigger(spark: SparkSession, work: Path): Option[String] = {
    import spark.implicits._
    val spec = tiny
    val failAt = 3
    val inject = (ds: Dataset[Metric]) => ds.map { m =>
      if (spec.fileOf(m.eventTime) == failAt) throw new IllegalStateException("deliberate failure") else m
    }
    val r = new StreamRun(spark, spec, 7L, 6, work.resolve("throwing"), setups = 1, inject = inject).run()
    expect(r.failures.map(_.name) == Seq(s"selfcheck/trigger-$failAt"), s"failures ${r.failures}")
      .orElse(expect(r.triggers.map(_.batchId) == (1 until failAt), s"timed triggers ${r.triggers.map(_.batchId)}"))
      .orElse(expect(r.attempted == failAt, s"attempted ${r.attempted}"))
      .orElse(expect(r.failures.head.message.contains("deliberate failure"), s"message ${r.failures.head.message}"))
  }

  private def perturbedOutput(spark: SparkSession, work: Path): Option[String] = {
    val r = new StreamRun(spark, tiny, 7L, 2, work.resolve("perturbed"), setups = 1).run()
    val sample = tiny.replaySample.toSet
    val stream = r.outputs.toSeq.filter(o => sample(o.nodeId))
    val replay = OutputCheck.replay(spark, tiny, r.files, tiny.replaySample)
    val b = stream.indexWhere(_.kind == "baseline")
    val perturbed = stream.updated(b, stream(b).copy(payload = bumpDigit(stream(b).payload)))
    expect(r.failures.isEmpty && r.triggers.nonEmpty, s"run failed: ${r.failures}")
      .orElse(expect(b >= 0, "no baseline in the stream output"))
      .orElse(expect(OutputCheck.check(spark, r).isEmpty, s"untouched run flagged: ${OutputCheck.check(spark, r)}"))
      .orElse(expect(OutputCheck.compare(replay, perturbed).isDefined, "perturbed payload not caught"))
      .orElse(expect(OutputCheck.compare(replay, stream.patch(b, Nil, 1)).isDefined, "dropped row not caught"))
      .orElse(expect(OutputCheck.compare(replay, stream :+ stream(b)).isDefined, "extra row not caught"))
  }
}
