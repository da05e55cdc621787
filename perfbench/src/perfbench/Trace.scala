package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer

/** A span at a layer boundary. Spans of one trigger share `traceId`;
  * `parent` is the id of the span that caused this one (0 for a root).
  */
final case class Span(traceId: String, id: Long, parent: Long, name: String, layer: String, startMs: Long, endMs: Long) {
  def durMs: Long = endMs - startMs
}

/** Spans of the traced triggers, built in memory from what the probes
  * recorded: trigger -> the `durationMs` phases of its progress report ->
  * the Spark jobs the sink's write ran -> their stages.
  */
object Trace {

  /** Micro-batch phases in the order the engine runs them. */
  val Phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
  val Layers = Seq("trigger", "phase", "job", "stage")

  def spans(prefix: String, triggers: Seq[TriggerRecord], jobs: Seq[JobSpan], stages: Seq[StageSpan]): Seq[Span] = {
    val out = ArrayBuffer.empty[Span]
    var next = 0L
    def add(trace: String, parent: Long, name: String, layer: String, s: Long, e: Long): Long = {
      next += 1
      out += Span(trace, next, parent, name, layer, s, e)
      next
    }
    val stageById = stages.map(s => s.stageId -> s).toMap
    val jobsByBatch = jobs.groupBy(_.batchId)
    triggers.foreach { t =>
      val trace = s"$prefix-b${t.batchId}"
      val root = add(trace, 0L, "trigger", "trigger", t.startMs, t.endMs)
      var at = t.startMs
      val phases = Phases.filter(t.progress.durationMs.containsKey).map { p =>
        val (s, e) = (at, at + t.phase(p))
        at = e
        (p, s, e, add(trace, root, s"phase.$p", "phase", s, e))
      }
      jobsByBatch.getOrElse(t.batchId, Nil).sortBy(_.startMs).foreach { j =>
        val parent = phases.find { case (_, s, e, _) => j.startMs >= s && j.startMs <= e }.fold(root)(_._4)
        val jid = add(trace, parent, s"job.${j.jobId}", "job", j.startMs, j.endMs)
        j.stageIds.flatMap(stageById.get).foreach(st => add(trace, jid, s"stage.${st.stageId}", "stage", st.startMs, st.endMs))
      }
    }
    out.toSeq
  }

  /** Length of the part of [s, e) covered by the union of `ivs`. */
  private def covered(s: Long, e: Long, ivs: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur = s
    ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) }.filter { case (a, b) => b > a }.sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > cur) { total += b - math.max(a, cur); cur = b }
      }
    total
  }

  /** Self time summed per layer: each span's duration minus the part of it
    * its children cover.
    */
  def selfMs(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    val self = spans.map { sp =>
      val kids = children.getOrElse(sp.id, Nil).map(k => (k.startMs, k.endMs))
      sp.layer -> (sp.durMs - covered(sp.startMs, sp.endMs, kids))
    }
    Layers.map(l => l -> self.filter(_._1 == l).map(_._2).sum).toMap
  }

  def write(path: Path, spans: Seq[Span]): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map(s =>
      s"""{"trace":"${s.traceId}","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""layer":"${s.layer}","start_ms":${s.startMs},"end_ms":${s.endMs}}""")
    Files.write(path, lines.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}
