package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.GraftSession

/** Entry point of one benchmark run (see perfbench/run.py, which builds the
  * program and launches this). Prints one `PERFBENCH_RESULT {...}` line.
  */
object Main {

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 15,
      trace: Boolean = false,
      work: Path = Paths.get("."),
      traces: Path = Paths.get("traces"),
      selfcheck: Boolean = false)

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--work" :: v :: t => parse(t, o.copy(work = Paths.get(v)))
    case "--traces" :: v :: t => parse(t, o.copy(traces = Paths.get(v)))
    case "--selfcheck" :: t => parse(t, o.copy(selfcheck = true))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def session(work: Path): SparkSession = {
    val spark = GraftSession.builder()
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(o.work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val ok =
      try {
        if (o.selfcheck) SelfCheck.run(spark, o.work)
        else {
          val spec = Workloads.all.getOrElse(o.workload,
            throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
          println(Report.resultLine(bench(spark, spec, o, sessionS)))
          true
        }
      } finally spark.stop()
    if (!ok) sys.exit(1)
  }

  final case class Outcome(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)])

  def bench(spark: SparkSession, spec: StreamSpec, o: Opts, sessionS: Double): Outcome = {
    // traced run: odd timed triggers are traced, even ones are the control
    val traced: Long => Boolean = b => o.trace && b % 2 == 1
    val engine = new EngineProbe(traced)
    val phases = new PhaseProbe(traced)
    val register = () => if (o.trace) {
      org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.addSparkListener(engine)
      spark.listenerManager.register(phases)
    }
    val r = new StreamRun(spark, spec, o.seed, o.seconds, o.work, beforeTimed = register).run()
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    r.failures.foreach(f => System.err.println(s"[perfbench] FAILED ${f.name}: ${f.message}"))
    val problems = mutable.ArrayBuffer.empty[String]
    val c0 = System.nanoTime()
    if (r.failures.isEmpty) problems ++= OutputCheck.check(spark, r)
    System.err.println(f"[perfbench] ${spec.name}: output check took ${(System.nanoTime() - c0) / 1e9}%.1f s")
    if (r.triggers.isEmpty) problems += "no timed trigger completed"

    val metrics =
      if (!o.trace) Report.endToEnd(r, sessionS)
      else {
        val st = if (r.files.isEmpty) None else Some(SingleThread.run(spark, spec, r.files))
        st.foreach { s =>
          val sample = spec.replaySample.toSet
          OutputCheck.compare(r.outputs.toSeq.filter(out => sample(out.nodeId)), s.outputs)
            .foreach(d => problems += s"single-threaded processGroup vs stream: $d")
        }
        val spans = Trace.spans(s"${spec.name}-s${o.seed}", r.triggers.filter(t => traced(t.batchId)),
          engine.jobs.synchronized(engine.jobs.toSeq), engine.stages.synchronized(engine.stages.toSeq))
        Trace.write(o.traces.resolve(s"${spec.name}-s${o.seed}.json"), spans)
        Report.perLayer(spark, r, traced, engine, phases, spans, st)
      }
    problems.foreach(p => System.err.println(s"[perfbench] CHECK FAILED ${spec.name}: $p"))
    Outcome(problems.isEmpty && r.failures.isEmpty, r.attempted, r.failures.size, metrics)
  }
}

object Report {

  /** Quantile with linear interpolation between closest ranks. */
  def quantile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else {
      val h = (s.size - 1) * p
      val lo = math.floor(h).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (h - lo) * (s(hi) - s(lo))
    }
  }

  def endToEnd(r: StreamResult, sessionS: Double): Seq[(String, Double, String)] = {
    val t = r.triggers
    val wallS = if (t.isEmpty) 0.0 else (t.last.endMs - t.head.startMs) / 1e3
    Seq(
      ("rows_per_s", if (wallS > 0) t.map(_.rows).sum / wallS else 0.0, "rows/s"),
      ("trigger_p50_ms", quantile(t.map(_.durMs.toDouble), 0.5), "ms"),
      ("trigger_p90_ms", quantile(t.map(_.durMs.toDouble), 0.9), "ms"),
      ("setup_s", sessionS + quantile(r.warmupMs.map(_.toDouble), 0.5) / 1e3, "s"),
      ("peak_rss_mb", Probes.peakRssMb(), "MB"))
  }

  def perLayer(
      spark: SparkSession,
      r: StreamResult,
      traced: Long => Boolean,
      engine: EngineProbe,
      phases: PhaseProbe,
      spans: Seq[Span],
      st: Option[SingleThread.Result]): Seq[(String, Double, String)] = {
    val (on, off) = r.triggers.partition(t => traced(t.batchId))
    val n = math.max(1, on.size).toDouble
    def per(f: TriggerRecord => Double): Double = on.map(f).sum / n
    def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double): Double =
      per(t => t.progress.stateOperators.headOption.map(f).getOrElse(0.0))
    def custom(s: org.apache.spark.sql.streaming.StateOperatorProgress, k: String): Double =
      Option(s.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    val lastState = on.lastOption.flatMap(_.progress.stateOperators.headOption)
    val work = engine.work.asScala
    def eng(f: BatchWork => Double): Double = on.map(t => work.get(t.batchId).map(f).getOrElse(0.0)).sum / n
    val plan = phases.phases.asScala
    def planMs(k: String): Double = on.map(t => plan.get(t.batchId).flatMap(_.get(k)).getOrElse(0L).toDouble).sum / n
    val self = Trace.selfMs(spans)
    val (compiles, compileMs) = Probes.codegen()
    val timedOutputs = r.outputs.filter(_.eventTime >= r.spec.timedStartMs - r.spec.cfg.windowMillis)
    val parseRate = parseRowsPerS(spark, r)
    val stateBytes = lastState.map(custom(_, "stateOnCurrentVersionSizeBytes")).getOrElse(0.0)
    val keys = lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0)
    Seq(
      ("operators.parse_rows_per_s", parseRate, "rows/s"),
      ("operators.process_group_us_per_row", st.map(_.processGroupUsPerRow).getOrElse(0.0), "us"),
      ("operators.baseline_step_us", st.map(_.baselineStepUs).getOrElse(0.0), "us"),
      ("operators.baselines", timedOutputs.count(_.kind == "baseline").toDouble, "count"),
      ("operators.alerts", timedOutputs.count(_.kind == "alert").toDouble, "count"),
      ("sources.gen_s", r.genS, "s"),
      ("ts.forecast_ms", st.map(_.forecastMs).getOrElse(0.0), "ms"),
      ("ts.forecasts", st.map(_.forecasts.toDouble).getOrElse(0.0), "count"),
      ("state.commit_ms", state(_.commitTimeMs.toDouble), "ms"),
      ("state.update_ms", state(_.allUpdatesTimeMs.toDouble), "ms"),
      ("state.bytes", stateBytes, "bytes"),
      ("state.bytes_per_key", if (keys > 0) stateBytes / keys else 0.0, "bytes"),
      ("state.memory_bytes", lastState.map(_.memoryUsedBytes.toDouble).getOrElse(0.0), "bytes"),
      ("state.rows_updated", state(_.numRowsUpdated.toDouble), "count"),
      ("state.cache_miss", state(custom(_, "loadedMapCacheMissCount")), "count"),
      ("streaming.latest_offset_ms", per(_.phase("latestOffset").toDouble), "ms"),
      ("streaming.get_batch_ms", per(_.phase("getBatch").toDouble), "ms"),
      ("streaming.query_planning_ms", per(_.phase("queryPlanning").toDouble), "ms"),
      ("streaming.add_batch_ms", per(_.phase("addBatch").toDouble), "ms"),
      ("streaming.wal_commit_ms", per(_.phase("walCommit").toDouble), "ms"),
      ("streaming.commit_offsets_ms", per(_.phase("commitOffsets").toDouble), "ms"),
      ("streaming.overhead_ms", per(t => (t.durMs - t.phase("addBatch")).toDouble), "ms"),
      ("streaming.idle_batches", r.idleBatches.toDouble, "count"),
      ("spark.analysis_ms", planMs("analysis"), "ms"),
      ("spark.optimizer_ms", planMs("optimization"), "ms"),
      ("spark.planning_ms", planMs("planning"), "ms"),
      ("spark.codegen_ms", compileMs, "ms"),
      ("spark.codegen_compiles", compiles.toDouble, "count"),
      ("spark.jobs", eng(_.jobs.toDouble), "count"),
      ("spark.stages", eng(_.stages.toDouble), "count"),
      ("spark.tasks", eng(_.tasks.toDouble), "count"),
      ("spark.task_run_ms", eng(_.runMs.toDouble), "ms"),
      ("spark.task_cpu_ms", eng(_.cpuNs / 1e6), "ms"),
      ("spark.gc_ms", eng(_.gcMs.toDouble), "ms"),
      ("spark.deser_ms", eng(_.deserMs.toDouble), "ms"),
      ("spark.sched_delay_ms", eng(_.schedDelayMs.toDouble), "ms"),
      ("spark.shuffle_read_bytes", eng(_.shuffleRead.toDouble), "bytes"),
      ("spark.shuffle_write_bytes", eng(_.shuffleWrite.toDouble), "bytes"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("trace.traced_triggers", on.size.toDouble, "count"),
      ("trace.self_ms.trigger", self("trigger") / n, "ms"),
      ("trace.self_ms.phase", self("phase") / n, "ms"),
      ("trace.self_ms.job", self("job") / n, "ms"),
      ("trace.self_ms.stage", self("stage") / n, "ms"),
      ("trace.overhead_ms",
        quantile(on.map(_.durMs.toDouble), 0.5) - quantile(off.map(_.durMs.toDouble), 0.5), "ms"))
  }

  /** Batch parse throughput of `MetricParse.parse` over up to 20 timed input
    * files, noop sink, median of three after one untimed pass.
    */
  private def parseRowsPerS(spark: SparkSession, r: StreamResult): Double = {
    val files = r.files.drop(1).take(20).map(_.toString)
    if (files.isEmpty) 0.0
    else {
      val rows = files.size * r.spec.rowsPerTrigger
      def once(): Double = {
        val t0 = System.nanoTime()
        graft.operators.MetricParse.parse(spark.read.text(files: _*), "value")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      rows / quantile(Seq.fill(3)(once()), 0.5)
    }
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString

  def resultLine(o: Main.Outcome): String = {
    val ms = o.metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    s"""PERFBENCH_RESULT {"correct": ${o.correct}, "attempted": ${math.max(1, o.attempted)}, """ +
      s""""failed": ${o.failed}, "metrics": {${ms.mkString(", ")}}}"""
  }
}
