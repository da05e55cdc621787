package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.StreamingQuery

import graft.model.{Metric, PipelineOutput}
import graft.operators.MetricParse
import graft.streaming.SarimaxBaselineJob

/** An operation that failed, by name; it is never recorded as a timing. */
final case class OpFailure(name: String, message: String)

final case class StreamResult(
    spec: StreamSpec,
    genS: Double,
    warmupMs: Seq[Long],
    triggers: Seq[TriggerRecord],
    idleBatches: Int,
    files: Seq[Path],
    outputs: Array[PipelineOutput],
    failures: Seq[OpFailure]) {
  def attempted: Int = triggers.size + failures.size
}

/** Runs one stream workload the way the product runs: text file source ->
  * `MetricParse.parse` -> `SarimaxBaselineJob.outputs` (the fused
  * `NodePipeline`) -> memory sink, closed loop with one file per trigger.
  *
  * Set-up is repeated `setups` times, each a fresh query over the warm-up
  * file alone that is stopped once its first batch commits; the last one
  * goes on into the timed triggers. During those, a listener keeps the
  * source two files ahead of the engine, so it never idles, until
  * `seconds` have passed since the warm-up batch ended; the query is
  * stopped after the last fed file's batch commits (a processing-time
  * timeout makes the engine run no-data batches forever once input ends).
  *
  * `inject` rewrites the parsed stream; the self-check uses it to make a
  * trigger fail on purpose. `beforeTimed` runs once the set-ups are done,
  * just before the measured query starts.
  */
final class StreamRun(
    spark: SparkSession,
    spec: StreamSpec,
    seed: Long,
    seconds: Int,
    work: Path,
    setups: Int = 3,
    inject: Dataset[Metric] => Dataset[Metric] = identity,
    beforeTimed: () => Unit = () => ()) {

  private val Lookahead = 2
  private val StallTimeoutMs = 60000L

  private def log(msg: String): Unit = System.err.println(s"[perfbench] ${spec.name}: $msg")

  private def start(src: Path, name: String): StreamingQuery = {
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1L).load(src.toString)
    SarimaxBaselineJob.outputs(inject(MetricParse.parse(raw, "value")), spec.cfg).writeStream
      .format("memory").queryName(name).outputMode("append")
      .option("checkpointLocation", work.resolve(s"ckpt-$name").toString)
      .start()
  }

  def run(): StreamResult = {
    val staged = Files.createDirectories(work.resolve("inputs"))
    val g0 = System.nanoTime()
    val files = Inputs.generate(spark, spec, seed, spec.filesFor(seconds), staged)
    val genS = (System.nanoTime() - g0) / 1e9
    log(f"${files.size} input files generated in $genS%.1f s")

    @volatile var fed = 0
    @volatile var dataDone = 0
    @volatile var feeding = false
    @volatile var timedStartMs = 0L
    val src = Files.createDirectories(work.resolve("src"))
    def feedTo(n: Int): Unit = synchronized {
      while (fed < math.min(n, files.size)) {
        Files.move(files(fed), src.resolve(files(fed).getFileName))
        fed += 1
      }
    }
    val probe = new ProgressProbe(t => if (t.rows > 0) {
      dataDone += 1
      if (t.batchId == spec.settleTriggers) timedStartMs = t.endMs
      if (feeding) {
        if (t.batchId >= spec.settleTriggers && t.endMs - timedStartMs >= seconds * 1000L) feeding = false
        else feedTo(dataDone + Lookahead)
      }
    })
    spark.streams.addListener(probe)

    def awaitWarm(q: StreamingQuery): TriggerRecord = {
      val deadline = System.currentTimeMillis() + 120000L
      var warm: Option[TriggerRecord] = None
      while (warm.isEmpty) {
        q.exception.foreach(e => throw new IllegalStateException(s"${spec.name} warm-up failed", e))
        require(System.currentTimeMillis() < deadline, s"${spec.name} warm-up did not finish")
        Thread.sleep(5)
        warm = probe.triggers.asScala.find(t => t.batchId == 0 && t.rows > 0)
      }
      warm.get
    }

    // set-ups that only warm up: each over its own copy of the warm-up file
    val warmups = (1 until setups).map { i =>
      val dir = Files.createDirectories(work.resolve(s"src-warm-$i"))
      Files.copy(files(0), dir.resolve(files(0).getFileName), StandardCopyOption.COPY_ATTRIBUTES)
      probe.queryName = s"warm_$i"
      probe.triggers.clear()
      dataDone = 0
      val t0 = System.currentTimeMillis()
      val q = start(dir, s"warm_$i")
      val w = awaitWarm(q)
      q.stop()
      w.endMs - t0
    }

    beforeTimed()
    val name = "measured"
    probe.queryName = name
    probe.triggers.clear()
    dataDone = 0
    feeding = true
    feedTo(1 + Lookahead)
    val t0 = System.currentTimeMillis()
    val q = start(src, name)
    val warm = awaitWarm(q)
    var lastProgress = System.currentTimeMillis()
    var seen = 0
    while (q.isActive && q.exception.isEmpty && (feeding && fed < files.size || dataDone < fed)) {
      Thread.sleep(5)
      if (dataDone != seen) { seen = dataDone; lastProgress = System.currentTimeMillis() }
      require(System.currentTimeMillis() - lastProgress < StallTimeoutMs, s"${spec.name} stalled at file $dataDone")
    }
    feeding = false
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)
    val failures = q.exception.toSeq.map { e =>
      val batch = probe.triggers.asScala.map(_.batchId).maxOption.fold(0L)(_ + 1)
      OpFailure(s"${spec.name}/trigger-$batch", Option(e.getCause).getOrElse(e).toString.take(300))
    }
    q.stop()
    spark.streams.removeListener(probe)
    if (fed == files.size && failures.isEmpty)
      log(s"all ${files.size - 1} generated files consumed before the deadline")

    val all = probe.triggers.asScala.toSeq.filter(_.batchId > 0).sortBy(_.batchId)
    val timed = all.filter(t => t.rows > 0 && t.batchId > spec.settleTriggers)
    val lastData = all.filter(_.rows > 0).map(_.batchId).maxOption.getOrElse(0L)
    log(s"warm-up ms ${(warmups :+ (warm.endMs - t0)).mkString(" ")}; " +
      s"trigger ms ${all.filter(_.rows > 0).map(_.durMs).mkString(" ")} (first ${spec.settleTriggers} untimed)")
    import spark.implicits._
    StreamResult(
      spec, genS,
      warmups :+ (warm.endMs - t0),
      timed,
      all.count(t => t.rows == 0 && t.batchId < lastData),
      files.take(dataDone).map(f => src.resolve(f.getFileName)),
      spark.table(name).as[PipelineOutput].collect(),
      failures)
  }
}

/** The output check: the stream's rows for a fixed sample of nodes must
  * equal, exactly, a batch replay of the same input files through
  * `SarimaxBaselineJob.outputs`. Keys are independent, so the sample
  * bounds the replay cost without weakening the comparison per key.
  */
object OutputCheck {

  def ordered(rows: Seq[PipelineOutput]): Seq[PipelineOutput] =
    rows.sortBy(o => (o.nodeId, o.eventTime, o.kind, o.payload))

  /** None when equal, else a description of the first difference. */
  def compare(expected: Seq[PipelineOutput], actual: Seq[PipelineOutput]): Option[String] = {
    val (e, a) = (ordered(expected), ordered(actual))
    if (e == a) None
    else if (e.size != a.size) Some(s"${a.size} rows, expected ${e.size}")
    else e.zip(a).collectFirst { case (x, y) if x != y => s"row differs: got $y, expected $x" }
  }

  def replay(spark: SparkSession, spec: StreamSpec, files: Seq[Path], nodes: Seq[String]): Seq[PipelineOutput] = {
    import spark.implicits._
    val metrics = MetricParse.parse(spark.read.text(files.map(_.toString): _*), "value")
      .filter(col("nodeId").isin(nodes: _*))
    SarimaxBaselineJob.outputs(metrics, spec.cfg).collect().toSeq
  }

  /** Checks a finished run; returns the problems found (empty when correct). */
  def check(spark: SparkSession, r: StreamResult): Seq[String] = {
    val spec = r.spec
    val sample = spec.replaySample.toSet
    val rowsOff = r.triggers.filter(_.rows != spec.rowsPerTrigger)
      .map(t => s"trigger ${t.batchId} read ${t.rows} rows, expected ${spec.rowsPerTrigger}")
    val replayOff =
      if (r.files.isEmpty) Seq("no input consumed")
      else {
        val expected = replay(spark, spec, r.files, spec.replaySample)
        val actual = r.outputs.toSeq.filter(o => sample(o.nodeId))
        (if (expected.isEmpty) Seq("replay produced no rows") else Nil) ++
          compare(expected, actual).map(d => s"stream vs batch replay: $d")
      }
    rowsOff ++ replayOff
  }
}
