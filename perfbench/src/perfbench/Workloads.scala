package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.core.PipelineConfig
import graft.sources.MetricDatagen

/** One stream workload: `nodes` keys, first warmed with `warmWindows`
  * closed 5-minute windows (one record each, all in the first trigger),
  * then fed one file per trigger holding `recordsPerTrigger` records per
  * node spaced `intervalMs` apart in event time. The first
  * `settleTriggers` of those run untimed while the JIT settles; inputs are
  * provisioned for triggers as fast as `fastestTriggerMs`.
  */
final case class StreamSpec(
    name: String,
    nodes: Int,
    warmWindows: Int,
    intervalMs: Long,
    recordsPerTrigger: Int,
    settleTriggers: Int,
    fastestTriggerMs: Long,
    replayNodes: Int,
    cfg: PipelineConfig) {
  def triggerSpanMs: Long = intervalMs * recordsPerTrigger
  def timedStartMs: Long = Inputs.StartMs + warmWindows * Inputs.WindowMs
  def rowsPerTrigger: Long = nodes.toLong * recordsPerTrigger

  /** Timed-phase files to generate for a run of `seconds`. */
  def filesFor(seconds: Int): Int = settleTriggers + (seconds * 1000L / fastestTriggerMs).toInt + 4

  /** Input file holding a record: 0 is the warm-up file, 1.. the timed ones. */
  def fileOf(eventTime: Long): Int =
    if (eventTime < timedStartMs) 0 else 1 + ((eventTime - timedStartMs) / triggerSpanMs).toInt

  /** The nodes whose outputs are replayed in batch: evenly spaced, fixed. */
  def replaySample: Seq[String] = {
    val step = math.max(1, nodes / replayNodes)
    (0 until nodes by step).take(replayNodes).map(i => f"node-${i + 1}%02d")
  }
}

object Workloads {

  /** The product's configuration: the reference CLI defaults. */
  private val product = PipelineConfig()

  val all: Map[String, StreamSpec] = Seq(
    // the reference traffic shape (2 msg/s per node, 60 s of event time per
    // trigger); 500 warm windows keep every fit in the run below the first
    // real CSS fit (history 585), so parse, shuffle, window accumulation
    // and the state rewrite carry the trigger
    StreamSpec("stream_ingest", nodes = 100, warmWindows = 500, intervalMs = 500L,
      recordsPerTrigger = 120, settleTriggers = 10, fastestTriggerMs = 300L, replayNodes = 8, cfg = product),
    // one record per node per window, 5 windows per trigger: exactly one
    // real CSS fit per node per trigger at the history cap. The cap is the
    // reference's --max-history flag at 600 windows (2 days) instead of
    // 1440: warm-up then reaches it with ~4 real fits per node, not ~170
    StreamSpec("stream_model", nodes = 200, warmWindows = 605, intervalMs = Inputs.WindowMs,
      recordsPerTrigger = 5, settleTriggers = 10, fastestTriggerMs = 300L, replayNodes = 4,
      cfg = product.copy(maxHistory = 600)),
  ).map(s => s.name -> s).toMap
}

/** Seeded input files, generated with the program's own generator
  * (`MetricDatagen.batch` -> `asKafkaJson`) before any timer starts.
  */
object Inputs {
  val StartMs = 1704067200000L // 2024-01-01 00:00 UTC
  val WindowMs = 300000L

  /** Writes files 0..triggers into `dir` as `NNNNN.json`, one JSON record
    * per line, with strictly increasing modification times (the file
    * source's processing order). Returns them in order.
    */
  def generate(spark: SparkSession, spec: StreamSpec, seed: Long, triggers: Int, dir: Path): IndexedSeq[Path] = {
    val warm = MetricDatagen.batch(spark, spec.nodes, spec.warmWindows, StartMs, WindowMs, seed)
    val timed = MetricDatagen.batch(spark, spec.nodes, spec.recordsPerTrigger * triggers,
      spec.timedStartMs, spec.intervalMs, seed)
    // range partitions keep generation order, so the part files, read in
    // name order, hold the records in event-time order; they are split
    // into one file per trigger here
    val gen = dir.resolve("_gen")
    MetricDatagen.asKafkaJson(warm).union(MetricDatagen.asKafkaJson(timed)).write.text(gen.toString)
    val parts = Files.list(gen).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq.sortBy(_.getFileName.toString)
    val files = (0 to triggers).map(f => dir.resolve(f"$f%05d.json"))
    val TsKey = "\"timestamp\":"
    var current = -1
    var out: java.io.BufferedWriter = null
    parts.foreach { p =>
      val in = Files.newBufferedReader(p)
      try {
        var line = in.readLine()
        while (line != null) {
          val at = line.indexOf(TsKey) + TsKey.length
          val f = spec.fileOf(line.substring(at, line.indexOf('}', at)).trim.toLong)
          if (f != current) {
            require(f > current, s"input records out of event-time order at file $f")
            if (out != null) out.close()
            out = Files.newBufferedWriter(files(f))
            current = f
          }
          out.write(line)
          out.write('\n')
          line = in.readLine()
        }
      } finally in.close()
    }
    if (out != null) out.close()
    require(current == triggers, s"generated ${current + 1} files, expected ${triggers + 1}")
    val base = System.currentTimeMillis() - 86400000L
    files.zipWithIndex.foreach { case (p, f) => Files.setLastModifiedTime(p, FileTime.fromMillis(base + f * 1000L)) }
    Files.walk(gen).sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.delete(p))
    files
  }
}
