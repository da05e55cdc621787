package graft.model

import java.nio.{BufferUnderflowException, ByteBuffer}
import java.nio.charset.StandardCharsets.UTF_8

import scala.reflect.classTag

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.AgnosticEncoders.{BinaryEncoder, TransformingEncoder}
import org.apache.spark.sql.catalyst.encoders.Codec

/** Core data model of the pipeline.
  *
  * Mirrors the reference's row shapes (see /root/reference/src/flinkarima.py):
  *  - `Metric`: parsed input row `(node_id, cpu, event_time)` (flinkarima.py:121-127, 405-408)
  *  - `WindowAggregate`: 5-minute window result (flinkarima.py:261-281)
  *  - `Baseline`: SARIMAX baseline payload (flinkarima.py:245-256, README.md:112-126)
  *  - `Alert`: deviation alert payload (flinkarima.py:343-356, README.md:128-144)
  *  - `NodeState`: per-key managed state (flinkarima.py:171-189)
  *
  * All math is Double (Python floats are doubles; flinkarima.py computes in double
  * even though the Flink row declared FLOAT).
  */
final case class Metric(nodeId: String, cpu: Double, eventTime: Long)

final case class WindowAggregate(nodeId: String, cpu: Double, eventTime: Long)

/** Hand-rolled JSON building blocks for the payload strings (the reference
  * emits JSON text, flinkarima.py:245-256, :343-356).
  */
object JsonFormat {

  /** Escape per RFC 8259: quote, backslash, and control chars. */
  def esc(s: String): String = {
    val sb = new StringBuilder(s.length + 8)
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** Render like Python json.dumps for finite doubles (73.0 not 73); NaN and
    * +/-Infinity become null (deliberate divergence: Python emits bare NaN
    * tokens, which no JSON parser accepts).
    */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == d.floor && math.abs(d) < 1e15) s"${d.toLong}.0"
    else d.toString
}

final case class Baseline(
    nodeId: String,
    observedCpu: Double,
    baselineCpu: Double,
    historySize: Int,
    eventTime: Long,
    runningMean: Double,
    runningStd: Double,
    dailyAvgLatest: Option[Double],
    dailyAvgLast5: Option[Double]) {

  /** JSON payload with the same keys/order as flinkarima.py:245-256. */
  def toJson: String = {
    import JsonFormat.{esc, num}
    def opt(o: Option[Double]): String = o.map(num).getOrElse("null")
    s"""{"node_id": "${esc(nodeId)}", "observed_cpu": ${num(observedCpu)}, "baseline_cpu": ${num(baselineCpu)}, """ +
      s""""history_size": $historySize, "event_time": $eventTime, "running_mean": ${num(runningMean)}, """ +
      s""""running_std": ${num(runningStd)}, "daily_avg_latest": ${opt(dailyAvgLatest)}, "daily_avg_last5": ${opt(dailyAvgLast5)}}"""
  }
}

final case class Alert(
    nodeId: String,
    alertType: String,
    severity: String,
    observedCpu: Double,
    baselineCpu: Double,
    deviation: Double,
    pctDeviation: Double,
    zScore: Double,
    alertReason: String,
    eventTime: Long,
    baselineEventTime: Long)

/** Per-key state of the baseline operator (flinkarima.py:171-189).
  * `history` holds z-scored samples, `rawHistory` raw samples, both capped at
  * maxHistory; `count/mean/m2` are the Welford accumulators over raw samples;
  * `emitCounter` gates model fits (flinkarima.py:218-223).
  *
  * Histories are `Vector`s: the hot loop appends and trims once per element
  * (`:+` then `takeRight`), which is effectively O(1)/O(k) on Vector but an
  * O(n) full copy on List — at maxHistory=1440 that is ~3k copied cells per
  * sample per key.
  */
final case class NodeState(
    history: Vector[Double],
    rawHistory: Vector[Double],
    emitCounter: Int,
    count: Long,
    mean: Double,
    m2: Double)

object NodeState {
  val empty: NodeState = NodeState(Vector.empty, Vector.empty, 0, 0L, 0.0, 0.0)
}

/** Output envelope of the fused streaming pipeline: the reference emits both
  * baselines and alerts as JSON strings to stdout (flinkarima.py:471-474).
  */
final case class PipelineOutput(kind: String, nodeId: String, eventTime: Long, payload: String)

/** State of the fused per-key pipeline operator: open 5-minute window
  * accumulator + baseline state + latest baseline for alerting.
  * `closedThrough` is the start of the newest window already finalized (by a
  * later record or by the idle-flush timeout); records at or before it are
  * late and dropped rather than re-opening an emitted window.
  */
final case class OpenWindow(windowStart: Long, sum: Double, count: Long, maxTs: Long)

final case class NodePipelineState(
    open: Option[OpenWindow],
    node: NodeState,
    latestBaseline: Option[Baseline],
    closedThrough: Long = Long.MinValue)

object NodePipelineState {
  val empty: NodePipelineState = NodePipelineState(None, NodeState.empty, None)

  /** State encoder of [[graft.operators.NodePipeline]]: the whole state is
    * one binary column written by [[BinaryCodec]] (the mechanism
    * `Encoders.kryo` uses). Spark's product encoder would store a nested
    * struct, regenerate its serializer and deserializer code in every task
    * of every trigger, and decode both histories element by element, twice
    * per key and trigger (the processing-time timeout scan decodes every
    * key's state to read its timeout).
    */
  val encoder: Encoder[NodePipelineState] =
    TransformingEncoder(classTag[NodePipelineState], BinaryEncoder, () => BinaryCodec)

  /** Versioned binary form of a [[NodePipelineState]]. Layout of version 1,
    * big-endian: the version byte, then the fields in declaration order.
    * An `Option` is a flag byte (0 or 1) followed by its value when 1, a
    * history an `Int` length followed by its raw doubles (bit for bit), a
    * `String` an `Int` byte length followed by its UTF-8 bytes. Decoding
    * refuses any other version and any byte left over or missing, so a
    * field added to the state cannot be read from or into an old payload:
    * it needs a new version here.
    */
  object BinaryCodec extends Codec[NodePipelineState, Array[Byte]] {
    val Version: Byte = 1

    def encode(st: NodePipelineState): Array[Byte] = {
      val n = st.node
      val nodeId = st.latestBaseline.map(_.nodeId.getBytes(UTF_8))
      def optSize[A](o: Option[A])(size: A => Int): Int = 1 + o.fold(0)(size)
      // version; open window (4 x 8); two length-prefixed histories;
      // emitCounter, count, mean, m2 (4 + 3 x 8); latest baseline (id length
      // and bytes, 44 bytes of fixed fields, two optional doubles); closedThrough
      val size = 1 + optSize(st.open)(_ => 32) +
        8 + 8 * (n.history.length + n.rawHistory.length) + 28 +
        optSize(st.latestBaseline)(b =>
          4 + nodeId.get.length + 44 + optSize(b.dailyAvgLatest)(_ => 8) + optSize(b.dailyAvgLast5)(_ => 8)) +
        8
      val buf = ByteBuffer.allocate(size)
      buf.put(Version)
      putOpt(buf, st.open) { ow =>
        buf.putLong(ow.windowStart).putDouble(ow.sum).putLong(ow.count).putLong(ow.maxTs)
      }
      putDoubles(buf, n.history)
      putDoubles(buf, n.rawHistory)
      buf.putInt(n.emitCounter).putLong(n.count).putDouble(n.mean).putDouble(n.m2)
      putOpt(buf, st.latestBaseline) { b =>
        val id = nodeId.get
        buf.putInt(id.length).put(id)
        buf.putDouble(b.observedCpu).putDouble(b.baselineCpu).putInt(b.historySize).putLong(b.eventTime)
          .putDouble(b.runningMean).putDouble(b.runningStd)
        putOpt(buf, b.dailyAvgLatest)(buf.putDouble)
        putOpt(buf, b.dailyAvgLast5)(buf.putDouble)
      }
      buf.putLong(st.closedThrough)
      buf.array()
    }

    def decode(bytes: Array[Byte]): NodePipelineState = {
      val buf = ByteBuffer.wrap(bytes)
      val st =
        try {
          val version = buf.get()
          if (version != Version)
            throw new IllegalStateException(
              s"unknown NodePipelineState version $version (this build reads version $Version); " +
                "a checkpoint written by another version cannot be resumed")
          val open = getOpt(buf)(OpenWindow(buf.getLong(), buf.getDouble(), buf.getLong(), buf.getLong()))
          val node = NodeState(getDoubles(buf), getDoubles(buf), buf.getInt(), buf.getLong(), buf.getDouble(),
            buf.getDouble())
          val latest = getOpt(buf) {
            val id = new Array[Byte](getLength(buf, 1))
            buf.get(id)
            Baseline(new String(id, UTF_8), buf.getDouble(), buf.getDouble(), buf.getInt(), buf.getLong(),
              buf.getDouble(), buf.getDouble(), getOpt(buf)(buf.getDouble()), getOpt(buf)(buf.getDouble()))
          }
          NodePipelineState(open, node, latest, buf.getLong())
        } catch {
          case _: BufferUnderflowException =>
            throw new IllegalStateException(s"truncated NodePipelineState payload: ${bytes.length} bytes")
        }
      if (buf.hasRemaining)
        throw new IllegalStateException(
          s"NodePipelineState payload has ${buf.remaining} trailing bytes after ${buf.position()} decoded")
      st
    }

    private def putOpt[A](buf: ByteBuffer, o: Option[A])(put: A => Any): Unit = o match {
      case Some(a) => buf.put(1.toByte); put(a)
      case None => buf.put(0.toByte)
    }

    private def getOpt[A](buf: ByteBuffer)(get: => A): Option[A] = buf.get() match {
      case 0 => None
      case 1 => Some(get)
      case f => throw new IllegalStateException(s"bad Option flag $f at byte ${buf.position() - 1}")
    }

    private def putDoubles(buf: ByteBuffer, xs: Vector[Double]): Unit = {
      buf.putInt(xs.length)
      xs.foreach(buf.putDouble)
    }

    /** A length prefix, checked against what is left of the payload. */
    private def getLength(buf: ByteBuffer, elementBytes: Int): Int = {
      val n = buf.getInt()
      if (n < 0) throw new IllegalStateException(s"negative length $n at byte ${buf.position() - 4}")
      if (elementBytes.toLong * n > buf.remaining)
        throw new IllegalStateException(
          s"truncated NodePipelineState payload: $n elements of $elementBytes bytes, ${buf.remaining} bytes left")
      n
    }

    private def getDoubles(buf: ByteBuffer): Vector[Double] = {
      val n = getLength(buf, 8)
      val b = Vector.newBuilder[Double]
      b.sizeHint(n)
      var i = 0
      while (i < n) { b += buf.getDouble(); i += 1 }
      b.result()
    }
  }
}
