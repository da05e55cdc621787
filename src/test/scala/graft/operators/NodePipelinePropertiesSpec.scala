package graft.operators

import java.nio.file.Files

import org.apache.spark.api.java.Optional
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery, TestGroupState}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec
import graft.core.{PipelineConfig, SarimaxOrder, SeasonalOrder}
import graft.model.{Baseline, Metric, NodePipelineState, NodeState, PipelineOutput, WindowAggregate}

/** The reference's per-record order for ONE key, written out sequentially
  * with no Spark state machinery — the oracle [[NodePipelinePropertiesSpec]]
  * holds [[NodePipeline]] to (flinkarima.py:261-376).
  *
  * Rules, in the order they apply:
  *  - a micro-batch's records are stable-sorted by event time (the
  *    documented divergence from the reference's arrival order, SURVEY
  *    §7.4.2); ties keep arrival order;
  *  - a record belongs to the window `floorDiv(eventTime, W) * W`;
  *  - a record for a window at or before the newest closed one, or before
  *    the open one, is late and dropped;
  *  - a record for a later window closes the open one: its mean cpu is
  *    checked by [[AlertOp.check]] against the PREVIOUS baseline, then
  *    stepped through [[BaselineOp.step]], whose baseline (if any) becomes
  *    the latest;
  *  - a processing-time timeout tick closes the open window; with no window
  *    open it evicts the key, which then starts over as a brand-new one.
  */
object NodePipelineModel {

  sealed trait Step
  /** One micro-batch's records for the key, in arrival order. */
  final case class Batch(rows: Vector[Metric]) extends Step
  /** The key's processing-time timeout fired. */
  case object Tick extends Step

  final case class Result(outputs: Vector[PipelineOutput], dropped: Int)

  def run(cfg: PipelineConfig, key: String, steps: Seq[Step]): Result = {
    val w = cfg.windowMillis
    val out = Vector.newBuilder[PipelineOutput]
    var dropped = 0
    var open: Option[(Long, Vector[Metric])] = None // window start, accepted records
    var node = NodeState.empty
    var latest: Option[Baseline] = None
    var closedThrough = Long.MinValue

    def close(): Unit = open.foreach { case (start, recs) =>
      val newest = recs.map(_.eventTime).max
      // a window whose newest record sits at ts 0 is stamped with its end
      val eventTime = if (newest == 0L) start + w else newest
      val agg = WindowAggregate(key, recs.map(_.cpu).reduceLeft(_ + _) / recs.length, eventTime)
      AlertOp.check(cfg, agg, latest).foreach { a =>
        out += PipelineOutput("alert", key, a.eventTime, NodePipeline.alertJson(a))
      }
      val (next, emitted) = BaselineOp.step(cfg, node, agg)
      emitted.foreach(b => out += PipelineOutput("baseline", key, b.eventTime, b.toJson))
      node = next
      latest = emitted.orElse(latest)
      closedThrough = start
      open = None
    }

    steps.foreach {
      case Tick if open.isDefined => close()
      case Tick =>
        node = NodeState.empty
        latest = None
        closedThrough = Long.MinValue
      case Batch(rows) =>
        rows.sortBy(_.eventTime).foreach { m =>
          val start = Math.floorDiv(m.eventTime, w) * w
          if (start <= closedThrough || open.exists(_._1 > start)) dropped += 1
          else {
            if (open.exists(_._1 < start)) close()
            open = Some(start -> (open.fold(Vector.empty[Metric])(_._2) :+ m))
          }
        }
    }
    Result(out.result(), dropped)
  }
}

/** [[NodePipeline]] against [[NodePipelineModel]], on generated metric
  * streams with random micro-batch splits, timeout ticks, out-of-order and
  * late records, duplicate timestamps, idle gaps and negative and zero
  * timestamps: directly through `processGroup`, as a batch replay, and
  * through the streaming engine across a checkpoint restart (the
  * exactly-once, prefix-consistent output Structured Streaming promises a
  * stateful operator). ScalaCheck is driven directly, as in
  * `KernelPropertiesSpec`.
  */
class NodePipelinePropertiesSpec extends AnyFunSuite {
  import NodePipelineModel.{Batch, Step, Tick}

  private lazy val spark = SparkSpec.spark

  private def check(name: String, prop: Prop, min: Int = 300): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: $res")
  }

  private val W = 1000L

  // small histories keep the SARIMA fits cheap; thresholds vary so both
  // alert reasons and both severities occur; the 10-minute idle flush
  // never fires inside an engine case
  private val cfgGen: Gen[PipelineConfig] = for {
    maxHistory <- Gen.choose(2, 8)
    minHistory <- Gen.choose(1, maxHistory)
    emitEveryN <- Gen.choose(1, 3)
    seasonal <- Gen.oneOf(SeasonalOrder(0, 1, 1, 2), SeasonalOrder(0, 0, 0, 2))
    z <- Gen.oneOf(1.0, 3.0)
    pct <- Gen.oneOf(20.0, 50.0)
  } yield PipelineConfig(
    maxHistory = maxHistory, minHistory = minHistory, emitEveryN = emitEveryN,
    order = SarimaxOrder(1, 1, 1), seasonalOrder = seasonal,
    alertZThreshold = z, alertPctThreshold = pct,
    windowMillis = W, idleFlushMillis = Some(600000L))

  // quarter steps add up exactly in any order, so the engine's arbitrary
  // tie order within a micro-batch cannot move a window's mean
  private val exactCpu: Gen[Double] = Gen.choose(0, 600).map(_ / 4.0)
  private val anyCpu: Gen[Double] = Gen.frequency(1 -> exactCpu, 1 -> Gen.choose(0.0, 150.0))

  /** One key's records in arrival order: a random walk on a 100 ms grid
    * (ties and ts 0 are common) with backward steps (out of order, often
    * late) and long forward jumps (idle gaps).
    */
  private def recordsGen(key: String, cpu: Gen[Double]): Gen[Vector[Metric]] = for {
    n <- Gen.choose(0, 40)
    start <- Gen.choose(-50L, 50L)
    steps <- Gen.listOfN(n, Gen.frequency(
      6 -> Gen.choose(0L, 5L),
      2 -> Gen.const(0L),
      2 -> Gen.choose(-30L, -1L),
      1 -> Gen.choose(30L, 200L)))
    cpus <- Gen.listOfN(n, cpu)
  } yield steps.scanLeft(start)(_ + _).tail.zip(cpus)
    .map { case (t, c) => Metric(key, c, t * 100L) }.toVector

  /** Cut the records into micro-batches; with `ticks`, zero to two timeout
    * ticks follow each batch (two in a row flush and then evict).
    */
  private def splitGen(rows: Vector[Metric], ticks: Boolean): Gen[Vector[Step]] = for {
    cuts <- Gen.listOfN(rows.length, Gen.frequency(3 -> false, 1 -> true))
    tickCounts <- Gen.listOfN(rows.length,
      if (ticks) Gen.frequency(6 -> 0, 2 -> 1, 1 -> 2) else Gen.const(0))
  } yield {
    val steps = Vector.newBuilder[Step]
    var batch = Vector.empty[Metric]
    rows.indices.foreach { i =>
      batch :+= rows(i)
      if (cuts(i) || i == rows.length - 1) {
        steps += Batch(batch)
        batch = Vector.empty
        (1 to tickCounts(i)).foreach(_ => steps += Tick)
      }
    }
    steps.result()
  }

  /** `processGroup` driven the way the engine drives it: once per
    * micro-batch that has rows for the key, and once per fired timeout of
    * a key that still has state.
    */
  private def runProcessGroup(cfg: PipelineConfig, key: String, steps: Seq[Step]): Vector[PipelineOutput] = {
    var state: Option[NodePipelineState] = None
    val out = Vector.newBuilder[PipelineOutput]
    steps.foreach { step =>
      val (rows, timedOut) = step match {
        case Batch(r) => (r, false)
        case Tick => (Vector.empty[Metric], true)
      }
      if (rows.nonEmpty || (timedOut && state.isDefined)) {
        val gs = TestGroupState.create[NodePipelineState](
          Optional.ofNullable(state.orNull), GroupStateTimeout.ProcessingTimeTimeout(),
          0L, Optional.empty[Long](), timedOut)
        out ++= NodePipeline.processGroup(cfg)(key, rows.iterator, gs)
        state = gs.getOption
      }
    }
    out.result()
  }

  test("processGroup equals the sequential model under random splits, ticks and late records") {
    var dropped, alerts, baselines, ticks = 0
    val prop = Prop.forAll(cfgGen, recordsGen("node-P", anyCpu).flatMap(splitGen(_, ticks = true))) {
      (cfg, steps) =>
        val want = NodePipelineModel.run(cfg, "node-P", steps)
        val got = runProcessGroup(cfg, "node-P", steps)
        dropped += want.dropped
        alerts += want.outputs.count(_.kind == "alert")
        baselines += want.outputs.count(_.kind == "baseline")
        ticks += steps.count(_ == Tick)
        (got == want.outputs) :| s"pipeline:\n${got.mkString("\n")}\nmodel:\n${want.outputs.mkString("\n")}"
    }
    check("processGroup vs model", prop)
    // the generator reached every rule the model states
    assert(dropped > 0 && alerts > 0 && baselines > 0 && ticks > 0,
      s"dropped=$dropped alerts=$alerts baselines=$baselines ticks=$ticks")
  }

  test("input sorted by event time gives the same output under every split") {
    val gen = for {
      cfg <- cfgGen
      rows <- recordsGen("node-S", anyCpu).map(_.sortBy(_.eventTime))
      a <- splitGen(rows, ticks = false)
      b <- splitGen(rows, ticks = false)
    } yield (cfg, rows, a, b)
    val prop = Prop.forAll(gen) { case (cfg, rows, a, b) =>
      val whole = runProcessGroup(cfg, "node-S", Seq(Batch(rows)))
      (runProcessGroup(cfg, "node-S", a) == whole && runProcessGroup(cfg, "node-S", b) == whole) :|
        s"splits ${a.length} / ${b.length} batches diverge from one batch"
    }
    check("split invariance", prop)
  }

  /** Several keys' streams under one config, each key's records in arrival order. */
  private def keysGen(nKeys: Int): Gen[(PipelineConfig, Seq[Vector[Metric]])] = for {
    cfg <- cfgGen
    streams <- Gen.sequence[Seq[Vector[Metric]], Vector[Metric]](
      (0 until nKeys).map(k => recordsGen(f"node-$k%02d", exactCpu)))
  } yield (cfg, streams.filter(_.nonEmpty))

  test("batch NodePipeline replay equals the model with everything in one batch") {
    import spark.implicits._
    val prop = Prop.forAll(keysGen(20)) { case (cfg, streams) =>
      val got = NodePipeline(streams.flatten.toDS(), cfg).collect().groupBy(_.nodeId)
      val mismatched = streams.filter { rows =>
        val key = rows.head.nodeId
        val want = NodePipelineModel.run(cfg, key, Seq(Batch(rows))).outputs
        got.get(key).fold(Vector.empty[PipelineOutput])(_.toVector) != want
      }
      mismatched.isEmpty :| s"keys diverge: ${mismatched.map(_.head.nodeId).mkString(", ")}"
    }
    check("batch replay vs model", prop, min = 8)
  }

  private def pollUntil(what: String, timeoutMs: Long = 60000L)(pred: => Boolean): Unit = {
    val deadline = System.currentTimeMillis + timeoutMs
    while (System.currentTimeMillis < deadline && !pred) Thread.sleep(50)
    assert(pred, s"timed out waiting for: $what")
  }

  test("streaming engine across random micro-batches and a checkpoint restart equals the model") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val providerKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProvider = spark.conf.getOption(providerKey)
    // the default state store, which the product job runs on
    spark.conf.unset(providerKey)
    try for (seed <- Seq(11L, 29L, 47L)) {
      val params = Gen.Parameters.default
      val (cfg, streams) = keysGen(4).pureApply(params, Seed(seed))
      val splits = streams.zipWithIndex.map { case (rows, i) =>
        splitGen(rows, ticks = false).pureApply(params, Seed(seed * 100 + i))
          .collect { case b: Batch => b }
      }
      // micro-batch j carries every key's j-th batch
      val microBatches = (0 until splits.map(_.length).max).map(j => splits.flatMap(_.lift(j)).flatMap(_.rows))
      val restartAt = Gen.choose(1, math.max(1, microBatches.length - 1)).pureApply(params, Seed(seed))

      val checkpoint = Files.createTempDirectory("graft-props-ckpt-").toString
      val outDir = Files.createTempDirectory("graft-props-out-").toString
      val input = MemoryStream[Metric]
      def start(): StreamingQuery = NodePipeline(input.toDS(), cfg)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
        .start()
      // progress is posted after the batch's commit-log entry, and every
      // later (idle) batch reports the same end offset
      def addAndCommit(q: StreamingQuery, rows: Seq[Metric]): Unit = {
        val off = input.addData(rows).json
        pollUntil(s"seed $seed: offset $off committed") {
          Option(q.lastProgress).exists(_.sources.head.endOffset == off)
        }
      }

      val q1 = start()
      try microBatches.take(restartAt).foreach(addAndCommit(q1, _))
      finally q1.stop()
      val q2 = start()
      try microBatches.drop(restartAt).foreach(addAndCommit(q2, _))
      finally q2.stop()

      val got = spark.read.schema(Encoders.product[PipelineOutput].schema).parquet(outDir)
        .as[PipelineOutput].collect().groupBy(_.nodeId)
      def canonical(os: Seq[PipelineOutput]) = os.sortBy(o => (o.eventTime, o.kind, o.payload))
      streams.zip(splits).foreach { case (rows, batches) =>
        val key = rows.head.nodeId
        val want = NodePipelineModel.run(cfg, key, batches).outputs
        assert(canonical(got.getOrElse(key, Array.empty[PipelineOutput]).toSeq) == canonical(want),
          s"seed $seed, $key: ${microBatches.length} micro-batches, restart before $restartAt")
      }
    } finally prevProvider.fold(spark.conf.unset(providerKey))(spark.conf.set(providerKey, _))
  }
}
