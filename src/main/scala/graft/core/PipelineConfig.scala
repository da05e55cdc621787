package graft.core

/** Configuration surface of the pipeline — same flags and defaults as the
  * reference CLI (/root/reference/src/flinkarima.py:488-534, run_job.sh:21-32).
  */
final case class SarimaxOrder(p: Int, d: Int, q: Int)
final case class SeasonalOrder(bigP: Int, bigD: Int, bigQ: Int, s: Int)

final case class PipelineConfig(
    useDatagen: Boolean = false,
    topic: String = "node-metrics",
    bootstrapServers: String = "redpanda-1:9092",
    datagenNodes: Int = 5,
    datagenRate: Double = 2.0,
    datagenDurationSeconds: Option[Int] = None,
    parallelism: Int = 1,
    checkpointMs: Long = 60000L,
    maxHistory: Int = 1440,
    minHistory: Int = 288,
    emitEveryN: Int = 5,
    order: SarimaxOrder = SarimaxOrder(1, 1, 1),
    seasonalOrder: SeasonalOrder = SeasonalOrder(0, 1, 1, 288),
    forecastSteps: Int = 1,
    alertZThreshold: Double = 3.0,
    alertPctThreshold: Double = 50.0,
    alertMinBaseline: Double = 1.0,
    windowMillis: Long = 300000L, // 5-minute tumbling windows (flinkarima.py:421)
    checkpointLocation: Option[String] = None,
    // processing-time idle flush for a key's open window (None -> windowMillis),
    // matching the reference's guaranteed window fire (flinkarima.py:420-428)
    idleFlushMillis: Option[Long] = None,
    // how long a key's state (SARIMAX history + latest baseline) survives
    // after its idle flush before being evicted (None -> 24 x windowMillis).
    // The reference keeps per-key state forever (no Flink state TTL); on a
    // long-running stream that is unbounded growth across dead keys, so the
    // Spark port adds a retention ladder: idle flush -> retention -> remove.
    idleRetentionMillis: Option[Long] = None) {
  // each of these would only fail once the stream runs: a zero emit cadence
  // or window width divides by zero in the operator and kills the query, a
  // non-positive timeout is refused by GroupState on the first batch, and a
  // zero-step forecast, an empty history, a lag-0 season or a negative order
  // fails every fit (or never fits), so no baseline is ever emitted. Checks
  // stay single-field: fromArgs builds the config one flag at a time, so a
  // cross-field check (minHistory <= maxHistory) would depend on flag order.
  require(emitEveryN >= 1, s"emitEveryN must be >= 1, got $emitEveryN")
  require(forecastSteps >= 1, s"forecastSteps must be >= 1, got $forecastSteps")
  require(maxHistory >= 1, s"maxHistory must be >= 1, got $maxHistory")
  require(seasonalOrder.s >= 1, s"seasonal period s must be >= 1, got ${seasonalOrder.s}")
  require(Seq(order.p, order.d, order.q).forall(_ >= 0), s"order components must be >= 0, got $order")
  require(Seq(seasonalOrder.bigP, seasonalOrder.bigD, seasonalOrder.bigQ).forall(_ >= 0),
    s"seasonal order components must be >= 0, got $seasonalOrder")
  require(windowMillis > 0, s"windowMillis must be > 0, got $windowMillis")
  require(idleFlushMillis.forall(_ > 0), s"idleFlushMillis must be > 0, got $idleFlushMillis")
  require(idleRetentionMillis.forall(_ > 0), s"idleRetentionMillis must be > 0, got $idleRetentionMillis")
}

object PipelineConfig {

  /** Parse `--flag value` pairs with the reference's flag names
    * (flinkarima.py:488-534). Comma lists validated like _comma_int_list
    * (flinkarima.py:479-485).
    */
  def fromArgs(args: Seq[String]): PipelineConfig = {
    def intList(v: String, expected: Int): Seq[Int] = {
      val parts = v.split(",").map(_.trim.toInt).toSeq
      require(parts.length == expected, s"Expected $expected comma-separated ints, got $v")
      parts
    }
    @annotation.tailrec
    def loop(rest: List[String], cfg: PipelineConfig): PipelineConfig = rest match {
      case Nil => cfg
      case "--use-datagen" :: t => loop(t, cfg.copy(useDatagen = true))
      case "--topic" :: v :: t => loop(t, cfg.copy(topic = v))
      case "--bootstrap-servers" :: v :: t => loop(t, cfg.copy(bootstrapServers = v))
      case "--datagen-nodes" :: v :: t => loop(t, cfg.copy(datagenNodes = v.toInt))
      case "--datagen-rate" :: v :: t => loop(t, cfg.copy(datagenRate = v.toDouble))
      case "--datagen-duration" :: v :: t => loop(t, cfg.copy(datagenDurationSeconds = Some(v.toInt)))
      case "--parallelism" :: v :: t => loop(t, cfg.copy(parallelism = v.toInt))
      case "--checkpoint-ms" :: v :: t => loop(t, cfg.copy(checkpointMs = v.toLong))
      case "--max-history" :: v :: t => loop(t, cfg.copy(maxHistory = v.toInt))
      case "--min-history" :: v :: t => loop(t, cfg.copy(minHistory = v.toInt))
      case "--emit-every-n" :: v :: t => loop(t, cfg.copy(emitEveryN = v.toInt))
      case "--order" :: v :: t =>
        val Seq(p, d, q) = intList(v, 3); loop(t, cfg.copy(order = SarimaxOrder(p, d, q)))
      case "--seasonal-order" :: v :: t =>
        val Seq(bp, bd, bq, s) = intList(v, 4)
        loop(t, cfg.copy(seasonalOrder = SeasonalOrder(bp, bd, bq, s)))
      case "--forecast-steps" :: v :: t => loop(t, cfg.copy(forecastSteps = v.toInt))
      case "--alert-z-threshold" :: v :: t => loop(t, cfg.copy(alertZThreshold = v.toDouble))
      case "--alert-pct-threshold" :: v :: t => loop(t, cfg.copy(alertPctThreshold = v.toDouble))
      case "--alert-min-baseline" :: v :: t => loop(t, cfg.copy(alertMinBaseline = v.toDouble))
      case "--checkpoint-location" :: v :: t => loop(t, cfg.copy(checkpointLocation = Some(v)))
      case "--idle-flush-ms" :: v :: t => loop(t, cfg.copy(idleFlushMillis = Some(v.toLong)))
      case "--idle-retention-ms" :: v :: t => loop(t, cfg.copy(idleRetentionMillis = Some(v.toLong)))
      case other :: _ => throw new IllegalArgumentException(s"Unknown flag: $other")
    }
    loop(args.toList, PipelineConfig())
  }
}
