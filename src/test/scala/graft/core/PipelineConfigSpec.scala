package graft.core

import org.scalatest.funsuite.AnyFunSuite

/** CLI parity with the reference's parse_args
  * (/root/reference/src/flinkarima.py:488-534, run_job.sh:21-32).
  */
class PipelineConfigSpec extends AnyFunSuite {

  test("defaults mirror the reference") {
    val c = PipelineConfig()
    assert(!c.useDatagen)
    assert(c.topic == "node-metrics")
    assert(c.datagenNodes == 5)
    assert(c.datagenRate == 2.0)
    assert(c.parallelism == 1)
    assert(c.checkpointMs == 60000L)
    assert(c.maxHistory == 1440)
    assert(c.minHistory == 288)
    assert(c.emitEveryN == 5)
    assert(c.order == SarimaxOrder(1, 1, 1))
    assert(c.seasonalOrder == SeasonalOrder(0, 1, 1, 288))
    assert(c.forecastSteps == 1)
    assert(c.alertZThreshold == 3.0)
    assert(c.alertPctThreshold == 50.0)
    assert(c.alertMinBaseline == 1.0)
  }

  test("flag parsing round-trip") {
    val c = PipelineConfig.fromArgs(Seq(
      "--use-datagen", "--datagen-nodes", "9", "--datagen-rate", "0.5",
      "--order", "2,0,1", "--seasonal-order", "1,0,1,12",
      "--alert-z-threshold", "2.5", "--max-history", "100",
      "--idle-flush-ms", "7000"))
    assert(c.useDatagen)
    assert(c.datagenNodes == 9)
    assert(c.datagenRate == 0.5)
    assert(c.order == SarimaxOrder(2, 0, 1))
    assert(c.seasonalOrder == SeasonalOrder(1, 0, 1, 12))
    assert(c.alertZThreshold == 2.5)
    assert(c.maxHistory == 100)
    assert(c.idleFlushMillis.contains(7000L))
  }

  test("comma-list validation rejects wrong arity (flinkarima.py:479-485)") {
    assertThrows[IllegalArgumentException] {
      PipelineConfig.fromArgs(Seq("--order", "1,1"))
    }
    assertThrows[IllegalArgumentException] {
      PipelineConfig.fromArgs(Seq("--seasonal-order", "0,1,1"))
    }
    // values the running job would fail on are refused up front
    Seq(
      Seq("--emit-every-n", "0"), Seq("--forecast-steps", "0"),
      Seq("--idle-flush-ms", "0"), Seq("--idle-retention-ms", "-1"),
      // an always-empty history and a lag-0 seasonal difference never
      // produce a baseline; negative orders are not a model
      Seq("--max-history", "0"), Seq("--seasonal-order", "0,1,1,0"),
      Seq("--order", "-1,1,1"), Seq("--order", "1,-1,1"), Seq("--order", "1,1,-1"),
      Seq("--seasonal-order", "-1,1,1,4"), Seq("--seasonal-order", "0,-1,1,4"),
      Seq("--seasonal-order", "0,1,-1,4")).foreach { args =>
      assertThrows[IllegalArgumentException](PipelineConfig.fromArgs(args))
    }
    assertThrows[IllegalArgumentException](PipelineConfig(windowMillis = 0L))
  }

  test("unknown flag rejected") {
    assertThrows[IllegalArgumentException] {
      PipelineConfig.fromArgs(Seq("--nope", "1"))
    }
  }
}
