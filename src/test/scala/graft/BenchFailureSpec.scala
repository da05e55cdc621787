package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** A key that throws is reported as failed, never as a timing: it is listed
  * with its error in the sidecar's `failed`, counted in the totals line's
  * `n_failed`, left out of every per-query map and of the total, and not
  * run again.
  */
class BenchFailureSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("a throwing query is reported under failed, not timed") {
    val planCalls = new AtomicInteger
    val flakyCalls = new AtomicInteger
    val queries: Seq[(String, Bench.Query)] = Seq(
      "ok" -> ((s, _) => s.range(10).toDF()),
      "throws_at_plan" -> { (_, _) =>
        planCalls.incrementAndGet()
        throw new IllegalStateException("planted planning failure")
      },
      "throws_at_run" -> { (s, _) =>
        import s.implicits._
        s.range(3).map(i => if (i == 2L) throw new ArithmeticException("planted task failure") else i).toDF()
      },
      // passes the cold run and the first steady rep, throws on the next
      "throws_later" -> { (s, _) =>
        if (flakyCalls.incrementAndGet() == 3) throw new IllegalStateException("planted late failure")
        s.range(5).toDF()
      })

    val (detail, totals) = Bench.suite(spark, "unused-sf", queries)
    val json = new ObjectMapper()
    val d = json.readTree(detail)
    val t = json.readTree(totals)

    val failed = d.get("failed").elements().asScala.map(f => f.get("key").asText -> f.get("error").asText).toSeq
    assert(failed.map(_._1) == Seq("throws_at_plan", "throws_at_run", "throws_later"), detail)
    assert(failed(0)._2.contains("planted planning failure"), failed(0))
    assert(failed(1)._2.contains("planted task failure"), failed(1))
    assert(failed(2)._2.contains("planted late failure"), failed(2))
    assert(planCalls.get == 1, "a failed key is not run again")
    assert(flakyCalls.get == 3, "a failed key is not run again")

    Seq("queries", "queries_spread", "queries_cold", "queries_shuffle_write_bytes",
      "queries_shuffle_read_bytes", "queries_input_bytes").foreach { m =>
      assert(d.get(m).fieldNames().asScala.toSeq == Seq("ok"), s"$m: $detail")
    }
    assert(t.get("n_queries").asInt == 1, totals)
    assert(t.get("n_failed").asInt == 2 + 1, totals)
    assert(t.get("value").asDouble == d.get("queries").get("ok").asDouble, totals)
    assert(t.get("slowest").fieldNames().asScala.toSeq == Seq("ok"), totals)
    assert(!totals.contains("\n") && totals.length < 2000, totals)
  }
}
