package graft.model

import java.lang.Double.doubleToRawLongBits

import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.types.BinaryType
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.Prop.propBoolean
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkSpec

/** Contract of [[NodePipelineState.BinaryCodec]], the state format of the
  * fused pipeline's checkpoints: an exact round trip over every state shape
  * (doubles bit for bit), loud failures on foreign or damaged payloads, and
  * a pinned layout, so that a field added to the state fails here until the
  * codec and its version byte handle it.
  */
class NodePipelineStateCodecSpec extends AnyFunSuite {
  import NodePipelineState.BinaryCodec

  private def check(name: String, prop: Prop, min: Int = 500): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(min), prop)
    assert(res.passed, s"$name: $res")
  }

  private val Cap = 1440 // the reference's maxHistory

  private val specialDouble: Gen[Double] = Gen.oneOf(
    Double.NaN, java.lang.Double.longBitsToDouble(0x7ff8000000000001L), Double.PositiveInfinity,
    Double.NegativeInfinity, -0.0, 0.0, Double.MinValue, Double.MaxValue, Double.MinPositiveValue)
  private val anyDouble: Gen[Double] =
    Gen.frequency(3 -> specialDouble, 7 -> Gen.choose(-1e6, 1e6), 1 -> Gen.long.map(java.lang.Double.longBitsToDouble))
  private val anyLong: Gen[Long] = Gen.oneOf(Gen.const(Long.MinValue), Gen.const(Long.MaxValue), Gen.long)

  private val historyGen: Gen[Vector[Double]] =
    Gen.oneOf(Gen.const(0), Gen.choose(1, Cap - 1), Gen.const(Cap)).flatMap(Gen.containerOfN[Vector, Double](_, anyDouble))

  private val nodeIdGen: Gen[String] =
    Gen.oneOf(Gen.const(""), Gen.const("nœud-é"), Gen.const("节点-7 🚀"), Gen.alphaNumStr)

  private val baselineGen: Gen[Baseline] = for {
    id <- nodeIdGen
    observed <- anyDouble
    baseline <- anyDouble
    size <- Gen.oneOf(Gen.const(0), Gen.choose(1, Cap), Gen.const(Int.MinValue))
    eventTime <- anyLong
    mean <- anyDouble
    std <- anyDouble
    latest <- Gen.option(anyDouble)
    last5 <- Gen.option(anyDouble)
  } yield Baseline(id, observed, baseline, size, eventTime, mean, std, latest, last5)

  private val stateGen: Gen[NodePipelineState] = for {
    open <- Gen.option(for (ws <- anyLong; sum <- anyDouble; n <- anyLong; maxTs <- anyLong)
      yield OpenWindow(ws, sum, n, maxTs))
    history <- historyGen
    raw <- historyGen
    emit <- Gen.choose(Int.MinValue, Int.MaxValue)
    count <- anyLong
    mean <- anyDouble
    m2 <- anyDouble
    latest <- Gen.option(baselineGen)
    closed <- anyLong
  } yield NodePipelineState(open, NodeState(history, raw, emit, count, mean, m2), latest, closed)

  /** The state with every double replaced by its raw bits: `==` on this is
    * bit-exact, where `==` on the state treats NaN as unequal to itself and
    * -0.0 as equal to 0.0.
    */
  private def bits(st: NodePipelineState): Seq[Any] = {
    def b(d: Double): Long = doubleToRawLongBits(d)
    Seq(
      st.open.map(o => (o.windowStart, b(o.sum), o.count, o.maxTs)),
      st.node.history.map(b), st.node.rawHistory.map(b),
      (st.node.emitCounter, st.node.count, b(st.node.mean), b(st.node.m2)),
      st.latestBaseline.map(x => (x.nodeId, b(x.observedCpu), b(x.baselineCpu), x.historySize, x.eventTime,
        b(x.runningMean), b(x.runningStd), x.dailyAvgLatest.map(b), x.dailyAvgLast5.map(b))),
      st.closedThrough)
  }

  private def hasNaN(st: NodePipelineState): Boolean =
    (st.open.map(_.sum).toSeq ++ st.node.history ++ st.node.rawHistory ++ Seq(st.node.mean, st.node.m2) ++
      st.latestBaseline.toSeq.flatMap(x =>
        Seq(x.observedCpu, x.baselineCpu, x.runningMean, x.runningStd) ++ x.dailyAvgLatest ++ x.dailyAvgLast5))
      .exists(_.isNaN)

  private def fill(n: Int): String = if (n == 0) "empty" else if (n == Cap) "cap" else "partial"

  test("round trip is exact over every state shape, doubles bit for bit") {
    var shapes = Set.empty[String]
    val prop = Prop.forAll(stateGen) { st =>
      val back = BinaryCodec.decode(BinaryCodec.encode(st))
      shapes ++= Seq(
        s"open=${st.open.isDefined}", s"history=${fill(st.node.history.length)}",
        s"raw=${fill(st.node.rawHistory.length)}", s"latest=${st.latestBaseline.isDefined}",
        s"closed=${st.closedThrough == Long.MinValue}", s"nan=${hasNaN(st)}") ++
        st.latestBaseline.toSeq.flatMap(x =>
          Seq(s"dailyLatest=${x.dailyAvgLatest.isDefined}", s"dailyLast5=${x.dailyAvgLast5.isDefined}"))
      (bits(back) == bits(st)) :| "bit-exact" && (hasNaN(st) || back == st) :| "=="
    }
    check("codec round trip", prop)
    // every shape the generator aims at was reached
    val want = (for (f <- Seq("open", "latest", "closed", "nan", "dailyLatest", "dailyLast5");
                     v <- Seq(true, false)) yield s"$f=$v") ++
      (for (f <- Seq("history", "raw"); v <- Seq("empty", "partial", "cap")) yield s"$f=$v")
    assert(want.toSet -- shapes == Set.empty, shapes)
  }

  test("the empty state round-trips, with and without a closed window") {
    Seq(NodePipelineState.empty, NodePipelineState.empty.copy(closedThrough = 0L)).foreach { st =>
      assert(BinaryCodec.decode(BinaryCodec.encode(st)) == st)
    }
  }

  private val sample = NodePipelineState(
    Some(OpenWindow(300000L, 7.5, 3L, 310000L)),
    NodeState(Vector(0.5, -0.0), Vector(1.0, Double.NaN), 4, 2L, 1.5, 0.25),
    Some(Baseline("nœud", 1.0, 2.0, 2, 9L, 1.5, 0.5, None, Some(3.0))),
    closedThrough = 0L)

  test("an unknown version, a truncated payload and trailing bytes each throw, naming the cause") {
    val bytes = BinaryCodec.encode(sample)
    val otherVersion = bytes.clone()
    otherVersion(0) = (BinaryCodec.Version + 1).toByte
    val e1 = intercept[IllegalStateException](BinaryCodec.decode(otherVersion))
    assert(e1.getMessage.contains(s"unknown NodePipelineState version ${BinaryCodec.Version + 1}"), e1.getMessage)

    // every cut point, the empty payload included
    (0 until bytes.length).foreach { n =>
      val e = intercept[IllegalStateException](BinaryCodec.decode(bytes.take(n)))
      assert(e.getMessage.contains("truncated"), s"cut at $n: ${e.getMessage}")
    }

    val e3 = intercept[IllegalStateException](BinaryCodec.decode(bytes :+ 0.toByte))
    assert(e3.getMessage.contains("1 trailing bytes"), e3.getMessage)

    val badFlag = bytes.clone()
    badFlag(1) = 2
    val e4 = intercept[IllegalStateException](BinaryCodec.decode(badFlag))
    assert(e4.getMessage.contains("bad Option flag 2"), e4.getMessage)
  }

  test("the format is pinned: one binary column, today's field counts, version 1 bytes") {
    val schema = encoderFor(NodePipelineState.encoder).schema
    assert(schema.fields.map(_.dataType).toSeq == Seq(BinaryType), schema)
    // a new field in any of these changes the payload: add it to the codec
    // under a new version, then update these counts
    assert(NodePipelineState.empty.productArity == 4)
    assert(NodeState.empty.productArity == 6)
    assert(OpenWindow(0L, 0.0, 0L, 0L).productArity == 4)
    assert(sample.latestBaseline.get.productArity == 9)
    assert(BinaryCodec.Version == 1)
    // version 1's layout, byte for byte (see the BinaryCodec scaladoc)
    val hex = BinaryCodec.encode(sample).map(b => f"$b%02x").mkString
    assert(hex ==
      "01" + // version
      "01" + "00000000000493e0" + "401e000000000000" + "0000000000000003" + "000000000004baf0" + // open
      "00000002" + "3fe0000000000000" + "8000000000000000" + // history
      "00000002" + "3ff0000000000000" + "7ff8000000000000" + // rawHistory
      "00000004" + "0000000000000002" + "3ff8000000000000" + "3fd0000000000000" + // emit, count, mean, m2
      "01" + "00000005" + "6ec5937564" + // latestBaseline, nodeId
      "3ff0000000000000" + "4000000000000000" + "00000002" + "0000000000000009" +
      "3ff8000000000000" + "3fe0000000000000" + "00" + "01" + "4008000000000000" +
      "0000000000000000") // closedThrough
  }

  test("Spark serializes and deserializes the state through the encoder") {
    val spark = SparkSpec.spark
    val states = Seq(NodePipelineState.empty, sample)
    val back = spark.createDataset(states)(NodePipelineState.encoder).collect().toSeq
    assert(back.map(bits) == states.map(bits))
  }
}
