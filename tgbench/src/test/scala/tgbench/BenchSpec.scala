package tgbench

import graft.rrd.Consolidate
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {

  test("the same seed gives the same generated bytes; another seed does not") {
    val sh = Gen.IngestDefault
    def lines(seed: Long) = Gen.bytesOf(Gen.ingestRounds(seed, sh, 0, 3, 10)).toSeq
    assert(lines(7) == lines(7))
    assert(lines(7) != lines(8))
    assert(Gen.ingestBackfill(7, sh).toSeq == Gen.ingestBackfill(7, sh).toSeq)
    val rs = Gen.RenderDefault
    assert(Gen.renderRequests(7, 500, rs, Gen.panels(7, rs), RenderBench.Hits, 1, 5) ==
      Gen.renderRequests(7, 500, rs, Gen.panels(7, rs), RenderBench.Hits, 1, 5))
    // bit patterns, so NaN points compare equal to themselves
    def raw(seed: Long) = Gen.consGroup(seed, Gen.ConsDefault, 3)
      .map(p => (p.name, p.tsMs, java.lang.Double.doubleToLongBits(p.value)))
    assert(raw(7) == raw(7))
    assert(raw(7) != raw(8))
  }

  test("render mix: same composition for every seed; cold windows never repeat and lie inside the data") {
    val rs = Gen.RenderDefault
    def kinds(seed: Long) = Gen.renderRequests(seed, 1000, rs, Gen.panels(seed, rs),
      RenderBench.Hits, RenderBench.Finds, RenderBench.Colds)
      .groupBy(_.getClass).map { case (k, v) => k -> v.size }
    assert(kinds(3) == kinds(4))
    val cold = Gen.renderRequests(3, 5000, rs, Gen.panels(3, rs),
      RenderBench.Hits, RenderBench.Finds, RenderBench.Colds).collect { case c: Gen.Cold => c }
    val block = RenderBench.Hits + RenderBench.Finds + RenderBench.Colds
    assert(cold.size == 5000 / block * RenderBench.Colds && cold.distinct.size == cold.size)
    // every cold window lies inside the data of the store it reads,
    // which starts one step after its first point
    val t0 = Gen.t0(3)
    val first = RenderBench.Steps.map(s =>
      s -> Gen.renderPoints(3, rs, s, RenderBench.historySec(s)).head._2).toMap
    cold.foreach { c =>
      val step = RenderBench.stepFor(c.windowSec)
      assert(t0 - c.shiftSteps * Gen.StepSec - c.windowSec >= first(step) + step)
    }
    assert(Gen.Windows.map(RenderBench.stepFor).distinct.size == RenderBench.Steps.size)
    // each cycle of cold requests spreads its target families over
    // every window
    val families = Gen.TargetTemplates.size
    cold.grouped(families).filter(_.size == families).foreach { cyc =>
      assert(cyc.map(_.windowSec).distinct.size == math.min(families, Gen.Windows.size))
    }
  }

  test("percentile helper: values, sample counts and samples beyond") {
    val xs = (1 to 10).map(_.toDouble)
    assert(Stats.percentile(xs, 50) == Stats.Pct(5.5, 10, 5))
    val p90 = Stats.percentile(xs, 90)
    assert(math.abs(p90.value - 9.1) < 1e-12 && p90.n == 10 && p90.beyond == 1)
    assert(Stats.percentile(xs.reverse, 0).value == 1.0)
    assert(Stats.percentile(xs, 100) == Stats.Pct(10.0, 10, 0))
    assert(Stats.percentile(Seq(4.0), 90) == Stats.Pct(4.0, 1, 0))
    assert(Stats.percentile(Seq.empty, 50).value.isNaN)
    assert(Stats.percentile(Seq.empty, 50).n == 0)
    assert(math.abs(Stats.slope(Seq(0.0, 1.0, 2.0), Seq(1.0, 3.0, 5.0)) - 2.0) < 1e-12)
  }

  // Hand-checked at step 10 s, heartbeat 300 s, xff 0.5:
  //   updates 0→5, 5→2, 15→4 then 15.5→6 (same second: 6 wins),
  //   25→NaN, 40→8, 400→1 (gap past the heartbeat)
  //   intervals [0,5)=2, [5,15)=6, [15,25) NaN, [25,40)=8, [40,400) gap
  //   slot 0: (2·5 + 6·5)/10 = 4; slot 10: 6 (known 5 s, = xff);
  //   slot 20: 8 (known 5 s); slot 30: 8; nothing later has data
  private val tiny = Seq(0L -> 5.0, 5000L -> 2.0, 15000L -> 4.0,
    15500L -> 6.0, 25000L -> Double.NaN, 40000L -> 8.0, 400000L -> 1.0)
  private val want = Map(0L -> 4.0, 10L -> 6.0, 20L -> 8.0, 30L -> 8.0)

  test("reference PDP fold matches the hand-checked input") {
    assert(Reference.fold(tiny, 10, 300, 0.5) == want)
  }

  test("reference PDP fold agrees with the program on the hand-checked input") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    try {
      import spark.implicits._
      val raw = tiny.map { case (ms, v) => ("s", ms, v) }.toDF("name", "ms", "value")
        .select(col("name"), timestamp_millis(col("ms")).as("ts"), col("value"))
      val got = Consolidate.consolidate(Consolidate.updates(raw), 10, "wmean", 0.5, 300)
        .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
      assert(got == want)
    } finally spark.stop()
  }
}
