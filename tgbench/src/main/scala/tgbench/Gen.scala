package tgbench

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** Seeded input generation. Every input a workload sends or loads comes
  * from here, as a pure function of the seed; the program under test
  * only ever sees the generated lines, points and requests.
  *
  * Timestamps are seed-derived too. They sit on a fixed far-future day,
  * so every run writes inside one archive partition of every resolution
  * (each partition width is a multiple of a day) and no store's
  * wall-clock retention ever ages the data out. */
object Gen {

  /** Start of the seeded day; 8640-slot partitions at 10 s, 1 m, 10 m
    * and 1 d steps are whole multiples of a day, so a day never
    * straddles a partition boundary. */
  val Day: Long = 2999980800L
  val StepSec: Long = 10L
  val HeartbeatSec: Long = 300L

  /** Virtual "now" of a run: inside the seeded day, step-aligned. */
  def t0(seed: Long): Long = Day + 4 * 3600L + StepSec * Math.floorMod(seed, 360L)

  def rng(seed: Long, stream: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream)

  /** A value with at most two decimals, so the wire text round-trips. */
  private def value(r: SplittableRandom): Double = r.nextInt(1000000) / 100.0

  // ------------------------------ ingest ------------------------------

  final case class IngestShape(hosts: Int, metrics: Int, canaries: Int,
      backfillSec: Long, backlogRounds: Int)

  val IngestDefault = IngestShape(hosts = 10, metrics = 20, canaries = 16,
    backfillSec = 600L, backlogRounds = 50)

  def ingestSeries(sh: IngestShape): IndexedSeq[String] =
    for (h <- 0 until sh.hosts; m <- 0 until sh.metrics)
      yield f"ingest.h$h%03d.m$m%02d"

  def canaryNames(prefix: String, n: Int): IndexedSeq[String] =
    (0 until n).map(c => f"$prefix.c$c%02d")

  /** Canary constant: dyadic, so every weighted mean of it is exact. */
  def canaryValue(c: Int): Double = c + 1.25

  /** Backfill points `(name, tsSec, value)` ending one step before t0:
    * fills the archive partition before the measured window, so merge
    * cost stays flat while the window runs. */
  def ingestBackfill(seed: Long, sh: IngestShape): Array[(String, Long, Double)] = {
    val r = rng(seed, 1)
    val start = t0(seed) - sh.backfillSec
    val cans = canaryNames("canary", sh.canaries)
    val out = Array.newBuilder[(String, Long, Double)]
    var ts = start
    while (ts < t0(seed)) {
      ingestSeries(sh).foreach(n => out += ((n, ts, value(r))))
      cans.zipWithIndex.foreach { case (n, c) => out += ((n, ts, canaryValue(c))) }
      ts += StepSec
    }
    out.result()
  }

  /** One line per series per round, every series of a round at the
    * same timestamp; round `k` is at `t0 + k` seconds (each series is
    * updated once per virtual second). Canaries lead each round. */
  final case class Line(text: String, canary: Int)

  def ingestRounds(seed: Long, sh: IngestShape, from: Int, until: Int,
      stream: Long): IndexedSeq[Line] = {
    val r = rng(seed, stream)
    val names = ingestSeries(sh)
    val cans = canaryNames("canary", sh.canaries)
    (from until until).flatMap { k =>
      val ts = t0(seed) + k
      cans.indices.map(c => Line(s"${cans(c)} ${canaryValue(c)} $ts", c)) ++
        names.map(n => Line(s"$n ${value(r)} $ts", -1))
    }
  }

  def bytesOf(lines: Seq[Line]): Array[Byte] =
    lines.iterator.map(_.text + "\n").mkString.getBytes(StandardCharsets.UTF_8)

  // ------------------------------ render ------------------------------

  /** `maxShiftSteps`: cold windows end up to this many 10 s steps
    * before t0. */
  final case class RenderShape(hosts: Int, metrics: Int, canaries: Int,
      maxShiftSteps: Int)

  val RenderDefault = RenderShape(hosts = 20, metrics = 5, canaries = 4,
    maxShiftSteps = 60)

  def renderSeries(sh: RenderShape): IndexedSeq[String] =
    for (h <- 0 until sh.hosts; m <- 0 until sh.metrics)
      yield f"render.h$h%02d.m$m"

  /** Raw points of one resolution of the static render store: one per
    * series every `stepSec` over `historySec` ending at t0, canaries
    * constant. */
  def renderPoints(seed: Long, sh: RenderShape, stepSec: Long,
      historySec: Long): Array[(String, Long, Double)] = {
    val r = rng(seed, 200L + stepSec)
    val cans = canaryNames("render.canary", sh.canaries)
    val out = Array.newBuilder[(String, Long, Double)]
    var ts = t0(seed) - (historySec + stepSec - 1) / stepSec * stepSec
    while (ts <= t0(seed)) {
      renderSeries(sh).foreach(n => out += ((n, ts, value(r))))
      cans.zipWithIndex.foreach { case (n, c) => out += ((n, ts, canaryValue(c))) }
      ts += stepSec
    }
    out.result()
  }

  /** The target families the render mix draws from; `%h`, `%u` and
    * `%m` are a seeded host decade, host digit and metric, so plain
    * globs fan out over 5, 10 or 20 series and the aggregates over 5,
    * 10 or 20 inputs. */
  val TargetTemplates: IndexedSeq[String] = IndexedSeq(
    "render.h%h%u.m*",
    "render.h%h*.m%m",
    "render.*.m%m",
    "sumSeries(render.h%h*.m%m)",
    "movingAverage(render.h%h%u.m*, 6)",
    "highestMax(render.*.m%m, 3)",
    "summarize(render.h%h%u.m*, \"10min\", \"sum\")",
    "asPercent(render.h%h%u.m*)")

  /** Window lengths in seconds; each selects one resolution: up to
    * 6 h the 10 s store, up to 24 h the 1 m store, up to 93 d the 10 m
    * store, beyond that the 1 d store. */
  val Windows: IndexedSeq[Long] =
    IndexedSeq(3600L, 7200L, 8 * 3600L, 12 * 3600L, 2 * 86400L,
      7 * 86400L, 365 * 86400L)

  sealed trait Req
  /** A repeated dashboard panel: relative window, same cache key. */
  final case class Panel(target: String, windowSec: Long) extends Req
  /** A unique step-aligned absolute window: always a cache miss. */
  final case class Cold(target: String, windowSec: Long, shiftSteps: Long) extends Req
  final case class FindReq(pattern: String) extends Req

  private def target(r: SplittableRandom, template: String, sh: RenderShape): String =
    template.replace("%h", r.nextInt(math.max(1, sh.hosts / 10)).toString)
      .replace("%u", r.nextInt(10).toString)
      .replace("%m", r.nextInt(sh.metrics).toString)

  private def shuffled[T](r: SplittableRandom, xs: IndexedSeq[T]): IndexedSeq[T] = {
    val a = scala.collection.mutable.ArrayBuffer.from(xs)
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  /** Dashboard panels: one per template, windows spread over every
    * resolution. */
  def panels(seed: Long, sh: RenderShape): IndexedSeq[Panel] = {
    val r = rng(seed, 3)
    TargetTemplates.indices.map(i => Panel(target(r, TargetTemplates(i), sh),
      Windows(i % Windows.size)))
  }

  /** The request sequence of the closed loop, stratified so every seed
    * sends the same mix: each block holds `hits` panel repeats, `finds`
    * `/metrics/find` requests and `colds` cold windows, in seeded order. Cold requests walk the target families in cycles of
    * one each (seeded order); cycle `c` gives family `i` window
    * `(i + c) mod 7`, so every (family, window) pair recurs every seven
    * cycles. A cold (target, window, shift) is never repeated. */
  def renderRequests(seed: Long, n: Int, sh: RenderShape, panels: IndexedSeq[Panel],
      hits: Int, finds: Int, colds: Int): IndexedSeq[Req] = {
    val r = rng(seed, 4)
    val used = scala.collection.mutable.Set.empty[Cold]
    var cycle = IndexedSeq.empty[Int]
    var cycles = 0
    val block = IndexedSeq.fill(hits)(0) ++ IndexedSeq.fill(finds)(1) ++
      IndexedSeq.fill(colds)(2)
    Iterator.continually(shuffled(r, block)).flatten.take(n).map {
      case 0 => panels(r.nextInt(panels.size))
      case 1 =>
        FindReq(Seq("render.*", s"render.h${r.nextInt(2)}*", "render.*.m*",
          s"render.h${r.nextInt(2)}${r.nextInt(10)}.*")(r.nextInt(4)))
      case _ =>
        if (cycle.isEmpty) { cycle = shuffled(r, TargetTemplates.indices); cycles += 1 }
        val i = cycle.head
        cycle = cycle.tail
        val w = Windows((i + cycles) % Windows.size)
        // the store behind each window holds its history plus the
        // largest shift, so every cold window lies inside the data
        def draw() = Cold(target(r, TargetTemplates(i), sh), w, 1 + r.nextInt(sh.maxShiftSteps))
        var c = draw()
        while (used(c)) c = draw()
        used += c
        c
    }.toIndexedSeq
  }

  // ---------------------------- consolidate ---------------------------

  final case class ConsShape(groups: Int, seriesPerGroup: Int, pointsPerSeries: Int)

  val ConsDefault = ConsShape(groups = 4, seriesPerGroup = 40, pointsPerSeries = 720)

  /** A raw point: millisecond timestamp, so same-second duplicates keep
    * a strict last-wins order. */
  final case class Raw(name: String, tsMs: Long, value: Double)

  /** Raw points of one group: ~10 s spacing with ±3 s jitter, 5 %
    * same-second duplicates, 1 % gaps of 400 s (past the 300 s
    * heartbeat) and 2 % NaN values. */
  def consGroup(seed: Long, sh: ConsShape, g: Int): IndexedSeq[Raw] = {
    val r = rng(seed, 100L + g)
    val start = (t0(seed) - sh.pointsPerSeries * StepSec) * 1000L
    (0 until sh.seriesPerGroup).flatMap { s =>
      val name = f"cons.g$g%02d.s$s%02d"
      val out = IndexedSeq.newBuilder[Raw]
      var j = 0
      var last = Long.MinValue
      while (j < sh.pointsPerSeries) {
        if (r.nextInt(100) == 0) j += 40 // gap past the heartbeat
        val ts = math.max(last + 1, start + j * 10000L + r.nextInt(6001) - 3000)
        val v = if (r.nextInt(50) == 0) Double.NaN else value(r)
        out += Raw(name, ts, v)
        last = ts
        if (r.nextInt(20) == 0) {
          // same-second duplicate, later inside the second: it wins
          val dup = math.min(ts - ts % 1000 + 999, ts + 1 + r.nextInt(500))
          if (dup > ts) { out += Raw(name, dup, value(r)); last = dup }
        }
        j += 1
      }
      out.result()
    }
  }
}
