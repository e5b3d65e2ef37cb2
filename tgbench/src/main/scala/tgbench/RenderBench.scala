package tgbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.HttpServer
import graft.Render
import graft.dsl.{Eval, Viewport}
import graft.streaming.{ArchiveStore, Daemon, Ingest}

/** `render`: a closed loop of `/render` and `/metrics/find` requests
  * from two clients against a static multi-resolution store. A
  * fixed share repeats dashboard panels (render-cache hits); the rest
  * are unique step-aligned windows (cache misses), so cold requests
  * time the query path. Hits are timed apart, before the loop, in a
  * hit-only closed loop, so they time the cache path rather than their
  * contention with concurrent cold renders. */
object RenderBench {
  val Shape = Gen.RenderDefault
  /** Closed-loop clients: two keep every core busy (a cold render fans
    * out over all of them) without stacking queues behind each other. */
  val Clients = 2
  /** Per block of forty requests: panel repeats, finds and cold
    * windows; an assumed mix, see the README. */
  val Hits = 34
  val Finds = 1
  val Colds = 5
  /** Panel hits in the hit-only loop: untimed, then timed. */
  val HitSettle = 600
  val HitProbes = 600

  /** One server per resolution: the 10 s base store and the coarser
    * stores of the daemon's default chain. */
  val Steps: Seq[Long] = 10L +: Daemon.DefaultRras.map(_.stepSec).filter(_ > 10L)

  /** The resolution a window reads: the finest whose span covers it. */
  def stepFor(windowSec: Long): Long =
    Daemon.DefaultRras.find(_.spanSec >= windowSec).getOrElse(Daemon.DefaultRras.last).stepSec

  def storeDir(base: String, step: Long): String =
    if (step == 10L) base else Daemon.Rra(step, 0L).dir(base)

  /** History a resolution holds: its longest window, the largest cold
    * shift and one step (the first point opens no interval), so every
    * window routed to it reads full data. */
  def historySec(step: Long): Long =
    Gen.Windows.filter(stepFor(_) == step).max + Shape.maxShiftSteps * Gen.StepSec + step

  /** Build the static store through the program's batch write path: per
    * resolution, points at its own step over its history, PDP pieces
    * (heartbeat at least two steps), a merge and a compaction. */
  def buildStore(ctx: Ctx, base: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    Steps.foreach { step =>
      val pts = Gen.renderPoints(ctx.seed, Shape, step, historySec(step)).toSeq.toDS()
      val pieces = Ingest.pdpPieces(spark, pts, math.max(Gen.HeartbeatSec, 2 * step)).toDF()
      val d = storeDir(base, step)
      Ingest.mergePiecesIntoArchive(spark, pieces, d, step)
      ArchiveStore.compact(spark, d)
    }
  }

  final case class Sent(kind: String, startNs: Long, ms: Double, ok: Boolean)
  /** A hit slower than this stalled in the HTTP exchange: the JDK
    * server writes headers and body apart without TCP_NODELAY, and the
    * body can wait for the client's delayed acknowledgement (a 40 ms
    * timer). Unstalled hits take a few milliseconds. */
  val StallMs = 20.0

  def path(req: Gen.Req, now: Long): (Long, String) = req match {
    case Gen.Panel(t, w) => stepFor(w) -> Http.renderPath(t, s"-${w}s", "")
    case Gen.Cold(t, w, shift) =>
      val until = now - shift * Gen.StepSec
      stepFor(w) -> Http.renderPath(t, (until - w).toString, until.toString)
    case Gen.FindReq(p) => 10L -> s"/metrics/find?query=${Http.enc(p)}"
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val now = Gen.t0(ctx.seed)
    // set-up: the store build, repeated; the last copy serves the run
    val setups = (0 until 3).map { i =>
      val s = System.nanoTime()
      buildStore(ctx, s"${ctx.workDir}/render-$i/points")
      (System.nanoTime() - s) / 1e9
    }
    Phase("setup")
    val base = s"${ctx.workDir}/render-2/points"
    val servers: Map[Long, HttpServer] = Steps.map { step =>
      step -> Daemon.startHttp(spark, 0, Seq(storeDir(base, step)), step,
        now = () => now)
    }.toMap
    val clients = servers.map { case (s, srv) => s -> new Http(srv.getAddress.getPort) }
    try {
      val panels = Gen.panels(ctx.seed, Shape)
      val reqs = Gen.renderRequests(ctx.seed, 5000, Shape, panels, Hits, Finds, Colds)
      // warm-up (discarded): fill the panel cache, one cold render per
      // panel, split over one client per core
      val fill = (0 until ctx.cores).map(c => new Thread(() =>
        (c until panels.size by ctx.cores).foreach { i =>
          val (s, q) = path(panels(i), now); clients(s).get(q)
        }))
      fill.foreach(_.start()); fill.foreach(_.join())
      // then, while the correctness sample renders, keep the clients on
      // panel repeats, so the hit path is compiled before it is timed
      @volatile var sampled = false
      val warmHits = new AtomicInteger
      val warm = (0 until ctx.cores).map(c => new Thread(() => {
        var i = c
        while (!sampled) {
          val (s, q) = path(panels(i % panels.size), now)
          clients(s).get(q); warmHits.incrementAndGet(); i += 1
        }
      }))
      warm.foreach(_.start())
      // correctness sample: every panel and the first cold requests,
      // rendered straight through the DSL in set-up
      val sample = (panels.take(3) ++ reqs.collect { case c: Gen.Cold => c }.take(1)).distinct
      val expected = try sample.map { r =>
        val (step, target, from, until) = r match {
          case Gen.Panel(t, w) => (stepFor(w), t, s"-${w}s", "")
          case Gen.Cold(t, w, sh) =>
            val u = now - sh * Gen.StepSec
            (stepFor(w), t, (u - w).toString, u.toString)
          case other => sys.error(s"not a render request: $other")
        }
        val ectx = Viewport.ctx(spark, Ingest.readArchives(spark, Seq(storeDir(base, step))),
          step, from, until, math.floorDiv(now, step) * step)
        r -> Render.renderTargets(ectx, Seq(target))
      }.toMap finally { sampled = true }
      warm.foreach(_.join())

      Phase("warm-up")
      // cache hits alone: a hit-only closed loop of one client per core,
      // each cycling over the panels from its own offset; the first
      // `HitSettle` hits are not timed (after other work the hit path
      // runs slower for a few hundred requests)
      val probeQ = new ConcurrentLinkedQueue[(Double, Boolean)]()
      val probers = (0 until ctx.cores).map(c => new Thread(() =>
        (c until HitSettle + HitProbes by ctx.cores).foreach { i =>
          val (step, q) = path(panels(i % panels.size), now)
          val s = System.nanoTime()
          val (code, _) = clients(step).get(q)
          if (i >= HitSettle) probeQ.add(((System.nanoTime() - s) / 1e6, code == 200))
        }))
      probers.foreach(_.start()); probers.foreach(_.join())
      val probes = probeQ.asScala.toSeq
      Phase("hits")
      val spans = new Spans
      val jobs = new JobCounter
      val sent = new ConcurrentLinkedQueue[Sent]()
      val next = new AtomicInteger
      val errors = new FirstError
      val startNs = System.nanoTime()
      val halfNs = startNs + ctx.halfMs * 1000000L
      val endNs = startNs + ctx.seconds * 1000000000L
      val gc0 = Jvm.gcMs(); val cpu0 = Jvm.cpuNs()
      @volatile var tracedFrom = Long.MaxValue
      val threads = (0 until Clients).map { c =>
        new Thread(() => {
          try while (System.nanoTime() < endNs) {
            val i = next.getAndIncrement()
            val req = reqs(i % reqs.size)
            val (step, q) = path(req, now)
            val kind = req match {
              case _: Gen.Panel => "hit"; case _: Gen.Cold => "cold"; case _ => "find"
            }
            val s = System.nanoTime()
            val (code, _) = clients(step).get(q)
            val e = System.nanoTime()
            spans.record(s"http.$kind", s, e, req = s"r$i")
            sent.add(Sent(kind, s, (e - s) / 1e6, code == 200))
          } catch { case t: Throwable => errors.set(t) }
        }, s"render-client-$c")
      }
      if (ctx.trace) {
        // first half untraced; the second half attaches the listener
        // and records spans
        new Thread(() => {
          val wait = (halfNs - System.nanoTime()) / 1000000L
          if (wait > 0) Thread.sleep(wait)
          spark.sparkContext.addSparkListener(jobs)
          spans.enabled = true
          tracedFrom = System.nanoTime()
        }).start()
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val elapsedS = (System.nanoTime() - startNs) / 1e9
      spark.sparkContext.removeSparkListener(jobs)
      spans.enabled = false
      val gcMs = Jvm.gcMs() - gc0
      val busy = (Jvm.cpuNs() - cpu0) / (elapsedS * 1e9 * ctx.cores)
      val heap = Jvm.heapLiveMb()
      Phase("window")
      errors.get.foreach(throw _)

      // correctness, outside the window: sampled responses match the
      // set-up JSON; canaries render exactly their constants
      val sampleFails = expected.count { case (r, want) =>
        val (s, q) = path(r, now)
        clients(s).get(q) != (200 -> want)
      }
      val (cc, cbody) = clients(10L).get(Http.renderPath("render.canary.*", "-1h", ""))
      val canary = Http.renderValues(cbody)
      val canaryOk = cc == 200 && canary.size == Shape.canaries &&
        Gen.canaryNames("render.canary", Shape.canaries).zipWithIndex.forall { case (n, c) =>
          canary.get(n).exists(vs => vs.nonEmpty && vs.forall(_.contains(Gen.canaryValue(c))))
        }

      val all = sent.asScala.toSeq
      def lat(kind: String, from: Long = 0L, until: Long = Long.MaxValue) =
        all.filter(x => x.kind == kind && x.ok && x.startNs >= from && x.startNs < until).map(_.ms)
      val cold = Stats.percentile(lat("cold"), 50)
      val cold90 = Stats.percentile(lat("cold"), 90)
      // the hit p50 is taken over unstalled hits; the stalled share is
      // its own per-layer figure, so neither hides the other
      val ok = probes.filter(_._2).map(_._1)
      val hit = Stats.percentile(ok.filter(_ <= StallMs), 50)
      val stallRatio = ok.count(_ > StallMs).toDouble / math.max(1, ok.size)
      val httpFails = all.count(!_.ok) + probes.count(!_._2)
      val attempted = all.size + probes.size + expected.size + 1
      val failed = httpFails + sampleFails + (if (canaryOk) 0 else 1)

      val e2e = Map(
        "setup_s" -> Stats.median(setups),
        "heap_live_mb" -> heap,
        "throughput_per_s" -> all.size / elapsedS,
        "latency_p50_ms" -> cold.value,
        "latency_p90_ms" -> cold90.value,
        "side_p50_ms" -> hit.value)

      val layers: Map[String, Double] = if (!ctx.trace) Map.empty else {
        val tracedCold = lat("cold", tracedFrom)
        val untracedCold = lat("cold", 0L, tracedFrom)
        spans.enabled = true
        val phases = phaseSplit(ctx, base, reqs.collect { case c: Gen.Cold => c }.take(16), now, spans)
        spans.enabled = false
        val stats = servers.values.map(s =>
          new Http(s.getAddress.getPort).get("/stats")._2).map(Json.flatLongs)
        def sumStat(k: String) = stats.map(_.getOrElse(k, 0L)).sum.toDouble
        val hits = sumStat("query_cache.hits"); val misses = sumStat("query_cache.misses")
        val tracedColdN = math.max(1, tracedCold.size)
        val spanFile = s"${ctx.workDir}/../trace-render-${ctx.seed}.jsonl"
        spans.write(spanFile)
        phases ++ Map(
          "render.jobs_per_request" -> jobs.jobs.get.toDouble / tracedColdN,
          "render.tasks_per_request" -> jobs.tasks.get.toDouble / tracedColdN,
          "render.max_in_flight" -> stats.map(_.getOrElse("render.max_in_flight", 0L)).max.toDouble,
          "render.cache_hit_ratio" -> hits / math.max(1.0, hits + misses),
          "render.hit_stall_ratio" -> stallRatio,
          "find.p50_ms" -> Stats.median(lat("find")),
          "jvm.gc_ms" -> gcMs.toDouble,
          "cpu.busy_ratio" -> busy,
          "trace.overhead_ratio" -> (Stats.median(tracedCold) / Stats.median(untracedCold) - 1.0))
      }
      Result(correct = failed == 0, attempted = attempted, failed = failed,
        e2e = e2e, layers = layers,
        detail = Map(
          "samples_cold" -> cold.n, "beyond_p90_cold" -> cold90.beyond,
          "samples_hit" -> hit.n, "hit_stall_ratio" -> stallRatio,
          "warm_hits" -> warmHits.get, "samples_hit_in_loop" -> lat("hit").size,
          "samples_find" -> lat("find").size,
          "http_failed" -> httpFails, "sample_mismatches" -> sampleFails,
          "canary_ok" -> canaryOk, "setup_runs_s" -> setups))
    } finally servers.values.foreach(_.stop(0))
  }

  /** The render phase split, on the same cold requests the loop sent:
    * DSL evaluation, Catalyst's analysis / optimization / planning
    * phases from the query's tracker, execution, and JSON formatting. */
  private def phaseSplit(ctx: Ctx, base: String, cold: Seq[Gen.Cold],
      now: Long, spans: Spans): Map[String, Double] = {
    val spark = ctx.spark
    val rows = cold.zipWithIndex.map { case (Gen.Cold(t, w, sh), i) =>
      val step = stepFor(w)
      val u = now - sh * Gen.StepSec
      val ectx = Viewport.ctx(spark, Ingest.readArchives(spark, Seq(storeDir(base, step))),
        step, (u - w).toString, u.toString, math.floorDiv(now, step) * step)
      val t0 = System.nanoTime()
      val df = Eval.render(ectx, t)
      val t1 = System.nanoTime()
      val qe = df.queryExecution
      qe.executedPlan
      val ph = qe.tracker.phases
      def phase(k: String) = ph.get(k).map(p => (p.endTimeMs - p.startTimeMs).toDouble).getOrElse(0.0)
      val t2 = System.nanoTime()
      df.collect()
      val t3 = System.nanoTime()
      Render.toGraphiteJson(df)
      val t4 = System.nanoTime()
      val id = spans.nextId()
      Seq("render.dsl_eval" -> (t0, t1), "render.plan" -> (t1, t2),
        "render.execute" -> (t2, t3), "render.serialize" -> (t3, t4)).foreach {
        case (name, (a, b)) => spans.record(name, a, b, parent = id, req = s"split$i")
      }
      spans.record("render.split", t0, t4, req = s"split$i", id = id)
      // formatting re-runs the same plan under a sort, then builds the
      // JSON: its excess over the plain execution is the serialize cost
      Seq((t1 - t0) / 1e6, phase("analysis"), phase("optimization"), phase("planning"),
        (t3 - t2) / 1e6, math.max(0.0, ((t4 - t3) - (t3 - t2)) / 1e6))
    }
    Seq("render.dsl_eval_ms_p50", "render.analysis_ms_p50", "render.optimization_ms_p50",
      "render.planning_ms_p50", "render.execute_ms_p50", "render.serialize_ms_p50")
      .zipWithIndex.map { case (k, i) => k -> Stats.median(rows.map(_(i))) }.toMap
  }
}

/** Flat numeric fields of a one-level JSON object (the `/stats` body). */
object Json {
  private val field = """"([^"]+)":(-?\d+)""".r
  def flatLongs(body: String): Map[String, Long] =
    field.findAllMatchIn(body).map(m => m.group(1) -> m.group(2).toLong).toMap
}
