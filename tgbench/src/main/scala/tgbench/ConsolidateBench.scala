package tgbench

import graft.rrd.Consolidate
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `consolidate`: batch PDP consolidation requests in a closed loop.
  * Each request takes one seeded group of raw points (jitter,
  * same-second duplicates, gaps past the heartbeat, NaNs) through `Consolidate.consolidate` (weighted mean at 10 s), then
  * cascades its 10 s slots to 1 m, 10 m and 1 d. No HTTP, gateway or
  * streaming: the exchange and sort path of the PDP kernel alone. */
object ConsolidateBench {
  val Shape = Gen.ConsDefault
  val Xff = 0.5
  val Cascade: Seq[Long] = Seq(60L, 600L, 86400L)

  private def run(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Set-up: the raw groups as cached frames `(name, ts, value)`, with
    * their point counts. */
  def load(ctx: Ctx): (IndexedSeq[DataFrame], IndexedSeq[Long]) = {
    val spark = ctx.spark
    import spark.implicits._
    val frames = (0 until Shape.groups).map { g =>
      val raw = Gen.consGroup(ctx.seed, Shape, g)
      val df = raw.map(r => (r.name, r.tsMs, r.value)).toDF("name", "ms", "value")
        .select(col("name"), timestamp_millis(col("ms")).as("ts"), col("value"))
        .repartition(ctx.cores).persist()
      (df, df.count())
    }
    (frames.map(_._1), frames.map(_._2))
  }

  final case class Done(startNs: Long, totalMs: Double, cascadeMs: Double, points: Long)

  /** One request: 10 s weighted means, then the cascade from the 10 s
    * slots with their known durations. Returns (total, cascade) ms;
    * records the request span and its two stages under `req`. */
  def request(raw: DataFrame, spans: Spans = new Spans, req: String = ""): (Double, Double) = {
    val s = System.nanoTime()
    val upd = Consolidate.updates(raw)
    run(Consolidate.consolidate(upd, Gen.StepSec, "wmean", Xff, Gen.HeartbeatSec))
    val slots = Consolidate.consolidateWithDur(upd, Gen.StepSec, Gen.HeartbeatSec).persist()
    try {
      slots.count()
      val c = System.nanoTime()
      val last = Consolidate.lastUpdateOf(upd)
      Cascade.foreach(step => run(Consolidate.cascade(slots, last, step, Xff)))
      val e = System.nanoTime()
      val id = spans.nextId()
      spans.record("consolidate.kernel", s, c, parent = id, req = req)
      spans.record("consolidate.cascade", c, e, parent = id, req = req)
      spans.record("consolidate.request", s, e, req = req, id = id)
      ((e - s) / 1e6, (e - c) / 1e6)
    } finally { slots.unpersist(); () }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    var loaded: (IndexedSeq[DataFrame], IndexedSeq[Long]) = null
    val setups = (0 until 3).map { _ =>
      if (loaded != null) loaded._1.foreach(_.unpersist())
      val s = System.nanoTime()
      loaded = load(ctx)
      (System.nanoTime() - s) / 1e9
    }
    val (frames, counts) = loaded
    Phase("setup")
    try {
      val order = {
        val r = Gen.rng(ctx.seed, 5)
        IndexedSeq.fill(100000)(r.nextInt(Shape.groups))
      }
      // warm-up (discarded)
      (0 until 2).foreach(g => request(frames(g)))

      Phase("warm-up")
      val spans = new Spans
      val jobs = new JobCounter
      val done = scala.collection.mutable.ArrayBuffer.empty[Done]
      val startNs = System.nanoTime()
      val halfNs = startNs + ctx.halfMs * 1000000L
      val endNs = startNs + ctx.seconds * 1000000000L
      val gc0 = Jvm.gcMs(); val cpu0 = Jvm.cpuNs()
      @volatile var tracedFrom = Long.MaxValue
      if (ctx.trace) new Thread(() => {
        val wait = (halfNs - System.nanoTime()) / 1000000L
        if (wait > 0) Thread.sleep(wait)
        spark.sparkContext.addSparkListener(jobs)
        spans.enabled = true
        tracedFrom = System.nanoTime()
      }).start()
      // one client: each request's stages already use every core, and
      // requests one at a time keep timings free of interleaving
      var i = 0
      while (System.nanoTime() < endNs) {
        val g = order(i % order.size)
        val s = System.nanoTime()
        val (total, cascade) = request(frames(g), spans, s"r$i")
        done += Done(s, total, cascade, counts(g))
        i += 1
      }
      val elapsedS = (System.nanoTime() - startNs) / 1e9
      spark.sparkContext.removeSparkListener(jobs)
      spans.enabled = false
      val gcMs = Jvm.gcMs() - gc0
      val busy = (Jvm.cpuNs() - cpu0) / (elapsedS * 1e9 * ctx.cores)
      val heap = Jvm.heapLiveMb()
      Phase("window")

      // correctness, outside the window: the program's 10 s slots agree
      // with the plain-Scala reference fold on sampled series
      val r = Gen.rng(ctx.seed, 6)
      val checks = (0 until 2).map { _ =>
        val g = r.nextInt(Shape.groups)
        val names = (0 until 8).map(_ => f"cons.g$g%02d.s${r.nextInt(Shape.seriesPerGroup)}%02d").distinct
        val got = Consolidate.consolidate(Consolidate.updates(frames(g)), Gen.StepSec,
            "wmean", Xff, Gen.HeartbeatSec)
          .filter(col("name").isin(names: _*)).collect()
          .groupBy(_.getString(0))
          .map { case (n, rows) => n -> rows.map(x => x.getLong(1) -> x.getDouble(2)).toMap }
        val raw = Gen.consGroup(ctx.seed, Shape, g).groupBy(_.name)
        names.count { n =>
          val want = Reference.fold(raw(n).map(p => p.tsMs -> p.value), Gen.StepSec,
            Gen.HeartbeatSec, Xff)
          val have = got.getOrElse(n, Map.empty[Long, Double])
          have.keySet != want.keySet || want.exists { case (t, v) =>
            math.abs(have(t) - v) > 1e-9 * math.max(1.0, math.abs(v))
          }
        } -> names.size
      }
      val mismatches = checks.map(_._1).sum
      val reqs = done.toSeq
      def sel(from: Long, until: Long) = reqs.filter(d => d.startNs >= from && d.startNs < until)
      val total = Stats.percentile(reqs.map(_.totalMs), 50)
      val total90 = Stats.percentile(reqs.map(_.totalMs), 90)
      val e2e = Map(
        "setup_s" -> Stats.median(setups),
        "heap_live_mb" -> heap,
        "throughput_per_s" -> reqs.map(_.points).sum / elapsedS,
        "latency_p50_ms" -> total.value,
        "latency_p90_ms" -> total90.value,
        "side_p50_ms" -> Stats.median(reqs.map(_.cascadeMs)))

      val layers: Map[String, Double] = if (!ctx.trace) Map.empty else {
        val traced = sel(tracedFrom, Long.MaxValue)
        val n = math.max(1, traced.size).toDouble
        // plan shape and Catalyst phases of one request's kernel
        val kernel = Consolidate.consolidate(Consolidate.updates(frames(0)), Gen.StepSec,
          "wmean", Xff, Gen.HeartbeatSec)
        val qe = kernel.queryExecution
        val plan = qe.executedPlan.toString
        val planMs = qe.tracker.phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
        spans.write(s"${ctx.workDir}/../trace-consolidate-${ctx.seed}.jsonl")
        Map(
          "consolidate.exchanges" -> "Exchange ".r.findAllMatchIn(plan).size.toDouble,
          "consolidate.plan_ms" -> planMs,
          "consolidate.task_ms" -> jobs.taskRunMs.get / n,
          "consolidate.shuffle_bytes" -> jobs.shuffleWriteBytes.get / n,
          "consolidate.spill_bytes" -> jobs.spillBytes.get / n,
          "consolidate.jobs" -> jobs.jobs.get / n,
          "jvm.gc_ms" -> gcMs.toDouble,
          "cpu.busy_ratio" -> busy,
          "trace.overhead_ratio" -> (Stats.median(traced.map(_.totalMs)) /
            Stats.median(sel(0L, tracedFrom).map(_.totalMs)) - 1.0))
      }
      Result(correct = mismatches == 0, attempted = reqs.size + checks.map(_._2).sum,
        failed = mismatches, e2e = e2e, layers = layers,
        detail = Map("samples" -> total.n, "beyond_p90" -> total90.beyond,
          "points_per_request_mean" -> counts.sum.toDouble / counts.size,
          "reference_mismatches" -> mismatches, "setup_runs_s" -> setups))
    } finally frames.foreach(_.unpersist())
  }
}
