package tgbench

import java.io.BufferedOutputStream
import java.net.Socket
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.GatewayStats
import graft.streaming.{ArchiveStore, Daemon, Ingest}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** `ingest`: graphite plaintext over TCP into the receiver with the
  * daemon's default RRA chain and compaction cadence, in two phases.
  *
  *  - Drain: a seeded backlog sits in the gateway before the receiver
  *    starts; the time until its last line is committed gives the drain
  *    rate.
  *  - Steady: one generator thread sends at a fixed offered rate (open
  *    loop, well below drain capacity); canary series give lag samples,
  *    from when a line was due until the micro-batch holding it has
  *    merged into every store (the moment `/render` can return it). A
  *    low fixed-rate reader (3 Hz, from the drain's start to the steady
  *    phase's end) renders the canaries, each read on a fresh window,
  *    so it reads the store rather than the cache. Reads are issued
  *    at their due times on a small pool, so a slow read does not hold
  *    back the next one. */
object IngestBench {
  val Shape = Gen.IngestDefault
  val PerRound: Int = Shape.hosts * Shape.metrics + Shape.canaries
  /** Offered steady rate, lines per second. */
  val Rate: Int = 2 * PerRound
  val ReaderPeriodMs = 333L
  val ReaderThreads = 2
  val WarmRounds = 2
  /** How long the drain and the steady phase's tail may take before
    * the run gives up waiting; a line that never commits then shows as
    * a failed check rather than a hang. */
  val DrainWaitMs = 60000L
  val TailWaitMs = 30000L

  final case class Batch(id: Long, startMs: Long, endMs: Long, endOffset: Long,
      rows: Long, dur: Map[String, Long], stateRows: Long, stateMem: Long)

  /** Progress of one named query, as the engine reports it per batch. */
  final class Progress(name: String) extends StreamingQueryListener {
    val batches = new ConcurrentLinkedQueue[Batch]()
    @volatile var maxEnd = -1L
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.name == name && p.numInputRows > 0) {
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
        val end = p.sources.flatMap(s => Option(s.endOffset).flatMap(_.trim.toLongOption))
          .foldLeft(-1L)(math.max)
        val st = p.stateOperators.headOption
        batches.add(Batch(p.batchId, start, start + dur.getOrElse("triggerExecution", 0L),
          end, p.numInputRows, dur, st.map(_.numRowsTotal).getOrElse(0L),
          st.map(_.memoryUsedBytes).getOrElse(0L)))
        maxEnd = math.max(maxEnd, end)
      }
    }
    /** Wall time the line at `offset` became visible, if it has. */
    def visibleAt(offset: Long): Option[Long] =
      batches.asScala.filter(_.endOffset >= offset).map(_.endMs).minOption
  }

  /** Waits until `cond` holds or `timeoutMs` passes; whether it held. */
  private def await(timeoutMs: Long)(cond: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond && System.currentTimeMillis() <= deadline) Thread.sleep(2)
    cond
  }

  /** Set-up: backfill every store of the chain, so partition fill stays
    * flat through the window. */
  def buildStores(ctx: Ctx, base: String): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val pts = Gen.ingestBackfill(ctx.seed, Shape).toSeq.toDS()
    val pieces = Ingest.pdpPieces(spark, pts, Gen.HeartbeatSec).toDF().persist()
    try {
      Ingest.mergePiecesIntoArchive(spark, pieces, base, Gen.StepSec)
      Daemon.DefaultRras.foreach(r =>
        Ingest.mergePiecesIntoArchive(spark, pieces, r.dir(base), r.stepSec))
    } finally { pieces.unpersist(); () }
  }

  /** The receiver as the daemon starts it: graphite + pickle gateways,
    * the default chain, compaction every 16 batches at fanout 4. */
  final class Receiver(ctx: Ctx, val base: String, val ckpt: String) {
    val gw = new Daemon.LineGateway(0, 0)
    val pk = new Daemon.LineGateway(0, 0, framed = true)
    val key = s"127.0.0.1:${gw.boundFeedPort}"
    val progress = new Progress(ckpt)
    ctx.spark.streams.addListener(progress)
    @volatile var query: org.apache.spark.sql.streaming.StreamingQuery = _
    def start(): Unit =
      query = Daemon.startReceiver(ctx.spark, gw.boundFeedPort, pk.boundFeedPort,
        base, Gen.StepSec, Gen.HeartbeatSec, ckpt, rras = Daemon.DefaultRras,
        compactEvery = 16, compactFanout = 4)
    def connect(): BufferedOutputStream =
      new BufferedOutputStream(new Socket("127.0.0.1", gw.boundListenPort).getOutputStream, 1 << 16)
    def close(): Unit = {
      Option(query).foreach(q => scala.util.Try(q.stop()))
      ctx.spark.streams.removeListener(progress)
      gw.close(); pk.close()
    }
  }

  /** Warm-up (discarded): one receiver run on a throwaway store, so JIT
    * and Catalyst warm-up fall outside the measured receiver. */
  private def warmUp(ctx: Ctx, base: String): Unit = {
    val rx = new Receiver(ctx, base, s"$base-ckpt")
    val http = Daemon.startHttp(ctx.spark, 0, Seq(base), Gen.StepSec, now = () => Gen.t0(ctx.seed))
    try {
      rx.start()
      val out = rx.connect()
      // a few batches, so the streaming path is compiled and settled
      val lines = Gen.ingestRounds(ctx.seed, Shape, 0, WarmRounds, 9)
      lines.grouped(2 * PerRound).zipWithIndex.foreach { case (part, k) =>
        out.write(Gen.bytesOf(part)); out.flush()
        await(DrainWaitMs)(rx.progress.maxEnd >= (k + 1L) * part.size - 1)
      }
      new Http(http.getAddress.getPort).get(Http.renderPath("canary.*", "-1h", ""))
      out.close()
    } finally { http.stop(0); rx.close() }
  }

  def run(ctx: Ctx): Result = {
    val spark = ctx.spark
    val t0 = Gen.t0(ctx.seed)
    val setups = (0 until 3).map { i =>
      val s = System.nanoTime()
      buildStores(ctx, s"${ctx.workDir}/ingest-$i/points")
      (System.nanoTime() - s) / 1e9
    }
    Phase("setup")
    // the streaming path warms right before the measured receiver
    warmUp(ctx, s"${ctx.workDir}/ingest-0/points")
    Phase("warm-up")

    val base = s"${ctx.workDir}/ingest-2/points"
    val rx = new Receiver(ctx, base, s"${ctx.workDir}/ingest-2/ckpt-points")
    val backlog = Gen.ingestRounds(ctx.seed, Shape, 0, Shape.backlogRounds, 10)
    val steadyRounds = (Rate.toLong * ctx.seconds / PerRound).toInt + 1
    val steady = Gen.ingestRounds(ctx.seed, Shape, Shape.backlogRounds,
      Shape.backlogRounds + steadyRounds, 11)
    val lastTs = t0 + Shape.backlogRounds + steadyRounds
    val http = Daemon.startHttp(spark, 0, Seq(base), Gen.StepSec, now = () => lastTs)
    val client = new Http(http.getAddress.getPort)
    val canaryPath = Http.renderPath("canary.*", (t0 - 600).toString, lastTs.toString)
    // the reader's windows end one second apart: every read is a cold
    // render of the store as the receiver is writing it
    def readPath(k: Long) =
      Http.renderPath("canary.*", (t0 - 600 - k).toString, (lastTs - k).toString)
    // the reader: fixed rate from the drain's start to the steady
    // phase's end, timed from when each read was due
    @volatile var readUntilNs = Long.MaxValue
    val readPool = java.util.concurrent.Executors.newFixedThreadPool(ReaderThreads)
    try {
      val spans = new Spans
      val errors = new FirstError
      val reads = new ConcurrentLinkedQueue[(Long, Double, Boolean)]() // dueNs, ms, ok
      @volatile var tracedFromNs = Long.MaxValue
      val readStartNs = System.nanoTime()
      val reader = new Thread(() => {
        try {
          var k = 0L
          var due = readStartNs
          while (due < readUntilNs) {
            val wait = due - System.nanoTime()
            if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
            if (due < readUntilNs) {
              if (due >= tracedFromNs) spans.enabled = true
              val (i, d) = (k, due)
              readPool.execute(() => try {
                val (code, _) = client.get(readPath(i))
                val e = System.nanoTime()
                spans.record("http.render", d, e, req = s"read$i")
                reads.add((d, (e - d) / 1e6, code == 200))
              } catch { case t: Throwable => errors.set(t) })
            }
            k += 1
            due = readStartNs + k * ReaderPeriodMs * 1000000L
          }
        } catch { case t: Throwable => errors.set(t) }
      }, "ingest-reader")
      reader.setDaemon(true)

      // drain: the backlog waits in the gateway, then the receiver starts
      val out = rx.connect()
      out.write(Gen.bytesOf(backlog)); out.flush()
      await(DrainWaitMs)(rx.gw.queueSize == backlog.size)
      val drainStart = System.currentTimeMillis()
      reader.start()
      rx.start()
      val drained = await(DrainWaitMs)(rx.progress.maxEnd >= backlog.size - 1)
      val drainEnd = rx.progress.visibleAt(backlog.size - 1L)
        .getOrElse(System.currentTimeMillis())
      val drainPps = backlog.size / ((drainEnd - drainStart) / 1000.0)
      val drainBatches = rx.progress.batches.size
      Phase("drain")

      // steady: open loop at a fixed rate, canaries timed from due time
      val canaryDue = new ConcurrentLinkedQueue[(Long, Long, Long)]() // offset, dueMs, dueNs
      val backlogSamples = new ConcurrentLinkedQueue[(Double, Double)]()
      val v0 = ArchiveStore.version(spark, base)
      val gc0 = Jvm.gcMs(); val cpu0 = Jvm.cpuNs()
      val startNs = System.nanoTime()
      val startMs = System.currentTimeMillis()
      val endNs = startNs + ctx.seconds * 1000000000L
      val halfNs = startNs + ctx.halfMs * 1000000L
      readUntilNs = endNs
      if (ctx.trace) tracedFromNs = halfNs
      @volatile var lateMaxNs = 0L
      @volatile var sentSteady = 0
      @volatile var running = true
      val gen = new Thread(() => {
        try {
          var i = 0
          val intervalNs = 1e9 / Rate
          while (i < steady.size && System.nanoTime() < endNs) {
            val due = startNs + (i * intervalNs).toLong
            val now = System.nanoTime()
            if (now < due) {
              out.flush()
              java.util.concurrent.locks.LockSupport.parkNanos(math.min(due - now, 1000000L))
            } else {
              val l = steady(i)
              out.write((l.text + "\n").getBytes(StandardCharsets.UTF_8))
              if (now - due > lateMaxNs) lateMaxNs = now - due
              if (l.canary >= 0)
                canaryDue.add((backlog.size.toLong + i, startMs + (due - startNs) / 1000000L, due))
              i += 1
              sentSteady = i
            }
          }
          out.flush()
        } catch { case t: Throwable => errors.set(t) }
      }, "ingest-generator")
      val sampler = new Thread(() => {
        while (running) {
          val q = rx.gw.queueSize + GatewayStats.accepted(rx.key) - (rx.progress.maxEnd + 1)
          backlogSamples.add(((System.nanoTime() - startNs) / 1e9, q.toDouble))
          Thread.sleep(100)
        }
      }, "ingest-sampler")
      Seq(gen, sampler).foreach(_.start())
      gen.join(); reader.join(); running = false; sampler.join()
      readPool.shutdown()
      readPool.awaitTermination(TailWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS)
      errors.get.foreach(throw _)
      val sent = backlog.size + sentSteady
      // every sent line committed, or the bound passed (checked below)
      await(TailWaitMs)(GatewayStats.committed(rx.key) >= sent)
      val elapsedS = (System.nanoTime() - startNs) / 1e9
      spans.enabled = false
      val gcMs = Jvm.gcMs() - gc0
      val busy = (Jvm.cpuNs() - cpu0) / (elapsedS * 1e9 * ctx.cores)
      val heap = Jvm.heapLiveMb()
      Phase("window")

      // lag: due time → the batch holding the line has merged everywhere;
      // a canary that never became visible is a failed operation
      val canaryLines = canaryDue.asScala.toSeq
      val lags = canaryLines.flatMap { case (off, dueMs, dueNs) =>
        rx.progress.visibleAt(off).map(v => (dueNs, (v - dueMs).toDouble))
      }
      val lag50 = Stats.percentile(lags.map(_._2), 50)
      val lag90 = Stats.percentile(lags.map(_._2), 90)
      val readMs = reads.asScala.toSeq

      // correctness, outside the window
      val accepted = GatewayStats.accepted(rx.key)
      val dropped = GatewayStats.dropped(rx.key) + (sent - accepted)
      val committed = GatewayStats.committed(rx.key)
      val (cc, cbody) = client.get(canaryPath)
      val canary = Http.renderValues(cbody)
      val canaryOk = cc == 200 && canary.size == Shape.canaries &&
        Gen.canaryNames("canary", Shape.canaries).zipWithIndex.forall { case (n, c) =>
          canary.get(n).exists(vs => vs.nonEmpty && vs.forall(_.contains(Gen.canaryValue(c))))
        }
      val readFails = readMs.count(!_._3)
      val checks = Seq(drained, canaryOk, accepted == sent, committed == accepted, dropped == 0)
      val failed = readFails + (canaryLines.size - lags.size) + checks.count(!_)

      val e2e = Map(
        "setup_s" -> Stats.median(setups),
        "heap_live_mb" -> heap,
        "throughput_per_s" -> drainPps,
        "latency_p50_ms" -> lag50.value,
        "latency_p90_ms" -> lag90.value,
        "side_p50_ms" -> Stats.median(readMs.filter(_._3).map(_._2)))

      val layers: Map[String, Double] = if (!ctx.trace) Map.empty else {
        val steadyB = rx.progress.batches.asScala.toSeq.drop(drainBatches)
        def p50(f: Batch => Double) = Stats.median(steadyB.map(f))
        val last = rx.progress.batches.asScala.toSeq.maxBy(_.id)
        steadyB.foreach(b => spans.record("stream.batch", b.startMs * 1000000L,
          b.endMs * 1000000L, req = s"batch${b.id}"))
        val versions = ArchiveStore.version(spark, base) - v0
        val files = Files.walk(Paths.get(base)).iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toSeq
        val bytes = files.map(Files.size).sum.toDouble
        val slots = Ingest.readArchive(spark, base).count().toDouble
        val bl = backlogSamples.asScala.toSeq
        val traced = lags.filter(_._1 >= halfNs).map(_._2)
        val untraced = lags.filter(_._1 < halfNs).map(_._2)
        spans.write(s"${ctx.workDir}/../trace-ingest-${ctx.seed}.jsonl")
        Map(
          "gateway.accepted_lines" -> accepted.toDouble,
          "gateway.dropped_lines" -> dropped.toDouble,
          "gateway.backlog_max_lines" -> bl.map(_._2).maxOption.getOrElse(0.0),
          "gateway.backlog_slope_lps" -> Stats.slope(bl.map(_._1), bl.map(_._2)),
          "gen.late_ms_max" -> lateMaxNs / 1e6,
          "stream.batches" -> steadyB.size.toDouble,
          "stream.batch_ms_p50" -> p50(b => (b.endMs - b.startMs).toDouble),
          "stream.batch_ms_p90" -> Stats.percentile(steadyB.map(b => (b.endMs - b.startMs).toDouble), 90).value,
          "stream.rows_per_batch_p50" -> p50(_.rows.toDouble),
          "stream.get_batch_ms_p50" -> p50(_.dur.getOrElse("getBatch", 0L).toDouble),
          "stream.planning_ms_p50" -> p50(_.dur.getOrElse("queryPlanning", 0L).toDouble),
          "stream.add_batch_ms_p50" -> p50(_.dur.getOrElse("addBatch", 0L).toDouble),
          "stream.wal_commit_ms_p50" -> p50(_.dur.getOrElse("walCommit", 0L).toDouble),
          "stream.state_rows" -> last.stateRows.toDouble,
          "stream.state_mem_mb" -> last.stateMem / (1024.0 * 1024.0),
          "store.versions_committed" -> versions.toDouble,
          "store.files" -> files.size.toDouble,
          "store.bytes_per_point" -> bytes / math.max(1.0, slots),
          // every batch commits one merge version; the rest are compactions
          "store.compactions" -> math.max(0L, versions - steadyB.size).toDouble,
          "jvm.gc_ms" -> gcMs.toDouble,
          "cpu.busy_ratio" -> busy,
          "trace.overhead_ratio" -> (Stats.median(traced) / Stats.median(untraced) - 1.0))
      }
      Result(correct = failed == 0, attempted = sent.toLong + readMs.size + checks.size,
        failed = failed, e2e = e2e, layers = layers,
        detail = Map("lag_samples" -> lag50.n, "lag_beyond_p90" -> lag90.beyond,
          "drain_lines" -> backlog.size, "drain_batches" -> drainBatches,
          "steady_lines" -> sentSteady, "offered_rate_lps" -> Rate,
          "read_samples" -> readMs.size, "gen_late_ms_max" -> lateMaxNs / 1e6,
          "canary_ok" -> canaryOk, "canaries_invisible" -> (canaryLines.size - lags.size),
          "read_ms" -> readMs.map(_._2.round),
          "batch_ms" -> rx.progress.batches.asScala.toSeq.sortBy(_.id)
            .map(b => s"${b.rows}:${b.endMs - b.startMs}:${b.dur.getOrElse("addBatch", 0L)}"), "accepted" -> accepted, "committed" -> committed,
          "setup_runs_s" -> setups))
    } finally { readUntilNs = 0L; readPool.shutdownNow(); http.stop(0); rx.close() }
  }
}
