package tgbench

import java.lang.management.ManagementFactory
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What a workload run gets: the session, its seed, the measured
  * window, whether this is the traced run, and a work directory. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Int,
    trace: Boolean, workDir: String) {
  val cores: Int = Runtime.getRuntime.availableProcessors()
  /** The measured window: whole in an untraced run; in the traced run
    * its first half runs untraced and its second half traced, so the
    * two halves give the tracing overhead. */
  def halfMs: Long = seconds * 500L
}

/** One workload run's outcome. `e2e` and `layers` map metric name →
  * value; `detail` carries sample counts and the workload-specific
  * names of the end-to-end metrics. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
    e2e: Map[String, Double], layers: Map[String, Double],
    detail: Map[String, Any])

/** The metric catalogue: name → unit. Every run prints every end-to-end
  * metric (untraced) or every per-layer metric (traced). */
object Metrics {
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "heap_live_mb" -> "MB",
    "throughput_per_s" -> "1/s",
    "latency_p50_ms" -> "ms",
    "latency_p90_ms" -> "ms",
    "side_p50_ms" -> "ms")

  /** What the generic end-to-end names mean on each workload. */
  val Aliases: Map[String, Map[String, String]] = Map(
    "ingest" -> Map("throughput_per_s" -> "ingest_drain_pps",
      "latency_p50_ms" -> "ingest_lag_p50_ms",
      "latency_p90_ms" -> "ingest_lag_p90_ms",
      "side_p50_ms" -> "ingest_render_p50_ms"),
    "render" -> Map("throughput_per_s" -> "render_rps",
      "latency_p50_ms" -> "render_cold_p50_ms",
      "latency_p90_ms" -> "render_cold_p90_ms",
      "side_p50_ms" -> "render_hit_p50_ms"),
    "consolidate" -> Map("throughput_per_s" -> "consolidate_pps",
      "latency_p50_ms" -> "consolidate_request_p50_ms",
      "latency_p90_ms" -> "consolidate_request_p90_ms",
      "side_p50_ms" -> "consolidate_cascade_p50_ms"))

  val PerLayer: Seq[(String, String)] = Seq(
    "gateway.accepted_lines" -> "count",
    "gateway.dropped_lines" -> "count",
    "gateway.backlog_max_lines" -> "count",
    "gateway.backlog_slope_lps" -> "lines/s",
    "gen.late_ms_max" -> "ms",
    "stream.batches" -> "count",
    "stream.batch_ms_p50" -> "ms",
    "stream.batch_ms_p90" -> "ms",
    "stream.rows_per_batch_p50" -> "count",
    "stream.get_batch_ms_p50" -> "ms",
    "stream.planning_ms_p50" -> "ms",
    "stream.add_batch_ms_p50" -> "ms",
    "stream.wal_commit_ms_p50" -> "ms",
    "stream.state_rows" -> "count",
    "stream.state_mem_mb" -> "MB",
    "store.versions_committed" -> "count",
    "store.files" -> "count",
    "store.bytes_per_point" -> "B/point",
    "store.compactions" -> "count",
    "render.dsl_eval_ms_p50" -> "ms",
    "render.analysis_ms_p50" -> "ms",
    "render.optimization_ms_p50" -> "ms",
    "render.planning_ms_p50" -> "ms",
    "render.execute_ms_p50" -> "ms",
    "render.serialize_ms_p50" -> "ms",
    "render.jobs_per_request" -> "count",
    "render.tasks_per_request" -> "count",
    "render.max_in_flight" -> "count",
    "render.cache_hit_ratio" -> "ratio",
    "render.hit_stall_ratio" -> "ratio",
    "find.p50_ms" -> "ms",
    "consolidate.exchanges" -> "count",
    "consolidate.plan_ms" -> "ms",
    "consolidate.task_ms" -> "ms",
    "consolidate.shuffle_bytes" -> "B",
    "consolidate.spill_bytes" -> "B",
    "consolidate.jobs" -> "count",
    "jvm.gc_ms" -> "ms",
    "cpu.busy_ratio" -> "ratio",
    "machine.gauge_1core_ms" -> "ms",
    "machine.gauge_allcore_ms" -> "ms",
    "trace.overhead_ratio" -> "ratio")
}

/** In-memory span recorder: name, start, end, parent and request id,
  * written out once when the run ends. Disabled spans cost one branch. */
final class Spans {
  final case class Span(id: Long, parent: Long, req: String, name: String,
      startNs: Long, endNs: Long)
  @volatile var enabled = false
  private val ids = new AtomicLong
  private val buf = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, startNs: Long, endNs: Long, parent: Long = 0L,
      req: String = "", id: Long = 0L): Long =
    if (!enabled) 0L
    else {
      val sid = if (id != 0L) id else nextId()
      buf.add(Span(sid, parent, req, name, startNs, endNs))
      sid
    }

  def write(path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try buf.asScala.foreach { s =>
      out.println(s"""{"id":${s.id},"parent":${s.parent},"req":"${s.req}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

/** Spark job/task counters, attached only while the traced half runs. */
final class JobCounter extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskRunMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val spillBytes = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
    ()
  }
}

/** JVM and machine gauges for the runtime row of the per-layer table. */
object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Live heap: used heap after explicit full collections. */
  def heapLiveMb(): Double = {
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(50) }
    val h = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    h.getUsed / (1024.0 * 1024.0)
  }

  /** A fixed integer loop: its time tells how fast this machine is
    * right now, for attributing noise, not for any claim. */
  private def spin(n: Int): Long = {
    var x = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < n) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def gauge1CoreMs(): Double = {
    val s = System.nanoTime(); sink += spin(50000000); (System.nanoTime() - s) / 1e6
  }

  def gaugeAllCoreMs(cores: Int): Double = {
    val s = System.nanoTime()
    val ts = (0 until cores).map(_ => new Thread(() => { sink += spin(50000000); () }))
    ts.foreach(_.start()); ts.foreach(_.join())
    (System.nanoTime() - s) / 1e6
  }
  @volatile private var sink = 0L
}

/** A small HTTP/1.1 client over keep-alive connections. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()

  /** GET `pathAndQuery`; returns (status, body). */
  def get(pathAndQuery: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$pathAndQuery"))
      .timeout(java.time.Duration.ofSeconds(60)).GET().build()
    val r = client.send(req, HttpResponse.BodyHandlers.ofString(StandardCharsets.UTF_8))
    (r.statusCode(), r.body())
  }
}

object Http {
  def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)

  def renderPath(target: String, from: String, until: String): String =
    s"/render?target=${enc(target)}&from=${enc(from)}&until=${enc(until)}&maxDataPoints=512"

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** Datapoint values per series of a `/render` JSON body. */
  def renderValues(body: String): Map[String, Seq[Option[Double]]] =
    mapper.readTree(body).elements().asScala.map { s =>
      s.get("target").asText() -> s.get("datapoints").elements().asScala.map { p =>
        if (p.get(0).isNull) None else Some(p.get(0).asDouble())
      }.toSeq
    }.toMap
}

/** Phase marks on stderr, with seconds since the JVM started. */
object Phase {
  def apply(name: String): Unit =
    System.err.println(f"tgbench phase $name%-12s at ${ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%.1f s")
}

/** Holds the first error a background thread hit, so the run fails loudly. */
final class FirstError {
  private val ref = new AtomicReference[Throwable](null)
  def set(t: Throwable): Unit = { ref.compareAndSet(null, t); () }
  def get: Option[Throwable] = Option(ref.get)
}
