package graft.streaming

import java.io.{BufferedInputStream, BufferedReader, DataInputStream, IOException, InputStreamReader, PrintWriter}
import java.net.{DatagramPacket, DatagramSocket, InetSocketAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.Base64
import java.util.concurrent.LinkedBlockingQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.util.Try

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.Render
import graft.dsl.Viewport

/** Process frontends — the reference's daemon shell (routes
  * `daemon/http.go:47-51`, graphite listener
  * `daemon/graphite_text.go:179-234`, service lifecycle
  * `daemon/services.go`) re-expressed as: TCP/UDP line gateways (plus a
  * framed-TCP pickle gateway) feeding Structured Streaming ingest
  * lifecycles, plus a JDK `HttpServer` query-and-pixel surface over the
  * same archives. With this shell the engine is a runnable metrics
  * daemon: senders write graphite/statsd lines over TCP or UDP, carbon
  * clients send pickle frames, trackers GET `/pixel*`, and
  * Grafana-style clients GET `/render` and `/metrics/find`.
  *
  * Scale shape: the gateway is a thin accept-loop (the reference's
  * per-connection goroutines, `daemon/services.go`); ALL heavy work —
  * parsing, PDP state, archive merge — happens inside Spark operators
  * that are identical between this live path and the batch oracle
  * queries (`ig_graphite_parse`, `rrd_*`). On a real cluster the socket
  * source would be swapped for Kafka; every operator downstream is
  * source-agnostic.
  */
object Daemon {

  // ------------------------- line gateway ---------------------------

  /** Accepts MANY sender connections on `listenPort` (the reference's
    * graphite/statsd listener socket) — TCP connections AND UDP
    * datagrams on the same port number, as the reference serves both
    * (`daemon/graphite_text.go:75-111`, `daemon/statsd_text.go`; real
    * statsd emitters default to UDP) — and relays their lines, in
    * arrival order, to the single connection Spark's socket source
    * opens against `feedPort`. Lines arriving while Spark is
    * (re)connecting are buffered, bounded by `capacity` — beyond it the
    * oldest lines drop, matching the reference's bounded ingest
    * channels (it too sheds load rather than OOM).
    *
    * `framed = true` switches the TCP side to the pickle wire format
    * (`daemon/graphite_pickle.go:145-168`: uint32 BE length + blob);
    * each frame relays as ONE base64 line so the Spark socket source
    * can carry it — decode happens on the executors
    * ([[Daemon.startPickleIngest]]). Framed mode is TCP-only, like the
    * reference's pickle listener. */
  final class LineGateway(val listenPort: Int, val feedPort: Int,
      capacity: Int = 1 << 20, framed: Boolean = false,
      route: String => Option[String] = Some(_),
      // transition-fence intercept: counts [[Shard.FenceMarker]] lines
      // (control signals from peer forwarders — never parked, never
      // routed) so the coordinator can prove a flush LANDED
      onFence: String => Unit = _ => (),
      // when set, [[drainHeld]] re-admits parked lines in THIS key
      // order (stable) instead of arrival order: cross-member
      // redeliveries for one series can arrive interleaved across
      // sender connections, and re-admitting the younger point first
      // makes the PDP's ts>lastTs rule drop the older one (the
      // forensic of the auto-transition value flake). Graphite text
      // gateways pass a (series, ts) parser; statsd (no ts field) and
      // pickle (framed) stay FIFO.
      sweepKey: Option[String => (String, Long)] = None) {
    private val queue = new LinkedBlockingQueue[String](capacity)
    private val running = new AtomicBoolean(true)
    // swappable route + pre-route hold buffer — the rolling-resize
    // seam (the reference's memberlist Transition window,
    // `cluster/cluster.go:667-700`): while HELD, incoming lines park
    // RAW (markers intact, un-routed) so the resize can re-route them
    // under the NEW shard count once every fleet member has flushed
    // its old-epoch forwards; the listen sockets never close, so a
    // sender never sees a refused connect across the resize.
    private val routeRef =
      new java.util.concurrent.atomic.AtomicReference(route)
    @volatile private var holding = false
    private val holdQ = new LinkedBlockingQueue[String](capacity)

    /** Swap the route hook (resize: the new-count director). */
    def setRoute(r: String => Option[String]): Unit = routeRef.set(r)

    /** Park new lines raw until [[release]] — listeners stay open. */
    def hold(): Unit = holding = true

    /** Lines parked while held. */
    def heldSize: Int = holdQ.size()

    /** Re-admit parked lines through the CURRENT route (swap it
      * first), oldest-first, then resume direct routing. Lines
      * arriving during the drain keep parking until the queue is
      * empty, preserving per-sender order; the final sweep plus
      * [[offer]]'s park-then-recheck covers the unhold race window. */
    def release(): Unit = {
      drainHold()
      holding = false
      drainHold()
    }

    private def drainHold(): Unit = { drainHeld(); () }

    /** Sweep the currently-parked lines through the CURRENT route while
      * STAYING held — the transition's fleet-wide re-admission rounds:
      * re-decided lines land in still-held peers' park buffers, so no
      * member's live traffic can overtake a held line anywhere in the
      * fleet. Returns the lines swept. Serialized on [[drainLock]]:
      * [[offer]]'s park-then-recheck drain may race [[release]]'s
      * final sweep, and two concurrent drainers polling one FIFO can
      * enqueue two points of a series out of order (the PDP ts>lastTs
      * rule would then DROP the older sample instead of reordering) —
      * one drainer at a time keeps poll order = enqueue order. */
    def drainHeld(): Int = drainLock.synchronized {
      sweepKey match {
        case None =>
          var n = 0
          var l = holdQ.poll()
          while (l != null) {
            routeRef.get()(l).foreach(enqueue); n += 1; l = holdQ.poll()
          }
          n
        case Some(keyOf) =>
          val buf = new scala.collection.mutable.ArrayBuffer[String](
            math.max(holdQ.size(), 8))
          var l = holdQ.poll()
          while (l != null) { buf += l; l = holdQ.poll() }
          buf.sortBy(keyOf) // stable: equal keys keep arrival order
            .foreach(x => routeRef.get()(x).foreach(enqueue))
          buf.size
      }
    }
    private val drainLock = new Object
    private val listenSock = new ServerSocket()
    private val feedSock = new ServerSocket()
    listenSock.bind(new InetSocketAddress("127.0.0.1", listenPort))
    feedSock.bind(new InetSocketAddress("127.0.0.1", feedPort))
    private val udpSock: Option[DatagramSocket] =
      if (framed) None
      else Some(new DatagramSocket(
        new InetSocketAddress("127.0.0.1", listenSock.getLocalPort)))

    /** Ports actually bound (pass 0 above for ephemeral). */
    def boundListenPort: Int = listenSock.getLocalPort
    def boundFeedPort: Int = feedSock.getLocalPort

    /** Lines buffered awaiting the feed connection — the queue_len
      * gauge [[startSelfStats]] reports. */
    def queueSize: Int = queue.size()

    /** Enqueue one line, shedding the oldest beyond `capacity`. Public:
      * the pixel HTTP handler feeds its gateways directly, without a
      * socket ([[pixelRoute]]). Every entry path — TCP, UDP, direct
      * offers (blaster, self-stats, pixel) — passes the `route` hook
      * first: a sharded daemon's [[Shard.Director]] keeps, rewrites
      * (strips the forward marker), or forwards-and-drops the line. */
    def offer(line: String): Unit =
      if (line.startsWith(Shard.FenceMarker)) {
        onFence(line.substring(Shard.FenceMarker.length).trim)
      } else if (holding) {
        if (!holdQ.offer(line)) { holdQ.poll(); holdQ.offer(line); () }
        // park/release race: release() may have finished its final
        // sweep between our `holding` read and the park above — the
        // line would sit invisibly until the next hold cycle. If
        // `holding` has cleared, drain it ourselves: `holding` is
        // volatile, so a park that the final sweep missed implies this
        // re-read sees false; a double drain is harmless (poll is
        // atomic — each line re-admits exactly once).
        if (!holding) drainHold()
      } else routeRef.get()(line).foreach(enqueue)

    private def enqueue(line: String): Unit =
      if (!queue.offer(line)) { queue.poll(); queue.offer(line); () }

    private def daemonThread(name: String)(body: => Unit): Thread = {
      val t = new Thread(() => try body catch {
        case _: Throwable if !running.get => ()
        // a gateway thread dying WHILE RUNNING must be loud: a dead
        // accept loop is the worst silent failure — the kernel backlog
        // keeps completing connects nobody reads, so senders see
        // success while every line vanishes (observed as the smoke's
        // cont=0 flake)
        case e: Throwable =>
          System.err.println(s"gateway thread '$name' died: $e")
          throw e
      }, name)
      t.setDaemon(true); t.start(); t
    }

    private def relayLines(client: Socket): Unit = {
      val in = new BufferedReader(new InputStreamReader(
        client.getInputStream, StandardCharsets.UTF_8))
      Iterator.continually(in.readLine()).takeWhile(_ != null).foreach(offer)
    }

    private def relayFrames(client: Socket): Unit = {
      val in = new DataInputStream(
        new BufferedInputStream(client.getInputStream))
      while (true) {
        val len = in.readInt() // EOFException (an IOException) ends the conn
        // 64 MiB cap: a garbage length must not allocate unbounded
        if (len < 0 || len > (1 << 26))
          throw new IOException(s"bad frame length $len")
        val buf = new Array[Byte](4 + len)
        buf(0) = ((len >> 24) & 0xff).toByte; buf(1) = ((len >> 16) & 0xff).toByte
        buf(2) = ((len >> 8) & 0xff).toByte; buf(3) = (len & 0xff).toByte
        in.readFully(buf, 4, len)
        offer(Base64.getEncoder.encodeToString(buf))
      }
    }

    daemonThread("gateway-accept") {
      while (running.get) {
        try {
          val client = listenSock.accept()
          daemonThread(s"gateway-conn-${client.getPort}") {
            // a sender dying mid-line/mid-frame must not take anything
            // down but its own connection thread
            try { if (framed) relayFrames(client) else relayLines(client) }
            catch { case _: IOException => () }
            finally { Try(client.close()); () }
          }
          ()
        } catch {
          // transient accept() failure: keep accepting. Shutdown closes
          // the socket with running=false, exiting via the while guard.
          // NON-IO throwables must not kill the loop either (see
          // daemonThread's contract) — log and keep accepting.
          case _: IOException if running.get => ()
          case scala.util.control.NonFatal(e) if running.get =>
            System.err.println(s"gateway-accept error (continuing): $e")
        }
      }
    }

    udpSock.foreach { sock =>
      daemonThread("gateway-udp") {
        val buf = new Array[Byte](65536)
        while (running.get) {
          try {
            val pkt = new DatagramPacket(buf, buf.length)
            sock.receive(pkt)
            // one datagram may carry several newline-separated lines
            // (multi-metric statsd packets)
            new String(pkt.getData, pkt.getOffset, pkt.getLength,
                StandardCharsets.UTF_8)
              .split("\n").iterator.map(_.stripSuffix("\r"))
              .filter(_.nonEmpty).foreach(offer)
          } catch {
            case _: IOException if running.get => ()
            case scala.util.control.NonFatal(e) if running.get =>
              // a poison datagram (route-hook error) drops ITSELF,
              // never the UDP loop
              System.err.println(s"gateway-udp error (continuing): $e")
          }
        }
      }
    }

    daemonThread("gateway-feed") {
      // Restart-survival machinery (the reference's graceful package:
      // no accepted line drops across a SIGHUP lifecycle bounce,
      // graceful/graceful.go TcpWg + daemon/daemon.go:339-372):
      //
      //  - `pending`: a line taken from the queue but not delivered
      //    (feed connection died mid-handoff) is HELD and re-offered
      //    to the next feed connection.
      //  - the read-watchdog closes a feed connection the moment its
      //    query stops (orderly peer close → read() returns -1), so
      //    the writer sees the error on the NEXT line instead of
      //    silently burying one in a dead socket buffer.
      //
      // Offset continuity across the bounce is the FEED SOURCE's job:
      // [[graft.sources.GatewaySourceProvider]] numbers a new
      // connection's lines from the checkpoint's restored offset, so
      // the relaunched query neither skips held lines nor commits
      // backwards (the built-in socket source does both).
      var pending: Option[String] = None
      while (running.get) {
        try {
          val client = feedSock.accept() // the streaming source connects
          daemonThread(s"gateway-feed-watch-${client.getPort}") {
            try { client.getInputStream.read(); () }
            catch { case _: IOException => () }
            finally { Try(client.close()); () }
          }
          val out = new PrintWriter(client.getOutputStream, true)
          try while (running.get && !out.checkError()) {
            val line = pending.getOrElse(queue.take())
            out.println(line)
            pending = if (out.checkError()) Some(line) else None
          } finally { Try(client.close()); () }
        } catch {
          case _: IOException if running.get => ()
          case scala.util.control.NonFatal(e) if running.get =>
            // the feed loop feeds the RECEIVER: its death strands the
            // queue (grows until shedding) with the daemon looking
            // alive — log and keep serving
            System.err.println(s"gateway-feed error (continuing): $e")
        }
      }
    }

    def close(): Unit = {
      running.set(false)
      Try(listenSock.close()); Try(feedSock.close())
      udpSock.foreach(s => Try(s.close()))
      ()
    }
  }

  // ------------------------- self stats -----------------------------

  /** Internal stats reported AS STORED SERIES — the reference's
    * `reportStatCount`/`reportStatGauge` path (`receiver/receiver.go:
    * 251-262`: counters and gauges queue into the same receiver under
    * `ReportStatsPrefix`, flushed on the stat cadence;
    * `director.go:329-330` reports `receiver.datapoints.total` and
    * `.dropped`, `director.go:150-155` the queue-length gauge). Here a
    * reporter thread emits graphite lines into the point gateway every
    * `flushSec`: counters as per-interval deltas (the paced-sum
    * semantics), the queue length as a gauge point. Like the
    * reference's, the report itself rides the normal ingest path —
    * including its bounds ("this too might be dropped").
    *
    * `extraCounters` feeds additional CUMULATIVE counters (name →
    * running total) reported as per-interval deltas under the same
    * prefix — the shard tier's kept/received/forwarded/fwd_dropped,
    * the reference's `stats.forwarded`/`forwarded_to` stored series
    * (`receiver/director.go:105-107`).
    * Returns the started daemon thread. */
  def startSelfStats(offer: String => Unit, queueSizes: () => Long,
      flushSec: Long, prefix: String = "graft",
      extraCounters: () => Seq[(String, Long)] = () => Seq.empty): Thread = {
    val t = new Thread(() => {
      var lastTotal = 0L
      var lastDropped = 0L
      val lastExtra = scala.collection.mutable.Map.empty[String, Long]
      while (true) {
        Thread.sleep(math.max(1L, flushSec) * 1000L)
        val now = System.currentTimeMillis() / 1000L
        val total = graft.sources.GatewayStats.totalAccepted()
        val dropped = graft.sources.GatewayStats.totalDropped()
        offer(s"$prefix.receiver.datapoints.total ${total - lastTotal} $now")
        offer(s"$prefix.receiver.datapoints.dropped ${dropped - lastDropped} $now")
        offer(s"$prefix.receiver.queue_len ${queueSizes()} $now")
        lastTotal = total
        lastDropped = dropped
        extraCounters().foreach { case (name, cum) =>
          val prev = lastExtra.getOrElse(name, 0L)
          offer(s"$prefix.$name ${cum - prev} $now")
          lastExtra(name) = cum
        }
      }
    }, "graft-self-stats")
    t.setDaemon(true)
    t.start()
    t
  }

  // ---------------------- render result cache -----------------------

  /** Per-target render result LRU — the role of the reference's query
    * cache (`dsl/ds_lru.go:29-295`, capped by `query-cache-size`,
    * `etc/tgres.conf.sample:36`, with hit/miss/eviction counters like
    * its `hits`/`misses`/`evictions`). The reference caches WATCHED
    * DSes (per-series data kept live by the receiver); the Spark-side
    * equivalent caches the rendered payload keyed on (targets,
    * resolved from, resolved until, maxDataPoints) and invalidates
    * through [[Ingest.StoreGen]] — every archive mutation (micro-batch
    * merge, retention age-out) bumps its store's generation, so a
    * Grafana dashboard refreshing the same panels pays the archive
    * scan once per store MUTATION instead of once per refresh, and a
    * mutated series can never serve a stale payload. `cap = 0`
    * disables caching, as the reference's `0 cap == disable LRU`. */
  final class RenderCache(val cap: Int, maxSpins: Int = 16) {
    val hits = new java.util.concurrent.atomic.AtomicLong
    val misses = new java.util.concurrent.atomic.AtomicLong
    val evictions = new java.util.concurrent.atomic.AtomicLong
    private val map =
      new java.util.LinkedHashMap[String, (Seq[Long], String)](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, (Seq[Long], String)]): Boolean = {
          val evict = size() > cap
          if (evict) evictions.incrementAndGet()
          evict
        }
      }
    private val inflight = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.CompletableFuture[(Seq[Long], String)]]()
    /** Cached payload if present at exactly `gens`; else compute,
      * store, return. A stale entry (any store generation moved) is
      * recomputed and replaced. SINGLE-FLIGHT: N concurrent identical
      * misses (a dashboard refresh fanning out panels) run ONE compute
      * — the first caller renders outside the lock, the rest await its
      * future and count as hits; a waiter whose `gens` differs from
      * what the winner produced (store mutated mid-flight) re-enters
      * and computes at its own generation. */
    def getOrCompute(key: String, gens: Seq[Long])(compute: => String): String = {
      if (cap == 0) return compute
      // BOUNDED retry (was self-recursion): a waiter whose gens race a
      // store mutation re-enters; past the bound — a pathological
      // mutation-per-request rate — it stops chasing single-flight
      // winners and renders at its own generations directly, so churn
      // can delay a request by at most `maxSpins` winner waits.
      var spins = 0
      while (true) {
        map.synchronized(Option(map.get(key))).filter(_._1 == gens) match {
          case Some((_, payload)) => hits.incrementAndGet(); return payload
          case None if spins >= maxSpins =>
            val payload = compute
            misses.incrementAndGet()
            // after maxSpins lost races our gens are stale relative to
            // the winners we were chasing — install only if the slot is
            // empty or already at our gens, never overwrite a fresher
            // entry with one no future request can hit
            map.synchronized {
              val cur = Option(map.get(key))
              if (cur.forall(_._1 == gens)) { map.put(key, (gens, payload)); () }
            }
            return payload
          case None =>
            val fresh =
              new java.util.concurrent.CompletableFuture[(Seq[Long], String)]()
            val winner = inflight.putIfAbsent(key, fresh)
            if (winner == null) {
              try {
                val payload = compute // outside the lock: renders may be slow
                misses.incrementAndGet()
                map.synchronized { map.put(key, (gens, payload)); () }
                fresh.complete((gens, payload))
                return payload
              } catch {
                case e: Throwable => fresh.completeExceptionally(e); throw e
              } finally { inflight.remove(key, fresh); () }
            } else {
              val (g, payload) =
                try winner.join()
                catch { // surface the winner's render failure as our own
                  case e: java.util.concurrent.CompletionException =>
                    throw Option(e.getCause).getOrElse(e)
                }
              if (g == gens) { hits.incrementAndGet(); return payload }
              spins += 1 // store mutated mid-flight: retry at our gens
            }
        }
      }
      throw new IllegalStateException("unreachable")
    }
  }

  /** Cached distinct-name catalog — the role of the reference's
    * fsFindCache name trie (`dsl/fs_find_cache.go:31-63`, refreshed
    * from the store): `/metrics/find` and every tag route derive from
    * the same names-distinct scan, and Grafana's autocomplete fires it
    * per keystroke. One persisted catalog frame per store-generation
    * vector ([[Ingest.StoreGen]], same invalidation as
    * [[RenderCache]]); a mutation unpersists and rebuilds, so the
    * catalog can never serve a name the store no longer holds. The
    * cached artifact is a DataFrame, not a driver trie — at 100 TB the
    * catalog is series-cardinality-sized and belongs on executors. */
  final class CatalogCache(spark: SparkSession, dirsNow: () => Seq[String]) {
    def this(spark: SparkSession, archiveDirs: Seq[String]) =
      this(spark, () => archiveDirs)
    val hits = new java.util.concurrent.atomic.AtomicLong
    val misses = new java.util.concurrent.atomic.AtomicLong
    private var cached: Option[(Seq[Long], DataFrame)] = None
    /** The distinct-name catalog, cache-consistent with the stores. */
    def names(): DataFrame = synchronized {
      // pin the snapshot states ONCE: the generation vector and the
      // rebuild below read the same committed versions, so a merge
      // landing mid-rebuild cannot tear the catalog (it reads
      // immutable files) — no lock needed, in- or cross-process.
      // `dirsNow` re-reads the CURRENT dir set per call: a rolling
      // resize adds the new epoch's stores and the longer generation
      // vector misses the cache exactly once.
      val archiveDirs = dirsNow()
      val states = archiveDirs.map(ArchiveStore.state(spark, _))
      val gens = states.map(_.map(_.version).getOrElse(0L))
      cached match {
        case Some((g, df)) if g == gens =>
          hits.incrementAndGet(); df
        case prev =>
          prev.foreach(_._2.unpersist())
          val d = Ingest.readArchives(spark, archiveDirs,
              pinned = Some(states))
            .select("name").distinct().persist()
          d.count() // materialize: route hits must read cache, not plan
          cached = Some((gens, d))
          misses.incrementAndGet()
          d
      }
    }
  }

  // ---------------------- ingest lifecycles -------------------------

  /** One streaming line frame from a gateway feed port, via the
    * restart-safe [[graft.sources.GatewaySourceProvider]] (offset
    * continuity across a checkpointed relaunch — the graceful-restart
    * contract; the built-in socket source restarts offsets per
    * connection and silently skips). Column: `value`. */
  private def gatewayLines(spark: SparkSession, port: Int,
      maxQueue: Int = 0, maxMemory: Long = 0L): DataFrame =
    spark.readStream
      .format(classOf[graft.sources.GatewaySourceProvider].getName)
      .option("host", "127.0.0.1").option("port", port.toString)
      .option("maxQueue", maxQueue.toString)
      .option("maxMemory", maxMemory.toString)
      .load()

  /** Graphite plaintext lifecycle: socket stream → [[Ingest.parseGraphite]]
    * → exact PDP pieces (stateful, heartbeat-evicted) → partition-scoped
    * archive merge per micro-batch. */
  def startGraphiteIngest(spark: SparkSession, feedPort: Int,
      archiveDir: String, stepSec: Long, heartbeatSec: Long,
      checkpointDir: String, retainSec: Option[Long] = None): StreamingQuery = {
    import spark.implicits._
    val lines = gatewayLines(spark, feedPort)
      .toDF("line")
    val pts = Ingest.parseGraphite(lines,
        nowSec = unix_timestamp(current_timestamp()))
      .as[(String, Long, Double)]
    Ingest.pdpPieces(spark, pts, heartbeatSec).toDF()
      .writeStream
      // query NAME = its checkpoint dir: /stats' ingest.streams keys
      // then say WHICH receiver a frozen batch id belongs to
      .queryName(checkpointDir)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        Ingest.mergePiecesIntoArchive(spark, batch, archiveDir, stepSec,
          writer = Some((writerToken(checkpointDir), bid)))
        retainSec.foreach(rs => Ingest.enforceRetention(spark, archiveDir,
          stepSec, rs, nowSec = System.currentTimeMillis() / 1000L))
      }
      .start()
  }

  /** Stable writer identity for the exactly-once archive merge: a
    * replayed batch must carry the SAME tag across process restarts,
    * and the checkpoint directory IS the streaming query's durable
    * identity — so the token derives from it (not from a per-start
    * UUID, which would defeat replay detection after a restart). */
  private def writerToken(checkpointDir: String): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(checkpointDir.getBytes(StandardCharsets.UTF_8))
      .take(8).map(b => f"$b%02x").mkString
  }

  /** Per-flush-window aggregation of aggregator commands
    * `(name, cmd, value)` into whole-window archive pieces — the body
    * shared by the statsd and pixel-command lifecycles.
    *
    * tsSec/seq are assigned HERE, where the micro-batch is a static
    * DataFrame: monotonically_increasing_id() is illegal in a
    * streaming plan (UnsupportedOperationChecker rejects it at
    * start()). seq only feeds StatsdAgg.gaugeLast's (tsSec, seq)
    * last-wins tiebreak, a within-batch total order — batch-local
    * ids preserve the socket arrival order exactly as well. */
  private def commandWindowPieces(raw: DataFrame, flushSec: Long): DataFrame = {
    val batch = raw
      .withColumn("tsSec", unix_timestamp(current_timestamp()))
      .withColumn("seq", monotonically_increasing_id())
    val slots = StatsdAgg.counterRate(
        batch.filter(col("cmd") === "add"), flushSec)
      .unionByName(StatsdAgg.gaugeSum(
        batch.filter(col("cmd") === "addgauge"), flushSec))
      .unionByName(StatsdAgg.gaugeLast(
        batch.filter(col("cmd") === "setgauge"), flushSec))
      .unionByName(StatsdAgg.timers(
        batch.filter(col("cmd") === "append"), flushSec))
    slots.select(col("name"), col("t").as("begin"),
      (col("t") + flushSec).as("end"), col("value"))
  }

  /** StatsD lifecycle: socket stream → [[Ingest.parseStatsd]] →
    * [[Ingest.statsdToCommands]] → per-flush-window aggregation
    * ([[StatsdAgg]]) merged into the archive as whole-window pieces.
    * The gateway feeds this from TCP and UDP alike — the wire grammar
    * is identical (`daemon/statsd_text.go:175-206`). */
  def startStatsdIngest(spark: SparkSession, feedPort: Int,
      archiveDir: String, flushSec: Long,
      checkpointDir: String, retainSec: Option[Long] = None,
      statsPrefix: String = "stats"): StreamingQuery = {
    val lines = gatewayLines(spark, feedPort)
      .toDF("line")
    val cmds = Ingest.statsdToCommands(Ingest.parseStatsd(lines), statsPrefix)
    cmds.writeStream
      .queryName(checkpointDir)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (raw: DataFrame, bid: Long) =>
        Ingest.mergePiecesIntoArchive(spark,
          commandWindowPieces(raw, flushSec), archiveDir, flushSec,
          writer = Some((writerToken(checkpointDir), bid)))
        retainSec.foreach(rs => Ingest.enforceRetention(spark, archiveDir,
          flushSec, rs, nowSec = System.currentTimeMillis() / 1000L))
      }
      .start()
  }

  /** Canonicalize graphite 1.1 tagged names in a pickle point frame:
    * the reference's pickle path queues names RAW
    * (`daemon/graphite_pickle.go:186`) and `;`-less names stay
    * untouched here, preserving that contract — but a TAGGED path
    * (the tag extension's wire syntax) must canonicalize on every
    * protocol, or the same series ingested over text and pickle would
    * land under two stored identities. */
  private def canonTagged(pts: DataFrame): DataFrame =
    pts.select(
      when(instr(col("name"), ";") > 0, Ingest.sanitizeTagged(col("name")))
        .otherwise(col("name")).as("name"),
      col("tsSec"), col("value"))

  /** Pickle lifecycle: a framed [[LineGateway]] relays each
    * length-prefixed pickle frame as one base64 line; executors decode
    * ([[Pickle.decodeFrames]]) and the points flow through the same
    * PDP state machine and archive merge as graphite text. Names queue
    * RAW — the reference's pickle path does not sanitize
    * (`daemon/graphite_pickle.go:186`), unlike text — except tagged
    * paths, which canonicalize ([[canonTagged]]). */
  def startPickleIngest(spark: SparkSession, feedPort: Int,
      archiveDir: String, stepSec: Long, heartbeatSec: Long,
      checkpointDir: String, retainSec: Option[Long] = None): StreamingQuery = {
    import spark.implicits._
    val lines = gatewayLines(spark, feedPort)
      .toDF("line")
    val pts = canonTagged(lines.as[String]
      .flatMap(b64 => Pickle.decodeFrames(Base64.getDecoder.decode(b64)))
      .filter(p => !p.value.isInfinite) // rejected at ingest: ds.go:300-302
      .map(p => (p.name, p.tsSec, p.value))
      .toDF("name", "tsSec", "value")).as[(String, Long, Double)]
    Ingest.pdpPieces(spark, pts, heartbeatSec).toDF()
      .writeStream
      // query NAME = its checkpoint dir: /stats' ingest.streams keys
      // then say WHICH receiver a frozen batch id belongs to
      .queryName(checkpointDir)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        Ingest.mergePiecesIntoArchive(spark, batch, archiveDir, stepSec,
          writer = Some((writerToken(checkpointDir), bid)))
        retainSec.foreach(rs => Ingest.enforceRetention(spark, archiveDir,
          stepSec, rs, nowSec = System.currentTimeMillis() / 1000L))
      }
      .start()
  }

  /** One resolution of a daemon RRA chain: slots of `stepSec` retained
    * for `spanSec` — the reference's `10s:6h,1m:24h,10m:93d,1d:5y`
    * shape (`etc/tgres.conf.sample`, `receiver/dsfinder.go:34-55`).
    * Store directory: a SIBLING of the base store (`<base>-rra-<step>s`
    * — nesting under it would pollute the base's hive partition
    * discovery). The chain is per STORE here (uniform), not per
    * series — the Spark-idiomatic simplification of the reference's
    * per-DS spec matching. */
  final case class Rra(stepSec: Long, spanSec: Long) {
    def dir(base: String): String = s"$base-rra-${stepSec}s"
  }

  /** The reference's sample-config chain. */
  val DefaultRras: Seq[Rra] = Seq(
    Rra(10L, 6L * 3600), Rra(60L, 24L * 3600),
    Rra(600L, 93L * 86400), Rra(86400L, 5L * 365 * 86400))

  /** The daemon's combined point receiver: graphite text, pickle
    * frames, and (optionally) `/pixel` data points union into ONE
    * stateful PDP stream with ONE archive writer — the reference
    * funnels every point protocol into a single receiver
    * (`receiver/receiver.go`), and two concurrent streaming queries
    * merging the same parquet directory would race on the
    * dynamic-partition overwrite, so the union is structural, not
    * cosmetic. Per-series PDP state is shared across protocols exactly
    * as the reference's DS cache is.
    *
    * `pixelDpFeedPort` carries raw `/pixel?name=VAL@TS` request lines
    * ([[pixelRoute]]); they parse on the EXECUTORS
    * ([[Pixel.parseRequests]]) and join the point union directly —
    * the reference's `http/pixel.go:83` QueueDataPoint funnel with no
    * driver-side re-encode/re-offer loop.
    *
    * `rras` (optional) maintains a LIVE multi-resolution chain alongside
    * the base store, as the reference's receiver trickles each PDP into
    * every RRA (`rrd/rra.go:179-253`): the same micro-batch pieces merge
    * into one store per resolution — piece-merge at a coarser step is
    * exactly the cascade re-consolidation (weighted means re-associate,
    * see `Consolidate.cascade`) — and each store ages out at its own
    * span. All writers live in THIS query, so single-writer-per-
    * directory still holds. */
  def startReceiver(spark: SparkSession, graphiteFeedPort: Int,
      pickleFeedPort: Int, archiveDir: String, stepSec: Long,
      heartbeatSec: Long, checkpointDir: String,
      retainSec: Option[Long] = None,
      rras: Seq[Rra] = Seq.empty,
      pixelDpFeedPort: Option[Int] = None,
      maxQueue: Int = 0, maxMemory: Long = 0L,
      compactEvery: Int = 0, compactFanout: Int = 4,
      pdpSeed: Option[Dataset[(String, Ingest.PdpState)]] = None)
      : StreamingQuery = {
    import spark.implicits._
    // maxQueue/maxMemory > 0 = the reference's max-receiver-queue-size
    // and max-memory-bytes drop bounds, applied per feed (drops
    // counted in GatewayStats, /stats)
    def socketLines(port: Int): DataFrame =
      gatewayLines(spark, port, maxQueue, maxMemory).toDF("line")
    val gPts = Ingest.parseGraphite(socketLines(graphiteFeedPort),
        nowSec = unix_timestamp(current_timestamp()))
      .as[(String, Long, Double)]
    val pkPts = canonTagged(socketLines(pickleFeedPort).as[String]
      .flatMap(b64 => Pickle.decodeFrames(Base64.getDecoder.decode(b64)))
      .filter(p => !p.value.isInfinite) // rejected at ingest: ds.go:300-302
      .map(p => (p.name, p.tsSec, p.value))
      .toDF("name", "tsSec", "value")).as[(String, Long, Double)]
    val pxPts = pixelDpFeedPort.map { port =>
      Pixel.parseRequests(socketLines(port).toDF("url"),
          nowSec = unix_timestamp(current_timestamp()))
        .filter(col("kind") === "dp")
        .select(col("name"), col("tsSec").cast("long"), col("value"))
        .as[(String, Long, Double)]
    }
    val pts = pxPts.foldLeft(gPts.union(pkPts))(_ union _)
    startReceiverFromPoints(spark, pts, archiveDir, stepSec, heartbeatSec,
      checkpointDir, retainSec, rras, compactEvery, compactFanout, pdpSeed)
  }

  /** The receiver pipeline downstream of ANY replayable point source —
    * the source-agnostic seam [[graft.sources.GatewaySource]]'s
    * contract names ("a production cluster swaps Kafka in and every
    * operator downstream is unchanged"): [[startReceiver]] feeds it
    * gateway-socket points, a production deployment feeds it
    * Kafka-parsed points, and StreamingSpec's swap-proof case feeds it
    * a FILE-source twin — same PDP state machine, same exactly-once
    * archive merge, offset-exact replay parity pinned by the spec. */
  def startReceiverFromPoints(spark: SparkSession,
      pts: Dataset[(String, Long, Double)], archiveDir: String,
      stepSec: Long, heartbeatSec: Long, checkpointDir: String,
      retainSec: Option[Long] = None, rras: Seq[Rra] = Seq.empty,
      compactEvery: Int = 0, compactFanout: Int = 4,
      pdpSeed: Option[Dataset[(String, Ingest.PdpState)]] = None)
      : StreamingQuery =
    Ingest.pdpPieces(spark, pts, heartbeatSec, initial = pdpSeed).toDF()
      .writeStream
      // query NAME = its checkpoint dir: /stats' ingest.streams keys
      // then say WHICH receiver a frozen batch id belongs to
      .queryName(checkpointDir)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val tok = writerToken(checkpointDir)
        val nowSec = System.currentTimeMillis() / 1000L
        Ingest.mergePiecesIntoArchive(spark, batch, archiveDir, stepSec,
          writer = Some((tok, bid)))
        retainSec.foreach(rs => Ingest.enforceRetention(spark, archiveDir,
          stepSec, rs, nowSec))
        rras.foreach { r =>
          val d = r.dir(archiveDir)
          Ingest.mergePiecesIntoArchive(spark, batch, d, r.stepSec,
            writer = Some((s"$tok-${r.stepSec}", bid)))
          Ingest.enforceRetention(spark, d, r.stepSec, r.spanSec, nowSec)
          ()
        }
        // small-file maintenance: every `compactEvery` batches each
        // store folds its size-tiered batch debris (0 = off; only
        // tiers with >= compactFanout live chunks rewrite, so settled
        // big chunks are never touched). Runs between this writer's
        // own merges — the single-writer contract the compaction
        // requires is structural here.
        if (compactEvery > 0 && bid > 0 && bid % compactEvery == 0) {
          ArchiveStore.compact(spark, archiveDir, fanout = compactFanout)
          rras.foreach(r =>
            ArchiveStore.compact(spark, r.dir(archiveDir),
              fanout = compactFanout))
          ()
        }
      }
      .start()

  /** Route one pixel request line to the right lifecycle at the HTTP
    * boundary, as the reference's per-route handlers do
    * (`daemon/http.go:47-51`, `http/pixel.go`): bare `/pixel` data
    * points feed the combined point receiver's pixel source
    * ([[startReceiver]]'s `pixelDpFeedPort`) — NO driver-side
    * re-injection loop anywhere downstream — while `/pixel/...`
    * aggregator commands feed the pixel-command lifecycle
    * ([[startPixelIngest]]). Routing is by path shape only; malformed
    * requests drop inside [[Pixel.parseRequests]] on the executors. */
  def pixelRoute(dpOffer: String => Unit,
      cmdOffer: String => Unit): String => Unit =
    line => if (line.startsWith("/pixel/")) cmdOffer(line) else dpOffer(line)

  /** Pixel-command lifecycle: the HTTP pixel handlers ([[startHttp]])
    * offer each `/pixel/add|addgauge|setgauge|append` request's
    * `path?query` line into a gateway ([[pixelRoute]]); this stream
    * parses them with the oracle-checked [[Pixel.parseRequests]] and
    * flush-window aggregates into whole-window pieces. Names stay
    * UNprefixed — pixel commands bypass the statsd router
    * (`http/pixel.go:140` NewCommand, no `stats.` prefixes).
    *
    * Bare `/pixel` data points do NOT pass through here: they are the
    * receiver's third source (`http/pixel.go:83` queues into the same
    * shared receiver as wire graphite), so they run the cross-batch
    * PDP state machine with no per-row driver loop. */
  def startPixelIngest(spark: SparkSession, feedPort: Int,
      archiveDir: String, flushSec: Long,
      checkpointDir: String, retainSec: Option[Long] = None): StreamingQuery = {
    val urls = gatewayLines(spark, feedPort)
      .toDF("url")
    urls.writeStream
      .queryName(checkpointDir)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        val cmds = Pixel.parseRequests(batch,
            nowSec = unix_timestamp(current_timestamp()))
          .filter(col("kind") =!= "dp")
          .select(col("name"), col("kind").as("cmd"), col("value"))
        Ingest.mergePiecesIntoArchive(spark,
          commandWindowPieces(cmds, flushSec), archiveDir, flushSec,
          writer = Some((writerToken(checkpointDir), bid)))
        retainSec.foreach(rs => Ingest.enforceRetention(spark, archiveDir,
          flushSec, rs, nowSec = System.currentTimeMillis() / 1000L))
      }
      .start()
  }

  // ------------------------- HTTP surface ---------------------------

  /** JSON string-escape for error bodies: quotes, backslashes and
    * control chars would otherwise yield invalid JSON to the
    * Grafana-shaped client. */
  private def jsonEscape(s: String): String = {
    val sb = new StringBuilder
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.toString
  }

  /** The 1×1 transparent GIF every pixel endpoint answers with
    * (`http/pixel.go:30-41`). */
  private val pixelGif: Array[Byte] =
    "GIF89a".getBytes(StandardCharsets.ISO_8859_1) ++
      Array[Int](0x01, 0x00, 0x01, 0x00, 0x00, 0x00, 0x00, 0x2c,
        0x00, 0x00, 0x00, 0x00, 0x01, 0x00, 0x01, 0x00, 0x00,
        0x02, 0x00, 0x3b).map(_.toByte)

  /** `/render` + `/metrics/find` over the archive store — the
    * reference's two query routes (`daemon/http.go:47-51`,
    * `http/graphite.go:77-181`) — plus, when `pixelOffer` is given, the
    * five `/pixel*` ingest routes (`daemon/http.go:47-51`): each request
    * answers the 1×1 GIF immediately and its `path?query` line is
    * offered to the pixel gateway for [[startPixelIngest]]. `now` is
    * injectable for tests; production defaults to the wall clock. */
  def startHttp(spark: SparkSession, port: Int, archiveDirs0: Seq[String],
      stepSec: Long, maxPointsDefault: Int = 512,
      now: () => Long = () => System.currentTimeMillis() / 1000L,
      pixelOffer: Option[String => Unit] = None,
      blaster: Option[Blaster.LiveBlaster] = None,
      allowOrigin: Option[String] = None,
      queryCacheSize: Int = 512,
      renderConcurrency: Int = 64,
      extraStats: () => String = () => "",
      events: Option[EventStore] = None,
      // rolling resize: the daemon's store set GROWS when a new epoch
      // starts writing — pass a thunk and every route (render, find,
      // catalog, sketches) reads the CURRENT set per request; the
      // per-request generation vectors keep the caches exact
      archiveDirsDyn: Option[() => Seq[String]] = None): HttpServer = {
    def archiveDirs: Seq[String] =
      archiveDirsDyn.map(_()).getOrElse(archiveDirs0)
    // The JDK server writes a response's headers and body apart. With
    // Nagle on, the body waits for the client's delayed ACK of the
    // headers, ~40 ms. The flag is read once, when the first server of
    // the JVM is created.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    // Concurrent request dispatch — the reference's Go HTTP server runs
    // one goroutine per request and bounds only the render fan-out
    // (`BATCH_LIMIT = 64`, `http/graphite.go:37`). Parity here: a cached
    // pool (per-request thread, like per-request goroutine) so `/ping`,
    // `/stats` and cache hits NEVER queue behind a cold render, plus a
    // fair semaphore capping concurrent cold-render Spark jobs at
    // `renderConcurrency`. Without an executor the JDK HttpServer
    // serializes every request on its single dispatcher thread.
    val threadNo = new java.util.concurrent.atomic.AtomicLong
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool(
      (r: Runnable) => {
        val t = new Thread(r, s"graft-http-${threadNo.incrementAndGet()}")
        t.setDaemon(true)
        t
      }))
    val renderPermits =
      new java.util.concurrent.Semaphore(math.max(1, renderConcurrency), true)
    val httpInFlight = new java.util.concurrent.atomic.AtomicLong
    val httpMaxInFlight = new java.util.concurrent.atomic.AtomicLong
    val renderInFlight = new java.util.concurrent.atomic.AtomicLong
    val renderMaxInFlight = new java.util.concurrent.atomic.AtomicLong
    def raise(max: java.util.concurrent.atomic.AtomicLong, v: Long): Unit = {
      var cur = max.get
      while (v > cur && !max.compareAndSet(cur, v)) cur = max.get
    }
    val renderCache = new RenderCache(queryCacheSize)
    val catalog = new CatalogCache(spark, () => archiveDirs)

    // query string PLUS a form-encoded POST body — Grafana's graphite
    // datasource POSTs its render requests (the reference reads both
    // via Go's r.Form/FormValue)
    def params(ex: HttpExchange): Map[String, Seq[String]] = {
      val q = Option(ex.getRequestURI.getRawQuery).getOrElse("")
      val body =
        if (ex.getRequestMethod == "POST" &&
          Option(ex.getRequestHeaders.getFirst("Content-Type"))
            .exists(_.startsWith("application/x-www-form-urlencoded")))
          new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        else ""
      Seq(q, body).filter(_.nonEmpty).mkString("&")
        .split("&").filter(_.nonEmpty).toSeq
        .map { kv =>
          val i = kv.indexOf('=')
          val k = if (i < 0) kv else kv.substring(0, i)
          val v = if (i < 0) "" else java.net.URLDecoder.decode(
            kv.substring(i + 1), StandardCharsets.UTF_8)
          (k, v)
        }
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    }

    // `origin`: the reference's setOriginHdr wrapper
    // (`daemon/http.go:128-135`) — Access-Control-Allow-Origin on the
    // Grafana-facing routes only, and only when configured. `gzipOk`:
    // the reference gzips the render payload when the client accepts
    // it (`http/graphite.go:309-331` makeGzipHandler, wrapped around
    // the render handler alone).
    def respond(ex: HttpExchange, origin: Boolean = false,
        gzipOk: Boolean = false)(body: => String): Unit = {
      def err(e: Throwable) = jsonEscape(
        Option(e.getMessage).getOrElse(e.getClass.getSimpleName))
      raise(httpMaxInFlight, httpInFlight.incrementAndGet())
      val (code, payload) =
        try (200, body)
        catch {
          case e: IllegalArgumentException => (400, s"""{"error":"${err(e)}"}""")
          case e: Exception => (500, s"""{"error":"${err(e)}"}""")
        } finally { httpInFlight.decrementAndGet(); () }
      if (origin) allowOrigin.foreach(o =>
        ex.getResponseHeaders.set("Access-Control-Allow-Origin", o))
      val raw = payload.getBytes(StandardCharsets.UTF_8)
      val acceptsGzip = Option(
        ex.getRequestHeaders.getFirst("Accept-Encoding"))
        .exists(_.contains("gzip"))
      val bytes = if (gzipOk && acceptsGzip && code == 200) {
        ex.getResponseHeaders.set("Content-Encoding", "gzip")
        val bos = new java.io.ByteArrayOutputStream()
        val gz = new java.util.zip.GZIPOutputStream(bos)
        gz.write(raw); gz.close()
        bos.toByteArray
      } else raw
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    def respondText(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }

    // health + annotations: /ping answers "OK\n" byte-for-byte
    // (`daemon/http.go:45`). /events/get_data is Grafana's annotations
    // endpoint, which the reference serves as a permanent empty list
    // ("Annotations not implemented", `http/graphite.go:188-195`) —
    // HONORED when no event store is wired (and an EMPTY store answers
    // the same bytes); with a store (graphite-web's events API;
    // extension) it serves the window + subset-tag query, and POST
    // /events stores a graphite-shaped JSON event body.
    server.createContext("/ping",
      (ex: HttpExchange) => respondText(ex, 200, "OK\n"))
    server.createContext("/events/get_data", (ex: HttpExchange) => {
      allowOrigin.foreach(o =>
        ex.getResponseHeaders.set("Access-Control-Allow-Origin", o))
      events match {
        case None => respondText(ex, 200, "[]\n")
        case Some(store) =>
          val p = params(ex)
          val nowS = now()
          def bound(k: String, dflt: Long): Long =
            p.get(k).flatMap(_.headOption)
              .flatMap(graft.dsl.Viewport.parseTimeSec(_, nowS))
              .getOrElse(dflt)
          val tags = p.get("tags").flatMap(_.headOption)
            .map(_.split("\\s+").filter(_.nonEmpty).toSeq)
            .getOrElse(Seq.empty)
          val evs = store.query(bound("from", 0L),
            bound("until", nowS), tags)
          respondText(ex, 200,
            evs.map(_.toJson).mkString("[", ",", "]") + "\n")
      }
    })
    // POST /events — graphite-web's event-submission API (extension):
    // {"what": required, "tags": list|"a b", "when": epoch (default
    // now), "data": string}. NOTE: the JDK server matches contexts by
    // longest prefix, so /events/get_data above keeps its own handler.
    events.foreach { store =>
      server.createContext("/events", (ex: HttpExchange) => {
        allowOrigin.foreach(o =>
          ex.getResponseHeaders.set("Access-Control-Allow-Origin", o))
        // the JDK server matches contexts by PREFIX, so confine the
        // submission route to the exact path — /events/anything must
        // 404, not journal a typo'd request as a real annotation
        // (/events/get_data has its own longer-prefix context)
        val path = ex.getRequestURI.getPath
        if (path != "/events" && path != "/events/")
          respondText(ex, 404, "Error\n")
        else if (ex.getRequestMethod != "POST")
          respondText(ex, 405, "Error\n")
        else {
          // bounded read: annotations are human-scale — read at most
          // cap+1 bytes and answer 413 past the cap, so one oversized
          // body can neither balloon heap nor bloat the journal
          val cap = EventStore.MaxBodyBytes
          val raw = ex.getRequestBody.readNBytes(cap + 1)
          if (raw.length > cap) respondText(ex, 413, "Error\n")
          else {
            val body = new String(raw, StandardCharsets.UTF_8)
            EventStore.parseEventBody(body) match {
              case Some((when, what, tags, data)) =>
                // journal IO failure (disk full, perms) → 500, not an
                // unhandled escape from the handler
                try {
                  val ev = store.add(when.getOrElse(now()), what, tags, data)
                  respondText(ex, 200, ev.toJson + "\n")
                } catch {
                  case e: java.io.IOException =>
                    System.err.println(s"events journal write failed: $e")
                    respondText(ex, 500, "Error\n")
                }
              case None => respondText(ex, 400, "Error\n")
            }
          }
        }
      })
      ()
    }

    // /blaster/set?rate=N&n=M — runtime control of the in-daemon load
    // generator (`http/blaster.go:26-67`): each recognized form value
    // applies immediately and echoes its confirmation line; an
    // unparseable value answers 500 "Error\n" as the reference does
    blaster.foreach { b =>
      server.createContext("/blaster/set", (ex: HttpExchange) => {
        val p = params(ex)
        val sb = new StringBuilder
        var bad = false
        p.getOrElse("rate", Seq.empty).foreach(v => v.toIntOption match {
          case Some(r) => b.setRate(r); sb ++= s"New rate: $r\n"
          case None => bad = true
        })
        if (!bad) p.getOrElse("n", Seq.empty).foreach(v => v.toIntOption match {
          case Some(n) => b.setNSeries(n); sb ++= s"New nSeries: $n\n"
          case None => bad = true
        })
        if (bad) respondText(ex, 500, "Error\n")
        else respondText(ex, 200, sb.toString)
      })
      ()
    }

    server.createContext("/render",
      (ex: HttpExchange) => respond(ex, origin = true, gzipOk = true) {
      val p = params(ex)
      val targets = p.getOrElse("target", Seq.empty)
      val from = p.get("from").flatMap(_.headOption).getOrElse("")
      val until = p.get("until").flatMap(_.headOption).getOrElse("")
      val maxDp = p.get("maxDataPoints").flatMap(_.headOption)
        .map(_.toInt).getOrElse(maxPointsDefault)
      // graphite-web's pie mode (extension; the reference renders
      // lines only): graphType=pie reduces each series to one number
      // by pieMode (average default) — see Render.renderPieTargets
      val graphType = p.get("graphType").flatMap(_.headOption)
        .getOrElse("line")
      val pieMode = p.get("pieMode").flatMap(_.headOption)
        .getOrElse("average")
      // cache key on the RESOLVED viewport — resolved cheaply here so
      // a hit skips even the archive listing/schema read. The
      // resolution clock is QUANTIZED to the archive's finest step:
      // a relative spec (-1h) re-resolves per request, so an
      // unquantized clock mints a distinct key every second and a
      // dashboard refresh never hits. Quantizing `now` (not just the
      // key) keeps key ≡ computation inputs: every downstream bound
      // derives from this same clock, archive slots are step-aligned
      // (no slot can distinguish clocks within one step), and
      // StoreGen guards mutation — so aliased requests are
      // bit-identical, not merely close.
      val nowS = math.floorDiv(now(), stepSec) * stepSec
      val f = Viewport.parseTimeSec(from, nowS).getOrElse(
        throw new IllegalArgumentException("viewport: 'from' is required"))
      val u = Viewport.parseTimeSec(until, nowS).getOrElse(nowS)
      // NUL-separate EVERY key field, not just between targets: '|' is
      // legal inside a target expression, so a '|'-joined suffix could
      // alias a different (targets, from, until, maxDp) tuple and
      // serve the wrong cached payload.
      val key = (targets :+ f.toString :+ u.toString :+ maxDp.toString :+
        graphType :+ pieMode).mkString("\u0000")
      // the cache-key generation vector is the stores' committed
      // versions, so a hit reads only their pointers; a miss pins the
      // snapshot states at exactly these versions. The event store's
      // change counter rides the vector ONLY for requests whose targets
      // reference events() — so an events() render never serves stale
      // after a new event lands, and a deploy-marker firehose does not
      // evict every cached dashboard.
      val dirs = archiveDirs
      val versions = dirs.map(ArchiveStore.version(spark, _))
      val gens = versions ++ events.filter(_ =>
        targets.exists(graft.dsl.Dsl.callsFunction(_, "events"))).map(_.version)
      renderCache.getOrCompute(key, gens) {
        // Cold render only: bounded at `renderConcurrency` concurrent
        // Spark jobs (BATCH_LIMIT parity). Cache hits and single-flight
        // waiters never touch the semaphore, so hot keys are never
        // throttled behind cold ones.
        renderPermits.acquire()
        raise(renderMaxInFlight, renderInFlight.incrementAndGet())
        // the compute reads the PINNED versions' immutable files: a
        // concurrent merge cannot tear this scan — from this JVM or
        // any other — and the entry is stamped with exactly the
        // versions it read. A merge landing mid-compute stamps the
        // entry with a pre-commit vector no future request can observe
        // (versions are monotone): dead weight, never a stale serve.
        try {
          // a version vacuumed since the pointer read falls back to the
          // newest: fresher than the key, never stale
          val states = dirs.zip(versions).map { case (d, v) =>
            (if (v > 0) ArchiveStore.state(spark, d, Some(v)) else None)
              .orElse(ArchiveStore.state(spark, d))
          }
          // events frame: a driver-local annotations table (bounded,
          // human-scale) — built per cold render, cached like any body
          val evFrame = events.map { store =>
            val s2 = spark
            import s2.implicits._
            store.all().map(e => (e.when, e.tags)).toDF("when", "tags")
          }
          val ctx = Viewport.ctx(spark,
            Ingest.readArchives(spark, dirs, pinned = Some(states)),
            stepSec, from, until, nowS, maxDp).copy(events = evFrame)
          if (graphType == "pie") Render.renderPieTargets(ctx, targets, pieMode)
          else Render.renderTargets(ctx, targets)
        } finally { renderInFlight.decrementAndGet(); renderPermits.release() }
      }
    })

    server.createContext("/metrics/find",
      (ex: HttpExchange) => respond(ex, origin = true) {
      val p = params(ex)
      val pattern = p.get("query").flatMap(_.headOption).getOrElse("*")
      Render.toFindJson(Find.findNodes(catalog.names(), pattern))
    })

    // /tags/autoComplete/tags?tagPrefix=&limit= and
    // /tags/autoComplete/values?tag=&valuePrefix=&limit= — the graphite
    // tag API's autocomplete pair, served over idents DERIVED from the
    // stored canonical names ([[Find.identFromName]]): the store stays
    // a flat name catalog, tags need no second table. JSON array of
    // strings, as graphite-web answers.
    server.createContext("/tags/autoComplete/tags", (ex: HttpExchange) =>
      respond(ex) {
        val p = params(ex)
        val prefix = p.get("tagPrefix").flatMap(_.headOption).getOrElse("")
        val limit = p.get("limit").flatMap(_.headOption).map(_.toInt)
          .getOrElse(100)
        val cat = catalog.names()
          .withColumn("ident", Find.identFromName(col("name")))
        Find.tagKeys(cat, prefix, limit).collect()
          .map(r => s""""${jsonEscape(r.getString(0))}"""")
          .mkString("[", ",", "]")
      })
    // /tags/findSeries?expr=k=v&expr=k2=~re — the tag API's series
    // lookup: conjunctive tag expressions over derived idents, JSON
    // array of matching canonical names (graphite-web's contract)
    server.createContext("/tags/findSeries", (ex: HttpExchange) =>
      respond(ex) {
        val exprs = params(ex).getOrElse("expr", Seq.empty)
        require(exprs.nonEmpty, "at least one expr is required")
        catalog.names()
          .filter(Find.tagExprCond(exprs,
            Find.identFromName(col("name"))))
          .orderBy("name").collect()
          .map(r => s""""${jsonEscape(r.getString(0))}"""")
          .mkString("[", ",", "]")
      })
    server.createContext("/tags/autoComplete/values", (ex: HttpExchange) =>
      respond(ex) {
        val p = params(ex)
        val tag = p.get("tag").flatMap(_.headOption)
          .getOrElse(throw new IllegalArgumentException("tag is required"))
        val prefix = p.get("valuePrefix").flatMap(_.headOption).getOrElse("")
        val limit = p.get("limit").flatMap(_.headOption).map(_.toInt)
          .getOrElse(100)
        val cat = catalog.names()
          .withColumn("ident", Find.identFromName(col("name")))
        Find.tagValues(cat, tag, prefix, limit).collect()
          .map(r => s""""${jsonEscape(r.getString(0))}"""")
          .mkString("[", ",", "]")
      })

    // /toptalkers?k=10&window=3600 — which series wrote the most slots
    // in the last `window` seconds (the ingest-storm diagnostic). The
    // Misra–Gries sketch keeps the aggregation k-bounded however many
    // series the store holds; counts are exact while distinct names in
    // the window ≤ k (the common case for an ops glance), MG lower
    // bounds beyond.
    // ops scans share the render permit pool: an ops dashboard
    // polling /toptalkers//quantiles is archive-scanning Spark work
    // too and must not bypass the BATCH_LIMIT bound
    def withRenderPermit[T](f: => T): T = {
      renderPermits.acquire()
      raise(renderMaxInFlight, renderInFlight.incrementAndGet())
      try f
      finally { renderInFlight.decrementAndGet(); renderPermits.release() }
    }

    server.createContext("/toptalkers", (ex: HttpExchange) => respond(ex) {
      val p = params(ex)
      val k = p.get("k").flatMap(_.headOption).map(_.toInt).getOrElse(10)
      require(k > 0, "k must be > 0")
      val windowSec = p.get("window").flatMap(_.headOption)
        .map(_.toLong).getOrElse(3600L)
      withRenderPermit {
        Ingest.readArchives(spark, archiveDirs)
          .filter(col("t") >= now() - windowSec)
          .agg(graft.functions.SketchExprs.heavyHitters(col("name"), k).as("hh"))
          .select(explode(col("hh")).as("e"))
          .select(col("e.token"), col("e.count"))
          .collect()
          .map(r => s"""{"name":"${jsonEscape(r.getString(0))}","n_points":${r.getLong(1)}}""")
          .mkString("[", ",", "]")
      }
    })

    // /stats — receiver self-counters, led by the drop counter the
    // reference keeps as `stats.dropped` (`receiver/director.go:299`;
    // it reports the same number through its internal self-metrics
    // flush — this JSON route is the equivalent ops surface). A
    // blaster flood past `max-receiver-queue-size` shows up here
    // instead of as unbounded gateway memory.
    server.createContext("/stats", (ex: HttpExchange) => respond(ex) {
      val per = graft.sources.GatewayStats.all()
      val total = per.map(_._2).sum
      val gws = per.map { case (k, v) =>
        s""""${jsonEscape(k)}":$v""" }.mkString("{", ",", "}")
      s"""{"receiver.dropped":$total,"receiver.dropped.by_gateway":$gws,""" +
        s""""query_cache.hits":${renderCache.hits.get},""" +
        s""""query_cache.misses":${renderCache.misses.get},""" +
        s""""query_cache.evictions":${renderCache.evictions.get},""" +
        s""""find_cache.hits":${catalog.hits.get},""" +
        s""""find_cache.misses":${catalog.misses.get},""" +
        s""""http.in_flight":${httpInFlight.get},""" +
        s""""http.max_in_flight":${httpMaxInFlight.get},""" +
        s""""render.in_flight":${renderInFlight.get},""" +
        s""""render.max_in_flight":${renderMaxInFlight.get},""" +
        s""""render.permits_available":${renderPermits.availablePermits}""" +
        extraStats() + "}"
    })

    // /quantiles?name=a.b.c&q=0.5,0.99&window=3600 — value quantiles of
    // one series over the window (the "what's its p99 right now" ops
    // glance), read through the quantile compactor stack so the
    // aggregation state is O(k·log n)-bounded however many slots the
    // window holds; each answer is an actual stored value. Exact while
    // the window holds ≤ 8192 slots.
    server.createContext("/quantiles", (ex: HttpExchange) => respond(ex) {
      val p = params(ex)
      val name = p.get("name").flatMap(_.headOption)
        .getOrElse(throw new IllegalArgumentException("name is required"))
      val qs = p.get("q").flatMap(_.headOption).getOrElse("0.5,0.9,0.99")
        .split(',').map(_.trim.toDouble).toSeq
      require(qs.nonEmpty && qs.forall(q => q >= 0 && q <= 1),
        "q fractions must be in [0, 1]")
      val windowSec = p.get("window").flatMap(_.headOption)
        .map(_.toLong).getOrElse(3600L)
      val rows = withRenderPermit {
        Ingest.readArchives(spark, archiveDirs)
          .filter(col("name") === name && col("t") >= now() - windowSec)
          .agg(graft.functions.SketchExprs
            .quantiles(col("value").cast("double"), 8192, qs).as("qv"))
          .collect()
      }
      val vals = rows.headOption.map(_.getSeq[Double](0)).getOrElse(Seq.empty)
      if (vals.isEmpty || vals.forall(_.isNaN)) "[]"
      else qs.zip(vals).map { case (q, v) =>
        s"""{"q":$q,"value":$v}""" }.mkString("[", ",", "]")
    })

    // /pixel + /pixel/add|addgauge|setgauge|append: answer the GIF,
    // queue the request line. JDK context matching is by path prefix,
    // so one "/pixel" context serves all five routes; parseRequests
    // drops paths outside the exact set.
    pixelOffer.foreach { offer =>
      server.createContext("/pixel", (ex: HttpExchange) => {
        val uri = ex.getRequestURI
        offer(uri.getPath +
          Option(uri.getRawQuery).map("?" + _).getOrElse(""))
        ex.getResponseHeaders.set("Content-Type", "image/gif")
        ex.sendResponseHeaders(200, pixelGif.length.toLong)
        ex.getResponseBody.write(pixelGif)
        ex.close()
      })
      ()
    }

    server.start()
    server
  }

  // ----------------------------- main --------------------------------

  /** Runnable daemon: graphite text on GRAFT_GRAPHITE_PORT (default
    * 2003, TCP+UDP), graphite pickle on GRAFT_PICKLE_PORT (2004, TCP),
    * statsd lines on GRAFT_STATSD_PORT (8125, TCP+UDP), HTTP render +
    * find + pixel routes on GRAFT_HTTP_PORT (8080), archives under
    * GRAFT_DATA_DIR. Blocks until killed.
    *
    * GRAFT_CONFIG (or argv[0]) names a `tgres.conf`-shaped file
    * ([[Conf]], see `etc/graft.conf.sample`): its listen specs,
    * stat-flush-interval, stats-name-prefix, and the first `[[ds]]`
    * rule's step/heartbeat/RRA chain become the defaults; GRAFT_*
    * environment variables still override per key. */
  /** Per-boot (and per-SIGHUP) daemon settings: config-file defaults
    * with GRAFT_* environment overrides. */
  private final case class DaemonSettings(stepSec: Long, heartbeatSec: Long,
      flushSec: Long, retainSec: Option[Long], rras: Seq[Rra],
      statsPrefix: String, maxQueue: Int, maxMemory: Long)

  private def loadSettings(confPath: Option[String]): (Option[Conf.Settings], DaemonSettings) = {
    val conf = confPath.map(Conf.load)
    val (cfStep, cfHb, cfRetain, cfRras) = conf match {
      case Some(c) => Conf.storeSettings(c)
      case None => (10L, 300L, None: Option[Long], Seq.empty[Rra])
    }
    val stepSec = sys.env.get("GRAFT_STEP_SEC").map(_.toLong)
      .getOrElse(cfStep)
    val heartbeatSec = sys.env.get("GRAFT_HEARTBEAT_SEC").map(_.toLong)
      .getOrElse(cfHb)
    val flushSec = sys.env.get("GRAFT_FLUSH_SEC").map(_.toLong)
      .getOrElse(conf.map(_.statFlushSec).getOrElse(10L))
    // bounded retention (the reference's RRA span): 0 keeps everything
    val retainSec = sys.env.get("GRAFT_RETAIN_SEC").map(_.toLong)
      .filter(_ > 0).orElse(cfRetain)
    // live RRA chain, "step:span" pairs with graphite duration suffixes
    // (e.g. "1min:24h,10min:93d,1d:5y" — the reference's sample config);
    // empty = base store only
    val rras = sys.env.get("GRAFT_RRAS") match {
      case Some(s) => s.split(",").map(_.trim).filter(_.nonEmpty)
        .toSeq.map { spec =>
          val Array(st, sp) = spec.split(":", 2)
          Rra(graft.ts.Durations.parseSeconds(st),
            graft.ts.Durations.parseSeconds(sp))
        }
      case None => cfRras
    }
    val statsPrefix = sys.env.getOrElse("GRAFT_STATS_PREFIX",
      conf.map(_.statsNamePrefix).getOrElse("stats"))
    // receiver backpressure bound (max-receiver-queue-size); 0 = off
    val maxQueue = sys.env.get("GRAFT_MAX_QUEUE").map(_.toInt)
      .getOrElse(conf.map(_.maxReceiverQueueSize).getOrElse(0))
    val maxMemory = sys.env.get("GRAFT_MAX_MEMORY").map(_.toLong)
      .getOrElse(conf.map(_.maxMemoryBytes).getOrElse(0L))
    (conf, DaemonSettings(stepSec, heartbeatSec, flushSec, retainSec,
      rras, statsPrefix, maxQueue, maxMemory))
  }

  def main(args: Array[String]): Unit = {
    def env(k: String, d: String) = sys.env.getOrElse(k, d)
    val confPath = sys.env.get("GRAFT_CONFIG").orElse(args.headOption)
    val (conf, boot) = loadSettings(confPath)
    val dataDir = env("GRAFT_DATA_DIR",
      Files.createTempDirectory("graft-daemon").toString)
    def portOf(envKey: String, confPort: Option[Int], d: Int): Int =
      sys.env.get(envKey).map(_.toInt)
        .orElse(confPort).getOrElse(d)
    val spark = graft.GraftSession("graft-daemon")

    // Ingest scale-out (cluster/cluster.go selectNodes + receiver/
    // director.go, re-expressed as the hash partition rule — see
    // [[Shard]]): GRAFT_SHARD_COUNT daemons, this one at
    // GRAFT_SHARD_INDEX, peers' graphite ports (index-aligned, own
    // slot ignored) in GRAFT_SHARD_PEERS. Single-daemon (count=1)
    // boots the identity route — zero cost, identical behavior.
    // `var`: a rolling resize (admin routes below) re-binds the count
    // and the directors in place — the gateways' listen sockets never
    // close, so line senders never see a refused connect (the
    // memberlist-Transition availability property,
    // `cluster/cluster.go:667-700`)
    @volatile var shardCount = env("GRAFT_SHARD_COUNT", "1").toInt
    // var: a SHRINK transition re-ranks the survivors 0..M-1 (the
    // departed member's index must not leave a hole — ownership is
    // pmod over the count)
    @volatile var shardIndex = env("GRAFT_SHARD_INDEX", "0").toInt
    // n-copy replication (cluster/cluster.go:183-191 Copies +
    // selectNodes ring placement): each POINT series also lands on its
    // owner's copies-1 ring successors, in a separate per-shard
    // REPLICA store (primary stores stay disjoint). Scope: the point
    // path (graphite/pickle/pixel dp) — statsd aggregation state is
    // single-owner by its mass-conservation invariant.
    val shardCopies = env("GRAFT_SHARD_COPIES", "1").toInt
    def peersOf(key: String): Seq[Int] = {
      val peers = sys.env.getOrElse(key,
        sys.error(s"GRAFT_SHARD_COUNT > 1 needs $key " +
          "(comma-separated peer ports, index-aligned)"))
        .split(",").map(_.trim.toInt).toSeq
      require(peers.size == shardCount,
        s"$key has ${peers.size} entries for $shardCount shards")
      peers
    }
    // replica ingest rides its own internal gateways (fed by the
    // directors, not a listen socket) into its own receiver + store
    val replGw: Option[LineGateway] =
      if (shardCount > 1 && shardCopies > 1) Some(new LineGateway(0, 0))
      else None
    val replPkGw: Option[LineGateway] =
      replGw.map(_ => new LineGateway(0, 0, framed = true)) // dormant
    val replicaOffer: String => Unit =
      replGw.map(g => g.offer _).getOrElse((_: String) => ())
    @volatile var director: Option[Shard.Director] =
      if (shardCount <= 1) None
      else Some(new Shard.Director(shardIndex, shardCount,
        new Shard.Forwarder(peersOf("GRAFT_SHARD_PEERS")),
        copies = shardCopies, replicaOffer = replicaOffer))
    // pickle frames decode AT the gateway and direct too (the
    // reference's pickle listener parses before its director); foreign
    // points forward as marked text into the owner's GRAPHITE gateway
    // (all point protocols funnel into the one receiver), so the
    // pickle director dials the same graphite peer ports — on its own
    // connections, preserving per-path ordering
    @volatile var pkDirector: Option[Shard.PickleDirector] =
      if (shardCount <= 1) None
      else Some(new Shard.PickleDirector(shardIndex, shardCount,
        new Shard.Forwarder(peersOf("GRAFT_SHARD_PEERS")),
        copies = shardCopies, replicaOffer = replicaOffer))
    // statsd directs too (the reference's director sits behind every
    // protocol) when the statsd peer ports are given; ownership keys
    // on the sanitized WIRE name — see [[Shard.Director]]
    @volatile var sdDirector: Option[Shard.Director] =
      if (shardCount <= 1 || !sys.env.contains("GRAFT_SHARD_STATSD_PEERS"))
        None
      else Some(new Shard.Director(shardIndex, shardCount,
        new Shard.Forwarder(peersOf("GRAFT_SHARD_STATSD_PEERS")),
        parseName = Shard.statsdNameOf, canon = Shard.sanitizePlain))
    // routes deref the director VARS per line: a resize re-binds the
    // director and every subsequent line routes under the new count —
    // no stale captures (setRoute is used only for the transition
    // rerouter window)
    val gRoute: String => Option[String] =
      l => director.map(_.route(l)).getOrElse(Some(l))
    val sRoute: String => Option[String] =
      l => sdDirector.map(_.route(l)).getOrElse(Some(l))
    val pkRoute: String => Option[String] =
      l => pkDirector.map(_.route(l)).getOrElse(Some(l))
    // transition-fence ledger: tag → count of fences received from
    // peer forwarders (see [[Shard.FenceMarker]]); read by the rolling
    // coordinator through /admin/info to prove a drain round's
    // redeliveries LANDED before the next round (or open) runs. Tags
    // are per-transition and few — trimmed wholesale past a bound.
    val fenceRecv = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.atomic.AtomicLong]()
    val onFence: String => Unit = tag => {
      if (fenceRecv.size > 64) fenceRecv.clear()
      fenceRecv.computeIfAbsent(tag,
        _ => new java.util.concurrent.atomic.AtomicLong).incrementAndGet()
      ()
    }
    // (series, ts) sweep key for graphite-format hold buffers: strip
    // the one-hop markers, then "name value ts". Unparseable lines
    // sort together at the front, arrival order preserved (stable).
    val graphiteSweepKey: String => (String, Long) = { raw =>
      val l =
        if (raw.startsWith(Shard.FwdMarker))
          raw.substring(Shard.FwdMarker.length)
        else if (raw.startsWith(Shard.Fwd1Marker))
          raw.substring(Shard.Fwd1Marker.length)
        else if (raw.startsWith(Shard.ReplMarker))
          raw.substring(Shard.ReplMarker.length)
        else raw
      val f = l.trim.split("\\s+")
      if (f.length == 3)
        try (f(0), math.floor(f(2).toDouble).toLong)
        catch { case _: NumberFormatException => ("", Long.MinValue) }
      else ("", Long.MinValue)
    }
    val gGw = new LineGateway(
      portOf("GRAFT_GRAPHITE_PORT", conf.flatMap(_.graphitePort), 2003), 0,
      route = gRoute, onFence = onFence,
      sweepKey = Some(graphiteSweepKey))
    val sGw = new LineGateway(
      portOf("GRAFT_STATSD_PORT", conf.flatMap(_.statsdPort), 8125), 0,
      route = sRoute, onFence = onFence)
    val pkGw = new LineGateway(
      portOf("GRAFT_PICKLE_PORT", conf.flatMap(_.picklePort), 2004), 0,
      framed = true,
      route = pkRoute)
    // both fed by the HTTP handler (pixelRoute), not a listen socket:
    // bare /pixel dp lines feed the receiver, /pixel/* commands their
    // own lifecycle. The dp gateway shares the graphite DIRECTOR: its
    // lines ARE plain graphite dp lines, and without the route a
    // pixel point served by a non-owner shard would archive locally,
    // splitting one series' PDP state across two stores and breaking
    // the store-disjointness invariant the render union relies on.
    val pxDpGw = new LineGateway(0, 0, route = gRoute,
      sweepKey = Some(graphiteSweepKey))
    val pxGw = new LineGateway(0, 0)
    // Send one fence per DIRECTOR CONNECTION CLASS, tag-suffixed so the
    // coordinator can verify each class independently (graphite and
    // pickle forwarders both dial peers' graphite ports but on their
    // OWN connections — a fence on one proves nothing about the
    // other). Flush afterwards so the fences hit the wire. Returns the
    // total fences enqueued.
    def sendFences(tag: String): Int = {
      val n = (director.map(d => d.forwarder.fence(s"$tag/g", d.shardIndex)) ++
        pkDirector.map(d => d.forwarder.fence(s"$tag/pk", d.shardIndex)) ++
        sdDirector.map(d => d.forwarder.fence(s"$tag/sd", d.shardIndex))).sum
      (director.map(_.forwarder.flushed()) ++
        pkDirector.map(_.forwarder.flushed()) ++
        sdDirector.map(_.forwarder.flushed())).forall(identity)
      n
    }
    // one archive store per writer: points (graphite+pickle+pixel dps,
    // via the shared receiver), statsd commands, pixel commands — the
    // HTTP surface reads their union. startAll re-reads the config so
    // a SIGHUP restart picks up edited settings (ports stay boot-fixed:
    // the gateways ARE the reference's inherited listener FDs).
    // reshard seed (Reshard.writeSeeds output): the in-progress PDP
    // state this shard inherits at a resize. Applied only when the
    // checkpoint is FRESH (first post-resize boot); a resumed
    // checkpoint carries its own state and Spark ignores the seed.
    @volatile var pdpSeed = sys.env.get("GRAFT_PDP_SEED")
      .map(p => Reshard.readSeed(spark, p))
    // the REPLICA receiver's seed at a resize: with GRAFT_PDP_SEED_ALL
    // (every new shard's seed path, index-aligned) the replica store
    // of shard i seeds with the union of the slices of the shards it
    // REPLICATES — the ring predecessors o with (o + k) mod M = i for
    // k < copies — so a re-homed series' resize-straddling slot is
    // exact in the replica store too (an owner crash right after a
    // resize otherwise serves that one slot gapped from the fallback)
    def replicaSeedOf(all: String, idx: Int,
        cnt: Int): Dataset[(String, Ingest.PdpState)] = {
      val paths = all.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      require(paths.size == cnt,
        s"seed-all has ${paths.size} entries for $cnt shards")
      val preds = Shard.replicatedBy(idx, cnt, shardCopies)
      require(preds.nonEmpty, "seed-all set with copies <= 1")
      preds.map(o => Reshard.readSeed(spark, paths(o))).reduce(_ union _)
    }
    @volatile var replicaSeed = sys.env.get("GRAFT_PDP_SEED_ALL")
      .filter(_ => replGw.nonEmpty)
      .map(replicaSeedOf(_, shardIndex, shardCount))
    // small-file maintenance cadence (0 = off): a long-running
    // daemon's merge-per-batch cadence fragments the store into one
    // chunk per surviving batch epoch without it — ON by default, and
    // cheap: only under-fanout size tiers rewrite. Shared by the
    // primary and replica receivers.
    val compactEvery = sys.env.get("GRAFT_COMPACT_EVERY").map(_.toInt)
      .getOrElse(16)
    val compactFanout = sys.env.get("GRAFT_COMPACT_FANOUT").map(_.toInt)
      .getOrElse(4)
    // Resize epochs: each rolling resize starts a NEW write epoch —
    // fresh checkpoints (the seeded PDP state applies only to a fresh
    // checkpoint) and fresh store dirs, with every prior epoch's store
    // kept read-only in the render union (archive data never moves at
    // a resize — Reshard's invariant 1). Epoch 0 is the legacy layout
    // (`$dataDir/points` ...); epoch E > 0 nests under `$dataDir/epE`.
    // The current epoch persists in `$dataDir/EPOCH` so a process
    // restart resumes the right checkpoints.
    val epochFile = java.nio.file.Paths.get(s"$dataDir/EPOCH")
    @volatile var epoch: Int =
      (if (Files.exists(epochFile))
        Some(Files.readString(epochFile).trim.toInt) else None)
        .orElse(sys.env.get("GRAFT_EPOCH").map(_.toInt)).getOrElse(0)
    def edir(e: Int): String = if (e == 0) dataDir else s"$dataDir/ep$e"
    def startAll(settings: DaemonSettings): Seq[StreamingQuery] = {
      val ed = edir(epoch)
      Seq(
        startReceiver(spark, gGw.boundFeedPort, pkGw.boundFeedPort,
          s"$ed/points", settings.stepSec, settings.heartbeatSec,
          checkpointDir = s"$ed/ckpt-points",
          retainSec = settings.retainSec,
          rras = settings.rras, pixelDpFeedPort = Some(pxDpGw.boundFeedPort),
          maxQueue = settings.maxQueue, maxMemory = settings.maxMemory,
          pdpSeed = pdpSeed,
          compactEvery = compactEvery, compactFanout = compactFanout),
        startStatsdIngest(spark, sGw.boundFeedPort, s"$ed/statsd",
          settings.flushSec, checkpointDir = s"$ed/ckpt-statsd",
          retainSec = settings.retainSec, statsPrefix = settings.statsPrefix),
        startPixelIngest(spark, pxGw.boundFeedPort,
          s"$ed/pixel", settings.flushSec,
          checkpointDir = s"$ed/ckpt-pixel",
          retainSec = settings.retainSec)) ++
        // the REPLICA receiver (copies > 1): the unchanged point
        // pipeline over the repl-marked lines the directors divert here,
        // into a store the primary union never reads — only the
        // owner-preferred fallback does (Shard.readClusterArchives)
        replGw.map(g => startReceiver(spark, g.boundFeedPort,
          replPkGw.get.boundFeedPort, s"$ed/replica/points",
          settings.stepSec, settings.heartbeatSec,
          checkpointDir = s"$ed/replica/ckpt-points",
          retainSec = settings.retainSec, rras = settings.rras,
          maxQueue = settings.maxQueue, maxMemory = settings.maxMemory,
          pdpSeed = replicaSeed,
          compactEvery = compactEvery, compactFanout = compactFanout)).toSeq
    }
    // a daemon restarted over a round-9 (pre-manifest) data dir adopts
    // each store's on-disk history as its v1 manifest BEFORE anything
    // serves: without this, renders would fail loudly (by design)
    // until the first merge batch happened to land on each store.
    // Covers the per-RRA sibling stores of the points writer too.
    def adoptEpoch(e: Int): Unit = {
      val ed = edir(e)
      (Seq(s"$ed/points", s"$ed/statsd", s"$ed/pixel") ++
        boot.rras.map(_.dir(s"$ed/points")) ++
        replGw.toSeq.flatMap(_ => s"$ed/replica/points" +:
          boot.rras.map(_.dir(s"$ed/replica/points"))))
        .foreach { d =>
          Ingest.StoreLock.write(d) { ArchiveStore.adoptLegacy(spark, d) }
        }
    }
    (0 to epoch).foreach(adoptEpoch)
    // GRAFT_STANDBY=1: a JOINING node of a rolling resize — gateways
    // bound and HELD (lines park raw), streams deferred until the
    // coordinator's /admin/resume (the reference's new memberlist
    // member before Transition: visible, not yet owning). var: a
    // committed transition makes the joiner a full member — /admin/info
    // must stop reporting it as a standby or the fleet watcher would
    // re-trigger the join forever.
    @volatile var standby = env("GRAFT_STANDBY", "0") == "1"
    if (standby) Seq(gGw, sGw, pkGw, pxDpGw, pxGw).foreach(_.hold())
    @volatile var active: Seq[StreamingQuery] =
      if (standby) Seq.empty else startAll(boot)
    // in-daemon load generator, inert until /blaster/set raises its
    // rate (the reference's zero-limit boot state); its lines feed the
    // graphite gateway exactly like an external sender's would
    val blaster = new Blaster.LiveBlaster(gGw.offer)
    // internal stats as stored series under graft.receiver.* (the
    // reference's ReportStats path, always on: daemon/daemon.go:117).
    // A sharded daemon also reports its director counters as stored
    // series — the reference's stats.forwarded / forwarded_to
    // (receiver/director.go:105-107) — so cluster health is graphable
    // from the data itself, not just the /stats JSON.
    startSelfStats(gGw.offer,
      () => (Seq(gGw, sGw, pkGw, pxDpGw, pxGw) ++ replGw)
        .map(_.queueSize.toLong).sum,
      boot.flushSec,
      extraCounters = () =>
        if (shardCount <= 1) Seq.empty
        else {
          val d = director.get
          val pk = pkDirector.get
          Seq(
            "receiver.graphite.kept" -> d.kept.get,
            "receiver.graphite.received" -> d.received.get,
            "receiver.graphite.forwarded" -> d.forwarder.forwarded.get,
            "receiver.graphite.fwd_dropped" -> d.forwarder.dropped.get,
            "receiver.graphite.repl_kept" -> d.replKept.get,
            "receiver.graphite.repl_received" -> d.replReceived.get,
            "receiver.pickle.kept" -> pk.kept.get,
            "receiver.pickle.forwarded" -> pk.forwardedPoints.get,
            "receiver.pickle.fwd_dropped" -> pk.forwarder.dropped.get,
            "receiver.pickle.replicated" -> pk.replicatedPoints.get) ++
            sdDirector.toSeq.flatMap(x => Seq(
              "receiver.statsd.kept" -> x.kept.get,
              "receiver.statsd.received" -> x.received.get,
              "receiver.statsd.forwarded" -> x.forwarder.forwarded.get,
              "receiver.statsd.fwd_dropped" -> x.forwarder.dropped.get))
        })
    // pre-resize epochs' frozen stores (comma-separated, read-only):
    // archive data never moves at a resize — the render union covers
    // the old epoch through readArchives' (vw, dur) weighted merge
    val extraStores = sys.env.get("GRAFT_EXTRA_STORES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)
    // graphite-web events API (extension): annotations journal under
    // the data dir — survives restarts like the archive stores
    val eventStore = new EventStore(
      Some(java.nio.file.Paths.get(s"$dataDir/events.jsonl")),
      maxEvents = sys.env.get("GRAFT_EVENTS_MAX").map(_.toInt)
        .getOrElse(EventStore.DefaultMax))
    // the render union: prior-epoch stores first (operator-listed
    // extras, then every local epoch oldest-first), current epoch last
    def allStoreDirs(): Seq[String] = extraStores ++
      (0 to epoch).flatMap(e =>
        Seq(s"${edir(e)}/points", s"${edir(e)}/statsd", s"${edir(e)}/pixel"))
    val http = startHttp(spark,
      portOf("GRAFT_HTTP_PORT", conf.flatMap(_.httpPort), 8080),
      allStoreDirs(),
      boot.stepSec, pixelOffer = Some(pixelRoute(pxDpGw.offer, pxGw.offer)),
      archiveDirsDyn = Some(() => allStoreDirs()),
      events = Some(eventStore),
      blaster = Some(blaster),
      allowOrigin = conf.flatMap(_.httpAllowOrigin),
      // reference default: cache disabled unless configured
      // (sample:35 "Default is 0 == cache disabled"); the sample
      // config sets 512
      queryCacheSize = sys.env.get("GRAFT_QUERY_CACHE_SIZE").map(_.toInt)
        .getOrElse(conf.map(_.queryCacheSize).getOrElse(0)),
      // ops visibility for the shard tier — the reference's
      // stats.forwarded / forwarded_to counters (director.go:105-107)
      // — plus ingest-health gauges: per-gateway queue depth and each
      // streaming query's last batch id/timestamp, so a silently
      // stalled receiver (queue growing, batch id frozen) is visible
      // from /stats instead of only from a missing render
      extraStats = () => {
        val queues = Seq("graphite" -> gGw, "statsd" -> sGw,
          "pickle" -> pkGw, "pixel_dp" -> pxDpGw, "pixel_cmd" -> pxGw) ++
          replGw.map("replica" -> _)
        // keys are JSON-escaped: stream names carry checkpoint-dir
        // paths (set via queryName), and a quote/backslash/control
        // char in a data dir must not corrupt the /stats document
        val qJson = queues.map { case (n, g) =>
          s""""${EventStore.esc(n)}":${g.queueSize}""" }.mkString(",")
        val sJson = spark.streams.active.zipWithIndex.map { case (q, i) =>
          val p = Option(q.lastProgress)
          val nm = EventStore.esc(Option(q.name).getOrElse(s"q$i"))
          s""""$nm":{"batchId":${p.map(_.batchId).getOrElse(-1L)},""" +
            s""""inputRows":${p.map(_.numInputRows).getOrElse(-1L)},""" +
            s""""active":${q.isActive},""" +
            s""""exception":${q.exception.isDefined}}"""
        }.mkString(",")
        s""","ingest.queues":{$qJson},"ingest.streams":{$sJson}""" +
        s""","events.count":${eventStore.count}""" +
        s""","events.dropped":${eventStore.dropped}""" +
        (if (shardCount <= 1) ""
        else {
          val d = director.get
          val pk = pkDirector.get
          val sd = sdDirector
          s""","shard.index":$shardIndex,"shard.count":$shardCount""" +
            s""","shard.copies":$shardCopies""" +
            s""","shard.graphite.kept":${d.kept.get}""" +
            s""","shard.graphite.received":${d.received.get}""" +
            s""","shard.graphite.forwarded":${d.forwarder.forwarded.get}""" +
            s""","shard.graphite.fwd_dropped":${d.forwarder.dropped.get}""" +
            s""","shard.graphite.repl_kept":${d.replKept.get}""" +
            s""","shard.graphite.repl_received":${d.replReceived.get}""" +
            s""","shard.pickle.kept":${pk.kept.get}""" +
            s""","shard.pickle.forwarded":${pk.forwardedPoints.get}""" +
            s""","shard.pickle.fwd_dropped":${pk.forwarder.dropped.get}""" +
            s""","shard.pickle.replicated":${pk.replicatedPoints.get}""" +
            sd.map(x =>
              s""","shard.statsd.kept":${x.kept.get}""" +
                s""","shard.statsd.received":${x.received.get}""" +
                s""","shard.statsd.forwarded":${x.forwarder.forwarded.get}""" +
                s""","shard.statsd.fwd_dropped":${x.forwarder.dropped.get}""")
              .getOrElse("")
        })
      })
    // ---- rolling-resize admin surface ----------------------------
    // The memberlist-Transition control plane re-expressed as four
    // 127.0.0.1 routes a COORDINATOR drives (`Reshard rolling`, the
    // operator's one command): hold → quiesce → (coordinator re-homes
    // PDP state) → resume. The listen sockets never close, so a line
    // sender never sees a refused connect across the resize; held
    // lines park RAW and re-decide ownership under the new count at
    // release (`Shard.Director.reroute`).
    val restartGen = new java.util.concurrent.atomic.AtomicLong(0)
    val heldGws = Seq(gGw, sGw, pkGw, pxDpGw, pxGw)
    @volatile var held = standby
    def adminText(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(code, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    def adminParam(ex: HttpExchange, k: String): Option[String] =
      Option(ex.getRequestURI.getRawQuery).getOrElse("").split("&")
        .filter(_.nonEmpty).collectFirst {
          case kv if kv.takeWhile(_ != '=') == k =>
            java.net.URLDecoder.decode(kv.dropWhile(_ != '=').drop(1),
              StandardCharsets.UTF_8)
        }
    // Two-phase resume (the all-or-nothing Transition contract,
    // cluster/cluster.go:667-700): PREPARE parses and validates EVERY
    // parameter and stages the new routing state — directors, seed
    // frames — without touching anything live, so a failed prepare
    // answers 500 and leaves the daemon exactly as quiesce left it;
    // COMMIT swaps the staged state in. The coordinator prepares the
    // WHOLE fleet before committing anyone, so no validation failure
    // can strand a mixed-count fleet, and commit is idempotent (a
    // retry after an ambiguous network failure answers 200) — once
    // any member committed, recovery is roll-FORWARD: commit the
    // rest, never release.
    final case class PreparedTransition(count: Int, index: Int,
      targetEpoch: Int,
      director: Option[Shard.Director],
      pkDirector: Option[Shard.PickleDirector],
      sdDirector: Option[Shard.Director],
      seed: Option[Dataset[(String, Ingest.PdpState)]],
      seedAll: Option[Dataset[(String, Ingest.PdpState)]])
    @volatile var prepared: Option[PreparedTransition] = None
    // committed but not yet opened (gateways still parking): a commit
    // RETRY in this window answers 200 (idempotent), and /admin/info
    // reports it so a recovering coordinator can tell the states apart
    @volatile var awaitingOpen = false
    def discardPrepared(): Unit = {
      prepared.foreach { p =>
        p.director.foreach(d => Try(d.closeDiscarding()))
        p.pkDirector.foreach(d => Try(d.closeDiscarding()))
        p.sdDirector.foreach(d => Try(d.closeDiscarding()))
      }
      prepared = None
    }
    // A per-boot nonce round-tripped via /admin/info so the fleet
    // watcher can recognize ITSELF in the registry by identity, not by
    // port (homogeneous multi-host fleets share the same admin port —
    // a port compare would elect every member leader at once).
    val bootNonce = java.util.UUID.randomUUID().toString
    def infoJson: String = {
      val fences = {
        import scala.jdk.CollectionConverters._
        fenceRecv.asScala.toSeq.sortBy(_._1).map { case (t, n) =>
          s""""${EventStore.esc(t)}":${n.get}""" }.mkString("{", ",", "}")
      }
      s"""{"index":$shardIndex,"count":$shardCount,""" +
        s""""copies":$shardCopies,"epoch":$epoch,""" +
        s""""nonce":"$bootNonce","fences":$fences,""" +
        s""""dataDir":"${EventStore.esc(dataDir)}",""" +
        s""""ckptPoints":"${EventStore.esc(s"${edir(epoch)}/ckpt-points")}",""" +
        s""""graphitePort":${gGw.boundListenPort},""" +
        s""""statsdPort":${sGw.boundListenPort},""" +
        prepared.map(p => s""""prepared":{"count":${p.count},""" +
          s""""index":${p.index},"epoch":${p.targetEpoch}},""")
          .getOrElse("") +
        s""""awaitingOpen":$awaitingOpen,""" +
        s""""held":$held,"standby":$standby}"""
    }
    http.createContext("/admin/info",
      (ex: HttpExchange) => adminText(ex, 200, infoJson + "\n"))
    http.createContext("/admin/hold", (ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST") adminText(ex, 405, "Error\n")
      else {
        heldGws.foreach(_.hold())
        held = true
        adminText(ex, 200, "held\n")
      })
    // every line accepted BEFORE the hold must be durably in the old
    // epoch's store before the streams stop: gateway queues empty AND
    // every feed's accepted==committed (the sources' uncommitted
    // buffers drained) — then stopping at the micro-batch boundary
    // loses nothing (the Relinquish flush precondition)
    def feedPorts: Seq[Int] =
      (heldGws ++ replGw ++ replPkGw).map(_.boundFeedPort)
    def drained: Boolean =
      (heldGws ++ replGw ++ replPkGw).forall(_.queueSize == 0) &&
        feedPorts.forall { p =>
          val k = s"127.0.0.1:$p"
          graft.sources.GatewayStats.accepted(k) ==
            graft.sources.GatewayStats.committed(k)
        }
    // one state-changing admin op at a time: quiesce/resume mutate the
    // director/stream vars, and the coordinator is sequential by
    // design — an overlapping call (operator typo, retry storm) gets a
    // clean 409 instead of racing the transition
    val adminBusy = new java.util.concurrent.atomic.AtomicBoolean(false)
    def exclusively(ex: HttpExchange)(body: => Unit): Unit =
      if (!adminBusy.compareAndSet(false, true))
        adminText(ex, 409, "Error: admin op in progress\n")
      else try body finally adminBusy.set(false)
    http.createContext("/admin/quiesce", (ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST") adminText(ex, 405, "Error\n")
      else if (!held) adminText(ex, 409, "Error: not held\n")
      else exclusively(ex) {
        val timeoutMs = adminParam(ex, "timeoutSec").map(_.toLong)
          .getOrElse(120L) * 1000L
        val deadline = System.currentTimeMillis() + timeoutMs
        while (!drained && System.currentTimeMillis() < deadline)
          Thread.sleep(200)
        if (!drained)
          adminText(ex, 500, "Error: drain timeout (queues=" +
            (heldGws ++ replGw ++ replPkGw).map(_.queueSize).mkString(",") +
            ")\n")
        else {
          restartGen.incrementAndGet()
          active.foreach(q => Try(q.stop()))
          active = Seq.empty
          // FLUSH the forwarders (pending forwards land in peers' hold
          // buffers) but keep the directors LIVE: an aborted
          // transition (/admin/release) must still be able to route
          // under the old count — resume closes and replaces them
          val flushedAll = (director.map(_.forwarder.flushed()) ++
            pkDirector.map(_.forwarder.flushed()) ++
            sdDirector.map(_.forwarder.flushed())).forall(identity)
          // fence the quiesce flush like a drain round (see doDrain):
          // the coordinator waits for these to be COUNTED before the
          // first re-admission round, so every old-count forward is
          // parked at its peer when round 1 sweeps. These fences ride
          // the OLD directors' connections — the very connections the
          // commit later cuts with closeDiscarding — so they order
          // against exactly the bytes the quiesce flush put on the
          // wire.
          val fencesSent = adminParam(ex, "fence").map(sendFences)
            .getOrElse(0)
          // the replica receiver's checkpoint too (when one ran): a
          // SHRINK seeds a departed member's series from the freshest
          // relinquished state, and that lives in a survivor's REPLICA
          // state — the departed primary's own checkpoint is stale by
          // the whole dead window (writeSeeds' max_by picks per series)
          val replCkpt = s"${edir(epoch)}/replica/ckpt-points"
          val replJson =
            if (replGw.nonEmpty &&
                Files.exists(java.nio.file.Paths.get(replCkpt)))
              s""""ckptReplica":"${EventStore.esc(replCkpt)}","""
            else ""
          adminText(ex, 200,
            s"""{"index":$shardIndex,"epoch":$epoch,""" +
              s""""ckptPoints":"${EventStore.esc(s"${edir(epoch)}/ckpt-points")}",""" +
              replJson +
              s""""flushed":$flushedAll,"fencesSent":$fencesSent,""" +
              s""""hadStreams":${Files.exists(java.nio.file.Paths.get(
                s"${edir(epoch)}/ckpt-points"))}}""" + "\n")
        }
      })
    // abort path — the escape hatch for a coordinator that died
    // mid-transition: re-admit held lines through the CURRENT (still
    // old-count) routes and restart the streams at the CURRENT epoch.
    // The fleet returns to its pre-transition shape; nothing moved.
    // A standby joiner stays held (it has no pre-transition shape to
    // return to — kill it instead).
    http.createContext("/admin/release", (ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST") adminText(ex, 405, "Error\n")
      else if (!held) adminText(ex, 409, "Error: not held\n")
      else exclusively(ex) {
        // an aborted transition's staged state is void either way
        discardPrepared()
        if (standby && active.isEmpty && epoch == 0)
          adminText(ex, 409, "Error: standby stays held (kill to abort)\n")
        else {
          if (active.isEmpty) {
            restartGen.incrementAndGet()
            active = startAll(loadSettings(confPath)._2)
          }
          // routes may still be the transition router (a release after
          // commit) — go live on the PLAIN routes either way
          Seq(gGw -> gRoute, pxDpGw -> gRoute, sGw -> sRoute,
            pkGw -> pkRoute).foreach { case (gw, r) => gw.setRoute(r) }
          heldGws.foreach(_.release())
          held = false
          awaitingOpen = false // a committed member "releases" as open
          adminText(ex, 200, s"""{"released":true,"epoch":$epoch}""" + "\n")
        }
      })
    // PREPARE: parse + validate every parameter, stage the new state.
    // No live state is touched — a throw here leaves the daemon
    // exactly as quiesce left it (old directors live, lines held).
    def doPrepare(ex: HttpExchange): Unit = {
      val m = adminParam(ex, "count").map(_.toInt).getOrElse(shardCount)
      val newIdx = adminParam(ex, "index").map(_.toInt).getOrElse(shardIndex)
      val newPeers = adminParam(ex, "peers").map(_.split(",")
        .map(_.trim.toInt).toSeq).getOrElse(Seq.empty)
      val targetEpoch = adminParam(ex, "epoch").map(_.toInt)
        .getOrElse(epoch + 1)
      require(m >= 1 && newIdx >= 0 && newIdx < m,
        s"index $newIdx outside new count $m")
      require(m <= 1 || newPeers.size == m,
        s"${newPeers.size} peers for count $m")
      require(targetEpoch > epoch || (standby && targetEpoch >= epoch),
        s"epoch $targetEpoch not ahead of $epoch")
      val sdPeers = adminParam(ex, "statsdPeers").map(_.split(",")
        .map(_.trim.toInt).toSeq)
      require(sdPeers.nonEmpty || sdDirector.isEmpty,
        "statsd director active but no statsdPeers in resume")
      require(sdPeers.forall(sp => m <= 1 || sp.size == m),
        s"statsdPeers size mismatch for count $m")
      // seed readability is part of validation: spark.read.parquet
      // fails NOW on a missing/unreadable path, while the old shape
      // is still intact
      val seed = adminParam(ex, "seed")
        .map(p => Reshard.readSeed(spark, p))
      val seedAll = adminParam(ex, "seedAll")
        .filter(_ => replGw.nonEmpty).map(replicaSeedOf(_, newIdx, m))
      val nd = if (m <= 1) None
        else Some(new Shard.Director(newIdx, m,
          new Shard.Forwarder(newPeers),
          copies = shardCopies, replicaOffer = replicaOffer))
      val npk = if (m <= 1) None
        else Some(new Shard.PickleDirector(newIdx, m,
          new Shard.Forwarder(newPeers),
          copies = shardCopies, replicaOffer = replicaOffer))
      val nsd = sdPeers.filter(_ => m > 1).map(sp =>
        new Shard.Director(newIdx, m, new Shard.Forwarder(sp),
          parseName = Shard.statsdNameOf, canon = Shard.sanitizePlain))
      discardPrepared() // a coordinator retry re-prepares in place
      prepared = Some(PreparedTransition(m, newIdx, targetEpoch,
        nd, npk, nsd, seed, seedAll))
    }
    // COMMIT: swap the staged state in. Idempotent (nothing prepared +
    // not held = already committed → 200) and re-entrant: the gateway
    // release is the LAST step, so a failed attempt retries from a
    // clean stream sweep with lines still held.
    def doCommit(ex: HttpExchange): Unit = prepared match {
      case None =>
        if (!held || awaitingOpen) adminText(ex, 200,
          s"""{"resumed":true,"epoch":$epoch,"count":$shardCount,""" +
            s""""already":true}""" + "\n")
        else adminText(ex, 409, "Error: nothing prepared\n")
      case Some(p) =>
        // a prior failed attempt may have left stray queries — sweep
        active = Seq.empty
        spark.streams.active.foreach(q => Try(q.stop()))
        // cut the OLD directors, DISCARDING anything still queued:
        // quiesce flushed every forward that mattered (the coordinator
        // verifies `flushed`); a line queued since carries an
        // old-count routing decision and must never deliver into a
        // peer that already resumed at the new count
        director.filter(d => !p.director.exists(_ eq d))
          .foreach(d => Try(d.closeDiscarding()))
        pkDirector.filter(d => !p.pkDirector.exists(_ eq d))
          .foreach(d => Try(d.closeDiscarding()))
        sdDirector.filter(d => !p.sdDirector.exists(_ eq d))
          .foreach(d => Try(d.closeDiscarding()))
        shardCount = p.count
        shardIndex = p.index
        pdpSeed = p.seed
        replicaSeed = p.seedAll
        director = p.director
        pkDirector = p.pkDirector
        sdDirector = p.sdDirector
        epoch = p.targetEpoch
        Files.createDirectories(epochFile.getParent)
        Files.writeString(epochFile, epoch.toString)
        adoptEpoch(epoch)
        restartGen.incrementAndGet()
        active = startAll(loadSettings(confPath)._2)
        // arm the TRANSITION router and STAY HELD: a parked marker is
        // an old-count decision, void now (reroute strips and
        // re-decides; safe for new-count markers too — re-routing
        // lands them where they already are). The actual re-admission
        // happens in the DRAIN rounds — fleet-wide, while every
        // gateway still parks — so a re-decided line delivered across
        // members can never be overtaken by live traffic; OPEN then
        // restores the plain routes and goes live.
        // None director (shrink to count 1): strip EVERY marker and
        // ingest as primary. A parked ReplMarker in particular must
        // NOT be dropped — its primary twin may have been parked on
        // the departed member and die with it; ingesting the replica
        // copy as primary re-delivers it (the m>1 path's Fwd1Marker
        // analogue), and when the primary copy ALSO survived, the
        // same-(name,ts) PDP rejection self-heals the duplicate.
        // (Statsd directors always run copies=1, so no statsd
        // ReplMarker line can exist — that branch is vacuous for sRe.)
        def strip1(l: String): Option[String] =
          if (l.startsWith(Shard.ReplMarker))
            Some(l.substring(Shard.ReplMarker.length))
          else if (l.startsWith(Shard.FwdMarker))
            Some(l.substring(Shard.FwdMarker.length))
          else if (l.startsWith(Shard.Fwd1Marker))
            Some(l.substring(Shard.Fwd1Marker.length))
          else Some(l)
        val gRe: String => Option[String] = l => director match {
          case Some(d) => d.reroute(l)
          case None => strip1(l)
        }
        val sRe: String => Option[String] = l => sdDirector match {
          case Some(d) => d.reroute(l)
          case None => strip1(l)
        }
        // pickle holds raw b64 frames only (marked pickle points
        // travel as TEXT into the graphite gateway): the plain route
        // IS the reroute
        Seq(gGw -> gRe, pxDpGw -> gRe, sGw -> sRe,
          pkGw -> pkRoute).foreach { case (gw, re) => gw.setRoute(re) }
        standby = false // a committed joiner is a full member
        prepared = None
        awaitingOpen = true
        adminText(ex, 200, s"""{"resumed":true,"epoch":$epoch,""" +
          s""""count":$shardCount,"held":true}""" + "\n")
    }
    // DRAIN: one fleet-wide re-admission round — sweep parked lines
    // through the transition router (re-decisions land in still-held
    // peers), then flush the new forwarders to the wire. The
    // coordinator repeats this on every member until a full round
    // sweeps nothing it started with; OPEN goes live afterwards.
    def doDrain(ex: HttpExchange): Unit =
      if (!held) adminText(ex, 200, """{"swept":0,"open":true}""" + "\n")
      else {
        val swept = heldGws.map(_.drainHeld()).sum
        val flushed = (director.map(_.forwarder.flushed()) ++
          pkDirector.map(_.forwarder.flushed()) ++
          sdDirector.map(_.forwarder.flushed())).forall(identity)
        // fence the round: a [[Shard.FenceMarker]] after the flush on
        // every forwarder connection; once every peer's /admin/info
        // counts the fleet's fences for this tag, THIS round's
        // redeliveries are all parked — the coordinator's co-presence
        // wait before the next round / open.
        val fencesSent = adminParam(ex, "fence").map(sendFences).getOrElse(0)
        adminText(ex, 200,
          s"""{"swept":$swept,"flushed":$flushed,""" +
            s""""fencesSent":$fencesSent}""" + "\n")
      }
    // OPEN: restore the plain routes and go live. Idempotent.
    def doOpen(ex: HttpExchange): Unit =
      if (!held) adminText(ex, 200,
        s"""{"open":true,"already":true}""" + "\n")
      else {
        Seq(gGw -> gRoute, pxDpGw -> gRoute, sGw -> sRoute,
          pkGw -> pkRoute).foreach { case (gw, r) => gw.setRoute(r) }
        heldGws.foreach(_.release())
        held = false
        awaitingOpen = false
        adminText(ex, 200, s"""{"open":true,"epoch":$epoch,""" +
          s""""count":$shardCount}""" + "\n")
      }
    http.createContext("/admin/resume", (ex: HttpExchange) =>
      if (ex.getRequestMethod != "POST") adminText(ex, 405, "Error\n")
      else exclusively(ex) (try {
        adminParam(ex, "phase") match {
          case Some("prepare") =>
            if (!held) adminText(ex, 409, "Error: not held\n")
            else {
              doPrepare(ex)
              val p = prepared.get
              adminText(ex, 200, s"""{"prepared":true,""" +
                s""""count":${p.count},"index":${p.index},""" +
                s""""epoch":${p.targetEpoch}}""" + "\n")
            }
          case Some("commit") => doCommit(ex)
          case Some("drain") => doDrain(ex)
          case Some("open") => doOpen(ex)
          case None => // one-shot: validate-all-THEN-mutate (atomic),
            // then re-admit and go live in one call (the
            // single-member / manual path; fleets use the phased
            // coordinator so every member drains before any opens)
            if (!held) adminText(ex, 409, "Error: not held\n")
            else {
              doPrepare(ex)
              doCommit(ex) // answers the exchange; drain+open follow
              heldGws.foreach(_.drainHeld())
              (director.map(_.forwarder) ++ pkDirector.map(_.forwarder) ++
                sdDirector.map(_.forwarder)).foreach(f => { f.flushed(); () })
              heldGws.foreach(_.drainHeld())
              Seq(gGw -> gRoute, pxDpGw -> gRoute, sGw -> sRoute,
                pkGw -> pkRoute).foreach { case (gw, r) => gw.setRoute(r) }
              heldGws.foreach(_.release())
              held = false
              awaitingOpen = false
            }
        }
      } catch {
        case e: Exception =>
          adminText(ex, 500, s"Error: $e\n")
      }))

    // GRAFT_FLEET_FILE: the membership registry (the memberlist
    // join-address analogue) — arms the AUTOMATIC transition trigger:
    // a watcher polls every registered member's /admin/info and the
    // fleet LEADER fires Reshard.rolling itself when a standby joins
    // or a member is confirmed dead (the reference's
    // receiver/director.go:255-265 cluster-change channel; no operator
    // in the loop). Seeds land under this member's dataDir — shared
    // filesystem, like the checkpoints.
    val fleetWatch = sys.env.get("GRAFT_FLEET_FILE").map { ff =>
      val fw = new FleetWatch(spark, java.nio.file.Paths.get(ff),
        selfNonce = bootNonce,
        hasStatsdDirector = () => sdDirector.nonEmpty,
        seedBase = s"$dataDir/autoseed",
        pollMs = env("GRAFT_FLEET_POLL_MS", "5000").toLong,
        debounce = env("GRAFT_FLEET_DEBOUNCE", "3").toInt,
        deadPolls = env("GRAFT_FLEET_DEAD_POLLS", "5").toInt)
      fw.start()
      fw
    }
    // pid-file (daemon/config.go:36; savePid at boot): written before
    // the banner so supervisors can signal immediately. Env wins over
    // conf, same precedence as every other GRAFT_* override.
    val pidFile = sys.env.get("GRAFT_PID_FILE")
      .orElse(conf.flatMap(_.pidFile))
    pidFile.foreach { pf =>
      Files.write(java.nio.file.Paths.get(pf),
        (ProcessHandle.current().pid().toString + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    println(s"graft daemon: graphite=${gGw.boundListenPort} " +
      s"pickle=${pkGw.boundListenPort} statsd=${sGw.boundListenPort} " +
      s"http=${http.getAddress.getPort} data=$dataDir" +
      (if (shardCount > 1) s" shard=$shardIndex/$shardCount" +
        (if (shardCopies > 1) s" copies=$shardCopies" else "") else ""))
    // graceful RESTART (the reference's SIGHUP handoff,
    // daemon/daemon.go:131-143 + graceful/): the gateways keep
    // listening and buffering while every streaming lifecycle stops at
    // a micro-batch boundary and relaunches with the re-read config —
    // no listener closes, no accepted line drops (held by the feed
    // thread), the checkpointed exactly-once merge de-dupes any replay.
    Try {
      sun.misc.Signal.handle(new sun.misc.Signal("HUP"),
        (_: sun.misc.Signal) => {
          restartGen.incrementAndGet()
          active.foreach(q => Try(q.stop()))
          active = startAll(loadSettings(confPath)._2)
        })
    }
    // graceful shutdown (the reference's graceful package): stop taking
    // new input, let in-flight micro-batches commit, then stop Spark —
    // the exactly-once merge makes an interrupted batch safe either way
    sys.addShutdownHook {
      pidFile.foreach(pf => Try(Files.deleteIfExists(
        java.nio.file.Paths.get(pf))))
      Try(blaster.close())
      fleetWatch.foreach(f => Try(f.close()))
      (director ++ sdDirector).foreach(d => Try(d.close()))
      pkDirector.foreach(d => Try(d.close()))
      (Seq(gGw, sGw, pkGw, pxDpGw, pxGw) ++ replGw ++ replPkGw)
        .foreach(gw => Try(gw.close()))
      Try(http.stop(0))
      spark.streams.active.foreach(q => Try(q.stop()))
      Try(spark.stop())
      ()
    }
    // exit when a query dies on its own; SIGHUP-initiated terminations
    // re-arm the wait instead
    var exit = false
    while (!exit) {
      val gen = restartGen.get
      spark.streams.awaitAnyTermination()
      if (restartGen.get == gen) exit = true
      else spark.streams.resetTerminated()
    }
  }
}
