package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Dynamic shard membership — the reference's Transition/Relinquish
  * re-expressed for a shared-nothing archive tier
  * (`cluster/cluster.go:667-700` `Transition`: on a membership change
  * each moving series' OLD owner `Relinquish`es — flushes its
  * in-progress DS record to the shared database — and the new owner
  * loads it from there, `receiver/dscache.go:287-315`;
  * `receiver/director.go:255-265` triggers it from the cluster-change
  * channel).
  *
  * Spark-first shape — a resize costs O(live series), never O(data):
  *
  *  1. ARCHIVE DATA NEVER MOVES. Ownership only decides who WRITES a
  *     series next; the render tier already weighted-merges (vw, dur)
  *     slot partials across any number of stores
  *     ([[Ingest.readArchives]]), so the old epoch's stores simply
  *     stay in the render union, read-only, and a slot whose pieces
  *     straddle the resize recombines to the exact single-daemon value
  *     by the same math every cross-batch merge already uses.
  *  2. WHAT MOVES is the reference's "incomplete state in DS": the
  *     per-series (lastTs, lastVal) pair of the in-progress PDP
  *     interval, which lives in the receiver's flatMapGroupsWithState
  *     state. The old fleet stops at a micro-batch boundary (its
  *     normal graceful stop — every accepted line committed, state
  *     checkpointed); [[pdpState]] reads that state OUT of the stopped
  *     checkpoint with Spark's state data source (the Relinquish
  *     flush), and [[writeSeeds]] re-homes each series' pair to its
  *     `pmod(xxhash64(name), M)` owner at the NEW count M (the remap).
  *  3. The new fleet boots at M with `GRAFT_PDP_SEED` pointing at its
  *     slice; the receiver seeds its state from it
  *     ([[Ingest.pdpPieces]] `initial`), so the first post-resize
  *     point of a moved series closes [old lastTs, ts) exactly as the
  *     old owner would have — zero gapped, zero double-counted slots.
  *
  * At 100 TB: the seed frame is one row per live series (the DS-cache
  * analogue), the remap is one small shuffle, and the stores — the
  * 100 TB — are untouched; compare to consistent-hash stores that
  * re-balance data on every membership change. */
object Reshard {

  /** The Relinquish read: the per-series in-progress PDP state out of
    * a STOPPED receiver checkpoint, via the state data source over the
    * flatMapGroupsWithState operator. Columns: name, lastTs, lastVal. */
  def pdpState(spark: SparkSession, checkpointDir: String): DataFrame = {
    // this is a BATCH read of streaming state: no streaming query is
    // running, so the driver has no StateStoreCoordinator endpoint —
    // executor-side snapshot-lag reporting (on by default) would RPC
    // into the void and fail the load on any multi-process master
    // (local[*] masks it: driver and executor share the JVM). The
    // report is a lag METRIC, not a correctness path. The conf is
    // restored after the read materializes: a later streaming query in
    // the SAME session (the probe boots the new fleet right after)
    // must not silently lose its lag reporting.
    val key =
      "spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      // localCheckpoint materializes the state rows NOW, under the
      // disabled flag, so the restored conf cannot race the read
      try {
        spark.read.format("statestore").load(checkpointDir)
          .select(col("key.value").as("name"),
            col("value.groupState.lastTs").as("lastTs"),
            col("value.groupState.lastVal").as("lastVal"))
          .localCheckpoint(true)
      } catch {
        // a checkpoint whose writer died before committing ANY batch
        // (a joiner killed right after its resume — the auto-shrink
        // smoke found this live) holds NO relinquished state by
        // definition: contribute an empty frame, don't abort the
        // transition (the departed series' fresh state comes from the
        // survivors' replica checkpoints anyway)
        case e: Exception
            if e.getClass.getName.contains("CommittedBatchUnavailable") =>
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.StructType(Seq(
              org.apache.spark.sql.types.StructField("name",
                org.apache.spark.sql.types.StringType),
              org.apache.spark.sql.types.StructField("lastTs",
                org.apache.spark.sql.types.LongType),
              org.apache.spark.sql.types.StructField("lastVal",
                org.apache.spark.sql.types.DoubleType))))
      }
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** The remap tool: union the old fleet's relinquished states and
    * write one seed per NEW shard, each holding exactly the series the
    * `pmod(xxhash64(name), newCount)` rule assigns it. Stored names
    * are already canonical (ownership and storage share the rule —
    * [[Shard.canonicalName]]), so the hash applies directly. A series
    * can only have state in ONE old checkpoint (single-owner
    * invariant); `max_by(lastTs)` makes the union safe even if an
    * operator feeds overlapping checkpoints (e.g. a replica
    * receiver's). */
  def writeSeeds(spark: SparkSession, oldCheckpoints: Seq[String],
      newCount: Int, seedPaths: Seq[String],
      // pre-filtered supplementary state frames (name, lastTs,
      // lastVal) — the shrink path's replica-checkpoint slices for
      // DEAD owners. Must never contain a series whose owner also has
      // primary state here with an OLDER lastTs unless the newer state
      // is render-reachable: a replica state that ran AHEAD of its
      // primary (the replica copy beat a still-queued forward) would
      // otherwise make the new owner reject the re-delivered line as
      // stale, stranding the slot's only piece in an unread store
      extraStates: Seq[DataFrame] = Seq.empty): Unit = {
    require(seedPaths.size == newCount,
      s"${seedPaths.size} seed paths for $newCount shards")
    val all = (oldCheckpoints.map(pdpState(spark, _)) ++ extraStates)
      .reduce(_.unionByName(_))
      .groupBy(col("name"))
      .agg(max_by(struct(col("lastTs"), col("lastVal")),
        col("lastTs")).as("s"))
      .select(col("name"), col("s.lastTs").as("lastTs"),
        col("s.lastVal").as("lastVal"))
      .withColumn("__owner",
        pmod(xxhash64(col("name")), lit(newCount.toLong)).cast("int"))
      .persist()
    try {
      seedPaths.zipWithIndex.foreach { case (path, i) =>
        all.filter(col("__owner") === i).drop("__owner")
          .coalesce(1).write.mode("overwrite").parquet(path)
        ()
      }
    } finally { all.unpersist(); () }
  }

  // ---------------- rolling resize coordinator ----------------------

  private def httpGet(url: String): String = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(300000)
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(is.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    require(code == 200, s"$url -> $code: ${body.trim}")
    body
  }

  private def httpPost(url: String): String = {
    val conn = new java.net.URI(url).toURL.openConnection()
      .asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000); conn.setReadTimeout(300000)
    conn.setRequestMethod("POST"); conn.setDoOutput(true)
    conn.getOutputStream.close()
    val code = conn.getResponseCode
    val is = if (code >= 400) conn.getErrorStream else conn.getInputStream
    val body = new String(is.readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    conn.disconnect()
    require(code == 200, s"$url -> $code: ${body.trim}")
    body
  }

  private def jsonObj(s: String): Map[String, Any] =
    EventStore.Json.parse(s.trim) match {
      case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
      case other => sys.error(s"expected a JSON object, got $other in: $s")
    }
  private def jLong(m: Map[String, Any], k: String): Long = m(k) match {
    case d: Double => d.toLong
    case l: Long => l
    case other => sys.error(s"field $k not numeric: $other")
  }
  private def jStr(m: Map[String, Any], k: String): String =
    m(k).asInstanceOf[String]

  /** Bounded wait until every member at `adminBases` reports at least
    * `expected` fences for each of `tag`'s per-connection-class
    * suffixes (`/g` graphite, `/pk` pickle, `/sd` statsd when
    * configured) in its `/admin/info` `fences` ledger. A timeout warns
    * LOUDLY and proceeds — the pre-fence behavior, observable — rather
    * than wedging the transition on a stalled reader. */
  private def waitFences(adminBases: Seq[String], tag: String,
      expected: Int, statsd: Boolean, timeoutMs: Long = 20000L): Unit = {
    if (expected <= 0 || adminBases.isEmpty) return
    val suffixes = Seq("/g", "/pk") ++ (if (statsd) Seq("/sd") else Nil)
    def counts(u: String): Map[String, Long] =
      jsonObj(httpGet(s"$u/admin/info")).get("fences") match {
        case Some(m: Map[_, _]) => m.asInstanceOf[Map[String, Any]]
          .map { case (k, v) => k -> (v match {
            case d: Double => d.toLong
            case l: Long => l
            case _ => 0L
          }) }
        case _ => Map.empty
      }
    def settled(): Boolean = adminBases.forall { u =>
      val c = counts(u)
      suffixes.forall(s => c.getOrElse(tag + s, 0L) >= expected.toLong)
    }
    val deadline = System.currentTimeMillis() + timeoutMs
    var ok = settled()
    while (!ok && System.currentTimeMillis() < deadline) {
      Thread.sleep(200)
      ok = settled()
    }
    if (!ok) println(s"rolling reshard: fence wait '$tag' timed out " +
      s"after ${timeoutMs} ms (expected >= $expected per class " +
      s"${suffixes.mkString(",")} at every member) — proceeding; " +
      s"counts: " + adminBases.map(u =>
        s"$u=${scala.util.Try(counts(u).filter(_._1.startsWith(tag)))
          .getOrElse(Map.empty)}").mkString(" "))
  }

  /** The ONE-COMMAND rolling resize — the reference's
    * memberlist-triggered `Transition()` (`cluster/cluster.go:667-700`,
    * fired from the cluster-change channel,
    * `receiver/director.go:255-265`) as a supervised coordinator over
    * the daemons' /admin control plane:
    *
    *  1. `/admin/hold` on EVERY member (old actives + standby
    *     joiners): gateways keep accepting, new lines park raw.
    *  2. `/admin/quiesce` on every member: each drains its queues,
    *     waits for every accepted line to COMMIT to the old epoch's
    *     store, stops its streams at the micro-batch boundary, and
    *     flushes its forwarder queues (whose lines land in peers' hold
    *     buffers — every member is already holding, so no old-count
    *     decision can reach a store). The Relinquish barrier.
    *  3. [[writeSeeds]] re-homes the relinquished PDP state to the
    *     `pmod(xxhash64, M)` owners.
    *  4. `/admin/resume?count=M&peers=…&epoch=E&seed=…` on every
    *     member: new directors at count M, held lines re-decided under
    *     M (`Shard.Director.reroute`), streams relaunched against the
    *     new epoch's stores seeded with the re-homed state.
    *
    * Line senders never see a refused connect: the gateway listen
    * sockets stay open end-to-end, and ingestion pauses only for the
    * quiesce window (lines buffer in the hold queues, bounded by the
    * gateway capacity). Requires the daemons' checkpoint/seed paths on
    * a filesystem this coordinator shares — the Spark-cluster norm. */
  def rolling(spark: SparkSession, newCount: Int, seedOut: String,
      oldAdmin: Seq[String], standbyAdmin: Seq[String],
      newPeers: Seq[Int],
      // statsd gateway peer ports at the NEW count — required iff the
      // fleet runs a statsd director (GRAFT_SHARD_STATSD_PEERS): a
      // resume without them on such a daemon fails loudly by design
      statsdPeers: Seq[Int] = Seq.empty,
      // SHRINK inputs: a departed member's last checkpoint (readable
      // on the shared filesystem — its state is as of its last
      // committed batch, the reference's crash semantics with replicas
      // covering the gap), and reindex=true re-ranks the survivors
      // 0..M-1 by old index so the pmod ownership rule has no holes
      deadCkpts: Seq[String] = Seq.empty,
      reindex: Boolean = false): Unit = {
    require(newCount >= 1, s"newCount must be >= 1, got $newCount")
    require(newPeers.size == newCount || newCount == 1,
      s"${newPeers.size} peer ports for $newCount shards")
    val all = oldAdmin ++ standbyAdmin
    require(all.size == newCount,
      s"${oldAdmin.size} old + ${standbyAdmin.size} standby members " +
        s"for new count $newCount")
    def base(u: String) =
      if (u.startsWith("http://") || u.startsWith("https://")) u
      else s"http://$u"
    // 0: verify membership and assign indices — either the members'
    // boot indices cover 0..M-1 exactly (grow), or reindex re-ranks
    // the survivors by old index (shrink)
    val infos = all.map(u => u -> jsonObj(httpGet(s"${base(u)}/admin/info")))
    val oldIdx = infos.map { case (_, m) => jLong(m, "index").toInt }
    val assigned: Map[String, Int] =
      if (reindex)
        infos.sortBy { case (_, m) => jLong(m, "index") }
          .map(_._1).zipWithIndex.toMap
      else {
        require(oldIdx.sorted == (0 until newCount),
          s"member indices $oldIdx do not cover 0..${newCount - 1}")
        infos.map { case (u, m) => u -> jLong(m, "index").toInt }.toMap
      }
    val epochs = infos.map { case (_, m) => jLong(m, "epoch").toInt }
    val targetEpoch = epochs.max + 1
    // 1: hold everyone — from here no line reaches a store until
    // resume, and none is refused (listeners stay open)
    all.foreach(u => httpPost(s"${base(u)}/admin/hold"))
    // phase A (abortable): quiesce + remap + PREPARE. Nothing here
    // mutates a member's live shape, so any failure rolls back clean.
    try {
      // 2: quiesce everyone — the Relinquish barrier. EVERY member
      // must report its forwarder queues flushed: an unflushed queue
      // holds old-count FwdMarker lines that would deliver AFTER the
      // peer resumed and ingest on a non-owner's new-epoch store,
      // breaking the store-disjointness invariant the render union
      // relies on. (A departed peer's queue drop-drains through the
      // circuit breaker, so a shrink still flushes true.)
      // only OLD members fence here: a standby's quiesce fences would
      // share the tag and could satisfy an old member's threshold
      // while a real old-member flush is still in flight
      val quiesced = all.map(u =>
        u -> jsonObj(httpPost(s"${base(u)}/admin/quiesce" +
          (if (oldAdmin.contains(u)) s"?fence=q$targetEpoch" else ""))))
      quiesced.foreach { case (u, m) =>
        require(m.get("flushed").contains(true),
          s"$u forwarder queues did not flush at quiesce — aborting " +
            "(stale old-count forwards must never reach a resumed peer)")
      }
      // co-presence proof for the quiesce flush: every OLD member must
      // count the other old members' per-connection fences before any
      // re-admission round sweeps (the fences rode the old directors'
      // connections AFTER the flush, so TCP FIFO + the one reader
      // thread per connection mean every flushed line is parked once
      // its fence is counted). The standby receives nothing here — it
      // is in no old peer list.
      waitFences(oldAdmin.map(base), s"q$targetEpoch",
        oldAdmin.size - 1, statsdPeers.nonEmpty)
      // primary checkpoints always; REPLICA checkpoints contribute
      // ONLY the DEAD owners' slices in a shrink. For a departed
      // member's series the survivor's replica state is the only
      // fresh copy (the dead primary's own checkpoint, in deadCkpts,
      // is stale by the whole dead window, and its slice renders from
      // the replica store anyway). For a LIVE owner's series the
      // replica state must NOT win: it can run AHEAD of the primary —
      // a replica copy delivers directly while the primary forward is
      // still queued at hold time — and a seed ahead of the primary
      // makes the re-routed line land as "stale" at the new owner,
      // stranding the straddle slot's only piece in an old-epoch
      // replica store no render reads (found by the auto-transition
      // smoke: one wave lost for exactly the moved series).
      val ckpts = quiesced.collect {
        case (_, m) if m("hadStreams") == true => jStr(m, "ckptPoints")
      } ++ deadCkpts
      require(ckpts.nonEmpty, "no member had committed PDP state")
      val extraStates =
        if (deadCkpts.isEmpty) Seq.empty[DataFrame]
        else {
          val oldN = jLong(infos.head._2, "count").toInt
          val liveOldIdx = oldIdx
          val deadOwned = !pmod(xxhash64(col("name")), lit(oldN.toLong))
            .cast("int").isin(liveOldIdx: _*)
          quiesced.flatMap { case (_, m) =>
            m.get("ckptReplica") match {
              case Some(s: String) =>
                Seq(pdpState(spark, s).filter(deadOwned))
              case _ => Seq.empty
            }
          }
        }
      // 3: the remap (O(live series), stores untouched)
      val seeds = (0 until newCount).map(i => s"$seedOut/$i")
      writeSeeds(spark, ckpts, newCount, seeds, extraStates)
      // 4a: PREPARE everyone — each member validates the whole
      // parameter set and stages its new directors/seeds WITHOUT
      // touching live state; a failure anywhere still aborts clean
      val peersCsv = newPeers.mkString(",")
      val seedsCsv = seeds.mkString(",")
      infos.foreach { case (u, m) =>
        val i = assigned(u)
        val copies = jLong(m, "copies").toInt
        val seedAll = if (copies > 1)
          s"&seedAll=${java.net.URLEncoder.encode(seedsCsv, "UTF-8")}" else ""
        val sdArg = if (statsdPeers.isEmpty) ""
          else "&statsdPeers=" + java.net.URLEncoder.encode(
            statsdPeers.mkString(","), "UTF-8")
        httpPost(s"${base(u)}/admin/resume?phase=prepare" +
          s"&count=$newCount&index=$i" +
          s"&peers=${java.net.URLEncoder.encode(peersCsv, "UTF-8")}" +
          s"&epoch=$targetEpoch" +
          s"&seed=${java.net.URLEncoder.encode(seeds(i), "UTF-8")}" +
          seedAll + sdArg)
        ()
      }
    } catch {
      // ABORT: no member has changed shape yet — roll the OLD members
      // back (/admin/release: staged state discarded, held lines
      // re-admit under the old count, streams restart at the current
      // epoch), then surface the original failure. Standby joiners
      // stay held — kill them.
      case scala.util.control.NonFatal(e) =>
        oldAdmin.foreach(u =>
          scala.util.Try(httpPost(s"${base(u)}/admin/release")))
        throw new RuntimeException(
          s"rolling reshard failed before any member resumed " +
            s"(old members rolled back): $e", e)
    }
    // phase B (roll-FORWARD): COMMIT everyone. Every member already
    // validated and staged — a commit failure is environmental, and
    // once ANY member committed the only safe direction is forward
    // (commit is idempotent on the daemon: a retry after an ambiguous
    // network failure answers 200). NEVER release here: releasing a
    // not-yet-committed member while others run at the new count is
    // the split-brain this phase exists to prevent.
    var pending = infos.map(_._1).toList
    var committedAny = false
    var lastErr: Throwable = null
    var attempt = 0
    while (pending.nonEmpty && attempt < 4) {
      if (attempt > 0) Thread.sleep(500L * attempt)
      pending = pending.flatMap { u =>
        try {
          httpPost(s"${base(u)}/admin/resume?phase=commit")
          committedAny = true
          None
        } catch {
          case scala.util.control.NonFatal(e) => lastErr = e; Some(u)
        }
      }
      attempt += 1
    }
    if (pending.nonEmpty) {
      if (!committedAny) {
        // nobody made it to the new count: clean abort is still safe
        oldAdmin.foreach(u =>
          scala.util.Try(httpPost(s"${base(u)}/admin/release")))
        throw new RuntimeException(
          s"rolling reshard: no member committed (old members rolled " +
            s"back): $lastErr", lastErr)
      }
      throw new RuntimeException(
        s"rolling reshard MIXED STATE: committed members are at count " +
          s"$newCount epoch $targetEpoch, but commit failed on " +
          s"${pending.mkString(", ")} — roll FORWARD by POSTing " +
          s"/admin/resume?phase=commit to the failed members, then " +
          s"phase=drain (3 rounds, everyone) and phase=open; do NOT " +
          s"release. Last error: $lastErr", lastErr)
    }
    // phase C (still roll-forward): fleet-wide RE-ADMISSION rounds,
    // then OPEN. Every member is committed but still parking — drains
    // sweep each member's held lines through the transition router
    // while every peer still parks, so a re-decided line delivered
    // across members can never be overtaken by live traffic (the race
    // the auto-transition smoke caught: a held line's cross-member
    // redelivery lost to the next live wave). Round 1 moves every
    // commit-time line to its final member (the in-round flush pushes
    // it onto the wire), round 2 admits what moved, round 3 covers
    // reader-lag stragglers; open restores plain routes and goes live.
    def rollForwardStep(label: String, url: String => String): Unit = {
      var pend = infos.map(_._1).toList
      var err: Throwable = null
      var tries = 0
      while (pend.nonEmpty && tries < 4) {
        if (tries > 0) Thread.sleep(500L * tries)
        pend = pend.flatMap { u =>
          try { httpPost(url(u)); None }
          catch { case scala.util.control.NonFatal(e) => err = e; Some(u) }
        }
        tries += 1
      }
      if (pend.nonEmpty) throw new RuntimeException(
        s"rolling reshard MIXED STATE at $label: failed on " +
          s"${pend.mkString(", ")} — roll FORWARD by re-POSTing " +
          s"phase=drain (3 rounds) then phase=open to every member; " +
          s"do NOT release. Last error: $err", err)
    }
    // Each round: sweep + flush + per-connection fences; the next
    // round (and open) starts only after every member has counted the
    // fleet's fences for the round — WITHOUT this wait, a round's
    // cross-member redeliveries can still be in a peer's socket buffer
    // when the next round (or open) runs, and a series whose
    // consecutive points were parked on DIFFERENT members re-admits
    // younger-first at the new owner, where the PDP's ts>lastTs rule
    // drops the older point (forensic: the auto-transition smoke's
    // replica store lost exactly one wave under a 5x co-tenant
    // slowdown). The gateway's sorted sweep restores per-series order
    // for everything the fence proves co-present.
    (1 to 3).foreach { r =>
      rollForwardStep(s"drain round $r",
        u => s"${base(u)}/admin/resume?phase=drain&fence=ep${targetEpoch}r$r")
      waitFences(all.map(base), s"ep${targetEpoch}r$r",
        newCount - 1, statsdPeers.nonEmpty)
    }
    rollForwardStep("open",
      u => s"${base(u)}/admin/resume?phase=open")
    println(s"rolling reshard: ${oldAdmin.size} -> $newCount members " +
      s"at epoch $targetEpoch, seeds under $seedOut")
  }

  /** Runnable resize tool — the operator's one command between
    * stopping the old fleet and booting the new one:
    *
    * {{{
    * sbt "runMain graft.streaming.Reshard <newCount> <seedOutDir> \
    *      <oldCkpt1> [oldCkpt2 ...]"
    * }}}
    *
    * Reads every stopped shard's in-progress PDP state out of its
    * checkpoint (the Relinquish flush), re-homes each series to its
    * `pmod(xxhash64, newCount)` owner, writes the per-shard seeds
    * under `<seedOutDir>/<i>`, and prints the boot env each new shard
    * needs: `GRAFT_PDP_SEED` (its own slice), `GRAFT_PDP_SEED_ALL`
    * for replicated fleets (replica receivers seed with the shards
    * they replicate), and the `GRAFT_EXTRA_STORES` reminder — archive
    * stores never move at a resize, the old epoch's PRIMARY stores
    * stay read-only under the render union. Reuses a live session
    * when invoked in-process (and then does NOT stop it), builds its
    * own [[graft.GraftSession]] when standalone. */
  def main(args: Array[String]): Unit = {
    // `Reshard rolling M seedOut old1,old2 standby3 p1,p2,p3` — the
    // one-command LIVE resize over the admin control plane ([[rolling]]);
    // bare `Reshard M seedOut ckpts…` stays the stop-the-world remap.
    if (args.headOption.contains("rolling")) {
      require(args.length == 6 || args.length == 7,
        "usage: Reshard rolling <newCount> <seedOutDir> " +
          "<oldAdminCsv> <standbyAdminCsv|-> <newGraphitePeerPortsCsv> " +
          "[newStatsdPeerPortsCsv]")
      def csv(s: String): Seq[String] =
        if (s == "-") Seq.empty
        else s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
      val preExisting =
        SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      val spark = preExisting.getOrElse(graft.GraftSession("graft-reshard-rolling"))
      rolling(spark, args(1).toInt, args(2), csv(args(3)), csv(args(4)),
        csv(args(5)).map(_.toInt),
        args.lift(6).map(csv(_).map(_.toInt)).getOrElse(Seq.empty))
      if (preExisting.isEmpty) spark.stop()
      return
    }
    require(args.length >= 3,
      "usage: Reshard <newCount> <seedOutDir> <oldCkpt1> [oldCkpt2 ...]")
    val newCount = args(0).toInt
    require(newCount >= 1, s"newCount must be >= 1, got $newCount")
    val seedOut = args(1)
    val oldCkpts = args.drop(2).toSeq
    val preExisting =
      SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
    val spark = preExisting.getOrElse(graft.GraftSession("graft-reshard"))
    val seeds = (0 until newCount).map(i => s"$seedOut/$i")
    writeSeeds(spark, oldCkpts, newCount, seeds)
    val n = seeds.map(p => spark.read.parquet(p).count()).sum
    println(s"reshard: $n series re-homed across $newCount seeds " +
      s"under $seedOut")
    seeds.zipWithIndex.foreach { case (p, i) =>
      println(s"shard $i boot env: GRAFT_PDP_SEED=$p")
    }
    println("replicated fleets additionally: " +
      s"GRAFT_PDP_SEED_ALL=${seeds.mkString(",")}")
    println("old PRIMARY stores stay read-only: list them in " +
      "GRAFT_EXTRA_STORES (comma-separated) on every new shard")
    if (preExisting.isEmpty) spark.stop()
  }

  /** Load one shard's seed for [[Ingest.pdpPieces]]' `initial`. */
  def readSeed(spark: SparkSession,
      path: String): Dataset[(String, Ingest.PdpState)] = {
    import spark.implicits._
    spark.read.parquet(path)
      .select(col("name"), col("lastTs"), col("lastVal"))
      .as[(String, Long, Double)]
      .map { case (n, ts, v) => (n, Ingest.PdpState(ts, v)) }
  }
}
