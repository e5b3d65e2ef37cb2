package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupState

/** Ingest path: wire-format parsers + streaming consolidation
  * (SURVEY §2.1, §3.3). Works identically on a batch frame of lines and
  * on a `readStream` (socket/Kafka) frame — the parsers are pure column
  * expressions, so the same code serves both; the reference's
  * director/loader/worker goroutine pipeline dissolves into Structured
  * Streaming's own micro-batch machinery.
  */
object Ingest {

  /** `misc.SanitizeName` (`misc/misc.go:28-37`): whitespace→_, /→-,
    * then strip everything outside [a-zA-Z_\-0-9.]. */
  def sanitizeName(c: Column): Column =
    regexp_replace(
      regexp_replace(regexp_replace(c, "\\s+", "_"), "/", "-"),
      "[^a-zA-Z_\\-0-9\\.]", "")

  /** Graphite 1.1 tagged-path sanitization: `base;k=v;k2=v2` keeps its
    * tag structure (`;`/`=` separators survive), while base, keys, and
    * values are each [[sanitizeName]]-cleaned. The result is CANONICAL:
    * entries without `=` drop, duplicate keys keep the LAST occurrence
    * (carbon's behavior for repeated tags), and entries sort by key —
    * so two spellings of the same tagged series collapse to one stored
    * identity. Untagged names (no `;`) pass through exactly as
    * [[sanitizeName]], which keeps the plain-text path
    * reference-faithful. Extension beyond the reference: tgres idents
    * come from its relational serde, not the graphite line
    * (`serde/serde.go:95`); the wire syntax here is the graphite
    * project's tagged-carbon contract. */
  def sanitizeTagged(c: Column): Column = {
    val parts = split(c, ";")
    val base = sanitizeName(get(parts, lit(0)))
    val raw = slice(parts, lit(2), greatest(size(parts) - 1, lit(0)))
    val ents = transform(
      filter(raw, t => instr(t, "=") > 0),
      t => concat(sanitizeName(substring_index(t, "=", 1)), lit("="),
        sanitizeName(regexp_replace(t, "^[^=]*=", ""))))
    // last-wins dedup: drop an entry iff a LATER entry shares its key
    val deduped = filter(ents, (t, i) =>
      !exists(slice(ents, i + lit(2), size(ents) - i - 1),
        u => substring_index(u, "=", 1) === substring_index(t, "=", 1)))
    concat(base,
      when(size(deduped) > 0,
        concat(lit(";"), array_join(array_sort(deduped), ";")))
        .otherwise(lit("")))
  }

  /** Graphite plaintext `name value unix_ts` (Sscanf "%s %f %d",
    * `daemon/graphite_text.go:215-234`). Malformed lines are dropped
    * (the reference logs and skips); ts = −1 means "now". Tagged paths
    * (`base;k=v;…`) canonicalize via [[sanitizeTagged]]; plain names
    * behave exactly as the reference's sanitize.
    * Input: a frame with a `line` string column.
    * Output: (name, tsSec: Long, value: Double). */
  def parseGraphite(lines: DataFrame, nowSec: Column): DataFrame = {
    val parts = split(trim(col("line")), "\\s+")
    // get() (0-based) not element_at, and try_cast not cast: malformed
    // lines must become NULL (→ filtered), never a runtime error —
    // regardless of the session's ANSI setting
    val name = get(parts, lit(0))
    // Go's ParseFloat accepts nan/inf tokens case-insensitively where
    // Java wants exactly "NaN"/"Infinity" — normalize the special
    // tokens first so the wire dialect matches. Then the reference's
    // ingest policy (`rrd/ds.go:300-302` + `rrd/pdp.go:97-99`):
    // ±Inf points are REJECTED outright (they never even advance
    // lastUpdate — the line drops here), while NaN points SURVIVE the
    // parse: a NaN update advances the series boundary and its spanned
    // interval contributes nothing (filtered at interval grain in
    // Consolidate/pdpPieces, never here).
    val rawVal = get(parts, lit(1))
    val value = when(lower(rawVal) === "nan", lit(Double.NaN))
      .otherwise(rawVal.try_cast("double"))
    val ts = get(parts, lit(2)).try_cast("long")
    lines
      .select(sanitizeTagged(name).as("name"), value.as("value"), ts.as("ts0"))
      .filter(size(parts) === 3 && col("value").isNotNull && col("ts0").isNotNull)
      .filter(abs(col("value")) =!= lit(Double.PositiveInfinity))
      .select(col("name"),
        when(col("ts0") === -1, nowSec).otherwise(col("ts0")).as("tsSec"),
        col("value"))
  }

  /** StatsD packet `name:value|type|@sample`
    * (`statsd/statsd.go:72-118`). Bare `name` counts as `name:1|c`.
    * Output: (name, value, metric ∈ {c,g,ms}, sample, delta).
    * `delta` mirrors the reference LITERALLY, including its quirk: the
    * flag is set when the value starts with '+' OR the metric-type
    * token starts with '-' — the latter never fires, so "gauge:-10|g"
    * parses as absolute −10, not a delta (`statsd/statsd.go:101-103`). */
  def parseStatsd(lines: DataFrame): DataFrame = {
    val colonSplit = split(col("line"), ":", 2)
    val name = sanitizeName(get(colonSplit, lit(0)))
    val rest = get(colonSplit, lit(1))
    val barSplit = split(rest, "\\|")
    val valueStr = get(barSplit, lit(0))
    val metric = get(barSplit, lit(1))
    val sampleTok = get(barSplit, lit(2))
    val sample = when(sampleTok.isNotNull && sampleTok.startsWith("@"),
      regexp_replace(sampleTok, "^@", "").try_cast("double"))
    lines.select(name.as("name"), rest.as("rest"), valueStr.as("vs"),
        metric.as("metric"), sample.as("sample0"),
        coalesce(size(barSplit), lit(0)).as("nparts"))
      .withColumn("value",
        when(col("rest").isNull, lit(1.0)).otherwise(col("vs").try_cast("double")))
      .withColumn("metric",
        when(col("rest").isNull, lit("c")).otherwise(col("metric")))
      .filter(col("value").isNotNull &&
        col("metric").isin("c", "g", "ms") &&
        (col("nparts") < 3 ||
          (col("sample0").isNotNull && col("sample0").between(0.0, 1.0))))
      .select(col("name"), col("value"), col("metric"),
        coalesce(col("sample0"), lit(1.0)).as("sample"),
        coalesce(col("vs").startsWith("+") || col("metric").startsWith("-"),
          lit(false)).as("delta"))
  }

  /** Parsed stat → aggregator command (`statsd/statsd.go:33-57`):
    * counter values scale by 1/sample (a 0.1-sampled counter stands for
    * 10× the hits), names gain the `<prefix>.` / `<prefix>.gauges.` /
    * `<prefix>.timers.` prefixes (prefix = the config's
    * `stats-name-prefix`, default "stats", `daemon/config.go:260-267`),
    * and gauges route on the delta flag.
    * Output: (name, cmd ∈ {add, addgauge, setgauge, append}, value). */
  def statsdToCommands(parsed: DataFrame,
      prefix: String = "stats"): DataFrame = {
    val m = col("metric")
    parsed.select(
      when(m === "c", concat(lit(prefix + "."), col("name")))
        .when(m === "g", concat(lit(prefix + ".gauges."), col("name")))
        .otherwise(concat(lit(prefix + ".timers."), col("name"))).as("name"),
      when(m === "c", lit("add"))
        .when(m === "g" && col("delta"), lit("addgauge"))
        .when(m === "g", lit("setgauge"))
        .otherwise(lit("append")).as("cmd"),
      when(m === "c", col("value") * (lit(1.0) / col("sample")))
        .otherwise(col("value")).as("value"))
  }

  /** Streaming whisper-mode consolidation: event-time tumbling window,
    * late data bounded by the watermark (the reference's heartbeat
    * analogue: points older than the allowed lateness are dropped,
    * `rrd/ds.go:304-306` rejects out-of-order input outright). Works on
    * a streaming frame (readStream → this → writeStream). */
  def streamWhisper(points: DataFrame, stepSec: Long,
      lateness: String): DataFrame =
    points
      .withColumn("ts", timestamp_seconds(col("tsSec")))
      .withWatermark("ts", lateness)
      .groupBy(col("name"), window(col("ts"), s"$stepSec seconds"))
      .agg(avg(col("value")).as("value"))
      .select(col("name"),
        unix_timestamp(col("window.start")).as("t"), col("value"))

  /** Per-series PDP state for the exact weighted-mean path. */
  final case class PdpState(lastTs: Long, lastVal: Double)
  /** A completed interval piece: `value` spread over [begin, end). */
  final case class Piece(name: String, begin: Long, end: Long, value: Double)

  /** Exact PDP semantics on a stream (`rrd/ds.go:230-335`): each event
    * closes the interval [lastUpdate, ts) carrying the NEW value; the
    * piece stream is then slot-aggregated (time-weighted mean) by
    * [[piecesToSlots]] — in production inside `foreachBatch` merging
    * into the archive table. Per-key state is one (ts, value) pair, and
    * key count is kept bounded by *evicting idle series*: the
    * watermark rides the BATCH timestamp (wall clock), each series
    * arms an `EventTimeTimeout` a heartbeat past its last batch's
    * clock, and a series that receives nothing for a heartbeat of WALL
    * time is dropped from the store — the reference evicts the same
    * series from its DS LRU (`dsl/ds_lru.go:29-295`), also on a
    * wall-clock cadence. Eviction is observably free: the next point
    * after a > heartbeat gap emits nothing whether state was kept (gap
    * rejected, `rrd/ds.go:320-330`) or evicted (series restarts
    * clean), so the timeout changes memory, not output. Deliberately
    * NOT a watermark on the DATA time: Spark silently FILTERS input
    * older than the event-time watermark, so one wall-clock series
    * (the daemon's self-stats) would make every BACKFILLING sender's
    * old-but-valid points vanish — the reference has no such gate
    * (`rrd/ds.go:304-306` rejects per-series out-of-order only, and a
    * whisper import or delayed relay legitimately writes hours-old
    * points). Found live: the kill-one-shard smoke's continued-ingest
    * feed (ts ≈ now−4000, heartbeat 300) was eaten whole by a
    * data-time watermark. On a batch frame the state lives only for
    * the single invocation and timeouts are moot — NoTimeout path. */
  /** `initial` SEEDS the per-series PDP state — the reshard lifecycle's
    * handoff (`receiver/dscache.go:287-315` `Relinquish` flushes the
    * in-progress DS record for the next owner to load; here the state
    * comes out of the OLD owner's checkpoint via the state data source,
    * [[Reshard.pdpState]]): a re-homed series' first point at its new
    * owner closes the interval [old lastTs, ts) exactly as the old
    * owner would have, so the slot straddling a resize neither gaps nor
    * double-counts. Seeded series carry no eviction timeout until their
    * first point arrives (then the normal heartbeat horizon arms) —
    * same emitted output either way, documented at the timeout arm. */
  def pdpPieces(spark: SparkSession,
      points: Dataset[(String, Long, Double)],
      heartbeatSec: Long,
      initial: Option[Dataset[(String, PdpState)]] = None): Dataset[Piece] = {
    import spark.implicits._
    // capture on the driver — the handler closure must not touch the
    // Dataset (its logical plan is not serialized to executors)
    val streaming = points.isStreaming
    def handle(name: String, events: Iterator[(Long, Double)],
        state: GroupState[PdpState]): Iterator[Piece] =
      if (state.hasTimedOut) {
        // idle past heartbeat: forget the series (restarts clean later)
        state.remove()
        Iterator.empty
      } else {
        // sort within batch — the reference sorts its buffered points
        // the same way (`receiver/dscache.go:217-230`)
        val sorted = events.toArray.sortBy(_._1)
        val out = Vector.newBuilder[Piece]
        var st = state.getOption
        sorted.foreach { case (ts, v) =>
          st match {
            case Some(PdpState(lastTs, _)) if ts > lastTs =>
              // NaN update: the boundary advances but no piece emits
              // (rrd/pdp.go:97-99 — AddValue no-ops NaN; ds.lastUpdate
              // still moves, ds.go:332)
              if (ts - lastTs <= heartbeatSec && !v.isNaN)
                out += Piece(name, lastTs, ts, v)
              st = Some(PdpState(ts, v))
            case Some(_) => // out-of-order: dropped (rrd/ds.go:304-306)
            case None => st = Some(PdpState(ts, v))
          }
        }
        st.foreach { s =>
          state.update(s)
          // arm eviction one heartbeat past the CURRENT batch clock
          // (watermark ≈ previous batch's wall clock − heartbeat, so
          // watermark + 2·hb ≈ this batch + hb): fires once batches
          // run a heartbeat of wall time past this series' last data.
          // NOT armed while the watermark is still 0 (first batch):
          // that timeout would sit in 1970 and fire on the first
          // advance, evicting a live series mid-interval — the one
          // case where eviction is NOT observably free (its next
          // point would prime instead of closing the piece). Unarmed
          // state re-arms at the series' next data batch.
          if (streaming && state.getCurrentWatermarkMs() > 0)
            state.setTimeoutTimestamp(
              state.getCurrentWatermarkMs() + 2 * heartbeatSec * 1000L + 1)
        }
        out.result().iterator
      }
    val initKv = initial.map(_.groupByKey(_._1).mapValues(_._2))
    if (!points.isStreaming) {
      val grouped = points.groupByKey(_._1)
      val f = (n: String, it: Iterator[(String, Long, Double)],
          st: GroupState[PdpState]) =>
        handle(n, it.map(e => (e._2, e._3)), st)
      initKv match {
        case Some(init) =>
          grouped.flatMapGroupsWithState[PdpState, Piece](
            org.apache.spark.sql.streaming.OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout,
            init)(f)
        case None =>
          grouped.flatMapGroupsWithState[PdpState, Piece](
            org.apache.spark.sql.streaming.OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)(f)
      }
    } else {
      // The EVICTION CLOCK is the BATCH timestamp (wall clock), not
      // the data's: the watermark then tracks processing time, so a
      // row can never be "late" (its __et IS the current batch's
      // clock) and BACKFILL survives — while idle-series eviction
      // still rides EventTimeTimeout, firing once the newest batch's
      // clock is a heartbeat past a series' last data. The two
      // alternatives both fail: a watermark on the DATA time silently
      // eats backfill (one wall-clock series — self-stats — outruns
      // every old-ts sender), and ProcessingTimeTimeout makes the
      // engine run EMPTY batches back-to-back forever
      // (FlatMapGroupsWithStateExec.shouldRunAnotherBatch ≡ true) —
      // a continuous stream of no-op archive merges.
      val grouped = points.toDF("name", "tsSec", "value")
        .withColumn("__et", current_timestamp())
        .withWatermark("__et", s"$heartbeatSec seconds")
        .as[(String, Long, Double, java.sql.Timestamp)]
        .groupByKey(_._1)
      val f = (n: String, it: Iterator[(String, Long, Double, java.sql.Timestamp)],
          st: GroupState[PdpState]) =>
        handle(n, it.map(e => (e._2, e._3)), st)
      initKv match {
        case Some(init) =>
          grouped.flatMapGroupsWithState[PdpState, Piece](
            org.apache.spark.sql.streaming.OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout,
            init)(f)
        case None =>
          grouped.flatMapGroupsWithState[PdpState, Piece](
            org.apache.spark.sql.streaming.OutputMode.Append,
            org.apache.spark.sql.streaming.GroupStateTimeout.EventTimeTimeout)(f)
      }
    }
  }

  /** The archive sink (`foreachBatch` body): merge a micro-batch of
    * interval pieces into a parquet slot store. Pieces re-aggregate
    * with existing slot partials by summing (value·dur, dur) — the
    * weighted mean stays exact when a slot's pieces arrive across
    * micro-batches.
    *
    * The store is hive-partitioned on `pt = floor(t / (stepSec ·
    * partitionSlots))` and the merge is *partition-scoped*: it reads
    * back only the partitions the batch's slots land in (static
    * partition pruning on the collected key list — a handful of longs,
    * bounded by the batch's wall-time span) and rewrites only those via
    * dynamic partition overwrite. A batch against a year of history
    * touches the current partition, not the store. Mirrors the
    * reference's vcache flush (`receiver/vcache.go:186-361`) minus the
    * round-robin versioning parquet doesn't need.
    *
    * EXACTLY-ONCE under batch replay: `foreachBatch` is at-least-once —
    * after a crash, a replayable source (Kafka) re-delivers the last
    * uncommitted batch with the SAME batchId, and an additive merge
    * would double-count it. Pass `writer = Some((token, batchId))`
    * (token stable across restarts — derive it from the checkpoint
    * dir) and the merge becomes idempotent at partition grain: every
    * rewritten partition is stamped with the writer tag (a whole-
    * partition rewrite makes the stamp uniform), so a replay skips the
    * partitions its previous attempt already committed and re-merges
    * only the rest from the same re-delivered inputs. A crash between
    * partition commits is covered: committed partitions carry the tag,
    * uncommitted ones still carry the previous writer's. `None`
    * preserves plain additive semantics (ad-hoc backfills, tests). */
  /** Per-store mutation generations — the invalidation signal for the
    * render result cache ([[Daemon.RenderCache]]): each archive merge
    * or retention edit commits a new [[ArchiveStore]] version, so a
    * cached render payload is valid exactly while every store it read
    * is at the version it was computed against. Since round 10 the
    * generation IS the committed snapshot version — durable (cache
    * coherence survives a daemon restart) and CROSS-PROCESS (an
    * out-of-JVM writer's commit invalidates this JVM's caches), where
    * the round-9 in-memory counter was single-JVM by contract. */
  object StoreGen {
    def gen(spark: SparkSession, dir: String): Long =
      ArchiveStore.version(spark, dir)
    def gens(spark: SparkSession, dirs: Seq[String]): Seq[Long] =
      dirs.map(gen(spark, _))
  }

  /** Per-store WRITER mutex — serializes same-JVM mutators
    * ([[mergePiecesIntoArchive]] vs [[enforceRetention]] on one store)
    * so their read-manifest → write-data → commit-manifest cycles
    * never interleave (a lost manifest update would silently drop the
    * loser's partitions). This is the write half of the reference's
    * per-DS RWMutex (`rrd/ds.go`); the READ half is gone since round
    * 10 — queries pin an [[ArchiveStore]] snapshot version and read
    * immutable files, so they need no lock, take no latency hit from
    * an in-flight merge, and (unlike any JVM lock) stay isolated from
    * writers in OTHER processes. Cross-process writers on one store
    * are outside the contract (one writer per store directory — the
    * daemon keeps one store per ingest lifecycle). */
  object StoreLock {
    private val locks = new java.util.concurrent.ConcurrentHashMap[
      String, java.util.concurrent.locks.ReentrantLock]
    def write[T](dir: String)(f: => T): T = {
      val l = locks.computeIfAbsent(dir,
        _ => new java.util.concurrent.locks.ReentrantLock(true))
      l.lock()
      try f finally l.unlock()
    }
  }

  def mergePiecesIntoArchive(spark: SparkSession, pieces: DataFrame,
      archiveDir: String, stepSec: Long, partitionSlots: Long = 8640,
      writer: Option[(String, Long)] = None): Unit = {
    val partSec = stepSec * partitionSlots
    // persisted: both the driver-side touched-partition collect and the
    // merge write consume it — without the cache the batch's
    // explode+aggregate would run twice per micro-batch
    val newPartials = graft.rrd.Consolidate.explodeOverlap(pieces, stepSec)
      .groupBy(col("name"), col("t"))
      .agg(sum(col("value") * col("overlap")).as("vw"), sum(col("overlap")).as("dur"))
      .withColumn("pt", floor(col("t").cast("double") / partSec).cast("long"))
      .persist()
    try {
      // the partition keys this batch touches: tiny driver-side list
      // (one per partSec of batch time span) used for static pruning
      val touched = newPartials.select(col("pt")).distinct()
        .collect().map(_.getLong(0))
      if (touched.isEmpty) return
      val bidTag = writer.map { case (tok, b) => s"$tok/$b" }.getOrElse("")
      // the whole read-manifest → stage-chunk → commit-manifest cycle
      // runs under the store's WRITER mutex: a same-JVM retention edit
      // cannot interleave and lose this merge's partitions. Readers
      // take no lock — they pin the pre- or post-commit version.
      StoreLock.write(archiveDir) {
        // a daemon restarted over a pre-manifest (round-9 layout) data
        // dir adopts its on-disk history as v1 before the first merge
        // — otherwise state() would fail loudly rather than silently
        // commit a manifest that omits all pre-existing partitions
        ArchiveStore.adoptLegacy(spark, archiveDir)
        val st = ArchiveStore.state(spark, archiveDir)
        val manifest = st.map(_.manifest).getOrElse(Map.empty[Long, String])
        val touchedSet = touched.toSet
        // existing rows for the touched partitions, read through the
        // pinned manifest (a transient read error FAILS the batch —
        // never silently rewrites history from the batch alone)
        val relevant = manifest.filter { case (pt, _) => touchedSet(pt) }
        val existingAll =
          if (relevant.isEmpty)
            spark.emptyDataFrame.select(lit("").as("name"), lit(0L).as("t"),
              lit(0.0).as("vw"), lit(0.0).as("dur"), lit(0L).as("pt"),
              lit("").as("bid")).limit(0)
          else ArchiveStore.readRaw(spark, archiveDir,
            ArchiveStore.State(st.get.version, relevant))
        // partitions this (token, batch) already rewrote in a previous
        // attempt: complete, correct, and already committed — leave
        // their manifest entries untouched
        val donePts: Set[Long] =
          if (writer.isEmpty) Set.empty
          else existingAll.filter(col("bid") === bidTag)
            .select(col("pt").cast("long")).distinct()
            .collect().map(_.getLong(0)).toSet
        val redo = touched.filterNot(donePts.contains)
        if (redo.nonEmpty) {
          val redoBoxed = redo.map(Long.box).toIndexedSeq
          val existing = existingAll
            .filter(col("pt").isin(redoBoxed: _*))
            .select(col("name"), col("t"), col("vw"), col("dur"))
          val merged = existing
            .unionByName(newPartials.filter(col("pt").isin(redoBoxed: _*))
              .select(col("name"), col("t"), col("vw"), col("dur")))
            .groupBy(col("name"), col("t"))
            .agg(sum(col("vw")).as("vw"), sum(col("dur")).as("dur"))
            .withColumn("bid", lit(bidTag))
            .withColumn("pt",
              floor(col("t").cast("double") / partSec).cast("long"))
          // stage the rewritten partitions as one fresh immutable
          // chunk, then commit the manifest edit: same incremental
          // write volume as the dynamic overwrite this replaces, but
          // the pre-commit version stays fully readable from any
          // process (a crash before commit leaves an orphan chunk for
          // vacuum, never a torn store)
          val dd = ArchiveStore.newDataDir()
          merged.write.partitionBy("pt").parquet(s"$archiveDir/$dd")
          ArchiveStore.commit(spark, archiveDir,
            manifest ++ redo.map(_ -> dd))
          // bounded version history: keep a reader grace window, drop
          // chunks no retained version references
          ArchiveStore.vacuum(spark, archiveDir, keepVersions = 8)
        }
      }
    } finally { newPartials.unpersist(); () }
  }

  /** Bounded retention — the round-robin semantics of the reference's
    * RRAs (span = step·size, `rrd/rra.go:33-74`; old slots are
    * overwritten in place there, aged out here): drop archive
    * partitions that lie entirely before `nowSec − spanSec`. Pure
    * partition-directory deletes on the driver (one `pt=` dir per
    * `stepSec·partitionSlots` of history — a handful of fs ops, no data
    * scan, no job), safe to run from the merge cadence. A partition
    * STRADDLING the horizon stays whole until it ages out completely —
    * retention is enforced at partition grain, slots inside a kept
    * partition are all readable (the reference keeps whole slots the
    * same way; only the span boundary differs by < one partition). */
  def enforceRetention(spark: SparkSession, archiveDir: String,
      stepSec: Long, spanSec: Long, nowSec: Long,
      partitionSlots: Long = 8640, keepVersions: Int = 8): Seq[Long] = {
    val partSec = stepSec * partitionSlots
    val horizonPt = math.floor((nowSec - spanSec).toDouble / partSec).toLong
    StoreLock.write(archiveDir) {
      ArchiveStore.state(spark, archiveDir) match {
        case None => Seq.empty
        case Some(st) =>
          // retention is a pure MANIFEST edit: the aged partitions
          // leave the visible version; their bytes outlive the reader
          // grace window and die in vacuum — a reader pinned before
          // this commit still sees every file its version lists
          val dropped = st.manifest.keys.filter(_ < horizonPt).toSeq
          if (dropped.nonEmpty) {
            ArchiveStore.commit(spark, archiveDir,
              st.manifest -- dropped)
            ()
          }
          ArchiveStore.vacuum(spark, archiveDir, keepVersions)
          dropped.sorted
      }
    }
  }

  /** Read the archive slot store (latest committed version) as a
    * series frame. */
  def readArchive(spark: SparkSession, archiveDir: String): DataFrame =
    ArchiveStore.readLatest(spark, archiveDir)
      .select(col("name"), col("t"), (col("vw") / col("dur")).as("value"))

  /** Read SEVERAL archive stores as one series frame — the daemon keeps
    * one store per writer (point receiver / statsd / pixel commands, so
    * no two streaming queries ever race a manifest commit on the same
    * directory) and the query surface merges them at read time. A slot
    * present in more than one store weighted-merges on its (vw, dur)
    * partials, the same math the single-store merge uses. Not-yet-
    * written stores (no data received on that protocol) read as empty.
    * `pinned` reads EXACT versions (one per dir, [[ArchiveStore.state]])
    * — the render path resolves its states once and computes against
    * immutable files however many merges land meanwhile. */
  def readArchives(spark: SparkSession, dirs: Seq[String],
      pinned: Option[Seq[Option[ArchiveStore.State]]] = None): DataFrame = {
    val states = pinned.getOrElse(dirs.map(ArchiveStore.state(spark, _)))
    val frames = dirs.zip(states).collect { case (d, Some(st)) =>
      ArchiveStore.readRaw(spark, d, st)
        .select(col("name"), col("t"), col("vw"), col("dur"))
    }
    if (frames.isEmpty)
      spark.emptyDataFrame.select(lit("").as("name"), lit(0L).as("t"),
        lit(0.0).as("value")).limit(0)
    else if (frames.size == 1)
      frames.head.select(col("name"), col("t"),
        (col("vw") / col("dur")).as("value"))
    else frames
      .reduce(_.unionByName(_))
      .groupBy(col("name"), col("t"))
      .agg((sum(col("vw")) / sum(col("dur"))).as("value"))
  }

  /** Live query view — the reference's "watch" semantics
    * (`receiver/dscache.go:159-190`, `dsl/ds_lru.go:183-295`): queries
    * against a hot series see points that have not yet been flushed to
    * the archive. Here: the flushed archive frame unioned with slots
    * derived from the in-flight piece table (what `foreachBatch` has
    * not yet merged), archive winning on collision — so a query is
    * never behind the stream by more than the current micro-batch.
    *
    * Scale shape: the collision check is an anti-join whose big side is
    * the archive (years of history) — joined wholesale it would
    * sort-merge and SHUFFLE the entire store under a micro-batch-sized
    * probe. Instead the archive probe is first cut to the pending
    * batch's [min t, max t] window (one tiny driver agg over the
    * micro-batch): parquet min/max statistics — and hive `pt`
    * partition pruning when the raw store frame is passed — skip
    * everything outside the window, and the pruned probe broadcasts.
    * The archive branch of the union then carries NO shuffle exchange
    * (StreamingSpec asserts it; ScaleProbe times it at 10M slots). */
  def liveSeries(archive: DataFrame, pendingPieces: DataFrame,
      stepSec: Long): DataFrame = {
    val arch = archive.select(col("name"), col("t"), col("value"))
    val pend = piecesToSlots(pendingPieces, stepSec, xff = 0.0)
    val bounds = pend.agg(min(col("t")).as("lo"), max(col("t")).as("hi"))
      .collect().head
    if (bounds.isNullAt(0)) return arch // no pending slots
    val probe = arch
      .filter(col("t").between(bounds.getLong(0), bounds.getLong(1)))
      .select(col("name"), col("t"))
    val pending = pend.join(broadcast(probe), Seq("name", "t"), "left_anti")
    arch.unionByName(pending)
  }

  /** Live top-talkers: which series are sending the most points RIGHT
    * NOW — the ops question behind every ingest-storm incident. A
    * Misra–Gries sketch ([[graft.functions.SketchExprs]]) over the
    * point stream's names as a streaming global aggregate: the
    * state-store entry is ONE k-bounded counter buffer no matter how
    * many series exist (the exact per-name streaming count would grow
    * state with series cardinality — unbounded under a
    * random-names flood, which is precisely when you need this view).
    * Counts are exact while distinct names ≤ k, lower bounds short by
    * at most N/(k+1) beyond. Complete output mode; emits
    * (name, n_points) in sketch order. */
  def liveTopTalkers(points: DataFrame, k: Int): DataFrame =
    points.groupBy()
      .agg(graft.functions.SketchExprs.heavyHitters(col("name"), k).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.token").as("name"), col("e.count").as("n_points"))

  /** Live per-series value quantiles: "what is metric X's p99 RIGHT
    * NOW" as a streaming aggregate — [[liveTopTalkers]]'s companion,
    * with the quantile compactor stack
    * ([[graft.functions.QuantileSketch]]) as the state-store entry:
    * one O(k·log(N/k))-value stack per series regardless of how many
    * points have streamed through it (the exact form would hold every
    * value ever seen). Exact while a series has ≤ k points; complete
    * output mode; emits (name, p<q>… one double column per fraction,
    * each an actual observed value). NaN boundary points (graphite
    * `nan` lines survive parsing so downstream policy decides) are
    * dropped HERE, matching the AddValue-no-op policy (`rrd/pdp.go:
    * 97-99`) every other ingest surface applies — a NaN would inflate
    * the sketch's total weight and sort last, skewing every rank. */
  def liveValueQuantiles(points: DataFrame, k: Int,
      qs: Seq[Double]): DataFrame = {
    val names = graft.functions.SketchExprs.quantileColNames(qs)
    points.filter(!isnan(col("value")))
      .groupBy(col("name"))
      .agg(graft.functions.SketchExprs
        .quantiles(col("value").cast("double"), k, qs).as("q"))
      .select(col("name") +: names.zipWithIndex.map { case (n, i) =>
        col("q").getItem(i).as(n) }: _*)
  }

  /** Slot aggregation of interval pieces — identical math to
    * [[graft.rrd.Consolidate.consolidate]]'s explode+weighted-mean. */
  def piecesToSlots(pieces: DataFrame, stepSec: Long, xff: Double): DataFrame =
    graft.rrd.Consolidate.explodeOverlap(pieces, stepSec)
      .groupBy(col("name"), col("t"))
      .agg((sum(col("value") * col("overlap")) / sum(col("overlap"))).as("value"),
        sum(col("overlap")).as("dur"))
      .filter(col("dur") >= lit(xff * stepSec))
      .select(col("name"), col("t"), col("value"))
}
