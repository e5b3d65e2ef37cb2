package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.Whisper
import graft.streaming.Ingest

/** Runnable whisper-tree importer — the reference's
  * `cmd/whisper_import` migration tool (`main.go:74-130`,
  * `process.go:210-446`) over the parquet archive store the daemon
  * serves. Walk a graphite storage tree, decode every `.wsp` on the
  * executors, drop stale series (`-stale-days`), re-bucket onto the
  * store's step, and merge partition-scoped into the archive:
  *
  * {{{
  * GRAFT_PREFIX=imported GRAFT_STALE_DAYS=90 GRAFT_STEP=10 \
  *   sbt "runMain graft.WhisperImport /opt/graphite/storage/whisper /data/points"
  * }}}
  *
  * The merge rides [[Ingest.mergePiecesIntoArchive]] with a FIXED
  * writer identity, so a rerun (crashed import, corrected flags)
  * REPLACES the previous import's contribution in the partitions it
  * touches instead of double-counting it — the same writer-stamped
  * idempotence the streaming path uses for micro-batch replays. The
  * reference's create/populate split (DS rows vs data, `main.go:87`)
  * collapses: the store has no separate catalog to pre-create.
  *
  * Scale shape: the driver only lists file paths; each executor
  * decodes its own .wsp files (single-digit-MB each — one task per
  * file batch); the merge touches only the time partitions the
  * archive's history lands in, like any backfill.
  */
object WhisperImport {

  /** Import core, testable without a fresh session. Returns
    * (series imported, slots merged). */
  def run(spark: SparkSession, whisperDir: String, root: String,
      archiveDir: String, prefix: String = "", staleDays: Int = 0,
      stepSec: Long = 10L,
      nowSec: Long = System.currentTimeMillis() / 1000L): (Long, Long) = {
    val wsp = Whisper.readDir(spark, root, whisperDir, prefix)
    // -stale-days (`main.go:84`, `process.go:237-243`): skip a series
    // whose NEWEST point predates the cutoff — dead series don't ride
    // a migration. Series-grain max, broadcast back as a semi-join.
    val fresh =
      if (staleDays <= 0) wsp
      else {
        val cutoff = nowSec - staleDays.toLong * 86400L
        wsp.join(
          broadcast(wsp.groupBy(col("name"))
            .agg(max(col("t")).as("mx"))
            .filter(col("mx") >= cutoff)
            .select(col("name"))),
          Seq("name"), "left_semi")
      }
    // whisper slot values re-bucket onto the store grid by slot mean
    // (whisper-mode — the values ARE consolidated slots already, so
    // interval-spreading them would double-weight; process.go:355-400
    // replays them as instantaneous slot values the same way)
    val slots = fresh
      .groupBy(col("name"),
        (floor(col("t").cast("double") / stepSec).cast("long") * stepSec)
          .as("t"))
      .agg(avg(col("value")).as("value"))
      .persist()
    try {
      val nSeries = slots.select(col("name")).distinct().count()
      val nSlots = slots.count()
      val pieces = slots.select(col("name"), col("t").as("begin"),
        (col("t") + stepSec).as("end"), col("value"))
      Ingest.mergePiecesIntoArchive(spark, pieces, archiveDir, stepSec,
        writer = Some(("whisper-import", 0L)))
      (nSeries, nSlots)
    } finally {
      slots.unpersist()
      ()
    }
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: WhisperImport <whisperDir> <archiveDir> [root]")
    val (whisperDir, archiveDir) = (args(0), args(1))
    val root = if (args.length > 2) args(2) else whisperDir
    def env(k: String, d: String) = sys.env.getOrElse(k, d)
    val spark = GraftSession("graft-whisper-import")
    val (nSeries, nSlots) = run(spark, whisperDir, root, archiveDir,
      prefix = env("GRAFT_PREFIX", ""),
      staleDays = env("GRAFT_STALE_DAYS", "0").toInt,
      stepSec = env("GRAFT_STEP", "10").toLong)
    println(s"whisper import: $nSeries series, $nSlots slots -> $archiveDir")
    spark.stop()
  }
}
