package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Graphite whisper-file import — the reference's backfill migrator
  * (`cmd/whisper_import/whisper.go:10-95`, `process.go:355-446`),
  * re-expressed as a Spark batch source: a directory of `.wsp` files
  * read via the `binaryFile` source, decoded per-file on the executors,
  * and merged into the archive store with update-the-past semantics.
  *
  * Format (`whisper.go:10-33`, all big-endian): header = aggregation
  * method u32, max retention u32, xff f32, archive count u32; then per
  * archive (offset u32, seconds-per-point u32, point count u32); then
  * the archives' (timestamp u32, value f64) slot arrays. Whisper
  * timestamps mark slot *beginnings* and empty slots read ts=0
  * (`main.go:29-50` "Random notes").
  *
  * At 100 TB scale the shape is: file listing is driver-side metadata
  * only, each executor decodes its own files (a .wsp is single-digit MB
  * — one task each), and the merge is the same partition-scoped
  * archive write as streaming ingest ([[graft.streaming.Ingest
  * .mergePiecesIntoArchive]]) — a backfill of years of history touches
  * only the partitions its slots land in.
  */
object Whisper {

  final case class ArchiveInfo(offset: Long, stepSec: Long, size: Long)
  final case class Header(cf: Int, maxRetention: Long, xff: Float,
      archives: Seq[ArchiveInfo])
  final case class Point(tsSec: Long, value: Double)

  def readHeader(bytes: Array[Byte]): Header = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    val cf = bb.getInt
    val maxRet = bb.getInt & 0xffffffffL
    val xff = bb.getFloat
    val count = bb.getInt
    require(count >= 0 && count < 1024, s"implausible archive count $count")
    val archives = (0 until count).map { _ =>
      ArchiveInfo(bb.getInt & 0xffffffffL, bb.getInt & 0xffffffffL,
        bb.getInt & 0xffffffffL)
    }
    Header(cf, maxRet, xff, archives)
  }

  /** Raw slot dump of one archive (`whisper.go:73-91`). */
  def dumpArchive(bytes: Array[Byte], info: ArchiveInfo): Seq[Point] = {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.BIG_ENDIAN)
    bb.position(info.offset.toInt)
    (0L until info.size).map { _ =>
      Point(bb.getInt & 0xffffffffL, bb.getDouble)
    }
  }

  /** Extract the importable points of a whisper file, mirroring
    * `process.go:355-400` (`processAllPoints`) exactly:
    *   - archives in precision order; each sorted by raw timestamp;
    *   - `last` = max raw ts + step, `start` = last − span, and `end`
    *     chains to the previous archive's `start`, so a coarser archive
    *     contributes only history older than every finer archive;
    *   - timestamps shift by +step (whisper marks slot beginnings, tgres
    *     slot ends, `process.go:380,390`);
    *   - the range check `start ≤ t < end` discards ghost points — stale
    *     slots a later round-robin pass never overwrote (`main.go:46-50`)
    *     — and, because `end` starts at `last`, also the newest point of
    *     the finest archive (`process.go:384-391`: `end` is set before
    *     the filter, so `t = last` fails `t < end`);
    *   - empty slots (raw ts = 0) never land in range; equal-timestamp
    *     duplicates keep the first occurrence, as the DS's strictly-
    *     increasing lastUpdate would reject the second
    *     (`process.go:405-410`).
    * Returned timestamps are slot ENDS, ascending. */
  def extractPoints(bytes: Array[Byte]): Seq[Point] = {
    val hdr = readHeader(bytes)
    val out = mutable.ArrayBuffer.empty[Point]
    var start = 0L
    var end = 0L
    hdr.archives.foreach { info =>
      val sorted = dumpArchive(bytes, info).sortBy(_.tsSec)
      if (sorted.nonEmpty && sorted.last.tsSec != 0L) {
        val span = info.size * info.stepSec
        val last = sorted.last.tsSec + info.stepSec
        start = last - span
        if (end == 0L) end = last
        sorted.foreach { p =>
          val t = p.tsSec + info.stepSec
          if (t != 0L && t >= start && t < end) out += Point(t, p.value)
        }
        end = start
      }
    }
    out.sortBy(_.tsSec).distinctBy(_.tsSec).toSeq
  }

  /** Series name from a file path (`process.go:320-334`): strip the base
    * dir and `.wsp`, path separators become dots, optional prefix. */
  def nameFromPath(path: String, whisperDir: String, prefix: String): String = {
    val withSlash = if (whisperDir.endsWith("/")) whisperDir else whisperDir + "/"
    val tail = if (path.startsWith(withSlash)) path.substring(withSlash.length) else path
    val base = tail.stripSuffix(".wsp").replace("/", ".")
    if (prefix.nonEmpty) s"$prefix.$base" else base
  }

  /** DS spec inferred from a header (`process.go:425-446`): step = the
    * finest archive's step, every archive an RRA of (step, span); the
    * reference maps all CFs to WMEAN (its TODO at :439). */
  def specFromHeader(h: Header, heartbeatSec: Long): (Long, Long, Seq[(Long, Long)]) =
    (h.archives.head.stepSec, heartbeatSec,
      h.archives.map(a => (a.stepSec, a.stepSec * a.size)))

  /** Read a directory tree of .wsp files as a series frame
    * (name, t, value). File contents decode on the executors; the
    * driver only lists paths. */
  def readDir(spark: SparkSession, dir: String, whisperDir: String,
      prefix: String = ""): DataFrame = {
    import spark.implicits._
    spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.wsp")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        // binaryFile yields URIs (file:/...): name from the plain path
        val plain = try new java.net.URI(path).getPath catch { case _: Exception => path }
        val name = nameFromPath(plain, whisperDir, prefix)
        try extractPoints(bytes).map(p => (name, p.tsSec, p.value))
        catch { case _: Exception => Nil } // skip unparseable, process.go:256-259
      }
      .toDF("name", "t", "value")
  }

  /** Backfill-merge whisper points into an existing series frame:
    * whisper wins on every slot it covers (the import writes those slots
    * outright, `vcache.go:53-64` via the fresh-DS trick at
    * `process.go:266-279`), the archive keeps everything else — notably
    * all slots past the whisper data's latest, which `updateDps`'s
    * slotTime guard protects (`vcache.go:54-58`). */
  def backfill(archive: DataFrame, wsp: DataFrame): DataFrame = {
    val cols = Seq(col("name"), col("t"), col("value"))
    wsp.select(cols: _*).unionByName(
      archive.select(cols: _*)
        .join(wsp.select("name", "t"), Seq("name", "t"), "left_anti"))
  }

  // ---- encoder (test fixture / round-trip source) ----

  /** Assemble a whisper file image: archives in precision order, each a
    * full slot array (pad with ts=0 empties to the declared size —
    * position within the round-robin is irrelevant to import, which
    * sorts by timestamp). Timestamps are slot BEGINNINGS, whisper
    * convention. */
  def encode(cf: Int, xff: Float, archives: Seq[(Long, Seq[Point])]): Array[Byte] = {
    val headerLen = 16 + 12 * archives.length
    val total = headerLen + archives.map(_._2.length * 12).sum
    val bb = ByteBuffer.allocate(total).order(ByteOrder.BIG_ENDIAN)
    val maxRet = archives.map { case (step, pts) => step * pts.length }.max
    bb.putInt(cf).putInt(maxRet.toInt).putFloat(xff).putInt(archives.length)
    var offset = headerLen
    archives.foreach { case (step, pts) =>
      bb.putInt(offset).putInt(step.toInt).putInt(pts.length)
      offset += pts.length * 12
    }
    archives.foreach { case (_, pts) =>
      pts.foreach(p => bb.putInt(p.tsSec.toInt).putDouble(p.value))
    }
    bb.array()
  }
}
