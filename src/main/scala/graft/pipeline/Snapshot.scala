package graft.pipeline

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, NoSuchFileException, Paths}
import java.util.UUID

/** Versioned atomic parquet snapshots — the write side of the curation
  * pipeline. A 100 TB curate/select job cannot hand its output to a
  * trainer as a bare directory of part files: a crashed writer leaves a
  * half-written corpus indistinguishable from a finished one, a rerun
  * doubles documents, and a reader racing the writer sees a torn mix of
  * old and new files. The classic lakehouse answer (what Delta/Iceberg
  * do under the hood, reduced to its dependency-free core) is
  * version-directory snapshots behind an atomically-renamed pointer:
  *
  * {{{
  * dir/
  *   v=1/part-*.parquet      immutable, never rewritten
  *   v=2/table/part-*.parquet   (multi-table versions: publishTables)
  *   .lock-v=1 .lock-v=2     slot-claim markers (one per version)
  *   _latest                 "2" — readers resolve through this only
  * }}}
  *
  * - [[publish]] stages to a hidden tmp dir, claims the next `v=N`
  *   slot via an atomic O_EXCL lock-file create (the writer mutex —
  *   see [[claimSlot]] for why rename alone cannot be one), renames
  *   the staged dir in, then swings `_latest` via write-tmp + atomic
  *   rename. A crash at ANY point leaves either the old snapshot live
  *   or the new one — never a torn read, never a visible partial
  *   write.
  * - [[read]] resolves the pointer once; the version directory is
  *   immutable, so a long scan is consistent even while later versions
  *   publish (MVCC for free).
  * - [[compact]] rewrites the small-files tail of an incremental
  *   pipeline into ~`targetBytes` files as a NEW version — readers of
  *   the old version are untouched.
  * - [[publishClustered]] range-partitions on a key and sorts within
  *   partitions, so every file covers a disjoint key range and parquet
  *   footer min/max stats prune file scans for key-range queries.
  * - [[vacuum]] removes superseded versions and crash debris, keeping a
  *   reader grace window.
  *
  * All fs mutation goes through the Hadoop [[FileSystem]] API: on HDFS
  * and POSIX file systems `rename` is atomic, which is the only
  * primitive the protocol needs. (On S3-like stores you'd swap the
  * pointer swing for a conditional PUT; the protocol is unchanged.)
  */
object Snapshot {

  private val Pointer = "_latest"

  private[graft] def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v=")) n.drop(2).toLongOption else None
  }

  /** Latest committed version per the pointer, or None for an empty /
    * never-published dir. Uncommitted `v=` dirs (crash debris, racing
    * writers) are invisible: only the pointer commits. A local pointer
    * is read through java.nio: every render-cache lookup reads it, and
    * Hadoop's checksummed local stream costs several times the read.
    * The pointer is one decimal line swung by rename; anything that
    * does not parse reads as no pointer. */
  def latestVersion(spark: SparkSession, dir: String): Option[Long] = {
    val f = fs(spark, dir)
    val ptr = new Path(dir, Pointer)
    val bytes =
      try Some(
        if (f.getScheme == "file") Files.readAllBytes(Paths.get(f.makeQualified(ptr).toUri))
        else { val in = f.open(ptr); try in.readNBytes(64) finally in.close() })
      catch { case _: FileNotFoundException | _: NoSuchFileException => None }
    bytes.flatMap(b => new String(b, StandardCharsets.UTF_8).trim.toLongOption)
  }

  /** Highest version DIRECTORY present, committed or not — the basis
    * for the next publish attempt (a crashed publisher's orphan dir
    * must not be reused: rename-if-absent would fail forever). */
  private def maxVersionDir(f: FileSystem, dir: String): Long = {
    val base = new Path(dir)
    if (!f.exists(base)) 0L
    else f.listStatus(base).flatMap(s => versionOf(s.getPath)).foldLeft(0L)(math.max)
  }

  /** Atomically publish `df` as the next snapshot version; returns the
    * committed version number. Safe against concurrent publishers (the
    * loser of a `v=N` rename race retries at N+1) and against crashes
    * (an unrenamed tmp dir or an unpointed version dir is invisible to
    * readers and reclaimed by [[vacuum]]). */
  def publish(df: DataFrame, dir: String): Long = {
    val spark = df.sparkSession
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID().toString}")
    df.write.parquet(tmp.toString)
    commitStaged(f, dir, tmp)
  }

  /** Atomically publish SEVERAL frames as one version — the
    * multi-table transaction (an ANN index's centroids + assigned
    * corpus, a corpus + its score table): every table stages under the
    * same tmp dir, so the single rename commits them together and a
    * reader can never observe one table's new version with another's
    * old. Layout: `v=N/<table>/part-*.parquet`; read back with
    * [[readTable]]. */
  def publishTables(tables: Seq[(String, DataFrame)], dir: String): Long = {
    require(tables.nonEmpty, "publishTables requires at least one table")
    tables.foreach { case (name, _) =>
      require(name.nonEmpty && !name.contains("/") && !name.startsWith("."),
        s"bad table name: $name") }
    val spark = tables.head._2.sparkSession
    val f = fs(spark, dir)
    f.mkdirs(new Path(dir))
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID().toString}")
    tables.foreach { case (name, df) =>
      df.write.parquet(new Path(tmp, name).toString) }
    commitStaged(f, dir, tmp)
  }

  /** Read one table of a multi-table snapshot version. */
  def readTable(spark: SparkSession, dir: String, table: String,
      version: Option[Long] = None): DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir"))
    spark.read.parquet(s"$dir/v=$v/$table")
  }

  /** Atomically claim exclusive ownership of version slot `v` by
    * creating its `.lock-v=N` file with create-if-absent. Plain
    * rename-if-absent cannot be the mutex: POSIX `rename(2)` (and
    * Hadoop's LocalFileSystem fallback) moves the source INTO an
    * existing destination directory, so two racers can both "succeed"
    * on the same slot — one of them silently losing its data (the
    * SnapshotSpec race case catches exactly this). O_EXCL file
    * creation is atomic on POSIX (`Files.createFile`) and on HDFS
    * (namenode-arbitrated `create(overwrite = false)`). */
  private def claimSlot(f: FileSystem, dir: String, v: Long): Boolean = {
    val lock = new Path(dir, s".lock-v=$v")
    try {
      if (f.getScheme == "file") {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(new Path(dir).toUri.getPath, s".lock-v=$v"))
      } else f.create(lock, false).close()
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
      case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
    }
  }

  /** Rename the staged dir into the next free version slot and swing
    * the pointer; returns the committed version. The slot is taken via
    * [[claimSlot]]'s atomic lock-file create; once claimed, the dest
    * dir cannot exist (claims are exclusive and version dirs are only
    * ever created by claim holders), so the rename must succeed. */
  private[graft] def commitStaged(f: FileSystem, dir: String, tmp: Path): Long = {
    var v = maxVersionDir(f, dir) + 1
    while (f.exists(new Path(dir, s"v=$v")) || !claimSlot(f, dir, v)) v += 1
    val dest = new Path(dir, s"v=$v")
    require(f.rename(tmp, dest), s"rename of claimed slot failed: $tmp -> $dest")
    commitPointer(f, dir, v)
    v
  }

  /** Swing `_latest` to `v` via write-tmp + atomic rename-over. */
  private def commitPointer(f: FileSystem, dir: String, v: Long): Unit = {
    val tmp = new Path(dir, s".$Pointer-${UUID.randomUUID().toString}")
    val out = f.create(tmp, true)
    try out.write(s"$v\n".getBytes(StandardCharsets.UTF_8)) finally out.close()
    // Hadoop rename refuses to clobber; delete-then-rename is the
    // standard pointer swing (FileContext's rename-OVERWRITE where
    // available). A crash between the two leaves no pointer — readers
    // fall back to "no snapshot" rather than a torn one, and the next
    // publish restores it. Under CONCURRENT publishers the window
    // between a peer's delete and its rename makes THIS rename land on
    // an existing destination and fail — so the swing RETRIES: every
    // failed round means a peer completed a swing (lock-free
    // progress), and any pointer a racer lands names a fully committed
    // version (slot renames happen before any swing), so last-writer-
    // wins is the documented contract (SnapshotSpec's race case). The
    // attempt bound only guards a filesystem that refuses renames
    // outright.
    var attempts = 0
    var done = false
    while (!done) {
      f.delete(new Path(dir, Pointer), false)
      done = f.rename(tmp, new Path(dir, Pointer))
      attempts += 1
      require(done || attempts < 64, s"pointer swing failed: $dir")
    }
  }

  /** Read the latest committed snapshot (or a pinned `version`). */
  def read(spark: SparkSession, dir: String, version: Option[Long] = None)
      : DataFrame = {
    val v = version.orElse(latestVersion(spark, dir)).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir"))
    spark.read.parquet(s"$dir/v=$v")
  }

  /** Publish with a range-clustered layout: `nFiles` files, each
    * covering a disjoint `key` range, rows sorted by `key` within each
    * file — parquet footer min/max stats then prune whole files for
    * key-range predicates, and row-group stats prune within files. The
    * layout survives to the 100 TB case: repartitionByRange samples the
    * key (no driver materialization), and the per-file sort is an
    * executor-local spillable sort. */
  def publishClustered(df: DataFrame, dir: String, key: String,
      nFiles: Int): Long = {
    require(nFiles > 0)
    publish(df.repartitionByRange(nFiles, col(key))
      .sortWithinPartitions(col(key)), dir)
  }

  /** Publish with a Z-ORDER layout over several numeric columns — the
    * multi-dimensional extension of [[publishClustered]]. One
    * range-clustered key prunes files for predicates on THAT key only;
    * interleaving the bits of per-column quantile buckets
    * (Morton/Z-order, the standard lakehouse clustering trick) gives
    * every file a tight min/max envelope in EVERY listed column, so
    * parquet footer stats prune file scans for predicates on any of
    * them, including multi-column boxes.
    *
    * Scale shape: per-column cut points come from `approxQuantile`
    * (one pass, driver-bounded at `bits`-per-dim cuts — 256 values per
    * column here, the k-means-centroid bounce idiom); bucket
    * assignment is MLlib's `Bucketizer` (binary-search per row, no
    * per-row driver work); the z-value is pure bit arithmetic inside
    * codegen; the final layout pays the SAME single range shuffle +
    * local sort as [[publishClustered]]. Quantile (not uniform)
    * buckets keep the envelope tight under skew. NULLs sort into
    * bucket 0. */
  def publishZOrdered(df: DataFrame, dir: String, keys: Seq[String],
      nFiles: Int, bits: Int = 8): Long = {
    require(keys.size >= 2, "z-order needs at least two columns")
    require(nFiles > 0 && bits >= 1 && bits <= 16)
    val nBuckets = 1 << bits
    val bucketCols = keys.zipWithIndex.map { case (k, i) =>
      val probes = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
      val cuts = df.na.fill(0.0, Seq(k))
        .stat.approxQuantile(k, probes, 0.001)
      val splits = (Double.NegativeInfinity +: cuts.distinct.sorted
        :+ Double.PositiveInfinity)
      val b = new org.apache.spark.ml.feature.Bucketizer()
        .setInputCol(s"__zin$i").setOutputCol(s"__zb$i")
        .setSplits(splits).setHandleInvalid("keep")
      (b, k, i)
    }
    val withIn = bucketCols.foldLeft(df) { case (d, (_, k, i)) =>
      d.withColumn(s"__zin$i", coalesce(col(k).cast("double"), lit(0.0)))
    }
    val bucketed = bucketCols.foldLeft(withIn) { case (d, (b, _, _)) =>
      b.transform(d)
    }
    // interleave: bit j of dim i lands at position j*dims + i
    val dims = keys.size
    val z = (0 until bits).flatMap { j =>
      (0 until dims).map { i =>
        shiftleft(
          shiftright(col(s"__zb$i").cast("long").bitwiseAND(lit(1L << j)), j),
          j * dims + i)
      }
    }.reduce(_ + _)
    val helpers = "__z" +: keys.indices.flatMap(i =>
      Seq(s"__zin$i", s"__zb$i"))
    val cleaned = bucketed.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop(helpers: _*)
    publish(cleaned, dir)
  }

  /** Compact the latest snapshot's small-files tail into
    * ~`targetBytes` files as a new version; returns it, or None when
    * the current layout already meets the target (no-op — no version
    * churn). Readers of the old version are untouched; [[vacuum]]
    * reclaims it after the grace window. */
  def compact(spark: SparkSession, dir: String, targetBytes: Long)
      : Option[Long] = {
    require(targetBytes > 0)
    val v = latestVersion(spark, dir).getOrElse(
      throw new IllegalArgumentException(s"no committed snapshot under $dir"))
    val f = fs(spark, dir)
    val files = f.listStatus(new Path(dir, s"v=$v"))
      .filter(s => s.isFile && s.getPath.getName.startsWith("part-"))
    val total = files.map(_.getLen).sum
    val want = math.max(1, math.ceil(total.toDouble / targetBytes).toInt)
    if (files.length <= want) None
    else Some(publish(read(spark, dir, Some(v)).coalesce(want), dir))
  }

  /** Delete crash debris (staged tmp dirs) and superseded version
    * directories, keeping the latest `keepVersions` committed versions
    * as a reader grace window. Never touches the live version.
    * `reclaimOrphans` additionally removes version dirs PAST the
    * pointer (a crashed publisher that renamed but never committed) —
    * only safe when no publisher is running, so it is opt-in rather
    * than part of the routine sweep. */
  def vacuum(spark: SparkSession, dir: String, keepVersions: Int = 2,
      reclaimOrphans: Boolean = false): Unit = {
    require(keepVersions >= 1)
    val f = fs(spark, dir)
    val base = new Path(dir)
    if (!f.exists(base)) return
    val live = latestVersion(spark, dir).getOrElse(Long.MaxValue)
    def staleV(v: Long): Boolean =
      v <= live - keepVersions || (reclaimOrphans && v > live)
    f.listStatus(base).foreach { s =>
      val n = s.getPath.getName
      val stale = n.startsWith(".tmp-") || n.startsWith(s".$Pointer-") ||
        versionOf(s.getPath).exists(staleV) ||
        (n.startsWith(".lock-v=") && // a lock follows its version dir
          n.drop(".lock-v=".length).toLongOption.exists(staleV))
      if (stale) f.delete(s.getPath, true)
    }
  }

  /** Per-file key ranges of the latest snapshot — the layout
    * diagnostic for [[publishClustered]]: one row per file with the
    * key's min/max/rows (column-pruned scan: only the key column is
    * read). Disjoint ranges here mean parquet footer stats will prune
    * whole files for key-range predicates. */
  def fileRanges(spark: SparkSession, dir: String, key: String): DataFrame =
    read(spark, dir)
      .select(input_file_name().as("file"), col(key))
      .groupBy(col("file"))
      .agg(min(col(key)).as("key_min"), max(col(key)).as("key_max"),
        count(lit(1)).as("rows"))

  /** Row-level change capture between two published versions — the
    * "what did this curation rerun actually do" question a dataset
    * consumer asks before retraining on a new snapshot. Emits one row
    * per changed key: `change` ∈ added (key only in `vNew`), removed
    * (only in `vOld`), changed (in both, any non-key column differs —
    * decided by a 64-bit content hash over the non-key columns in
    * deterministic column order).
    *
    * Scale shape: both sides reduce to (key, hash) BEFORE the one
    * key-partitioned full-outer join — the join carries 16 bytes per
    * row, not document text, and prunes to the changed set map-side
    * after. Versions are immutable, so the diff is stable under
    * concurrent publishes (MVCC). Keys must be unique per version
    * (the doc-id contract every curation output here satisfies);
    * duplicate keys would cross-multiply through the join. */
  def diff(spark: SparkSession, dir: String, keys: Seq[String],
      vOld: Long, vNew: Long): DataFrame = {
    require(keys.nonEmpty, "diff needs at least one key column")
    val o = read(spark, dir, Some(vOld))
    val n = read(spark, dir, Some(vNew))
    require(o.columns.sorted.sameElements(n.columns.sorted),
      s"schema drift between v=$vOld and v=$vNew: " +
        s"${o.columns.mkString(",")} vs ${n.columns.mkString(",")}")
    val valCols = o.columns.filterNot(keys.contains).sorted
    def hashed(df: DataFrame, h: String) =
      if (valCols.isEmpty) df.select(keys.map(col) :+ lit(0L).as(h): _*)
      else df.select(keys.map(col) :+
        xxhash64(valCols.map(col): _*).as(h): _*)
    hashed(o, "h_old").join(hashed(n, "h_new"), keys, "full_outer")
      .select(keys.map(col) :+
        when(col("h_old").isNull, lit("added"))
          .when(col("h_new").isNull, lit("removed"))
          .when(col("h_old") =!= col("h_new"), lit("changed"))
          .as("change"): _*)
      .filter(col("change").isNotNull)
  }
}
