package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.NearDup
import graft.pipeline.NearDup.NearDupState

/** Streaming near-dup lifecycle: a document stream deduplicates
  * continuously against everything already ingested, without ever
  * rescanning the corpus — [[NearDup.minhashIncrement]] wired into
  * `foreachBatch` with parquet-backed, batch-id-partitioned state.
  *
  * Exactly-once under micro-batch replay, the archive-merge story
  * ([[Ingest.mergePiecesIntoArchive]]) restated for append-only state:
  * every frame (four index stores + the emitted pairs) writes under a
  * `bid=<batch>` partition via dynamic overwrite, so a replayed batch
  * REWRITES its own partitions instead of appending duplicates — and
  * [[readState]] filters `bid < currentBid`, so a replay whose previous
  * attempt died after a partial state write still reads exactly the
  * state the first attempt saw.
  *
  * Scale shape is [[NearDup.minhashIncrement]]'s: per batch, one
  * fingerprint join against the distinct-text map, band-bucket joins
  * touching only this batch's buckets, and set fetches for actual
  * candidates. The state dirs grow append-only; nothing compacts or
  * rescans them in the hot path (a production deployment would
  * periodically compact the `bid=` partitions like any streaming
  * sink's small files).
  */
object DedupStream {

  /** The four state frames' schemas (the `bid` partition column is
    * added at write time and stripped at read). */
  private val frames: Seq[(String, StructType)] = Seq(
    ("fps", StructType(Seq(StructField("fp", StringType),
      StructField("rep", LongType)))),
    ("sets", StructType(Seq(StructField("doc_id", LongType),
      StructField("hs", ArrayType(LongType, containsNull = false))))),
    ("bands", StructType(Seq(StructField("doc_id", LongType),
      StructField("band", IntegerType), StructField("key", StringType)))),
    ("members", StructType(Seq(StructField("doc_id", LongType),
      StructField("rep", LongType)))))

  private def readFrame(spark: SparkSession, dir: String,
      schema: StructType, ltBid: Long): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      // explicit schema (incl. bid as long): a COMMITTED-BUT-EMPTY
      // directory (_SUCCESS, zero partition dirs — e.g. a batch whose
      // frame had no rows) has nothing to infer from and would throw;
      // it also pins the partition column's type against int inference
      spark.read.schema(schema.add(StructField("bid", LongType)))
        .parquet(dir)
        .filter(col("bid") < ltBid)
        .select(schema.fieldNames.map(col).toSeq: _*)
  }

  /** The accumulated index state as of (strictly before) batch
    * `ltBid` — what that batch's increment must dedup against. */
  def readState(spark: SparkSession, stateDir: String,
      ltBid: Long): NearDupState = {
    val Seq(fps, sets, bands, members) = frames.map { case (n, sch) =>
      readFrame(spark, s"$stateDir/$n", sch, ltBid)
    }
    NearDupState(fps, sets, bands, members)
  }

  private def writePartition(df: DataFrame, bid: Long, dir: String): Unit =
    df.withColumn("bid", lit(bid)).write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bid").parquet(dir)

  /** One micro-batch: read state (< bid), increment, write pairs and
    * state appends under `bid=` partitions. Package-visible so the
    * spec can drive replays directly. */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      bid: Long, stateDir: String, pairsDir: String, minJ: Double): Unit = {
    val st = readState(spark, stateDir, bid)
    val (pairs, appends) = NearDup.minhashIncrement(
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text")),
      st, minJ)
    try {
      // pairs FIRST: their plan reads the state dirs lazily, so the
      // batch's own appends must not land before pairs materialize
      writePartition(pairs, bid, pairsDir)
      frames.map(_._1).zip(Seq(appends.fps, appends.sets,
        appends.bands, appends.members)).foreach { case (n, f) =>
        writePartition(f, bid, s"$stateDir/$n")
      }
    } finally { appends.sets.unpersist(); () }
  }

  /** Start the lifecycle over a streaming `(doc_id, text)` frame. */
  def start(docs: DataFrame, stateDir: String, pairsDir: String,
      minJ: Double, checkpointDir: String): StreamingQuery = {
    val spark = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(spark, batch, bid, stateDir, pairsDir, minJ)
      }
      .start()
  }

  /** Start the lifecycle over a parquet LANDING DIRECTORY — the
    * deployment shape for continuous corpus ingest: upstream drops
    * `(doc_id, text)` parquet files into `landingDir`, Spark's file
    * source picks each up as a micro-batch, and pairs/state accumulate
    * under `outDir`. `maxFilesPerTrigger` bounds batch size so one
    * giant drop cannot blow a single increment. */
  def startFromDir(spark: SparkSession, landingDir: String, outDir: String,
      minJ: Double, maxFilesPerTrigger: Int = 8): StreamingQuery = {
    val docs = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
    start(docs, s"$outDir/state", s"$outDir/pairs", minJ, s"$outDir/ckpt")
  }

  /** Runnable continuous-dedup daemon: GRAFT_DEDUP_IN (landing dir),
    * GRAFT_DEDUP_OUT (state + pairs + checkpoint), GRAFT_DEDUP_MINJ
    * (default 0.8). Blocks until killed. */
  def main(args: Array[String]): Unit = {
    def env(k: String, d: String) = sys.env.getOrElse(k, d)
    // getOrElse directly for the defaults with side effects: its
    // by-name default defers them, where a strict helper parameter
    // would evaluate unconditionally (error thrown / temp dir created
    // even when the variable is set)
    val in = sys.env.getOrElse("GRAFT_DEDUP_IN",
      sys.error("GRAFT_DEDUP_IN (parquet landing dir) is required"))
    val out = sys.env.getOrElse("GRAFT_DEDUP_OUT",
      java.nio.file.Files.createTempDirectory("graft-dedup").toString)
    val spark = graft.GraftSession("graft-dedup-stream")
    val q = startFromDir(spark, in, out,
      env("GRAFT_DEDUP_MINJ", "0.8").toDouble)
    println(s"graft dedup stream: in=$in out=$out")
    q.awaitTermination()
  }

  private val pairsSchema = StructType(Seq(StructField("doc_a", LongType),
    StructField("doc_b", LongType), StructField("jaccard", DoubleType)))

  /** All pairs emitted so far (distinct across batches — a pair is
    * emitted once, by the batch that completed it). */
  def pairs(spark: SparkSession, pairsDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(pairsDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], pairsSchema)
    else
      // explicit schema: a pairs-free stream so far leaves the dir
      // committed but empty (see readFrame)
      spark.read.schema(pairsSchema.add(StructField("bid", LongType)))
        .parquet(pairsDir).select("doc_a", "doc_b", "jaccard")
  }
}
