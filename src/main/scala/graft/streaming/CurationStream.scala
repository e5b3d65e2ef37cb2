package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.Curation

/** Streaming curation-score lifecycle: a document stream scores
  * continuously — [[Curation.docScores]] (the DOC-LOCAL score subset:
  * token count, quality, language id, char entropy; each row depends
  * only on its own text) wired into `foreachBatch` with a
  * parquet-backed, batch-id-partitioned score store. The curation
  * family gets the same batch/stream duality the dedup family has
  * ([[DedupStream]]): corpora land continuously, scores accumulate,
  * and a periodic `selectTraining` pass reads the accumulated table
  * instead of re-scoring the corpus.
  *
  * Exactly-once under micro-batch replay, the [[DedupStream]] story
  * verbatim: every batch writes under a `bid=<batch>` partition via
  * dynamic overwrite, so a replayed batch REWRITES its own partition
  * instead of appending duplicate score rows. Doc-local scoring makes
  * this even simpler than dedup — no cross-batch state to read, so a
  * replay is a pure rewrite and batches are order-independent.
  *
  * At 100 TB: scoring is a narrow map per batch (no shuffle — the
  * quality/langid/entropy joins inside docScores are doc_id-keyed
  * joins of co-partitioned derivations of the same batch), the store
  * is append-only partitioned parquet, and the downstream selection
  * reads it with ordinary pruning. */
object CurationStream {

  /** Score-store schema (the `bid` partition column is added at write
    * time and stripped at read) — [[Curation.docScores]]' columns. */
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("source", StringType),
    StructField("n_tokens", LongType),
    StructField("quality", DoubleType),
    StructField("lang_pred", StringType),
    StructField("lang_score", DoubleType),
    StructField("entropy", DoubleType)))

  /** One micro-batch: score this batch's docs, write under its `bid=`
    * partition (replay = rewrite, never append). Package-visible so
    * the spec can drive replays directly. */
  private[graft] def processBatch(batch: DataFrame, bid: Long,
      scoresDir: String): Unit = {
    Curation.docScores(batch)
      .select(col("doc_id").cast("long").as("doc_id"), col("source"),
        col("n_tokens").cast("long").as("n_tokens"), col("quality"),
        col("lang_pred"), col("lang_score"), col("entropy"))
      .withColumn("bid", lit(bid))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("bid").parquet(scoresDir)
  }

  /** The accumulated score table (bid stripped). */
  def readScores(spark: SparkSession, scoresDir: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(scoresDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], Schema)
    else
      spark.read.schema(Schema.add(StructField("bid", LongType)))
        .parquet(scoresDir)
        .select(Schema.fieldNames.map(col).toSeq: _*)
  }

  /** Start the lifecycle over a streaming `(doc_id, source, text)`
    * frame. */
  def start(docs: DataFrame, scoresDir: String,
      checkpointDir: String): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(batch, bid, scoresDir)
      }
      .start()

  /** Start over a parquet LANDING DIRECTORY — the deployment shape
    * for continuous corpus ingest (the [[DedupStream.startFromDir]]
    * twin): upstream drops `(doc_id, source, text)` parquet into
    * `landingDir`, each pickup scores as one micro-batch into
    * `outDir/scores`. */
  def startFromDir(spark: SparkSession, landingDir: String,
      outDir: String, maxFilesPerTrigger: Int = 8): StreamingQuery = {
    val docs = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
    start(docs, s"$outDir/scores", s"$outDir/ckpt")
  }

  /** Runnable continuous-scoring daemon: GRAFT_SCORE_IN (landing dir),
    * GRAFT_SCORE_OUT (scores + checkpoint). Blocks until killed. */
  def main(args: Array[String]): Unit = {
    def env(k: String) = sys.env.getOrElse(k,
      sys.error(s"$k is required"))
    val spark = graft.GraftSession("graft-curation-stream")
    val q = startFromDir(spark, env("GRAFT_SCORE_IN"), env("GRAFT_SCORE_OUT"))
    println(s"curation-stream: scoring ${env("GRAFT_SCORE_IN")} -> " +
      s"${env("GRAFT_SCORE_OUT")}/scores")
    q.awaitTermination()
  }
}
