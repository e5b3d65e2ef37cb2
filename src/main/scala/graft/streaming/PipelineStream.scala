package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.pipeline.{Curation, NearDup}

/** The composed streaming curation pipeline — [[DedupStream]] →
  * [[CurationStream]] → periodic [[Curation.selectTraining]] as ONE
  * supervised lifecycle: one document stream, one checkpoint tree, one
  * `foreachBatch` running both accumulation stages per micro-batch.
  * This is the pipeline tier's answer to the daemon's ingest story:
  * corpora land continuously, the near-dup index and the doc-local
  * score table accumulate exactly-once, and a periodic selection pass
  * reads the accumulated state instead of re-scoring the corpus.
  *
  * Crash-replay ACROSS stage boundaries, the property the composition
  * adds: both stages write under `bid=<batch>` partitions via dynamic
  * overwrite, so a batch that died BETWEEN stages (dedup state landed,
  * scores did not) replays as a pure rewrite of both — the dedup
  * partitions rewrite to identical content (the increment reads only
  * `bid < current` state), the score partition lands fresh, and no
  * ordering between the stages is ever assumed.
  *
  * The periodic [[select]] composes the accumulated state:
  * dedup SURVIVORS (accumulated pairs → clusters → losers dropped) ×
  * the ACCUMULATED entropy gate (doc-local, stored — never re-scored)
  * × the corpus-model scores (perplexity, DSIR — trained on the
  * survivor corpus at select time, they cannot be batch-local by
  * definition) → UniMax-sampled training mix. The result is
  * hash-identical to batch [[Curation.selectTraining]] over the
  * dedup-survivor corpus.
  *
  * At 100 TB: per batch this is [[NearDup.minhashIncrement]]'s
  * bucket-join shape plus a narrow scoring map — no cross-batch Spark
  * state, nothing rescans the accumulated dirs in the hot path; the
  * selection pass is the same one-shot plan the batch operator runs,
  * minus the entropy scan it reuses from the store. */
object PipelineStream {

  /** One micro-batch through BOTH stages. Package-visible so the spec
    * and the oracle query can drive replays directly. */
  private[graft] def processBatch(spark: SparkSession, batch: DataFrame,
      bid: Long, outDir: String, minJ: Double): Unit = {
    DedupStream.processBatch(spark,
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text")),
      bid, s"$outDir/dedup/state", s"$outDir/dedup/pairs", minJ)
    CurationStream.processBatch(batch, bid, s"$outDir/scores")
  }

  /** Start the lifecycle over a streaming `(doc_id, source, text)`
    * frame — one checkpoint tree under `outDir/ckpt`. */
  def start(docs: DataFrame, outDir: String, minJ: Double): StreamingQuery = {
    val spark = docs.sparkSession
    docs.writeStream
      .option("checkpointLocation", s"$outDir/ckpt")
      .foreachBatch { (batch: DataFrame, bid: Long) =>
        processBatch(spark, batch, bid, outDir, minJ)
      }
      .start()
  }

  /** Start over a parquet LANDING DIRECTORY — the deployment shape
    * (the [[DedupStream.startFromDir]] twin, one query for the whole
    * pipeline). */
  def startFromDir(spark: SparkSession, landingDir: String,
      outDir: String, minJ: Double,
      maxFilesPerTrigger: Int = 8): StreamingQuery = {
    val docs = spark.readStream
      .schema(StructType(Seq(StructField("doc_id", LongType),
        StructField("source", StringType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(landingDir)
    start(docs, outDir, minJ)
  }

  /** The dedup-survivor corpus as of the accumulated stream state:
    * `corpus` minus every accumulated near-dup cluster's non-rep
    * members (the [[Curation.curate]] loser rule over streamed
    * pairs). */
  def survivors(spark: SparkSession, corpus: DataFrame,
      outDir: String): DataFrame = {
    val losers = NearDup.clusters(
        DedupStream.pairs(spark, s"$outDir/dedup/pairs"))
      .filter(col("doc_id") =!= col("cluster")).select("doc_id")
    corpus.select(col("doc_id").cast("long").as("doc_id"),
        col("source"), col("text"))
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** The periodic selection pass over the accumulated state (see the
    * object scaladoc); plus a release handle for the survivor cache
    * ([[Curation.selectTrainingScoped]]'s contract). */
  def selectScoped(spark: SparkSession, corpus: DataFrame, outDir: String,
      maxPpl: Double, minEntropy: Double, budgetFrac: Double,
      maxEpochs: Double): (DataFrame, () => Unit) = {
    val entOk = CurationStream.readScores(spark, s"$outDir/scores")
      .filter(col("entropy").isNotNull && col("entropy") >= minEntropy)
      .select(col("doc_id"))
    Curation.selectTrainingScoped(survivors(spark, corpus, outDir),
      maxPpl, minEntropy, budgetFrac, maxEpochs, entropyOk = Some(entOk))
  }

  /** [[selectScoped]] without the handle (one-shot sessions). */
  def select(spark: SparkSession, corpus: DataFrame, outDir: String,
      maxPpl: Double, minEntropy: Double, budgetFrac: Double,
      maxEpochs: Double): DataFrame =
    selectScoped(spark, corpus, outDir, maxPpl, minEntropy, budgetFrac,
      maxEpochs)._1

  /** Runnable continuous-pipeline daemon: GRAFT_PIPE_IN (landing dir),
    * GRAFT_PIPE_OUT (state + scores + checkpoint), GRAFT_PIPE_MINJ
    * (default 0.8). Blocks until killed; run [[select]] out-of-band
    * (it reads only the accumulated dirs). */
  def main(args: Array[String]): Unit = {
    def env(k: String, d: String) = sys.env.getOrElse(k, d)
    val in = sys.env.getOrElse("GRAFT_PIPE_IN",
      sys.error("GRAFT_PIPE_IN (parquet landing dir) is required"))
    val out = sys.env.getOrElse("GRAFT_PIPE_OUT",
      java.nio.file.Files.createTempDirectory("graft-pipe").toString)
    val spark = graft.GraftSession("graft-pipeline-stream")
    val q = startFromDir(spark, in, out,
      env("GRAFT_PIPE_MINJ", "0.8").toDouble)
    println(s"graft pipeline stream: in=$in out=$out")
    q.awaitTermination()
  }
}
