package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Wall-vs-job-time profiler for registered queries — the gauge that
  * separates EXECUTOR-bound time (real work in Spark jobs) from
  * DRIVER-bound time (Catalyst analysis/optimization/codegen between
  * jobs). A query whose wall time far exceeds its summed job time is
  * losing to plan building, usually accumulated iterative lineage —
  * the signal that found the round-11 localCheckpoint fixes (e.g.
  * sim_semdedup_skew at ~11 s wall / <1 s jobs before truncation).
  * Usage: `runMain graft.QueryProfile [query ...]` (defaults to the
  * historically slowest bench queries); each query gets one warm-up
  * pass, the second pass is reported. */
object QueryProfile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession("graft-query-profile")
    val jobNanos = new AtomicLong
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    // GRAFT_PROF_JOBS=1: per-job lines (duration + callsite description)
    // for the measured pass — attributes a query's wall to its stages
    val perJob = sys.env.get("GRAFT_PROF_JOBS").contains("1")
    val jobLines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .orElse(Option(js.properties)
            .flatMap(p => Option(p.getProperty("callSite.short"))))
          .getOrElse("")
        starts.put(js.jobId, (System.nanoTime(), desc)); ()
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        Option(starts.remove(je.jobId)).foreach { case (t0, desc) =>
          val d = System.nanoTime() - t0
          jobNanos.addAndGet(d)
          if (perJob) jobLines.add(
            f"  JOB ${je.jobId}%4d ${d / 1e9}%7.3f s  $desc")
        }
        ()
      }
    })
    val targets =
      if (args.nonEmpty) args.toSeq
      else Seq("sim_semdedup_skew", "cu_pipeline", "cu_bpe", "cu_select",
        "sim_semdedup", "tx_hybrid_rrf", "sim_topk_pq", "sim_topk_ivf_pq_res",
        "dd_window_fp", "sim_kmeans")
    val qs = SparkEntry.queries
    targets.foreach { name =>
      // warm pass then measured pass
      (1 to 2).foreach { p =>
        jobNanos.set(0L)
        jobLines.clear()
        val t0 = System.nanoTime()
        val n = qs(name)(spark, sfDir).count()
        val wall = (System.nanoTime() - t0) / 1e9
        if (p == 2) {
          Thread.sleep(200) // let listener events drain
          println(f"PROFQ $name%-22s wall ${wall}%6.2f s  jobs ${jobNanos.get / 1e9}%6.2f s  rows $n")
          jobLines.forEach(l => println(l))
        }
      }
    }
    spark.stop()
  }
}
