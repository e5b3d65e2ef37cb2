package tgbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point: `--workload <ingest|render|consolidate> --seed <n>
  * --seconds <s> --trace <0|1> --out <dir>`. Prints one detail line and,
  * last, the result line: `{"correct", "attempted", "failed",
  * "metrics"}` with every end-to-end metric (untraced) or every
  * per-layer metric (traced). */
object Main {
  val Workloads: Map[String, Ctx => Result] = Map(
    "ingest" -> IngestBench.run,
    "render" -> RenderBench.run,
    "consolidate" -> ConsolidateBench.run)

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val run = Workloads.getOrElse(workload,
      throw new IllegalArgumentException(s"unknown workload '$workload'"))
    val out = new File(args("out")).getAbsoluteFile
    val work = new File(out, s"work-$workload-${ProcessHandle.current().pid()}")
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    // the daemon's own session settings (Daemon.main)
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"tgbench-$workload")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(out, "spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = args.getOrElse("trace", "0") == "1"
    Phase("session")
    try {
      val ctx = Ctx(spark, args("seed").toLong, args("seconds").toInt, trace, work.toString)
      val r = run(ctx)
      Phase("checks")
      val metrics =
        if (!trace) Metrics.EndToEnd.map { case (k, u) => k -> (r.e2e(k), u) }
        else {
          val machine = Map(
            "machine.gauge_1core_ms" -> Jvm.gauge1CoreMs(),
            "machine.gauge_allcore_ms" -> Jvm.gaugeAllCoreMs(cores))
          Metrics.PerLayer.map { case (k, u) =>
            k -> (r.layers.orElse(machine).applyOrElse(k, (_: String) => 0.0), u)
          }
        }
      val aliases = Metrics.Aliases(workload)
      val detail = r.detail ++ aliases.map { case (k, a) => s"alias.$k" -> a }
      println(detail.map { case (k, v) => s""""$k":${jsonValue(v)}""" }
        .mkString("""{"detail":{""", ",", "}}"))
      println(s"""{"correct":${r.correct},"attempted":${r.attempted},""" +
        s""""failed":${r.failed},"metrics":""" +
        metrics.map { case (k, (v, u)) =>
          s""""$k":{"value":${jsonValue(v)},"unit":"$u"}"""
        }.mkString("{", ",", "}}"))
    } finally {
      spark.stop()
      deleteTree(work)
    }
  }

  private def jsonValue(v: Any): String = v match {
    case d: Double if d.isNaN || d.isInfinite => "null"
    case d: Double => java.math.BigDecimal.valueOf(d).toPlainString
    case s: String => "\"" + s + "\""
    case xs: Seq[_] => xs.map(jsonValue).mkString("[", ",", "]")
    case other => other.toString
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}
