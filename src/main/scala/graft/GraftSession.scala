package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one Spark session every entry point runs on (the counterpart of
  * the reference daemon's single boot config). Two environment values
  * pick the deployment:
  *
  *  - `GRAFT_MASTER`: the Spark master address; default `local[cpus]`.
  *  - `SPARK_GRAFT_CPUS`: the core count, which also sets the shuffle
  *    partition count. Anything but a positive integer (`*`, empty,
  *    garbage) falls back to the machine's core count.
  *
  * Every other setting is fixed in [[settings]]. Each is applied only
  * where the JVM's `spark.*` system properties leave the key unset, so
  * a one-off A/B passes `-Dspark.<key>=<value>`. */
object GraftSession {

  /** `SPARK_GRAFT_CPUS` parsed tolerantly; `nproc` when it is unset or
    * not a positive integer. */
  def cpus(env: Map[String, String], nproc: Int): Int =
    env.get("SPARK_GRAFT_CPUS").flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(nproc)

  /** The session settings as a pure function of the environment. */
  def settings(env: Map[String, String], nproc: Int): Seq[(String, String)] = {
    val n = cpus(env, nproc)
    Seq(
      "spark.master" -> env.get("GRAFT_MASTER").filter(_.trim.nonEmpty)
        .getOrElse(s"local[$n]"),
      "spark.sql.shuffle.partitions" -> n.toString,
      "spark.sql.session.timeZone" -> "UTC",
      // events.ts is parquet TIMESTAMP(NANOS); Tables.events normalizes
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      // Join strategy (scale-neutral): let the planner pick
      // shuffled-hash over sort-merge when its size conditions hold
      // (skips both sort passes), and let AQE rewrite a planned SMJ to
      // SHJ at runtime when every post-shuffle partition's map output
      // is under the threshold — a decision made from ACTUAL sizes, so
      // it adapts with scale instead of betting on estimates.
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "WARN")
  }

  /** The session for `appName`. `extra` carries settings an entry point
    * cannot run without (ClusterSmoke's executor fork); they win over
    * [[settings]], and `-Dspark.*` wins over both. */
  def apply(appName: String, extra: (String, String)*): SparkSession = {
    val conf = new SparkConf(loadDefaults = true)
    (extra ++ settings(sys.env, Runtime.getRuntime.availableProcessors()))
      .foreach { case (k, v) => conf.setIfMissing(k, v) }
    conf.setIfMissing("spark.app.name", appName)
    SparkSession.builder().config(conf).getOrCreate()
  }
}
