package graft

/** Dev main: sweep every SparkEntry query's physical plan for the
  * join/shuffle shapes that do not survive scale — cartesian products,
  * nested-loop joins against a non-broadcast side, sort-merge joins
  * where a broadcast was expected — and print one line per query with
  * its flags. Nested-loop joins that build a BROADCAST side are listed
  * separately: those are the deliberate grid/centroid cross joins whose
  * build side is bounded (series names, centroids, query vectors).
  * With query names it prints each one's `explain("formatted")`
  * instead. Usage: `sbt "runMain graft.PlanAudit [sfDir] [query …]"`. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    // sf0.01: the one scale with pinned mm_* oracle parquet (plans are
    // built, not executed, so the larger fixture costs nothing here)
    val (dirs, queries) = args.partition(a => new java.io.File(a).isDirectory)
    val d = dirs.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession("graft-plan-audit")
    if (queries.nonEmpty) queries.foreach { q =>
      println(s"===== $q =====")
      SparkEntry.queries(q)(spark, d).explain("formatted")
    } else {
      var flagged = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
        try {
          val plan = fn(spark, d).queryExecution.executedPlan.toString
          val flags = Seq(
            "CartesianProduct" -> plan.contains("CartesianProduct"),
            "SortMergeJoin" -> plan.contains("SortMergeJoin"),
            "NestedLoop" -> plan.contains("BroadcastNestedLoopJoin"),
            "GlobalSortBeforeWindow" -> false // windows audited via WARN logs
          ).collect { case (f, true) => f }
          if (flags.nonEmpty) { flagged += 1; println(s"FLAG $name: ${flags.mkString(",")}") }
        } catch {
          case e: Throwable => println(s"ERR  $name: ${e.getMessage}")
        }
      }
      println(s"audited ${SparkEntry.queries.size} queries, $flagged flagged")
    }
    spark.stop()
  }
}
