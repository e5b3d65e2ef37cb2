package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[GraftSession]]'s settings are a pure function of the environment,
  * so these cases need no session. */
class GraftSessionSpec extends AnyFunSuite {

  private val nproc = 6

  test("SPARK_GRAFT_CPUS: anything but a positive integer falls back to nproc") {
    for (v <- Seq("*", "", "abc", "0", "-2"))
      assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> v), nproc) === nproc, v)
    assert(GraftSession.cpus(Map.empty, nproc) === nproc)
    assert(GraftSession.cpus(Map("SPARK_GRAFT_CPUS" -> "8"), nproc) === 8)
    val s = GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> "*"), nproc).toMap
    assert(s("spark.master") === s"local[$nproc]")
    assert(s("spark.sql.shuffle.partitions") === nproc.toString)
  }

  test("the settings are the bench session's, key for key") {
    // Bench's session before the factory, at SPARK_GRAFT_CPUS=8 and no
    // join overrides; its setLogLevel("WARN") is spark.log.level
    val bench = Map(
      "spark.master" -> "local[8]",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.join.preferSortMergeJoin" -> "false",
      "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "64m",
      "spark.ui.enabled" -> "false",
      "spark.log.level" -> "WARN")
    val s = GraftSession.settings(Map("SPARK_GRAFT_CPUS" -> "8"), nproc)
    assert(s.map(_._1).distinct.size === s.size)
    assert(s.toMap === bench)
  }

  test("GRAFT_MASTER replaces only the master") {
    val env = Map("GRAFT_MASTER" -> "spark://host:7077", "SPARK_GRAFT_CPUS" -> "3")
    val s = GraftSession.settings(env, nproc).toMap
    assert(s("spark.master") === "spark://host:7077")
    assert(s("spark.sql.shuffle.partitions") === "3")
  }

  test("no entry point builds its own session") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val offenders = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala"))
      .filterNot(_.getFileName.toString == "GraftSession.scala")
      .filter(p => Files.readString(p).contains("SparkSession.builder"))
      .map(root.relativize(_: Path).toString).toSeq.sorted
    assert(offenders.isEmpty,
      s"SparkSession.builder outside GraftSession: ${offenders.mkString(", ")}")
  }
}
