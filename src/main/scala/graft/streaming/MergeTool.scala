package graft.streaming

/** Out-of-process archive writer (dev/ops main): merge one piece into
  * a store from a SEPARATE JVM — the deployment shape the
  * [[ArchiveStore]] MVCC protocol exists for (ingest and serving in
  * different processes; an ad-hoc backfill running next to a live
  * daemon). Also the writer half of StreamingSpec's cross-process
  * isolation case: the spec pins a version in ITS process, runs this
  * tool, and proves the pinned read is untouched while the commit is
  * immediately visible.
  *
  * Args: `archiveDir stepSec name t0 t1 value`. */
object MergeTool {
  def main(args: Array[String]): Unit = {
    require(args.length == 6,
      "usage: MergeTool <archiveDir> <stepSec> <name> <t0> <t1> <value>")
    val Array(dir, step, name, t0, t1, v) = args
    val spark = graft.GraftSession("graft-merge-tool")
    import spark.implicits._
    Ingest.mergePiecesIntoArchive(spark,
      Seq(Ingest.Piece(name, t0.toLong, t1.toLong, v.toDouble)).toDF(),
      dir, step.toLong)
    spark.stop()
  }
}
