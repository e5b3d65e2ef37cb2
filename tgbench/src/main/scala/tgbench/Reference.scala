package tgbench

/** Plain-Scala reference fold of the PDP rules, written from the rule
  * list, not from the program: the check the `consolidate` workload
  * holds the program's weighted-mean slots against.
  *
  *  1. Same-second updates collapse to the latest by full timestamp.
  *  2. Each update closes the interval from the previous update and
  *     carries its own value; an interval longer than the heartbeat,
  *     or carrying NaN, contributes nothing (the boundary still moves).
  *  3. Intervals split across slot boundaries; a slot's value is the
  *     overlap-weighted mean of what it received.
  *  4. The slot holding the last update is incomplete and not emitted;
  *     a slot known for less than `xff` of its step is not emitted. */
object Reference {

  /** `(tsMs, value)` updates of one series → slot start → value. */
  def fold(points: Seq[(Long, Double)], stepSec: Long, heartbeatSec: Long,
      xff: Double): Map[Long, Double] = {
    if (points.isEmpty) return Map.empty
    val bySec = points.groupBy { case (ms, _) => Math.floorDiv(ms, 1000L) }
      .map { case (sec, ps) => sec -> ps.maxBy(_._1)._2 }
      .toSeq.sortBy(_._1)
    val lastUpdate = bySec.last._1
    val vw = scala.collection.mutable.Map.empty[Long, Double]
    val dur = scala.collection.mutable.Map.empty[Long, Double]
    bySec.sliding(2).foreach {
      case Seq((begin, _), (end, v)) if end - begin <= heartbeatSec && !v.isNaN =>
        var t = Math.floorDiv(begin, stepSec) * stepSec
        while (t < end) {
          val ov = (math.min(end, t + stepSec) - math.max(begin, t)).toDouble
          if (ov > 0) {
            vw(t) = vw.getOrElse(t, 0.0) + v * ov
            dur(t) = dur.getOrElse(t, 0.0) + ov
          }
          t += stepSec
        }
      case _ =>
    }
    dur.collect {
      case (t, d) if t + stepSec <= lastUpdate && d >= xff * stepSec => t -> vw(t) / d
    }.toMap
  }
}
