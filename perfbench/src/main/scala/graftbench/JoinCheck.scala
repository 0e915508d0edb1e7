package graftbench

import scala.collection.mutable

/** Checks the streaming click/purchase join against a batch recomputation
  * over the delivered events. A streaming interval join may drop an input
  * row that arrives behind the watermark, and then drops every pair that
  * row is part of; it may never drop an on-time row, emit a pair twice, or
  * emit a pair the batch join does not have. Which late rows fall behind
  * depends on micro-batch timing, so the check derives the dropped set
  * from the output (late rows none of whose pairs were emitted) and
  * verifies that every missing pair touches one of them.
  */
object JoinCheck {
  private val HourMs = 3600000L

  /** Problems by wave (the later delivery wave of a pair's two events). */
  def problems(delivered: Seq[StreamIngest.Ev], joined: Seq[(Long, Long)]): Map[Int, String] = {
    val byId = delivered.map(e => e.id -> e).toMap
    val expected = mutable.HashSet.empty[(Long, Long)]
    for ((_, evs) <- delivered.groupBy(_.user)) {
      val purchases = evs.filterNot(_.click)
      for (c <- evs if c.click; p <- purchases if p.tsMs <= c.tsMs && p.tsMs >= c.tsMs - HourMs)
        expected += (c.id -> p.id)
    }
    val out = mutable.HashMap.empty[Int, mutable.ArrayBuffer[String]]
    def wave(pair: (Long, Long)): Int =
      Seq(pair._1, pair._2).flatMap(byId.get).map(_.delivered).maxOption.getOrElse(-1)
    def report(pair: (Long, Long), what: String): Unit =
      out.getOrElseUpdate(wave(pair), mutable.ArrayBuffer.empty) += s"join $what $pair"

    val got = joined.toSet
    if (got.size != joined.size)
      joined.groupBy(identity).collect { case (p, xs) if xs.size > 1 => report(p, "duplicate") }
    (got diff expected).foreach(report(_, "extra"))
    val missing = expected diff got
    // Dropped: a late event none of whose pairs made it out. Every missing
    // pair must touch a dropped event.
    val present = got.intersect(expected)
    val matched = present.flatMap(p => Seq(p._1, p._2))
    val dropped = missing.flatMap(p => Seq(p._1, p._2))
      .filter(id => byId.get(id).exists(_.late) && !matched(id))
    missing.filterNot(p => dropped(p._1) || dropped(p._2)).foreach(report(_, "missing"))
    out.map { case (w, ps) => w -> s"${ps.size} join problems, e.g. ${ps.take(3).mkString(", ")}" }.toMap
  }
}
