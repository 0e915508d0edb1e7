package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

/** Pure helpers behind the reported numbers; unit-tested in StatsSpec. */
object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** A tail latency that is still backed by data: the highest percentile
    * with at least ten samples above it. With n sorted samples the value
    * at 0-based rank n-11 has exactly ten above it; it sits at percentile
    * 100*(n-10)/n. Fewer than 11 samples have no such percentile.
    */
  final case class Tail(value: Double, percentile: Double, n: Int)

  def tail(xs: Seq[Double]): Option[Tail] = {
    val n = xs.length
    if (n < 11) None
    else {
      val s = xs.sorted
      Some(Tail(s(n - 11), 100.0 * (n - 10) / n, n))
    }
  }

  /** Order-independent digest of a multiset of rows: each row's canonical
    * rendering is hashed to 64 bits and the hashes are summed mod 2^64,
    * alongside the row count. Equal multisets give equal digests whatever
    * order the engine returns rows in; a missing, extra or changed row
    * changes it.
    */
  final case class Digest(rows: Long, sum: Long) {
    def hex: String = f"$rows%d:$sum%016x"
  }

  def rowHash(fields: Seq[Any]): Long = {
    val canon = fields.map {
      case null => "\\N"
      case b: java.math.BigDecimal => b.toPlainString
      case b: BigDecimal => b.bigDecimal.toPlainString
      case v => v.toString
    }.mkString("\u0001")
    val d = MessageDigest.getInstance("MD5").digest(canon.getBytes(UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  def digest(rows: Iterable[Seq[Any]]): Digest =
    rows.foldLeft(Digest(0L, 0L))((d, r) => Digest(d.rows + 1, d.sum + rowHash(r)))

  /** Operation accounting for fail_frac: every attempted op either passes
    * its check, fails it, or throws. Planned crashes are not ops and are
    * counted apart, so injecting them never moves fail_frac.
    */
  final class Ops {
    private var attempted0 = 0L
    private var failed0 = 0L
    private var planned0 = 0L
    val failures = scala.collection.mutable.ArrayBuffer.empty[String]

    def attempted: Long = attempted0
    def failed: Long = failed0
    def plannedCrashes: Long = planned0
    def failFrac: Double = if (attempted0 == 0) 0.0 else failed0.toDouble / attempted0

    /** Runs one op and its check; returns the op's value when both pass. */
    def run[T](name: String)(op: => T)(check: T => Option[String]): Option[T] = {
      attempted0 += 1
      val t0 = System.nanoTime()
      val r = try Right(op) catch { case e: Exception => Left(s"$name threw ${e.toString.take(300)}") }
      val t1 = System.nanoTime()
      val problem = r.fold(Some(_), v => check(v).map(p => s"$name: $p"))
      System.err.println(f"[perfbench] $name: ${(t1 - t0) / 1e9}%.3f s, " +
        f"check ${(System.nanoTime() - t1) / 1e9}%.3f s${problem.fold("")(" FAILED " + _)}")
      problem.foreach { p => failed0 += 1; failures += p }
      if (problem.isEmpty) r.toOption else None
    }

    /** Records an op whose check ran later (outside a timed loop). */
    def record(name: String, problem: Option[String]): Unit = {
      attempted0 += 1
      problem.foreach { p => failed0 += 1; failures += s"$name: $p" }
    }

    def plannedCrash(): Unit = planned0 += 1
  }

  /** A recorded span: [start, end] in nanoseconds on one clock. */
  final case class Interval(start: Long, end: Long)

  /** Self time of a span: its duration minus the part of it covered by
    * the union of its children (children may overlap each other and may
    * stick out of the parent; only the covered part inside counts).
    */
  def selfTime(parent: Interval, children: Seq[Interval]): Long = {
    val clipped = children
      .map(c => Interval(math.max(c.start, parent.start), math.min(c.end, parent.end)))
      .filter(c => c.end > c.start)
      .sortBy(_.start)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    clipped.foreach { c =>
      if (c.start > curE) {
        if (curE > curS) covered += curE - curS
        curS = c.start; curE = c.end
      } else curE = math.max(curE, c.end)
    }
    if (curE > curS) covered += curE - curS
    (parent.end - parent.start) - covered
  }
}
