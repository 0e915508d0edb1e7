package graftbench

import java.time.LocalDate

import scala.collection.mutable
import scala.util.Random

/** Seeded generator of the ETL workload: synthetic tickers with deep
  * quarterly history, then waves of new quarters, restatements,
  * in-wave duplicates and dirty rows. It keeps the truth the engine must
  * reproduce: the last-write-wins state of both tables after every wave
  * and the number of rows it planted for quarantine.
  */
final class EtlGen(seed: Long, val nTickers: Int, val history: Int) {
  import EtlGen._

  private val rnd = new Random(seed * 1000003L + 17)

  val tickers: Vector[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < nTickers) {
      val len = 3 + rnd.nextInt(3)
      seen += Iterator.continually(('A' + rnd.nextInt(26)).toChar).take(len).mkString
    }
    seen.toVector
  }

  /** Last-write-wins truth, keyed by (ticker, quarter index). */
  val income = mutable.HashMap.empty[(String, Int), Income]
  val estimates = mutable.HashMap.empty[(String, Int), Estimate]
  private var wave = -1

  /** Next wave: wave 0 is the full history; later waves add one quarter
    * per ticker (income) and the following quarter's estimate. */
  def next(): Wave = {
    wave += 1
    val incomeRecs = mutable.ArrayBuffer.empty[(String, String)] // (path symbol, json)
    val estRecs = mutable.ArrayBuffer.empty[String]
    var quarantined = 0
    var estQuarantined = 0
    val newQ = if (wave == 0) 0 until history else Seq(history - 1 + wave)
    for (t <- tickers) {
      val restated = if (wave == 0) Nil
        else (0 until history - 1 + wave).filter(_ => rnd.nextDouble() < RestateShare)
      for (q <- newQ ++ restated) {
        val rec = Income(
          revenue = Some(BigDecimal(100000000L + rnd.nextLong(99900000000L)) / 100),
          eps = BigDecimal(1 + rnd.nextInt(99999)) / 10000,
          grossProfit = Some(BigDecimal(100000000L + rnd.nextLong(49900000000L)) / 100))
        rnd.nextDouble() match {
          case d if d < DirtyShare / 4 => // unparseable date: quarantined
            incomeRecs += t -> incomeJson(t, "31.13." + quarterDate(q).getYear, rec, plainAmt)
            quarantined += 1
          case d if d < DirtyShare / 2 => // invalid ticker: quarantined
            val bad = if (rnd.nextBoolean()) "" else t + "_DELISTED_X"
            incomeRecs += t -> incomeJson(bad, quarterDate(q).toString, rec, plainAmt)
            quarantined += 1
          case d if d < DirtyShare * 3 / 4 => // "N/A" revenue: kept as null
            val r = rec.copy(revenue = None)
            incomeRecs += t -> incomeJson(t, quarterDate(q).toString, r, plainAmt)
            income((t, q)) = r
          case d if d < DirtyShare => // "$"-prefixed, comma-grouped amounts
            incomeRecs += t -> incomeJson(t, usDate(q), rec, dollarAmt)
            income((t, q)) = rec
          case _ =>
            val js = incomeJson(t, quarterDate(q).toString, rec, plainAmt)
            incomeRecs += t -> js
            if (rnd.nextDouble() < DupShare) incomeRecs += t -> js
            income((t, q)) = rec
        }
      }
      val estQ = (if (wave == 0) 0 until history + 1 else Seq(history + wave)) ++
        (if (wave == 0) Nil else (0 until history + wave).filter(_ => rnd.nextDouble() < RestateShare))
      for (q <- estQ) {
        val e = Estimate(Some(BigDecimal(100000000L + rnd.nextLong(99900000000L)) / 100),
          BigDecimal(1 + rnd.nextInt(99999)) / 10000, 1 + rnd.nextInt(40))
        rnd.nextDouble() match {
          case d if d < DirtyShare / 2 =>
            estRecs += estimateJson(t, "Q" + q, e, plainAmt)
            estQuarantined += 1
          case d if d < DirtyShare * 3 / 4 =>
            val r = e.copy(revenue = None)
            estRecs += estimateJson(t, quarterDate(q).toString, r, plainAmt)
            estimates((t, q)) = r
          case d if d < DirtyShare =>
            estRecs += estimateJson(t, quarterDate(q).toString, e, dollarAmt)
            estimates((t, q)) = e
          case _ =>
            val js = estimateJson(t, quarterDate(q).toString, e, plainAmt)
            estRecs += js
            if (rnd.nextDouble() < DupShare) estRecs += js
            estimates((t, q)) = e
        }
      }
    }
    val bySymbol = incomeRecs.groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    val bodies = tickers.map { t =>
      FmpEmulator.path("income-statement", t) ->
        bySymbol.getOrElse(t, Nil).mkString("[", ",", "]").getBytes("UTF-8")
    }.toMap
    val throttled = tickers.filter(_ => rnd.nextDouble() < ThrottleShare)
      .map(FmpEmulator.path("income-statement", _)).toSet
    Wave(wave, bodies, throttled, estRecs.toSeq, incomeRecs.size, quarantined,
      estQuarantined)
  }

  /** Truth rows of the income state, in the state table's column order. */
  def incomeRows: Iterable[Seq[Any]] = income.map { case ((t, q), r) =>
    Seq(t, quarterDate(q).toString, label(q), r.revenue.map(scaled(_, 2)).orNull,
      scaled(r.eps, 4), r.grossProfit.map(scaled(_, 2)).orNull)
  }

  def estimateRows: Iterable[Seq[Any]] = estimates.map { case ((t, q), e) =>
    Seq(t, quarterDate(q).toString, label(q), e.revenue.map(scaled(_, 2)).orNull,
      scaled(e.eps, 4), e.analysts)
  }

  /** Truth of the read queries: latest quarter per ticker, and how many
    * income rows have an estimate at or before their quarter. */
  def latestQuarter: Map[String, String] =
    income.keys.groupBy(_._1).map { case (t, ks) => t -> quarterDate(ks.map(_._2).max).toString }

  def asofMatched: Long = {
    val firstEst = estimates.keys.groupBy(_._1).map { case (t, ks) => t -> ks.map(_._2).min }
    income.keys.count { case (t, q) => firstEst.get(t).exists(_ <= q) }.toLong
  }
}

object EtlGen {
  val RestateShare = 0.10
  val DirtyShare = 0.05
  val DupShare = 0.05
  val ThrottleShare = 0.05

  final case class Income(revenue: Option[BigDecimal], eps: BigDecimal,
                          grossProfit: Option[BigDecimal])
  final case class Estimate(revenue: Option[BigDecimal], eps: BigDecimal, analysts: Int)

  final case class Wave(index: Int, incomeBodies: Map[String, Array[Byte]],
                        throttled: Set[String], estimateLines: Seq[String],
                        incomeRows: Int, incomeQuarantined: Int, estQuarantined: Int) {
    def inputRows: Long = incomeRows.toLong + estimateLines.size
    def inputBytes: Long = incomeBodies.values.map(_.length.toLong).sum +
      estimateLines.map(_.length + 1L).sum
  }

  /** Quarter index 0 is 2000-Q1; the date is the quarter's last day. */
  def quarterDate(q: Int): LocalDate = {
    val first = LocalDate.of(2000 + q / 4, 3 * (q % 4) + 3, 1)
    first.withDayOfMonth(first.lengthOfMonth)
  }
  def label(q: Int): String = s"${2000 + q / 4}-Q${q % 4 + 1}"
  private def usDate(q: Int): String = {
    val d = quarterDate(q)
    f"${d.getMonthValue}%02d/${d.getDayOfMonth}%02d/${d.getYear}%04d"
  }

  private def scaled(v: BigDecimal, scale: Int): java.math.BigDecimal =
    v.bigDecimal.setScale(scale)

  private val plainAmt: BigDecimal => String = _.bigDecimal.setScale(2).toPlainString
  private val dollarAmt: BigDecimal => String = v =>
    "$" + String.format(java.util.Locale.ROOT, "%,.2f", v.bigDecimal.setScale(2))

  private def incomeJson(sym: String, date: String, r: Income, amt: BigDecimal => String): String =
    s"""{"date":${Json.str(date)},"symbol":${Json.str(sym)},""" +
      s""""revenue":${Json.str(r.revenue.map(amt).getOrElse("N/A"))},""" +
      s""""eps":"${r.eps.bigDecimal.setScale(4).toPlainString}",""" +
      s""""grossProfit":${Json.str(r.grossProfit.map(amt).getOrElse("N/A"))},""" +
      s""""netIncome":"${(r.eps * 1000).bigDecimal.setScale(2).toPlainString}","period":"Q"}"""

  private def estimateJson(sym: String, date: String, e: Estimate, amt: BigDecimal => String): String =
    s"""{"date":${Json.str(date)},"symbol":${Json.str(sym)},""" +
      s""""estimatedRevenueAvg":${Json.str(e.revenue.map(amt).getOrElse("N/A"))},""" +
      s""""estimatedEpsAvg":"${e.eps.bigDecimal.setScale(4).toPlainString}",""" +
      s""""numberAnalystsEstimatedRevenue":"${e.analysts}"}"""
}
