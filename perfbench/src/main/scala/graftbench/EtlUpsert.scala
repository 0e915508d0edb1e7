package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.Pipeline
import graft.io.Sinks
import graft.model.Schemas
import graft.ops.{AsOf, Merge, Quality, Windows}

/** The paper's DAG as a closed loop of waves. Each wave: income over HTTP
  * through `Pipeline.runFromSource`, estimates from bronze JSON through
  * `Pipeline.runEstimates`, then the read queries on the new state and the
  * CSV export. The op is the wave up to both merges committing; the read
  * queries are timed one by one as queries.
  */
object EtlUpsert {
  val Tickers = 100
  val History = 24
  /** Wall of one warm wave (merges, queries, export) on 4 cores: sets how
    * many waves `--seconds` buys. */
  val NominalWaveS = 4.0
  /** Untimed waves before the measured ones. Wave time falls steeply over
    * the first four waves on 4 cores while the JIT compiles the
    * incremental plans, then slowly; measuring from the fifth keeps the
    * steep part out of the median. */
  val WarmWaves = 4

  private val Keys = Seq("ticker", "quarter_date")
  private val IncomePrecedence = Seq(col("revenue").desc_nulls_last, col("eps").desc_nulls_last,
    col("gross_profit").desc_nulls_last, col("quarter_label").asc)
  private val EstimatePrecedence = Seq(col("estimated_revenue").desc_nulls_last,
    col("estimated_eps").desc_nulls_last, col("analyst_count").desc_nulls_last,
    col("quarter_label").asc)
  // The pipeline's quarantine predicate (private to Pipeline), restated.
  private def validRow: Column = col("quarter_date").isNotNull &&
    Quality.labelValid(col("quarter_label")) && Quality.tickerValid(col("ticker"))

  private final case class Times(op: Double, queries: Seq[Double],
                                 incBad: DataFrame, estBad: DataFrame,
                                 health: Array[Row], latest: Array[Row], asof: Row)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val gen = new EtlGen(ctx.seed, Tickers, History)
    val emu = new FmpEmulator(ctx.nproc)
    val incomePath = ctx.dir("etl/state/quarterly_financials")
    val estPath = ctx.dir("etl/state/analyst_estimates")
    val exportDir = ctx.dir("etl/export")
    val companies = spark.createDataFrame(gen.tickers.map(Row(_)).asJava,
      StructType(Seq(StructField("ticker", StringType))))
    var inputBytes = 0L

    def stateOrEmpty(path: String, schema: StructType): DataFrame =
      try spark.read.parquet(path)
      catch {
        case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }

    def timed[T](f: => T): (T, Double) = {
      val t = System.nanoTime(); val r = f; (r, (System.nanoTime() - t) / 1e9)
    }

    /** One wave's merges, untraced: the public pipeline entry points. */
    def mergePlain(estDir: String): (DataFrame, DataFrame) = {
      val (_, bad) = Pipeline.runFromSource(spark, emu.url, gen.tickers, incomePath)
      val (_, eBad) = Pipeline.runEstimates(spark, estDir, estPath)
      (bad, eBad)
    }

    /** The same merges traced: the constituents of runFromSource and
      * runEstimates one at a time, materialized between spans. */
    def mergeTraced(estDir: String): (DataFrame, DataFrame) = {
      def flow(src: => DataFrame, normalize: DataFrame => DataFrame,
               prec: Seq[Column], path: String, fetchSpan: Option[String]): DataFrame = {
        val held = mutable.ArrayBuffer.empty[DataFrame]
        def hold(df: DataFrame): DataFrame = { held += df.persist(); df }
        try {
          val bronze = fetchSpan match {
            case Some(name) => tr.span(name) {
              val (r0, t0, b0) = (emu.requests.get, emu.retries.get, emu.bytesOut.get)
              val b = hold(src)
              b.count()
              tr.count("sources.requests", emu.requests.get - r0)
              tr.count("sources.retries", emu.retries.get - t0)
              tr.count("sources.bytes_in", emu.bytesOut.get - b0)
              b
            }
            case None => src
          }
          val (clean, bad) = tr.span("transform.normalize") {
            val (c, b) = Quality.quarantine(normalize(bronze), validRow)
            val cc = hold(c)
            val nClean = cc.count()
            val nBad = b.count()
            tr.count("transform.rows_in", nClean + nBad)
            tr.count("transform.quarantined", nBad)
            (cc, b)
          }
          val merged = tr.span("merge.upsert") {
            val deduped = hold(Merge.lastWriteWins(clean, Keys, prec))
            tr.count("merge.rows_incoming", deduped.count())
            val m = hold(Merge.mergeUpsert(stateOrEmpty(path, deduped.schema), deduped, Keys))
            tr.count("merge.state_rows", m.count())
            m
          }
          tr.span("sinks.swap") {
            Sinks.atomicSwapWrite(spark, merged, path)
            tr.count("sinks.files_written", Main.fileCount(path))
          }
          bad
        } finally held.foreach(_.unpersist())
      }
      val bad = flow(spark.read.format("graft.sources.FmpSource")
          .option("root", emu.url).option("endpoint", "income-statement")
          .option("symbols", gen.tickers.mkString(",")).option("dataset", "income").load(),
        Pipeline.normalizeIncome, IncomePrecedence, incomePath, Some("sources.fetch"))
      val eBad = flow(spark.read.schema(Schemas.fmpEstimates).json(estDir),
        Pipeline.normalizeEstimates, EstimatePrecedence, estPath, None)
      (bad, eBad)
    }

    def wave(traced: Boolean, w: EtlGen.Wave): Times = {
      val estDir = ctx.dir(f"etl/bronze/estimates/wave=${w.index}%05d")
      new File(estDir).mkdirs()
      Files.writeString(new File(estDir, "part-00000.json").toPath,
        w.estimateLines.mkString("", "\n", "\n"))
      inputBytes += w.inputBytes
      emu.publish(w.incomeBodies, w.throttled)
      tr.setOp(w.index)
      tr.span("etl.wave") {
        val ((bad, eBad), opS) = tr.span("etl.merges") {
          timed(if (traced) mergeTraced(estDir) else mergePlain(estDir))
        }
        val income = spark.read.parquet(incomePath)
        val est = spark.read.parquet(estPath)
        val (health, hS) = timed(tr.span("read.health") {
          Pipeline.healthCheck(companies, income).collect()
        })
        val (latest, lS) = timed(tr.span("read.latest") {
          Windows.topKPerGroup(income, Seq("ticker"), Seq(col("quarter_date").desc), 1)
            .select(col("ticker"), col("quarter_date")).collect()
        })
        val (asof, aS) = timed(tr.span("read.asof") {
          AsOf.asofJoinBackward(income.select("ticker", "quarter_date", "eps"),
              est.select("ticker", "quarter_date", "estimated_eps"),
              Seq("ticker"), "quarter_date", Seq("estimated_eps"), lit(0L))
            .agg(count(lit(1)), count(col("estimated_eps"))).head()
        })
        tr.span("sinks.csv") {
          Sinks.exportCsv(income, exportDir, Seq(col("ticker").asc, col("quarter_date").desc))
        }
        Times(opS, Seq(hS, lS, aS), bad, eBad, health, latest, asof)
      }
    }

    def check(w: EtlGen.Wave, t: Times): Option[String] = {
      emu.settle()
      val problems = mutable.ArrayBuffer.empty[String]
      def expect(what: String, got: Any, want: Any): Unit =
        if (got != want) problems += s"$what: got $got, want $want"
      expect("income quarantined", t.incBad.count(), w.incomeQuarantined.toLong)
      expect("estimates quarantined", t.estBad.count(), w.estQuarantined.toLong)
      val inc = spark.read.parquet(incomePath).collect().map(_.toSeq)
      expect("income state digest", Stats.digest(inc.map(r => r.map(render))).hex,
        Stats.digest(gen.incomeRows).hex)
      val est = spark.read.parquet(estPath).collect().map(_.toSeq)
      expect("estimates state digest", Stats.digest(est.map(r => r.map(render))).hex,
        Stats.digest(gen.estimateRows).hex)
      val perTicker = gen.income.keys.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      expect("health counts", t.health.map(r => r.getString(0) -> r.getLong(1)).toMap,
        gen.tickers.map(k => k -> perTicker.getOrElse(k, 0L)).toMap)
      expect("latest quarter", t.latest.map(r => r.getString(0) -> r.get(1).toString).toMap,
        gen.latestQuarter)
      expect("asof rows", t.asof.getLong(0), gen.income.size.toLong)
      expect("asof matched", t.asof.getLong(1), gen.asofMatched)
      val csvRows = new File(exportDir).listFiles().filter(_.getName.endsWith(".csv"))
        .map(f => Files.lines(f.toPath).count() - 1).sum
      expect("csv rows", csvRows, gen.income.size.toLong)
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }

    /** A fixed number of waves, so every run measures the same wave
      * positions (state size, JIT history) whatever the engine's speed. */
    def measured(traced: Boolean, waves: Int): (Seq[Double], Seq[Double], Seq[Double]) = {
      val ops = mutable.ArrayBuffer.empty[Double]
      val queries = mutable.ArrayBuffer.empty[Double]
      val rates = mutable.ArrayBuffer.empty[Double]
      for (_ <- 1 to waves) {
        val w = gen.next()
        ctx.ops.run(s"etl wave ${w.index}")(wave(traced, w))(t => check(w, t)).foreach { t =>
          ops += t.op; queries ++= t.queries; rates += w.inputRows / t.op
        }
      }
      (ops.toSeq, queries.toSeq, rates.toSeq)
    }

    try {
      // Warm-up, untimed: wave 0 loads the history cold, the others run
      // the incremental plans until the JIT has caught up. Their output is
      // covered by the first measured wave's check, which compares the
      // whole state.
      for (_ <- 0 until WarmWaves) wave(traced = false, gen.next())
      ctx.setupDone()
      val waves = math.max(3, math.round(ctx.seconds / NominalWaveS).toInt)
      val (ops, queries, rates) = measured(traced = false, waves)
      ctx.latency("op", ops, withTail = true)
      ctx.throughput(rates)
      ctx.latency("query", queries, withTail = true, endToEnd = false)
      ctx.e2e("space_amp") = (Main.duBytes(incomePath, estPath, exportDir).toDouble / inputBytes, "B/B")
      if (ctx.trace) {
        tr.start()
        val (tops, _, _) = measured(traced = true, waves)
        Layers.report(ctx, ops, tops)
      }
    } finally emu.stop()
  }

  /** Renders a state-table cell the way the generator's truth does. */
  private def render(v: Any): Any = v match {
    case d: java.sql.Date => d.toString
    case other => other
  }
}
