package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.io.Sinks
import graft.model.Schemas

/** End-to-end flagship DAG (reference main.py:38-75): bronze JSON ->
  * normalize -> quarantine -> merge into Parquet state -> golden check,
  * plus merge idempotence and the CSV export/re-ingest round trip
  * (load.py:202-227).
  */
class PipelineSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  // FIXTURES.md §1 golden rows + edge variants (test_edge_cases.py:131-206).
  private val bronzeJson = Seq(
    """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22500000000, "eps": 0.40, "grossProfit": 5000000000}""",
    """{"date": "2025-03-31", "symbol": "TSLA", "revenue": 20000000000, "eps": 0.35, "grossProfit": 4500000000}""",
    """{"date": "2025-06-30", "symbol": "RIVN", "revenue": 1500000000, "eps": -0.50, "grossProfit": 300000000}""",
    """{"date": "invalid-date", "symbol": "LCID", "revenue": 800000000, "eps": -0.30, "grossProfit": 100000000}""",
    """{"date": "2025-06-30", "symbol": "BADTICKER99X", "revenue": "N/A", "eps": "null", "grossProfit": "TBD"}""")

  private def writeBatch(lines: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft_bronze").toString
    Files.write(java.nio.file.Paths.get(dir, "income.json"), lines.mkString("\n").getBytes)
    dir
  }

  private def writeBronze(): String = writeBatch(bronzeJson)

  test("full pipeline: bronze -> state table with golden Tesla row; invalid rows quarantined") {
    val bronzeDir = writeBronze()
    val statePath = Files.createTempDirectory("graft_state").toString + "/financials"
    val (state, quarantined) = Pipeline.run(spark, bronzeDir, statePath)

    // golden check (transform.py:232-262): TSLA 2025-Q2 revenue 22.5e9 ± 0.1%, eps 0.40 ± 0.01
    val golden = Pipeline.goldenCheck(state, "TSLA", "2025-Q2",
      BigDecimal("22500000000"), BigDecimal("0.40")).collect()
    assert(golden.length == 1)
    assert(golden.head.getAs[Boolean]("revenue_ok"))
    assert(golden.head.getAs[Boolean]("eps_ok"))

    // invalid-date LCID row and over-length ticker row are quarantined
    val badTickers = quarantined.select("ticker").collect().map(_.getString(0)).toSet
    assert(badTickers == Set("LCID", "BADTICKER99X"))
    val firstRows = state.collect().toSet // materialize before the next swap
    assert(firstRows.size == 3)

    // typed view: compile-time field access over the same state
    val typed = Pipeline.typedState(spark, statePath).collect()
    assert(typed.length == 3)
    assert(typed.find(_.ticker == "TSLA").exists(_.revenue.exists(_ > BigDecimal(0))))

    // re-running the same batch is a no-op (merge idempotence)
    val (state2, _) = Pipeline.run(spark, bronzeDir, statePath)
    assert(state2.collect().toSet == firstRows)
  }

  test("CSV export -> re-ingest round trip preserves the state table (load.py:202-227)") {
    val bronzeDir = writeBronze()
    val statePath = Files.createTempDirectory("graft_state2").toString + "/financials"
    val (state, _) = Pipeline.run(spark, bronzeDir, statePath)

    val csvDir = Files.createTempDirectory("graft_csv").toString + "/export"
    Sinks.exportCsv(state, csvDir, Seq(col("ticker").asc, col("quarter_date").desc))
    val back = spark.read.schema(Schemas.processedCsv)
      .option("header", "true").csv(csvDir)

    val a = state.select("ticker", "quarter_date", "quarter_label", "revenue", "eps", "gross_profit")
      .collect().map(_.toSeq).toSet
    val b = back.collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("exportCsv refuses oversized datasets; partitioned export preserves global order") {
    val big = spark.range(0, 100).toDF("id")
    val e = intercept[IllegalArgumentException] {
      Sinks.exportCsv(big, Files.createTempDirectory("graft_csv_cap").toString + "/x",
        Seq(col("id").asc), maxRows = 50L)
    }
    assert(e.getMessage.contains("exportCsvPartitioned"))
    // The pointer target: range-partitioned export, part files in filename
    // order concatenate to the global order.
    val dir = Files.createTempDirectory("graft_csv_part").toString + "/y"
    // Pin the file count explicitly — without it AQE may legitimately
    // coalesce a 100-row shuffle to one partition.
    Sinks.exportCsvPartitioned(big, dir, Seq(col("id").asc), numPartitions = Some(4))
    val parts = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .sortBy(_.getName)
    assert(parts.length > 1, "range export should produce multiple part files")
    val ids = parts.flatMap(f =>
      scala.io.Source.fromFile(f).getLines().drop(1).map(_.toLong).toList)
    assert(ids.toList == (0L until 100L).toList,
      "filename-ordered concatenation must equal the global sort order")
  }

  test("atomic swap write never leaves a missing table") {
    val path = Files.createTempDirectory("graft_swap").toString + "/t"
    Sinks.atomicSwapWrite(spark, Seq((1, "a")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 1)
    Sinks.atomicSwapWrite(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"), path)
    assert(spark.read.parquet(path).count() == 2)
  }

  test("runFromSource: the full flow through the DSv2 extract equals run() on the same rows") {
    val root = Files.createTempDirectory("graft_fmp_pipe").toString
    val bronzeRows = Seq(
      """{"date": "2025-03-31", "symbol": "TSLA", "revenue": "21300000000", "eps": "0.45", "grossProfit": "4100000000", "netIncome": "1400000000", "calendarYear": "2025", "period": "Q1"}""",
      """{"date": "2025-06-30", "symbol": "TSLA", "revenue": "22500000000", "eps": "0.52", "grossProfit": "4500000000", "netIncome": "1700000000", "calendarYear": "2025", "period": "Q2"}""",
      """{"date": "2025-03-31", "symbol": "RIVN", "revenue": "1200000000", "eps": "", "grossProfit": "100000000", "netIncome": "-1400000000", "calendarYear": "2025", "period": "Q1"}""")
    // Stage as the DSv2 file transport expects AND as a flat bronze dir.
    val tslaDir = Files.createDirectories(
      java.nio.file.Paths.get(root, "income-statement", "sym_part=TSLA"))
    val rivnDir = Files.createDirectories(
      java.nio.file.Paths.get(root, "income-statement", "sym_part=RIVN"))
    Files.write(tslaDir.resolve("part-0.json"),
      bronzeRows.take(2).mkString("\n").getBytes)
    Files.write(rivnDir.resolve("part-0.json"), bronzeRows(2).getBytes)
    val flatDir = Files.createTempDirectory("graft_fmp_flat").toString
    Files.write(java.nio.file.Paths.get(flatDir, "bronze.json"),
      bronzeRows.mkString("\n").getBytes)

    val stateA = Files.createTempDirectory("graft_fmp_stateA").toString + "/s"
    val stateB = Files.createTempDirectory("graft_fmp_stateB").toString + "/s"
    val (viaSource, badA) = Pipeline.runFromSource(spark, root,
      Seq("TSLA", "RIVN"), stateA)
    val (viaFiles, badB) = Pipeline.run(spark, flatDir, stateB)
    assert(badA.count() == badB.count())
    val a = viaSource.collect().map(_.toSeq).toSet
    val b = viaFiles.collect().map(_.toSeq).toSet
    assert(a == b && a.size == 3, "source node must be the only difference")
  }

  // Second batch over writeBronze()'s state: in-batch duplicates (TSLA Q2
  // twice with different revenue, RIVN Q2 twice identical), restatements
  // of stored keys (TSLA Q2, RIVN Q2, TSLA Q1 with a null eps) and new
  // keys (TSLA Q3, LCID Q1).
  private val restateJson = Seq(
    """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22600000000, "eps": 0.41, "grossProfit": 5000000000}""",
    """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22400000000, "eps": 0.42, "grossProfit": 5100000000}""",
    """{"date": "2025-06-30", "symbol": "RIVN", "revenue": 1400000000, "eps": -0.45, "grossProfit": 250000000}""",
    """{"date": "2025-06-30", "symbol": "RIVN", "revenue": 1400000000, "eps": -0.45, "grossProfit": 250000000}""",
    """{"date": "2025-03-31", "symbol": "TSLA", "revenue": 19000000000, "grossProfit": 4000000000}""",
    """{"date": "2025-09-30", "symbol": "TSLA", "revenue": 25000000000, "eps": 0.50, "grossProfit": 5500000000}""",
    """{"date": "2025-03-31", "symbol": "LCID", "revenue": 700000000, "eps": -0.25, "grossProfit": 90000000}""")

  test("the one-window merge equals the two-step dedup-then-upsert merge") {
    import graft.ops.{Merge, Quality}
    val statePath = Files.createTempDirectory("graft_fused").toString + "/financials"
    Pipeline.run(spark, writeBronze(), statePath)
    val batchDir = writeBatch(restateJson)
    val keys = Seq("ticker", "quarter_date")
    val (clean, _) = Quality.quarantine(Pipeline.normalizeIncome(
      spark.read.schema(Schemas.fmpIncome).json(batchDir)), Pipeline.validRow)
    val twoStep = Merge.mergeUpsert(spark.read.parquet(statePath),
      Merge.lastWriteWins(clean, keys, Pipeline.IncomePrecedence), keys)
      .collect().map(_.toSeq).toSet
    val (fused, _) = Pipeline.run(spark, batchDir, statePath)
    val got = fused.collect().map(_.toSeq).toSet
    assert(got == twoStep)
    assert(got.size == 5) // TSLA Q1-Q3, RIVN Q2, LCID Q1
    // The batch's best TSLA Q2 row (highest revenue, eps 0.41) replaced
    // the stored one (eps 0.40).
    val tslaQ2 = got.filter(r => r.head == "TSLA" && r(2) == "2025-Q2").toSeq
    assert(tslaQ2.size == 1 &&
      tslaQ2.head(4).asInstanceOf[java.math.BigDecimal].compareTo(new java.math.BigDecimal("0.41")) == 0,
      tslaQ2)
  }

  test("the income merge writes through exactly one hash exchange") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.command.DataWritingCommandExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val statePath = Files.createTempDirectory("graft_onex").toString + "/financials"
    Pipeline.run(spark, writeBronze(), statePath)
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[
      org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.run(spark, writeBatch(restateJson), statePath)
      // Listener delivery is async: poll for the state write's plan.
      def writes(): Seq[org.apache.spark.sql.execution.SparkPlan] = {
        import scala.jdk.CollectionConverters._
        plans.iterator().asScala.toSeq.filter(p =>
          collectWithSubqueries(p) { case w: DataWritingCommandExec => w.toString }
            .exists(_.contains("financials_tmp")))
      }
      val deadline = System.nanoTime() + 15000000000L
      while (System.nanoTime() < deadline && writes().isEmpty) Thread.sleep(100)
      val w = writes()
      assert(w.size == 1, s"expected one state write, captured ${w.size}")
      val hashExchanges = collectWithSubqueries(w.head) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
      }
      assert(hashExchanges.size == 1, w.head.toString)
    } finally spark.listenerManager.unregister(listener)
  }

  test("runEstimates: estimates flow merges into its own state table") {
    val dir = Files.createTempDirectory("graft_est").toString
    Files.write(java.nio.file.Paths.get(dir, "est.json"),
      Seq(
        """{"date": "2025-09-30", "symbol": "TSLA", "estimatedRevenueAvg": 26000000000, "estimatedEpsAvg": 0.45, "numberAnalystsEstimatedRevenue": 24}""",
        """{"date": "bad-date", "symbol": "TSLA", "estimatedRevenueAvg": 1, "estimatedEpsAvg": 1, "numberAnalystsEstimatedRevenue": 1}""")
        .mkString("\n").getBytes)
    val statePath = Files.createTempDirectory("graft_est_state").toString + "/estimates"
    val (state, bad) = Pipeline.runEstimates(spark, dir, statePath)
    assert(state.count() == 1)
    assert(bad.count() == 1)
    val row = state.collect().head
    assert(row.getAs[String]("quarter_label") == "2025-Q3")
    assert(row.getAs[Int]("analyst_count") == 24)
  }

  test("normalizeEstimates: estimate shape with non-negative analyst count") {
    val df = Seq(
      """{"date": "2025-09-30", "symbol": "TSLA", "estimatedRevenueAvg": 26000000000, "estimatedEpsAvg": 0.45, "numberAnalystsEstimatedRevenue": 24}""",
      """{"date": "2025-09-30", "symbol": "RIVN", "estimatedRevenueAvg": "N/A", "estimatedEpsAvg": -0.40, "numberAnalystsEstimatedRevenue": -3}""")
      .toDF("value")
    val bronze = spark.read.schema(Schemas.fmpEstimates).json(df.as[String])
    val got = Pipeline.normalizeEstimates(bronze).collect()
      .map(r => r.getAs[String]("ticker") -> r).toMap
    val tsla = got("TSLA")
    assert(tsla.getAs[String]("quarter_label") == "2025-Q3")
    assert(BigDecimal(tsla.getAs[java.math.BigDecimal]("estimated_revenue")) == BigDecimal("26000000000.00"))
    assert(tsla.getAs[Int]("analyst_count") == 24)
    val rivn = got("RIVN")
    assert(rivn.getAs[java.math.BigDecimal]("estimated_revenue") == null)
    assert(rivn.isNullAt(rivn.fieldIndex("analyst_count"))) // negative -> null
  }

  test("healthCheck: per-ticker fact counts keep zero-fact companies") {
    val companies = Seq(("TSLA", "Tesla Inc", "EV"), ("LCID", "Lucid Inc", "EV"))
      .toDF("ticker", "name", "sector")
    val state = Seq(("TSLA", "2025-Q1"), ("TSLA", "2025-Q2")).toDF("ticker", "quarter_label")
    val got = Pipeline.healthCheck(companies, state)
      .collect().map(r => r.getAs[String]("ticker") -> r.getAs[Long]("financial_records")).toMap
    assert(got == Map("TSLA" -> 2L, "LCID" -> 0L))
  }

  test("normalizeIncome derives eps from net income when eps is absent (O-P3+O-X4)") {
    val df = Seq(
      """{"date": "2025-06-30", "symbol": "TSLA", "revenue": 22500000000, "netIncome": 1000000000, "grossProfit": 5000000000}""")
      .toDF("value")
    val bronze = spark.read.schema(Schemas.fmpIncome).json(df.as[String])
    val got = Pipeline.normalizeIncome(bronze).collect().head
    // (1e9/1e6)/3160 shares = 0.3165
    assert(BigDecimal(got.getAs[java.math.BigDecimal]("eps")) == BigDecimal("0.3165"))
  }
}
