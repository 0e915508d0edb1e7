package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.Schemas
import graft.ops.{Merge, Normalize, Quality}
import graft.io.Sinks

/** The flagship end-to-end DAG (reference main.py:38-75, SURVEY.md §3.1),
  * as ONE lazy plan per stage instead of the reference's eager loops:
  *
  *   bronze JSON -> normalize (parse/label/coerce/eps) -> quarantine split
  *   -> golden-value gate -> MERGE into Parquet state -> summary read-back
  *
  * Catalyst handles what the reference hand-rolled: the dim lookup becomes
  * a broadcast join, the upsert becomes one window pass, filters and
  * column pruning push into the JSON/Parquet scans.
  */
object Pipeline {

  /** Share-count lookup (reference transform.py:193-194). */
  val ShareCounts: Map[String, Int] = Map("TSLA" -> 3160, "RIVN" -> 920, "LCID" -> 1600)

  /** Normalize bronze FMP income JSON to the validated financial shape
    * (reference transform.py:68-100 / O-P1..P4, O-X1..X4).
    */
  def normalizeIncome(bronze: DataFrame): DataFrame = {
    import Normalize._
    val dateKey = coalesceKeyTruthy(col("date"), col("calendarYear"))
    val epsRaw  = coalesceKeyTruthy(
      col("eps").try_cast(DecimalType(10, 4)),
      col("netIncomePerShare").try_cast(DecimalType(10, 4)))
    bronze
      .withColumn("quarter_date", parseDateMulti(dateKey))
      .withColumn("quarter_label", quarterLabel(col("quarter_date")))
      .withColumn("revenue", millionsValidator(safeDecimal(col("revenue"))))
      .withColumn("gross_profit", millionsValidator(safeDecimal(col("grossProfit"))))
      .withColumn("eps_direct", epsRaw)
      .withColumn("net_income", safeDecimal(col("netIncome")))
      .withColumn("shares", sharesFor(col("symbol"), ShareCounts))
      .withColumn("eps",
        coalesce(col("eps_direct"), estimateEps(col("net_income"), col("shares"))))
      .select(col("symbol").as("ticker"), col("quarter_date"), col("quarter_label"),
        col("revenue"), col("eps"), col("gross_profit"))
  }

  /** Golden-value gate (reference transform.py:232-262): the given row must
    * exist and be within tolerance; returns the check frame (caller asserts
    * non-empty + all-true). Revenue tol = 0.1% of expected; EPS tol = 0.01.
    */
  def goldenCheck(normalized: DataFrame, ticker: String, label: String,
                  expectedRevenue: BigDecimal, expectedEps: BigDecimal): DataFrame = {
    import Quality._
    normalized
      .where(col("ticker") === ticker && col("quarter_label") === label)
      .select(col("ticker"), col("quarter_label"),
        withinTolerance(col("revenue"), lit(expectedRevenue),
          lit(expectedRevenue * BigDecimal("0.001"))).as("revenue_ok"),
        withinTolerance(col("eps"), lit(expectedEps), lit(BigDecimal("0.01"))).as("eps_ok"))
  }

  /** Normalize bronze analyst-estimates JSON (reference extract.py:113-127,
    * EstimateData config.py:100-108): same parse/label path as income, plus
    * the non-negative analyst-count constraint (negative -> null).
    */
  def normalizeEstimates(bronze: DataFrame): DataFrame = {
    import Normalize._
    val cnt = col("numberAnalystsEstimatedRevenue").try_cast(IntegerType)
    bronze
      .withColumn("quarter_date", parseDateMulti(col("date")))
      .withColumn("quarter_label", quarterLabel(col("quarter_date")))
      .withColumn("estimated_revenue", millionsValidator(safeDecimal(col("estimatedRevenueAvg"))))
      .withColumn("estimated_eps", col("estimatedEpsAvg").try_cast(DecimalType(10, 4)))
      .withColumn("analyst_count", when(cnt >= 0, cnt))
      .select(col("symbol").as("ticker"), col("quarter_date"), col("quarter_label"),
        col("estimated_revenue"), col("estimated_eps"), col("analyst_count"))
  }

  /** Typed view of the financial state table (SURVEY.md §1.2: case-class
    * core where type safety helps): compile-time field access for
    * downstream Scala consumers; the DataFrame surface stays canonical
    * for the relational operators.
    */
  def typedState(spark: SparkSession, statePath: String): org.apache.spark.sql.Dataset[Schemas.FinancialData] = {
    import spark.implicits._
    spark.read.parquet(statePath)
      .select(col("ticker"), col("quarter_date"), col("quarter_label"),
        col("revenue").cast(DecimalType(15, 2)),
        col("eps").cast(DecimalType(10, 4)),
        col("gross_profit").cast(DecimalType(15, 2)))
      .as[Schemas.FinancialData]
  }

  /** Health-check / summary query (reference load.py:229-246 +
    * main.py:140-154): per-ticker fact counts over the state table,
    * keeping zero-fact tickers from the dim side.
    */
  def healthCheck(companies: DataFrame, state: DataFrame): DataFrame =
    graft.ops.Summary.dimFactCounts(companies,
      state.select(col("ticker").as("fact_ticker")),
      "ticker", "fact_ticker", "financial_records")

  /** Quarantine predicate shared by both fact flows (reference Pydantic
    * gate, config.py:79-108). */
  private[graft] def validRow: Column =
    col("quarter_date").isNotNull && Quality.labelValid(col("quarter_label")) &&
      Quality.tickerValid(col("ticker"))

  /** Last-write-wins precedence of each fact flow. It covers every
    * non-key column: rows tying on ALL of them are identical, so the pick
    * is deterministic even for exact-duplicate batches. */
  private[graft] val IncomePrecedence: Seq[Column] =
    Seq(col("revenue").desc_nulls_last, col("eps").desc_nulls_last,
      col("gross_profit").desc_nulls_last, col("quarter_label").asc)
  private val EstimatePrecedence: Seq[Column] =
    Seq(col("estimated_revenue").desc_nulls_last, col("estimated_eps").desc_nulls_last,
      col("analyst_count").desc_nulls_last, col("quarter_label").asc)

  /** Merge a clean batch into the Parquet state table on the natural key
    * (last-write-wins, deterministic intra-batch winner) in one window
    * over one exchange: incoming rows rank above the stored row, and
    * `precedence` picks among incoming rows (stored keys are unique, so
    * ranking them by it too changes nothing). */
  private def mergeToState(spark: SparkSession, clean: DataFrame, statePath: String,
                           precedence: Seq[Column]): DataFrame = {
    // Missing path = first run; any OTHER read failure rethrows (an empty
    // bootstrap on a transient error would overwrite real state). The
    // schema is inferred here on purpose: it is the schema-drift check.
    val current = Merge.readStateOrEmpty(spark, statePath, clean.schema)
    val merged = Merge.mergeUpsert(current, clean, Seq("ticker", "quarter_date"), precedence)
    Sinks.atomicSwapWrite(spark, merged, statePath)
    // The schema just written; re-inferring it would cost a footer job.
    spark.read.schema(merged.schema).parquet(statePath)
  }

  /** Run the full income pipeline: normalize bronze, quarantine invalid
    * rows, merge into the Parquet state table (last-write-wins on the
    * natural key), and return (loadedState, quarantined).
    */
  def run(spark: SparkSession, bronzeIncomeDir: String, statePath: String): (DataFrame, DataFrame) = {
    val bronze = spark.read.schema(Schemas.fmpIncome).json(bronzeIncomeDir)
    val (clean, bad) = Quality.quarantine(normalizeIncome(bronze), validRow)
    (mergeToState(spark, clean, statePath, IncomePrecedence), bad)
  }

  /** Full reference flow through the custom DataSourceV2 source
    * (reference main.py:38-75 with extract.py's per-symbol GET as the
    * extract stage): [[graft.sources.FmpSource]] packs the symbols into
    * at most leaf-parallelism partitions, each fetching its symbols one
    * by one, and prunes fetches for symbols Spark filters away, then the
    * same normalize -> quarantine -> merge plan as [[run]]. The ONLY
    * difference from [[run]] is the source node — the operator layer is
    * source-agnostic, which is the point of the connector API.
    */
  def runFromSource(spark: SparkSession, root: String, symbols: Seq[String],
                    statePath: String): (DataFrame, DataFrame) = {
    val bronze = spark.read.format("graft.sources.FmpSource")
      .option("root", root).option("endpoint", "income-statement")
      .option("symbols", symbols.mkString(","))
      .option("dataset", "income").load()
    val (clean, bad) = Quality.quarantine(normalizeIncome(bronze), validRow)
    (mergeToState(spark, clean, statePath, IncomePrecedence), bad)
  }

  /** Run the analyst-estimates flow (reference S3+S11, load.py:163-200):
    * same shape as [[run]] over the estimates schema and state table.
    */
  def runEstimates(spark: SparkSession, bronzeEstimatesDir: String,
                   statePath: String): (DataFrame, DataFrame) = {
    val bronze = spark.read.schema(Schemas.fmpEstimates).json(bronzeEstimatesDir)
    val (clean, bad) = Quality.quarantine(normalizeEstimates(bronze), validRow)
    (mergeToState(spark, clean, statePath, EstimatePrecedence), bad)
  }
}
