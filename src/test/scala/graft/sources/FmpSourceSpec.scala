package graft.sources

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, In, IsNotNull}
import graft.SparkSpec
import graft.model.Schemas

class FmpSourceSpec extends SparkSpec {
  import spark.implicits._

  private def stage(): String = {
    val root = java.nio.file.Files.createTempDirectory("fmp_spec").toString
    Seq(
      ("2025-03-31", "AAA", "100.00", "1.5"),
      ("2025-06-30", "AAA", "200.00", "2.5"),
      ("2025-03-31", "BBB", "300.00", "3.5"))
      .toDF("date", "symbol", "revenue", "eps")
      .withColumn("sym_part", col("symbol"))
      .write.partitionBy("sym_part").json(root + "/income-statement")
    root
  }

  private def read(root: String, symbols: String) =
    spark.read.format("graft.sources.FmpSource")
      .option("root", root).option("endpoint", "income-statement")
      .option("symbols", symbols).option("dataset", "income").load()

  test("reads staged records per symbol with the declared bronze schema") {
    val df = read(stage(), "AAA,BBB")
    assert(df.schema == Schemas.fmpIncome)
    val got = df.select("date", "symbol", "revenue", "eps")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set(
      ("2025-03-31", "AAA", "100.00", "1.5"),
      ("2025-06-30", "AAA", "200.00", "2.5"),
      ("2025-03-31", "BBB", "300.00", "3.5")))
    // Unstaged fields come back null, not errors.
    assert(df.where(col("netIncome").isNotNull).count() == 0)
  }

  test("symbol predicates prune partitions; other filters stay residual") {
    val slots = spark.sparkContext.defaultParallelism // also makes the session active
    val b = new FmpScanBuilder(Schemas.fmpIncome,
      Map("root" -> "/tmp/x", "endpoint" -> "e", "symbols" -> "AAA,BBB,CCC"))
    val residual = b.pushFilters(Array(
      In("symbol", Array("AAA", "BBB")), EqualTo("symbol", "BBB"),
      IsNotNull("revenue")))
    assert(residual.toSeq == Seq(IsNotNull("revenue"))) // symbol filters consumed
    val parts = b.build().asInstanceOf[FmpScan].planInputPartitions()
      .map(_.asInstanceOf[FmpPartition])
    assert(parts.flatMap(_.symbols).toSeq == Seq("BBB"))
    assert(parts.length <= slots && parts.forall(_.symbols.nonEmpty), parts.toSeq)
  }

  test("HTTP transport: symbols pack into at most leaf-parallelism partitions, in order") {
    val root = stage()
    val symbols = Seq("AAA", "BBB") ++ (2 until 10).map(i => f"S$i%02d")
    val kept = symbols.filterNot(Set("S03", "S07"))
    val server = new LoopbackApiServer(root, failFirst = true)
    spark.conf.set("spark.sql.leafNodeDefaultParallelism", "3")
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", symbols.mkString(",")).option("dataset", "income").load()
        .where(col("symbol").isin(kept: _*))
      val parts = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => s
      }.head.inputPartitions.map(_.asInstanceOf[FmpPartition])
      assert(parts.length <= 3 && parts.forall(_.symbols.nonEmpty), parts)
      assert(parts.flatMap(_.symbols) == kept, "contiguous groups in symbol order")
      assert(df.count() == 3) // AAA's two staged rows and BBB's one
      // Each fetched symbol: the injected first-attempt 500, then the
      // retry. Pruned symbols are never requested.
      kept.foreach(s => assert(server.hitCount(s"/income-statement/$s") == 2, s))
      Seq("S03", "S07").foreach(s => assert(server.hitCount(s"/income-statement/$s") == 0, s))
    } finally {
      spark.conf.unset("spark.sql.leafNodeDefaultParallelism")
      server.stop()
    }
  }

  test("a symbol with no staged directory is an empty response") {
    val df = read(stage(), "AAA,ZZZ")
    assert(df.where(col("symbol") === "ZZZ").count() == 0)
    assert(df.count() == 2)
  }

  test("HTTP transport: real GETs, retry on first-attempt 500, pruned symbols never fetched") {
    val root = stage()
    val server = new LoopbackApiServer(root, failFirst = true)
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA,BBB,ZZZ").option("dataset", "income").load()
        .where(col("symbol").isin("AAA", "BBB"))
      val got = df.select("date", "symbol", "revenue", "eps")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSet
      assert(got == Set(
        ("2025-03-31", "AAA", "100.00", "1.5"),
        ("2025-06-30", "AAA", "200.00", "2.5"),
        ("2025-03-31", "BBB", "300.00", "3.5")))
      // Retry path: the injected first-attempt 500 forces TWO requests
      // per fetched symbol. Partition pruning: the isin predicate above
      // prunes ZZZ, so its GET must never be issued.
      assert(server.hitCount("/income-statement/AAA") == 2)
      assert(server.hitCount("/income-statement/BBB") == 2)
      assert(!server.requestedPaths.contains("/income-statement/ZZZ"),
        server.requestedPaths.toString)
    } finally server.stop()
  }

  test("HTTP transport: 429 with Retry-After is retried like the reference's policy") {
    // Reference retry set {429,500,502,503,504} (extract.py:52-56): a
    // rate-limited first attempt must be re-requested, honoring the
    // server's Retry-After before the second GET.
    val server = new LoopbackApiServer(stage(), failFirst = true,
      failStatus = 429, retryAfterSec = Some(0L))
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA,BBB").option("dataset", "income").load()
      assert(df.count() == 3)
      assert(server.hitCount("/income-statement/AAA") == 2)
      assert(server.hitCount("/income-statement/BBB") == 2)
    } finally server.stop()
  }

  test("HTTP transport: a 404 fails immediately, no retry") {
    val server = new LoopbackApiServer(stage(), failFirst = true, failStatus = 404)
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA").option("dataset", "income").load()
      val e = intercept[org.apache.spark.SparkException] { df.count() }
      assert(e.getMessage.contains("HTTP 404") ||
        Option(e.getCause).exists(_.getMessage.contains("HTTP 404")))
      // Exactly ONE request: the source-level retry loop must not
      // re-request a non-retryable status. (failFirst serves 200 after
      // the first failure, so a retry would have SUCCEEDED — the thrown
      // exception above already proves no retry happened; local mode
      // runs tasks with maxFailures=1, so no task-level re-run either.)
      assert(server.hitCount("/income-statement/AAA") == 1)
    } finally server.stop()
  }

  test("HTTP transport: an empty-array response is a symbol with no data") {
    val server = new LoopbackApiServer(stage())
    try {
      val df = spark.read.format("graft.sources.FmpSource")
        .option("url", server.url).option("endpoint", "income-statement")
        .option("symbols", "AAA,ZZZ").option("dataset", "income").load()
      assert(df.where(col("symbol") === "ZZZ").count() == 0)
      assert(df.count() == 2)
    } finally server.stop()
  }

  test("column pruning reaches the scan") {
    val df = read(stage(), "AAA").select("symbol", "revenue")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("columns=symbol,revenue"),
      s"pruned read schema should reach FmpScan.description:\n$scan")
    assert(df.collect().map(_.getString(1)).sorted.toSeq == Seq("100.00", "200.00"))
  }
}
