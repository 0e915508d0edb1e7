package graftbench

import java.io.File
import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Everything one workload run shares: the session, the seed, the
  * measurement budget, the tracer and the result being assembled. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
                val out: File, val trace: Boolean, val startMs: Long) {
  val ops = new Stats.Ops
  val tracer = new Tracer(spark)
  val nproc: Int = Runtime.getRuntime.availableProcessors()
  /** End-to-end metrics in report order: name -> (value, unit). */
  val e2e = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Per-layer metrics of the traced run: name -> (value, unit). */
  val layers = mutable.LinkedHashMap.empty[String, (Double, String)]
  /** Reported by name and unit but not part of the result line. */
  val notes = mutable.ArrayBuffer.empty[String]
  var setupS: Double = Double.NaN

  def dir(name: String): String = new File(out, name).getAbsolutePath

  /** Marks the end of set-up: process start to session up and the
    * workload's untimed warm-up op done. */
  def setupDone(): Unit = {
    setupS = (System.currentTimeMillis() - startMs) / 1e3
    System.err.println(f"[perfbench] set-up done at $setupS%.3f s")
  }

  def layer(name: String, v: Double, unit: String): Unit = layers(name) = (v, unit)

  /** Input rows per busy second: the median over ops of an op's input rows
    * over its seconds, robust to one slow op in a short run. */
  def throughput(perOp: Seq[Double]): Unit =
    if (perOp.nonEmpty) e2e("rows_per_s") = (Stats.median(perOp), "rows/s")

  /** Median and data-backed tail of a latency sample, reported by name. */
  def latency(prefix: String, xs: Seq[Double], withTail: Boolean, endToEnd: Boolean = true): Unit = {
    if (xs.nonEmpty) {
      val p50 = Stats.median(xs)
      if (endToEnd) e2e(s"${prefix}_p50_s") = (p50, "s")
      else notes += f"${prefix}_p50_s: $p50%.6f s (n=${xs.size})"
    }
    if (withTail) notes += (Stats.tail(xs) match {
      case Some(t) => f"${prefix}_tail_s: ${t.value}%.4f s (p${t.percentile}%.1f, n=${t.n})"
      case None => s"${prefix}_tail_s: n/a s (n=${xs.size} < 11 samples)"
    })
  }
}

object Main {

  /** The engine's shipped session (graft.Main.session): local[nproc],
    * shuffle partitions = nproc, UTC. Spark's local files stay in the run
    * directory. */
  def session(out: File): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(out, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(out, "warehouse").getAbsolutePath)
      .getOrCreate()
  }

  /** Host weather at measurement start, as graft.Bench records it:
    * load averages and a 500 ms system-CPU share from /proc/stat. */
  def hostState(): (Double, Double) = {
    def line(p: String) = scala.util.Try(Files.readAllLines(Path.of(p)).get(0)).toOption
    val load1 = line("/proc/loadavg").flatMap(_.split("\\s+").headOption)
      .flatMap(_.toDoubleOption).getOrElse(Double.NaN)
    def cpu() = line("/proc/stat").filter(_.startsWith("cpu "))
      .map(_.trim.split("\\s+").drop(1).flatMap(_.toLongOption).take(8))
    val a = cpu(); Thread.sleep(500); val b = cpu()
    val sys = (a, b) match {
      case (Some(x), Some(y)) if x.length >= 4 && y.length >= 4 =>
        val tot = y.sum - x.sum
        if (tot > 0) 100.0 * (y(2) - x(2)) / tot else Double.NaN
      case _ => Double.NaN
    }
    (load1, sys)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def rssPeakMb(): Double = {
    val l = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    l.split("\\s+")(1).toDouble / 1024.0
  }

  def fileCount(path: String): Long = {
    val f = new File(path)
    if (!f.exists) 0L else Files.walk(f.toPath).filter(Files.isRegularFile(_)).count()
  }

  def duBytes(paths: String*): Long = paths.map(new File(_)).filter(_.exists).map { f =>
    Files.walk(f.toPath).filter(Files.isRegularFile(_))
      .mapToLong(Files.size(_)).sum()
  }.sum

  val Workloads: Map[String, Ctx => Unit] = Map(
    "etl_upsert" -> EtlUpsert.run,
    "corpus_clean" -> CorpusClean.run,
    "stream_ingest" -> StreamIngest.run)

  def main(args: Array[String]): Unit = {
    val flags = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = flags.getOrElse("workload", "")
    val run = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; one of ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = flags.get("seed").flatMap(_.toLongOption).getOrElse(1L)
    val seconds = flags.get("seconds").flatMap(_.toDoubleOption).getOrElse(10.0)
    val trace = flags.get("trace").contains("1")
    val out = new File(flags.getOrElse("out", "perfbench/out/run")).getAbsoluteFile
    val startMs = flags.get("start-ms").flatMap(_.toLongOption)
      .getOrElse(java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime)
    out.mkdirs()

    def progress(what: String): Unit = System.err.println(
      f"[perfbench] $what at ${(System.currentTimeMillis() - startMs) / 1e3}%.3f s")
    progress("jvm up")
    val (load1, sysPct) = hostState()
    val spark = session(out)
    progress("session up")
    val ctx = new Ctx(spark, seed, seconds, out, trace, startMs)
    val crashed = try { run(ctx); None }
      catch { case e: Exception => e.printStackTrace(); Some(e.toString) }
    ctx.tracer.drain()
    val spans = ctx.tracer.finished
    if (trace) {
      Files.writeString(new File(out, "trace.json").toPath, Tracer.toJson(spans))
      ctx.layer("host.loadavg_1m", load1, "load")
      ctx.layer("host.sys_pct", sysPct, "%")
    }
    ctx.e2e("rss_peak_mb") = (rssPeakMb(), "MB")
    System.gc(); System.gc()
    ctx.notes += f"heap_live_mb: ${java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0}%.1f MB (after full GC)"
    if (!ctx.setupS.isNaN) ctx.e2e("setup_s") = (ctx.setupS, "s")
    spark.stop()

    val correct = crashed.isEmpty && ctx.ops.failed == 0 && ctx.ops.attempted > 0
    val report = mutable.ArrayBuffer(
      f"workload $workload seed $seed seconds $seconds%.0f trace ${if (trace) 1 else 0}",
      f"host: loadavg_1m $load1%.2f, sys_pct $sysPct%.1f %%")
    ctx.e2e.foreach { case (k, (v, u)) => report += f"$k: $v%.6f $u" }
    report += f"fail_frac: ${ctx.ops.failFrac}%.4f ratio (${ctx.ops.failed}/${ctx.ops.attempted} ops; " +
      s"${ctx.ops.plannedCrashes} planned crashes excluded)"
    report ++= ctx.notes
    if (trace) ctx.layers.foreach { case (k, (v, u)) => report += f"$k: $v%.6f $u" }
    crashed.foreach(c => report += s"run aborted: $c")
    ctx.ops.failures.foreach(f => report += s"FAILED CHECK: $f")
    val metrics = (if (trace) ctx.layers else ctx.e2e).map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString(",")
    val result = s"""{"correct":$correct,"attempted":${math.max(1L, ctx.ops.attempted)},""" +
      s""""failed":${if (ctx.ops.attempted == 0) 1 else ctx.ops.failed},"metrics":{$metrics}}"""
    // The run's own artifact: the report (with the host's weather) and
    // the result line.
    Files.writeString(new File(out, "report.txt").toPath, report.mkString("", "\n", "\n"))
    Files.writeString(new File(out, "result.json").toPath, result + "\n")
    report.foreach(println)
    println(result)
    sys.exit(if (correct) 0 else 1)
  }
}
