package graftbench

/** Rolls the traced run's spans up into the per-layer metrics. Every
  * metric is reported on every workload; a layer a workload does not
  * exercise reads 0. Layer times and counts are per traced op (an ETL
  * wave, a stream wave, a cleaning pass); the text module timings, doc
  * counts and dedup pair counts are per call of the module.
  */
object Layers {

  /** (name, unit) of every per-layer metric, in report order. */
  val Metrics: Seq[(String, String)] = Seq(
    "sources.fetch_s" -> "s", "sources.requests" -> "count", "sources.retries" -> "count",
    "sources.retry_frac" -> "ratio", "sources.bytes_in" -> "B", "sources.tasks" -> "count",
    "transform.normalize_s" -> "s", "transform.rows_in" -> "rows",
    "transform.quarantined" -> "rows", "transform.quarantine_frac" -> "ratio",
    "merge.upsert_s" -> "s", "merge.rows_incoming" -> "rows", "merge.state_rows" -> "rows",
    "merge.rewritten_per_incoming" -> "ratio",
    "sinks.swap_s" -> "s", "sinks.csv_s" -> "s", "sinks.bytes_written" -> "B",
    "sinks.files_written" -> "count",
    "read.health_s" -> "s", "read.latest_s" -> "s", "read.asof_s" -> "s",
    "text.score_s" -> "s", "text.lm_s" -> "s", "text.span_s" -> "s", "text.dedup_s" -> "s",
    "text.clean_s" -> "s", "text.docs_in" -> "docs", "text.docs_kept" -> "docs",
    "dedup.candidate_pairs" -> "pairs", "dedup.verified_pairs" -> "pairs",
    "dedup.pair_yield" -> "ratio",
    "stream.startup_s" -> "s", "stream.batches" -> "count", "stream.latest_offset_ms" -> "ms",
    "stream.get_batch_ms" -> "ms", "stream.query_planning_ms" -> "ms",
    "stream.add_batch_ms" -> "ms", "stream.wal_commit_ms" -> "ms",
    "stream.commit_offsets_ms" -> "ms", "stream.state_rows" -> "rows",
    "stream.state_mem_bytes" -> "B", "stream.state_commit_ms" -> "ms",
    "stream.rows_dropped_by_watermark" -> "rows", "stream.replayed_batches" -> "count",
    "stream.backlog_waves" -> "count", "stream.gen_late_s" -> "s",
    "spark.planning_ms" -> "ms", "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s",
    "spark.gc_s" -> "s", "spark.shuffle_write_bytes" -> "B", "spark.shuffle_read_bytes" -> "B",
    "spark.spill_bytes" -> "B", "spark.output_bytes" -> "B",
    "trace.op_p50_s" -> "s", "trace.untraced_op_p50_s" -> "s", "trace.overhead_s" -> "s",
    "trace.spans" -> "count")

  /** `untraced` and `traced` are the op latencies of the two halves of a
    * traced run; the difference of their medians is the tracing overhead.
    * Only the first `comparable` traced ops enter that median, when the
    * traced half ends with ops the untraced half does not have. */
  def report(ctx: Ctx, untraced: Seq[Double], traced: Seq[Double],
             comparable: Int = Int.MaxValue): Unit = {
    ctx.tracer.drain()
    val spans = ctx.tracer.finished
    val n = math.max(1, traced.size).toDouble
    def dur(name: String) = spans.filter(_.name == name).map(_.seconds).sum / n
    def cnt(key: String, within: String = "") =
      spans.filter(_.name.startsWith(within)).flatMap(_.counts.get(key)).sum / n
    def callDur(name: String) = {
      val xs = spans.filter(_.name == name).map(_.seconds)
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def callCnt(key: String) = {
      val xs = spans.flatMap(_.counts.get(key))
      if (xs.isEmpty) 0.0 else xs.sum / xs.size
    }
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val tracedP50 = if (traced.isEmpty) 0.0 else Stats.median(traced.take(comparable))
    val plainP50 = if (untraced.isEmpty) 0.0 else Stats.median(untraced)
    val values: Map[String, Double] = Map(
      "sources.fetch_s" -> dur("sources.fetch"),
      "sources.requests" -> cnt("sources.requests"),
      "sources.retries" -> cnt("sources.retries"),
      "sources.retry_frac" -> ratio(cnt("sources.retries"), cnt("sources.requests")),
      "sources.bytes_in" -> cnt("sources.bytes_in"),
      "sources.tasks" -> cnt("spark.tasks", "sources."),
      "transform.normalize_s" -> dur("transform.normalize"),
      "transform.rows_in" -> cnt("transform.rows_in"),
      "transform.quarantined" -> cnt("transform.quarantined"),
      "transform.quarantine_frac" -> ratio(cnt("transform.quarantined"), cnt("transform.rows_in")),
      "merge.upsert_s" -> dur("merge.upsert"),
      "merge.rows_incoming" -> cnt("merge.rows_incoming"),
      "merge.state_rows" -> cnt("merge.state_rows"),
      "merge.rewritten_per_incoming" -> ratio(cnt("merge.state_rows"), cnt("merge.rows_incoming")),
      "sinks.swap_s" -> dur("sinks.swap"),
      "sinks.csv_s" -> dur("sinks.csv"),
      "sinks.bytes_written" -> cnt("spark.output_bytes", "sinks."),
      "sinks.files_written" -> cnt("sinks.files_written"),
      "read.health_s" -> dur("read.health"),
      "read.latest_s" -> dur("read.latest"),
      "read.asof_s" -> dur("read.asof"),
      "text.score_s" -> callDur("text.score"),
      "text.lm_s" -> callDur("text.lm"),
      "text.span_s" -> callDur("text.span"),
      "text.dedup_s" -> callDur("text.dedup"),
      "text.clean_s" -> callDur("text.clean"),
      "text.docs_in" -> callCnt("text.docs_in"),
      "text.docs_kept" -> callCnt("text.docs_kept"),
      "dedup.candidate_pairs" -> callCnt("dedup.candidate_pairs"),
      "dedup.verified_pairs" -> callCnt("dedup.verified_pairs"),
      "dedup.pair_yield" -> ratio(callCnt("dedup.verified_pairs"), callCnt("dedup.candidate_pairs")),
      "trace.op_p50_s" -> tracedP50,
      "trace.untraced_op_p50_s" -> plainP50,
      "trace.overhead_s" -> (tracedP50 - plainP50),
      "trace.spans" -> spans.size.toDouble
    ).withDefault { k =>
      if (k.startsWith("stream.")) cnt(k)
      // Spark counters of the ops only, not of standalone module calls.
      else if (k.startsWith("spark.")) spans.filter(_.op > 0).flatMap(_.counts.get(k)).sum / n
      else 0.0
    }
    Metrics.foreach { case (k, u) => ctx.layer(k, values(k), u) }
  }
}
