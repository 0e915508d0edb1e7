package graftbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}
import java.time.Instant
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming.EventStreams
import graft.text.Dedup

/** Continuous ingest as an open loop. A generator thread lands one wave
  * file of docs and one of click/purchase events at a fixed interval,
  * whether or not the engine has kept up. On each tick the benchmark runs
  * `EventStreams.corpusDedupSink` and `EventStreams.clickPurchaseJoin`
  * (into a Parquet sink) from their checkpoints, AvailableNow, one wave
  * file per micro-batch. Some events arrive two waves late; every few
  * waves the dedup sink's `chaosAfterAccept` hook crashes the query,
  * which restarts from its checkpoint.
  */
object StreamIngest {
  /** Arrival interval: a warm normal tick (both queries restarted over
    * one wave) takes about 5 s on 4 cores, so the engine runs clearly
    * below saturation until the shared host runs it about 1.8x slower;
    * past that, waves queue and latency grows fast. */
  val IntervalS = 9.0
  val DocsPerWave = 60
  val EventsPerWave = 1500
  val Users = 300
  val LateShare = 0.10
  val LateWaves = 2
  /** Untimed ticks before the measured ones: the first cold, the last
    * crashed (see `crashes`); tick time keeps falling as the JIT compiles
    * the restart and batch code for about three ticks. */
  val WarmWaves = 3
  private val Watermark = "90 minutes"
  private val WaveSpanMs = 3600000L
  private val BaseMs = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli

  final case class Ev(id: Long, user: Long, click: Boolean, tsMs: Long, value: Double,
                      delivered: Int, late: Boolean)

  /** Seeded waves: docs with planted dedup classes, and events with their
    * delivery wave. Truth: the doc ids the dedup sink must accept. */
  final class Gen(seed: Long) {
    private val rnd = new Random(seed * 31L + 11)
    private val text = new CorpusGen(seed + 1)
    private val accepted = mutable.ArrayBuffer.empty[CorpusGen.Doc]
    private var nextDoc = 1L
    private var nextEv = 1L
    private val pendingLate = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Ev]]

    def docs(): Seq[CorpusGen.Doc] = Seq.fill(DocsPerWave) {
      val id = nextDoc; nextDoc += 1
      val r = rnd.nextDouble()
      if (r < 0.15 && accepted.nonEmpty) {
        val o = accepted(rnd.nextInt(accepted.size)); CorpusGen.Doc(id, o.text, CorpusGen.ExactDup, o.id)
      } else if (r < 0.30 && accepted.nonEmpty) {
        val o = accepted(rnd.nextInt(accepted.size))
        CorpusGen.Doc(id, text.nearCopy(o.text), CorpusGen.NearDup, o.id)
      } else {
        val d = CorpusGen.Doc(id, text.wideDoc(), CorpusGen.Unique, 0); accepted += d; d
      }
    }

    /** Events delivered in wave `w`: its own on-time events plus those of
      * wave w-2 held back. */
    def events(w: Int): Seq[Ev] = {
      val own = Seq.fill(EventsPerWave) {
        val id = nextEv; nextEv += 1
        val late = rnd.nextDouble() < LateShare
        Ev(id, 1L + rnd.nextInt(Users), rnd.nextDouble() < 0.7,
          BaseMs + w * WaveSpanMs + rnd.nextLong(WaveSpanMs),
          math.round(rnd.nextDouble() * 10000) / 100.0, if (late) w + LateWaves else w, late)
      }
      own.filter(_.late).foreach(e => pendingLate.getOrElseUpdate(e.delivered, mutable.ArrayBuffer.empty) += e)
      own.filterNot(_.late) ++ pendingLate.remove(w).getOrElse(Nil)
    }
  }

  private val DocSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private val EvSchema = StructType(Seq(StructField("event_id", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("ts", TimestampType), StructField("value", DoubleType)))

  private def evJson(e: Ev): String =
    s"""{"event_id":${e.id},"user_id":${e.user},"event_type":"${if (e.click) "click" else "purchase"}",""" +
      s""""ts":"${Instant.ofEpochMilli(e.tsMs)}","value":${e.value}}"""

  final case class WaveFiles(index: Int, docs: Seq[CorpusGen.Doc], events: Seq[Ev],
                             docBytes: Array[Byte], evBytes: Array[Byte])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val gen = new Gen(ctx.seed)
    val docsDir = ctx.dir("stream/in/docs")
    val evDir = ctx.dir("stream/in/events")
    val stage = ctx.dir("stream/staging")
    Seq(docsDir, evDir, stage).foreach(new File(_).mkdirs())
    val statePath = ctx.dir("stream/dedup_state")
    val acceptedPath = ctx.dir("stream/accepted")
    val dedupCk = ctx.dir("stream/ck_dedup")
    val joinOut = ctx.dir("stream/joined")
    val joinCk = ctx.dir("stream/ck_join")

    // At least three measured waves: the first still runs a little slower
    // than the rest, and a median of three leaves it out.
    val plainWaves = math.max(3, math.round(ctx.seconds / IntervalS).toInt)
    // A traced run adds one crashed wave after its traced normal waves, so
    // the trace records a replay.
    val tracedWaves = if (ctx.trace) plainWaves + 1 else 0
    val waves = (0 until WarmWaves + plainWaves + tracedWaves).map { w =>
      val d = gen.docs(); val e = gen.events(w)
      WaveFiles(w, d, e, d.map(CorpusGen.toJsonLine).mkString("", "\n", "\n").getBytes("UTF-8"),
        e.map(evJson).mkString("", "\n", "\n").getBytes("UTF-8"))
    }
    val lastWave = waves.last.index
    /** Waves whose first dedup batch is crashed after the accept write: the
      * last warm-up tick and the traced run's extra wave. A crashed tick
      * takes about as long as the interval, so a crash among the measured
      * waves would delay the wave after it and split their median between
      * a normal and a crashed tick. */
    def crashes(wave: Int): Boolean = wave == WarmWaves - 1 || (ctx.trace && wave == lastWave)
    // Late events of the last waves would be delivered after the run.
    val delivered = waves.flatMap(_.events).filter(_.delivered <= lastWave)
    val inputBytes = waves.map(w => w.docBytes.length.toLong + w.evBytes.length).sum

    def land(w: WaveFiles): Unit = {
      for ((dir, bytes) <- Seq(docsDir -> w.docBytes, evDir -> w.evBytes)) {
        val tmp = new File(stage, f"${new File(dir).getName}-${w.index}%05d.json")
        Files.write(tmp.toPath, bytes)
        Files.move(tmp.toPath, new File(dir, tmp.getName).toPath, StandardCopyOption.ATOMIC_MOVE)
      }
    }

    val crashedAt = mutable.HashMap.empty[Long, Long] // wave -> crash epoch ms
    val chaos: Long => Unit = b =>
      if (crashes(b.toInt) && !crashedAt.contains(b)) {
        crashedAt.synchronized(crashedAt(b) = System.currentTimeMillis())
        throw new RuntimeException(s"injected crash after accepting wave $b")
      }
    def isInjected(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists(t =>
        Option(t.getMessage).exists(_.contains("injected crash")))

    def startDedup(): StreamingQuery = EventStreams.corpusDedupSink(
      spark.readStream.schema(DocSchema).option("maxFilesPerTrigger", "1").json(docsDir),
      "doc_id", "text", statePath, acceptedPath, dedupCk, chaosAfterAccept = chaos)
    def startJoin(): StreamingQuery = EventStreams.clickPurchaseJoin(
        spark.readStream.schema(EvSchema).option("maxFilesPerTrigger", "1").json(evDir), Watermark)
      .writeStream.outputMode("append").option("checkpointLocation", joinCk)
      .trigger(Trigger.AvailableNow()).format("parquet").option("path", joinOut).start()

    val recoveries = mutable.ArrayBuffer.empty[Double]
    var lastDedupBatch = -1L
    var replayed = 0

    def commitMs(p: StreamingQueryProgress): Long =
      Instant.parse(p.timestamp).toEpochMilli + p.durationMs.getOrDefault("triggerExecution", 0L)

    /** Records the stream layer's counters of one query run. */
    def progressCounts(q: StreamingQuery, startMs: Long): Unit = {
      val ps = q.recentProgress.toSeq
      ps.headOption.foreach(p => tr.count("stream.startup_s",
        (Instant.parse(p.timestamp).toEpochMilli - startMs) / 1e3))
      tr.count("stream.batches", ps.size)
      for ((k, m) <- Seq("latestOffset" -> "latest_offset_ms", "getBatch" -> "get_batch_ms",
        "queryPlanning" -> "query_planning_ms", "addBatch" -> "add_batch_ms",
        "walCommit" -> "wal_commit_ms", "commitOffsets" -> "commit_offsets_ms"))
        tr.count(s"stream.$m", ps.map(_.durationMs.getOrDefault(k, 0L).toDouble).sum)
      ps.flatMap(_.stateOperators).foreach { s =>
        tr.count("stream.state_commit_ms", s.commitTimeMs.toDouble)
        tr.count("stream.rows_dropped_by_watermark", s.numRowsDroppedByWatermark.toDouble)
      }
      ps.lastOption.toSeq.flatMap(_.stateOperators).foreach { s =>
        tr.count("stream.state_rows", s.numRowsTotal.toDouble)
        tr.count("stream.state_mem_bytes", s.memoryUsedBytes.toDouble)
      }
    }

    /** One tick: both queries over everything landed; returns the last
      * wave the dedup sink committed. */
    def tick(): Long = tr.span("stream.tick") {
      // The dedup sink starts first: the join then sees at least the waves
      // the sink does, so no wave the tick accounts for misses the join.
      val t0 = System.currentTimeMillis()
      var dedup = startDedup()
      var dedupStart = t0
      val join = startJoin()
      var recovering: Option[Long] = None
      // Recovery ends when the replayed batch commits, in whichever run.
      def settle(q: StreamingQuery): Unit =
        for (b <- recovering; p <- q.recentProgress.find(_.batchId == b)) {
          recoveries += (commitMs(p) - crashedAt(b)) / 1e3
          recovering = None
        }
      var finished = false
      // A crashed sink restarts from its checkpoint and replays the batch;
      // the replay may reach another crash wave when a backlog built up.
      while (!finished) {
        try { dedup.awaitTermination(); finished = true; settle(dedup) }
        catch {
          case e: StreamingQueryException if isInjected(e) =>
            settle(dedup)
            ctx.ops.plannedCrash()
            replayed += 1
            tr.count("stream.replayed_batches", 1)
            progressCounts(dedup, dedupStart)
            recovering = Some(crashedAt.synchronized(crashedAt.keys.max))
            dedupStart = System.currentTimeMillis()
            dedup = startDedup()
        }
      }
      join.awaitTermination()
      progressCounts(dedup, dedupStart)
      progressCounts(join, t0)
      dedup.recentProgress.lastOption.map(_.batchId).foreach(b => lastDedupBatch = b)
      lastDedupBatch
    }

    /** Lands waves from..to on schedule from a generator thread while the
      * main thread ticks; returns each wave's latency from its due time. */
    def openLoop(from: Int, to: Int): (Seq[Double], Seq[Double]) = {
      val landed = new AtomicInteger(from - 1)
      val t0 = System.nanoTime() + 50000000L
      def due(w: Int) = t0 + ((w - from) * IntervalS * 1e9).toLong
      val genLate = mutable.ArrayBuffer.empty[Double]
      val generator = new Thread(() => {
        for (w <- from to to) {
          val wait = due(w) - System.nanoTime()
          if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
          genLate.synchronized(genLate += (System.nanoTime() - due(w)) / 1e9)
          land(waves(w))
          landed.set(w)
        }
      }, "wave-generator")
      generator.setDaemon(true)
      generator.start()
      val lat = mutable.ArrayBuffer.empty[Double]
      val rates = mutable.ArrayBuffer.empty[Double]
      var next = from
      try {
        while (next <= to) {
          while (landed.get() < next) Thread.sleep(2)
          tr.setOp(next)
          val backlog = landed.get() - next + 1
          val s = System.nanoTime()
          val last = tr.span("stream.wave") {
            tr.count("stream.backlog_waves", backlog)
            tick()
          }
          val e = System.nanoTime()
          System.err.println(f"[perfbench] tick for waves $next..$last (backlog $backlog): ${(e - s) / 1e9}%.3f s")
          // Every wave this tick committed waited from its due time.
          for (w <- next to last.toInt) lat += (e - due(w)) / 1e9
          rates += (next to last.toInt).map(w => waves(w).docs.size + waves(w).events.size).sum /
            ((e - s) / 1e9)
          next = math.max(next + 1, last.toInt + 1)
        }
      } finally generator.join()
      tr.span("stream.generator")(genLate.synchronized(tr.count("stream.gen_late_s", genLate.sum)))
      (lat.toSeq, rates.toSeq)
    }

    // Warm-up, untimed: the first tick cold, the others until the JIT has
    // caught up, so measured ticks see a steady JIT.
    for (w <- 0 until WarmWaves) { land(waves(w)); tick() }
    ctx.setupDone()
    val (lat, rates) = openLoop(WarmWaves, WarmWaves + plainWaves - 1)
    ctx.latency("op", lat, withTail = true)
    // Rows per second of tick time: capacity at the offered rate.
    ctx.throughput(rates)
    /** The sink's incremental dedup, standalone per traced wave: candidate
      * pairs (any shared shingle) and verified pairs (Jaccard >= 0.5) of
      * the wave against the accepted state before it. */
    def dedupPairs(from: Int, to: Int): Unit = {
      tr.setOp(0)
      def state(name: String, w: Int) = spark.read.parquet(s"$statePath/$name")
        .where(col("wave") < w).drop("wave")
      for (w <- from to to) tr.span("stream.dedup_pairs") {
        val batch = spark.read.schema(DocSchema).json(f"$docsDir/docs-$w%05d.json")
        val bi = Dedup.collapsedIndex(batch, "doc_id", "text", 3, 100L, Dedup.Md5Hash60)
        val st = Dedup.CollapsedIndex(state("rep_index", w), state("membership", w))
        tr.count("dedup.candidate_pairs", Dedup.incrementalNearDupPairsCollapsed(bi, st, 0.0).count())
        tr.count("dedup.verified_pairs", Dedup.incrementalNearDupPairsCollapsed(bi, st, 0.5).count())
      }
      spark.catalog.clearCache()
    }

    if (ctx.trace) {
      tr.start()
      val (tlat, _) = openLoop(WarmWaves + plainWaves, lastWave)
      dedupPairs(WarmWaves + plainWaves, lastWave)
      // The text layer, standalone on the docs the stream delivered.
      TextLayer.standalone(ctx, spark.read.schema(DocSchema).json(docsDir))
      // The overhead compares normal waves only: the crashed wave is left out.
      Layers.report(ctx, lat, tlat, comparable = plainWaves)
    }
    ctx.notes += (if (recoveries.isEmpty) "recovery_s: n/a s (no crash fired)"
      else f"recovery_s: ${Stats.median(recoveries.toSeq)}%.4f s (median of ${recoveries.size})")
    ctx.e2e("space_amp") = (Main.duBytes(statePath, acceptedPath, dedupCk, joinOut, joinCk).toDouble /
      inputBytes, "B/B")

    // Output checks, outside the timed loop: per wave, the accepted set
    // against the planted truth and the join against a batch
    // recomputation over the delivered events.
    val acc = spark.read.parquet(acceptedPath).select("doc_id", "wave").collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val accByWave = acc.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val joined = spark.read.parquet(joinOut).select("click_id", "purchase_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    val joinProblems = JoinCheck.problems(delivered, joined)
    for (w <- waves) {
      val want = w.docs.filter(_.cls == CorpusGen.Unique).map(_.id).toSet
      val got = accByWave.getOrElse(w.index, Set.empty)
      val p = mutable.ArrayBuffer.empty[String]
      if (got != want) p += s"accepted ${got.size} docs, want ${want.size} (${(got diff want).take(3)} extra, ${(want diff got).take(3)} missing)"
      joinProblems.get(w.index).foreach(p += _)
      ctx.ops.record(s"stream wave ${w.index}", if (p.isEmpty) None else Some(p.mkString("; ")))
    }
    val lateEv = delivered.count(_.late)
    ctx.notes += s"events: ${delivered.size} delivered, $lateEv late; join rows ${joined.length}; " +
      s"${replayed} planned crashes replayed"
  }

}
