package graftbench

import java.io.File
import java.nio.file.Files

import scala.collection.mutable

import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.util.CacheScope

/** The batch training-data path as a closed loop of full
  * `CorpusPipeline.clean` passes over one seeded corpus, each writing
  * Parquet; caches are released between passes.
  */
object CorpusClean {
  val Docs = 800

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val docs = new CorpusGen(ctx.seed).corpus(Docs)
    val jsonl = new File(ctx.dir("corpus/input.jsonl"))
    jsonl.getParentFile.mkdirs()
    Files.writeString(jsonl.toPath, docs.map(CorpusGen.toJsonLine).mkString("", "\n", "\n"))
    val inputPath = ctx.dir("corpus/input.parquet")
    spark.read.schema(StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType))))
      .json(jsonl.getAbsolutePath).write.parquet(inputPath)
    val outPath = ctx.dir("corpus/clean.parquet")
    val byId = docs.map(d => d.id -> d).toMap

    def pass(): Double = {
      val input = spark.read.parquet(inputPath)
      val scope = new CacheScope
      val t0 = System.nanoTime()
      try {
        tr.span("text.clean")(TextLayer.clean(input, scope).write.mode("overwrite").parquet(outPath))
        (System.nanoTime() - t0) / 1e9
      } finally { scope.close(); spark.catalog.clearCache() }
    }

    var firstDigest: Option[String] = None
    def check(): Option[String] = {
      val rows = spark.read.parquet(outPath).collect()
      val got = Stats.digest(rows.map(_.toSeq)).hex
      val problems = mutable.ArrayBuffer.empty[String]
      if (firstDigest.exists(_ != got)) problems += s"digest $got differs from first pass ${firstDigest.get}"
      firstDigest = firstDigest.orElse(Some(got))
      val kept = rows.map(_.getAs[Long]("doc_id")).toSet
      val leaked = kept.toSeq.map(byId).filter(d => d.cls == CorpusGen.Foreign || d.cls == CorpusGen.Salad)
      if (leaked.nonEmpty) problems += s"${leaked.size} foreign/salad docs kept (e.g. ${leaked.head.id})"
      val groups = docs.filter(_.cls == CorpusGen.ExactDup).groupBy(_.of)
      val badGroups = groups.filter { case (orig, copies) =>
        val survivors = (orig +: copies.map(_.id)).filter(kept)
        survivors.size > 1 || survivors.exists(_ != orig)
      }
      if (badGroups.nonEmpty) problems += s"${badGroups.size} exact-dup groups keep a non-keeper"
      if (kept.isEmpty) problems += "no docs kept"
      if (problems.isEmpty) None else Some(problems.mkString("; "))
    }

    def measured(passes: Int): Seq[Double] = (1 to passes).flatMap { i =>
      tr.setOp(i)
      ctx.ops.run(s"clean pass $i")(pass())(_ => check())
    }

    ctx.ops.run("clean warm-up pass")(pass())(_ => check())
    ctx.setupDone()
    // A fixed number of passes per run: one pass takes about 10 s on 4 cores.
    val passes = math.max(1, math.round(ctx.seconds / 10).toInt)
    val ops = measured(passes)
    ctx.latency("op", ops, withTail = false)
    ctx.throughput(ops.map(Docs / _))
    ctx.e2e("space_amp") = (Main.duBytes(outPath).toDouble / jsonl.length(), "B/B")
    val kept = spark.read.parquet(outPath).count()
    ctx.notes += s"docs: $Docs in, $kept kept; planted classes " +
      docs.groupBy(_.cls).map { case (k, v) => s"$k=${v.size}" }.toSeq.sorted.mkString(" ")
    if (ctx.trace) {
      tr.start()
      val traced = measured(passes)
      TextLayer.modules(ctx, spark.read.parquet(inputPath), countPairs = true)
      tr.span("text.io") {
        tr.count("text.docs_in", Docs)
        tr.count("text.docs_kept", kept.toDouble)
      }
      Layers.report(ctx, ops, traced)
    }
  }
}
