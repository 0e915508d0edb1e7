package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.text.{CorpusPipeline, Dedup, LanguageModel, SpanDedup, TextAnalysis}
import graft.util.CacheScope

/** The text modules as the corpus_clean gate configures them. */
object TextLayer {
  val MinQuality = 0.45
  val Jaccard = 0.5
  val MaxDocFreq = 100L
  val MaxSurprisal = 3.5
  val MaxBigramSurprisal = 3.47
  val SpanW = 8
  val MaxDupSpanFrac = 0.5
  val LmDocTokens = 5000

  /** A full cleaning pass over (doc_id, text), caching into `scope`. */
  def clean(docs: DataFrame, scope: CacheScope): DataFrame =
    CorpusPipeline.clean(docs, "doc_id", "text", lang = "en", minQuality = MinQuality,
      jaccardThreshold = Jaccard, maxDocFreq = MaxDocFreq, maxSurprisal = MaxSurprisal,
      maxBigramSurprisal = MaxBigramSurprisal, spanDedupW = SpanW,
      maxDupSpanFrac = MaxDupSpanFrac, lmMaxDocTokens = LmDocTokens,
      cache = scope.persist, exactCache = scope.truncate)

  /** Each text module's public call, standalone on `docs`, one span each:
    * the langId/quality projection, the shared LM surprisal, the span
    * statistics, and exact plus near-dup pairs (candidates are pairs
    * sharing any shingle, verified ones reach the Jaccard threshold). */
  def modules(ctx: Ctx, docs: DataFrame, countPairs: Boolean): Unit = {
    val tr = ctx.tracer
    tr.setOp(0)
    val scope = new CacheScope
    try {
      tr.span("text.score") {
        docs.select(TextAnalysis.langId(col("text")).as("l"),
            round(TextAnalysis.qualityScore(col("text")), 6).as("q"))
          .agg(count(col("l")), sum(col("q"))).collect()
      }
      tr.span("text.lm") {
        val (uni, bi) = LanguageModel.sharedSurprisal(docs, "doc_id", "text", scope.persist, LmDocTokens)
        uni.agg(sum(col("avg_neg_logprob"))).collect()
        bi.agg(sum(col("avg_neg_logprob"))).collect()
      }
      tr.span("text.span") {
        SpanDedup.ngramSpanStats(docs, "doc_id", "text", SpanW).agg(sum(col("dup_token_frac"))).collect()
      }
      tr.span("text.dedup") {
        Dedup.exactDuplicates(docs, "doc_id", "text").agg(sum(col("cnt"))).collect()
        val idx = scope.persist(Dedup.countedShingleIndex(docs, "doc_id", "text", 3, MaxDocFreq))
        val candidates = Dedup.ngramJaccardPairsFromIndex(idx, 0.0).count()
        val verified = Dedup.ngramJaccardPairsFromIndex(idx, Jaccard).count()
        if (countPairs) {
          tr.count("dedup.candidate_pairs", candidates)
          tr.count("dedup.verified_pairs", verified)
        }
      }
    } finally { scope.close(); ctx.spark.catalog.clearCache() }
  }

  /** Modules plus one cleaning pass, for a workload whose ops are not
    * cleaning passes: the text layer is then measured on its docs. Its
    * dedup pair counts are the workload's own, not the batch modules'. */
  def standalone(ctx: Ctx, docs: DataFrame): Unit = {
    val tr = ctx.tracer
    modules(ctx, docs, countPairs = false)
    tr.setOp(0)
    val scope = new CacheScope
    try {
      val kept = tr.span("text.clean")(clean(docs, scope).count())
      tr.span("text.io") {
        tr.count("text.docs_in", docs.count())
        tr.count("text.docs_kept", kept)
      }
    } finally { scope.close(); ctx.spark.catalog.clearCache() }
  }
}
