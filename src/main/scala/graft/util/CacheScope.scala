package graft.util

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

/** Tracks persisted intermediates so composed pipelines can release them
  * deterministically. The dedup/corpus flows persist multiply-referenced
  * indexes by default; in a long-lived session (a service, or the
  * Verify/Bench loops) untracked persists accumulate until executor
  * storage evicts under pressure. Callers that run many pipeline
  * invocations pass a scope and `close()` it after the terminal action:
  *
  * {{{
  * val scope = new CacheScope
  * try Dedup.ngramJaccardPairs(docs, "id", "text", cache = scope.persist).count()
  * finally scope.close()
  * }}}
  *
  * The default `CacheScope.untracked` preserves the old behavior (persist
  * with no handle) for one-shot jobs where session teardown reclaims
  * everything anyway.
  */
final class CacheScope {
  private val frames = ArrayBuffer.empty[DataFrame]
  private val rdds = ArrayBuffer.empty[org.apache.spark.rdd.RDD[_]]

  /** Persist and track `df`; released by [[close]]. */
  def persist(df: DataFrame): DataFrame = synchronized {
    val p = df.persist()
    frames += p
    p
  }

  /** [[CacheScope.truncate]] with tracked release: the scope claims the
    * RDD the cut itself persisted — the one under the returned frame's
    * `LogicalRDD` (there is no public handle to it) — and [[close]]
    * unpersists it like any tracked persist. Caches that merely
    * MATERIALIZE during the cut (an outer scope's lazy persist feeding
    * `df`) are not claimed: they belong to whoever persisted them. After
    * close() a truncated frame is NOT recomputable (lineage is cut) —
    * callers must be done with it, the same contract Bench's between-rep
    * cleanup already imposes.
    */
  def truncate(df: DataFrame): DataFrame = synchronized {
    val c = CacheScope.truncate(df)
    c.queryExecution.logical match {
      case r: LogicalRDD if c.storageLevel == StorageLevel.NONE => rdds += r.rdd
      case _ => frames += c // persist-fallback path (noPlanCut): track the frame
    }
    c
  }

  /** Unpersist every tracked frame and RDD (non-blocking), forget them. */
  def close(): Unit = synchronized {
    frames.foreach(_.unpersist(false))
    frames.clear()
    rdds.foreach(r => try r.unpersist(false) catch { case _: Throwable => () })
    rdds.clear()
  }
}

object CacheScope {
  /** Persist with no tracking — the one-shot-job default. */
  val untracked: DataFrame => DataFrame = (df: DataFrame) => df.persist()

  /** Persist AND truncate lineage (`localCheckpoint`) — for intermediates
    * referenced by several downstream branches whose LOGICAL plan would
    * otherwise carry a copy of the whole upstream tree per reference
    * (optimization guide §3.3/§5: materialise to truncate the plan; a
    * plain persist dedups EXECUTION but not per-action Catalyst
    * re-analysis, measured as ~25% of `corpus_clean`'s wall with its
    * ~1 MB formatted plan). Blocks are reclaimed by the ContextCleaner
    * when references expire, and Bench's between-rep cleanup unpersists
    * them like any tracked persist. `SPARK_GRAFT_NO_PLANCUT` restores
    * the persist-only shape — the A/B harness.
    *
    * Fault-tolerance contract: `localCheckpoint` stores blocks
    * executor-locally with lineage CUT, so on a real cluster an executor
    * loss (or dynamic-allocation decommission) makes downstream jobs
    * unrecoverable instead of recomputing. That is safe in the local[N]
    * bench/verify harness (one process, no executor loss short of JVM
    * death) and on static-executor clusters that accept fail-and-retry
    * at the job level; deployments that need recomputability set
    * `SPARK_GRAFT_RELIABLE_CHECKPOINT` (env or the
    * `spark.graft.reliableCheckpoint` system property) to route the same
    * cut through reliable `checkpoint()` — same plan truncation, blocks
    * on the checkpoint dir (`spark.graft.checkpointDir` sysprop, or a
    * local scratch dir as the self-contained default) instead of
    * executor memory. Results are identical in all three modes
    * (OptimizationInvarianceSpec pins this).
    */
  val truncate: DataFrame => DataFrame = (df: DataFrame) =>
    // The system property is the in-JVM escape (plan-shape tests inspect
    // the composed, un-truncated plan); the env var is the A/B harness.
    if (sys.env.contains("SPARK_GRAFT_NO_PLANCUT") ||
        sys.props.contains("spark.graft.noPlanCut")) df.persist()
    else if (sys.env.contains("SPARK_GRAFT_RELIABLE_CHECKPOINT") ||
             sys.props.contains("spark.graft.reliableCheckpoint")) {
      val sc = df.sparkSession.sparkContext
      if (sc.getCheckpointDir.isEmpty)
        sc.setCheckpointDir(sys.props.getOrElse("spark.graft.checkpointDir",
          Scratch.dir("graft_reliable_ckpt")))
      df.checkpoint()
    } else df.localCheckpoint()

  /** No caching at all — for callers managing their own persistence. */
  val none: DataFrame => DataFrame = identity
}
