package graft.ops

import org.apache.spark.sql.{AnalysisException, Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** MERGE / dedup operators — the reference's most distinctive semantics
  * (SURVEY.md §2.7): last-write-wins upsert on a natural key
  * (load.py:122-154), insert-if-absent for dims (load.py:65-74), and
  * deterministic intra-batch dedup (the reference's is input-order
  * dependent; we impose an explicit priority, SURVEY.md §7.5.4).
  *
  * Scale notes: every operator here is a single hash-shuffle on the merge
  * key — no driver-side loops, no collect. At 100 TB the state table should
  * be written bucketed by the key (see [[graft.io.Sinks]]) so repeated
  * merges co-locate and skip the state-side shuffle.
  */
object Merge {

  /** Deterministic last-write-wins: keep exactly one row per key, the one
    * ranking first under `precedence` (e.g. source priority desc, event
    * time desc, then a unique tiebreaker). One window shuffle on `keys`.
    */
  def lastWriteWins(df: DataFrame, keys: Seq[String], precedence: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(precedence: _*)
    df.withColumn("_rn", row_number().over(w)).where(col("_rn") === 1).drop("_rn")
  }

  /** MERGE (upsert) of `incoming` into `current` on a natural key
    * (reference load.py:122-154 + schema.sql:30): incoming beats current on
    * key collision; within each side the caller's `precedence` breaks ties.
    * Equivalent to SQL `MERGE ... WHEN MATCHED UPDATE WHEN NOT MATCHED
    * INSERT` with last-write-wins. Returns the merged state.
    */
  def mergeUpsert(current: DataFrame, incoming: DataFrame, keys: Seq[String],
                  precedence: Seq[Column] = Seq.empty): DataFrame = {
    val tagged = current.withColumn("_src", lit(0))
      .unionByName(incoming.withColumn("_src", lit(1)))
    lastWriteWins(tagged, keys, col("_src").desc +: precedence).drop("_src")
  }

  /** Read an existing state table, or an empty frame ONLY when the path
    * genuinely does not exist (first run). Every other failure —
    * permissions, transient FS error, corrupt footer — rethrows: treating
    * it as "first run" would let the subsequent overwrite replace real
    * state with batch-only contents, which at 100 TB is the incident that
    * deletes a state table.
    */
  private[graft] def readStateOrEmpty(spark: SparkSession, statePath: String,
                                      schema: StructType): DataFrame =
    try spark.read.parquet(statePath)
    catch {
      case e: AnalysisException if e.getCondition == "PATH_NOT_FOUND" =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    }

  /** Partition-scoped MERGE into a hive-partitioned Parquet state table:
    * only partitions PRESENT IN THE BATCH are read (partition-pruned
    * scan), merged, and rewritten (dynamic partition overwrite) — merge
    * cost is proportional to touched partitions, not table size. The
    * full-table swap ([[graft.io.Sinks.atomicSwapWrite]]) is the fallback
    * for unpartitioned state; THIS is the form that holds at 100 TB,
    * where a daily batch touches a handful of date partitions.
    *
    * `incomingWins = true` (default) is the reference's upsert contract:
    * a batch row replaces the stored row for its key outright, with
    * `precedence` breaking ties only WITHIN the batch. `false` ranks
    * state and batch rows together under `precedence` alone — the
    * TOTAL-ORDER form an at-least-once streaming sink needs, where a
    * replayed old wave must never regress a newer stored winner.
    *
    * CONTRACT: `partitionCol` must be functionally dependent on `keys`
    * (typically it IS one of them, or a deterministic bucket of one) —
    * the state read is pruned to the batch's partitions, so a key whose
    * stored winner sits under a DIFFERENT partition value would be
    * invisible to the merge and end up duplicated across partitions
    * (and, under `incomingWins = false` replay, an old wave could
    * resurrect a loser the pruned read never saw). Membership in `keys`
    * (the gate's `event_type` usage) satisfies this trivially; a
    * derived-bucket caller owns the dependence — it is not statically
    * checkable here, and post-dedup batches are one row per key, so a
    * runtime probe could not see a cross-batch violation either.
    */
  def mergeIntoPartitionedState(spark: SparkSession,
                                statePath: String, incoming: DataFrame,
                                keys: Seq[String], precedence: Seq[Column],
                                partitionCol: String,
                                incomingWins: Boolean = true): DataFrame = {
    // The incoming plan is read THREE times below (touched-partition
    // collect, merge union, staging write) — uncached, a heavy upstream
    // (e.g. a streaming batch dedup) executes three times per merge
    // (measured 1.5× the whole sink wall at sf10). Persisted for exactly
    // this call; released before returning.
    val inc = incoming.persist()
    try {
    val touched = inc.select(partitionCol).distinct()
      .collect().map(_.get(0)).toSeq
    // Null-safe membership: a null partition value in the batch lands in
    // the hive default partition, which dynamic overwrite WILL rewrite —
    // `isin` alone never matches null, so without the isNull branch the
    // existing null-partition state rows would be silently dropped from
    // the merge input while still being overwritten.
    val nonNullTouched = touched.filter(_ != null)
    val touchedPred =
      if (nonNullTouched.length == touched.length) col(partitionCol).isin(touched: _*)
      else if (nonNullTouched.isEmpty) col(partitionCol).isNull
      else col(partitionCol).isin(nonNullTouched: _*) || col(partitionCol).isNull
    val current = readStateOrEmpty(spark, statePath, inc.schema)
      .where(touchedPred) // partition-pruned
      .select(inc.columns.map(col): _*)
    val rank = if (incomingWins) col("_src").desc +: precedence else precedence
    val merged = lastWriteWins(
      current.withColumn("_src", lit(0))
        .unionByName(inc.withColumn("_src", lit(1))),
      keys, rank).drop("_src")
    // The merged plan READS statePath and the commit below OVERWRITES the
    // same touched partitions: stage the merged rows to a sibling
    // directory and re-read THAT for the overwrite, so the write never
    // races its own input (some Spark paths reject the self-overwrite
    // outright). Unlike localCheckpoint, staging holds no executor cache
    // blocks whose release would be GC-driven, and a mid-commit failure
    // leaves the staged copy on disk for recovery. Cost: one extra
    // write+read of the TOUCHED partitions only.
    val staging = statePath + "_staging"
    merged.write.mode("overwrite").parquet(staging)
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try spark.read.parquet(staging)
      .write.mode("overwrite").partitionBy(partitionCol).parquet(statePath)
    finally prev match {
      case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
      case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
    // Success: drop the staging copy (left in place on failure).
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statePath), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(staging), true)
    spark.catalog.refreshByPath(statePath)
    spark.read.parquet(statePath)
    } finally inc.unpersist()
  }

  /** Insert-if-absent (reference load.py:65-74, `ON CONFLICT DO NOTHING`
    * schema.sql:59): rows of `incoming` whose key is absent from `existing`
    * are appended; existing rows win unchanged. Anti-join + union — at
    * scale, if `existing` is a large state table, AQE converts the
    * anti-join to broadcast when `incoming` is small.
    */
  def insertIfAbsent(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame =
    existing.unionByName(
      incoming.join(existing.select(keys.map(col): _*).distinct(), keys, "left_anti"))
}
