package graft.util

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Focused tests for the round-18 CacheScope internals: the tracked
  * truncate (labelWave's sink-fold optimization needs close() to
  * release localCheckpoint blocks at wave end) and the
  * reliable-checkpoint escape. These pin the RELEASE semantics the
  * gate-level invariance spec cannot see.
  */
class CacheScopeSpec extends SparkSpec {

  private def persistentCount: Int =
    spark.sparkContext.getPersistentRDDs.size

  test("scope.truncate materializes, preserves rows, and close() releases the blocks") {
    val before = persistentCount
    val scope = new CacheScope
    val df = spark.range(1000).select(col("id"), (col("id") * 2).as("v"))
    val cut = scope.truncate(df)
    // localCheckpoint registers the checkpointed RDD in getPersistentRDDs
    assert(persistentCount > before, "truncate should register persistent blocks")
    assert(cut.collect().map(_.getLong(1)).sum === 999000L * 2 / 2)
    scope.close()
    assert(persistentCount === before,
      "close() should release the tracked checkpoint blocks")
  }

  test("scope.truncate never claims an outer cache that first materializes inside the cut") {
    val ids = () => spark.sparkContext.getPersistentRDDs.keySet
    val outer = spark.range(500).select(col("id"), (col("id") % 3).as("m")).persist()
    try {
      val before = ids()
      val scope = new CacheScope
      // The cut's job is the first action over `outer`: its cache blocks
      // appear in getPersistentRDDs during truncate, next to the cut's own.
      val cut = scope.truncate(outer.where(col("m") === 0))
      val during = ids() -- before
      assert(during.size == 2, s"expected the outer cache and the cut, got $during")
      assert(cut.count() == 167)
      scope.close()
      val after = ids() -- before
      assert(after.size == 1 && after.subsetOf(during),
        s"close() must release only the cut; still persisted: $after of $during")
      assert(outer.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      assert(outer.count() == 500)
    } finally { outer.unpersist(); () }
  }

  test("scope.truncate cuts the plan to a scan of the materialized blocks") {
    val scope = new CacheScope
    try {
      val deep = (1 to 5).foldLeft(
        spark.range(100).select(col("id"), col("id").as("v"))) {
        (d, i) => d.withColumn(s"c$i", col("v") + i)
      }
      val cut = scope.truncate(deep)
      val plan = cut.queryExecution.optimizedPlan.toString
      assert(!plan.contains("Range"), s"lineage not cut: $plan")
    } finally scope.close()
  }

  test("scope.truncate falls back to a tracked persist under noPlanCut") {
    sys.props("spark.graft.noPlanCut") = "1"
    try {
      val scope = new CacheScope
      val df = spark.range(100).select(col("id"))
      val cut = scope.truncate(df)
      assert(cut.count() === 100)
      assert(cut.queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
      scope.close() // must not throw; unpersists the tracked frame
    } finally { sys.props.remove("spark.graft.noPlanCut"); () }
  }

  test("reliable-checkpoint mode produces the same rows with a reliably-checkpointed plan") {
    sys.props("spark.graft.reliableCheckpoint") = "1"
    try {
      val df = spark.range(50).select(col("id"), (col("id") % 7).as("m"))
      val expected = df.collect().map(_.toString).sorted.toSeq
      val cut = CacheScope.truncate(df)
      assert(cut.collect().map(_.toString).sorted.toSeq === expected)
      assert(spark.sparkContext.getCheckpointDir.isDefined,
        "reliable mode must establish a checkpoint dir")
    } finally { sys.props.remove("spark.graft.reliableCheckpoint"); () }
  }
}
