package org.apache.spark.sql

import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.LogicalRDD

/** Hold a frame as one cached leaf: `cache()` it, materialize it with one
  * `count()`, and hand back that count with a frame whose plan is a single
  * `LogicalRDD` over the cached relation. A consumer's plan then starts at
  * this leaf instead of re-analysing the frame's whole build plan, which
  * is what keeps a chain of revisions (each derived from the one before)
  * flat.
  *
  * The leaf carries the cached relation's measured statistics (its
  * in-memory size once materialized) and its output partitioning. Its RDD
  * reads the cached column buffers, so the storage is the same columnar
  * cache a plain `cache()` holds; and if those blocks are dropped, the RDD
  * recomputes them from lineage instead of failing the way a
  * `localCheckpoint` leaf does. The cache it reads belongs to the input
  * frame: `unpersist` on the leaf does nothing, so the caller releases the
  * cache through the input frame (`df.unpersist()`, as
  * [[graft.sources.Upload]] does for each revision it has moved past); a
  * caller that drops the input frame holds the cache until the session's
  * cache is cleared (`spark.catalog.clearCache()`). A leaf whose cache was
  * released still reads, by recomputing from lineage.
  *
  * That lineage ships with every task that reads the leaf, cached or not,
  * up to the nearest shuffle: a leaf whose last stage read an earlier leaf
  * narrowly, or holds a physical plan in its generated code, makes each
  * later task deserialize those plans too. So every leaf
  * [[graft.sources.Upload]] holds ends at a shuffle on the key (each delta
  * and each applied revision) or at its source read (the start table,
  * whose only other step is a broadcast join on the announced keys; the
  * BDE reader broadcasts its Hadoop configuration rather than capturing
  * it, so that read ships no more than its parser).
  *
  * Lives in this package because `Dataset.ofRows`,
  * `LogicalRDD.fromDataset` and `DataTypeUtils` are `private[sql]`.
  */
object CachedLeaf {

  def apply(df: DataFrame): (DataFrame, Long) = {
    val n = df.cache().count()
    (leaf(df), n)
  }

  /** The leaf over `df`'s cache, for a frame that is already cached and
    * was materialized by another action (a job that read it); no job runs.
    */
  def leaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    // a fresh Dataset over the analyzed plan: its execution is planned now,
    // so it scans the cached relation even if `df`'s own plan predates it
    val cached = classic.Dataset.ofRows(ds.sparkSession, ds.logicalPlan)
    classic.Dataset.ofRows(ds.sparkSession,
      LogicalRDD.fromDataset(cached.queryExecution.toRdd, cached, ds.isStreaming))
  }

  /** Materialize `df` with an eager `localCheckpoint` and hand back a
    * `LogicalRDD` over the checkpointed rows with fresh attributes, no
    * origin statistics and unknown partitioning. Its `sizeInBytes` is
    * `spark.sql.defaultSizeInBytes`: a bare checkpoint leaf carries the
    * build plan's size estimate forward, and a loop that joins such
    * leaves round after round compounds that estimate until Catalyst's
    * BigInt statistics arithmetic dominates planning. Callers hint every
    * broadcast they need, so nothing downstream reads the estimate.
    *
    * Unlike the cached leaf above, the rows live only in the executors'
    * block stores: a leaf whose blocks are lost cannot be recomputed.
    */
  def checkpoint(df: DataFrame): DataFrame = {
    val ck = df.localCheckpoint().asInstanceOf[classic.Dataset[Row]]
    val rdd = ck.logicalPlan.asInstanceOf[LogicalRDD].rdd
    classic.Dataset.ofRows(ck.sparkSession,
      LogicalRDD(DataTypeUtils.toAttributes(ck.schema), rdd)(ck.sparkSession))
  }
}

/** Listener-bus access for the probes: `waitUntilEmpty` is `private[spark]`. */
object ListenerBus {

  /** Block until every event posted so far has reached every listener. */
  def drain(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()
}
