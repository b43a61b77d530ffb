package graft

import org.apache.spark.sql.CachedLeaf
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf

class CachedLeafSpec extends SparkSpec {

  // a join, so the frame's own size estimate is far from the default
  private def joined = Tables.orders(spark, sf)
    .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
    .select(col("o_orderkey"), col("o_orderdate"), col("o_totalprice"),
      col("c_name"), col("c_mktsegment"),
      when(col("o_orderkey") % 7 === 0, lit(null)).otherwise(col("c_acctbal"))
        .as("bal"),
      array(col("o_orderkey"), col("o_custkey")).as("keys"))

  test("checkpoint: the leaf returns the frame's rows under its schema") {
    val df = joined
    val leaf = CachedLeaf.checkpoint(df)
    assert(leaf.schema == df.schema)
    val rows = df.collect().map(_.toString).sorted.toSeq
    assert(rows.nonEmpty)
    assert(leaf.collect().map(_.toString).sorted.toSeq == rows)
  }

  test("checkpoint: one LogicalRDD leaf with no size estimate and " +
    "unknown partitioning; a bare localCheckpoint keeps the estimate") {
    val leaf = CachedLeaf.checkpoint(joined)
    val plan = leaf.queryExecution.optimizedPlan
    assert(plan.isInstanceOf[LogicalRDD], plan.treeString)
    assert(plan.stats.sizeInBytes == BigInt(SQLConf.get.defaultSizeInBytes))
    assert(plan.asInstanceOf[LogicalRDD].outputPartitioning
      .isInstanceOf[UnknownPartitioning])
    val bare = joined.localCheckpoint().queryExecution.optimizedPlan
    assert(bare.stats.sizeInBytes != BigInt(SQLConf.get.defaultSizeInBytes))
    // fresh attributes: the leaf joins with itself like any base relation
    val self = leaf.as("a").join(leaf.as("b"),
      col("a.o_orderkey") === col("b.o_orderkey"))
    assert(self.count() == leaf.count())
  }
}
