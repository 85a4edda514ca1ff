package org.apache.spark.sql.graft

import scala.annotation.tailrec

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Partitioning-preserving rebind for materialized loop state (r20).
  *
  * The superstep loops (pagerank/LPA/BFS/k-core, the dedup CC loop)
  * persist each round's node-state and rebind it to a constant-size
  * leaf so the logical plan doesn't double per round. The pre-r20
  * rebind — `createDataFrame(cached.rdd, schema)` — had two hidden
  * costs:
  *
  *  1. `.rdd` converts InternalRow -> external Row, and the new scan
  *     converts Row -> InternalRow again through non-codegen catalyst
  *     converters — paid per row, per consumer, per round;
  *  2. the resulting LogicalRDD carries UnknownPartitioning, so every
  *     round's state-side join/aggregate re-Exchanged the node state
  *     even though the cached rows are already hash-partitioned on
  *     the join key (r19 verdict: "the LPA label-state side still
  *     re-shuffles per round").
  *
  * This is the rebind `Dataset.localCheckpoint` performs internally
  * (a LogicalRDD over the InternalRow RDD carrying the executed
  * plan's outputPartitioning/outputOrdering) with one addition
  * `LogicalRDD.fromDataset` lacks: in Spark 4.1 the executedPlan of
  * even a bare cache scan is wrapped in an AdaptiveSparkPlanExec,
  * which always reports UnknownPartitioning — the real layout sits on
  * the InMemoryTableScan inside (where EnsureRequirements, running
  * within AQE re-optimization, sees it; fromDataset, reading from the
  * outside, does not). So the wrapper (and any query-stage shells)
  * is unwrapped before the partitioning/ordering are read.
  *
  * The partitioning and ordering are claimed only when the unwrapped
  * plan is an InMemoryTableScanExec over a MATERIALIZED cache whose
  * output attributes are exactly the analyzed output (no pruning or
  * renaming in between). Anything else degrades to
  * UnknownPartitioning and no ordering, which is never wrong, just
  * unoptimized: the layout of a plan that has not run yet is only
  * AQE's initial guess (it may coalesce or re-plan its exchanges), and
  * baking that guess into the LogicalRDD could let a downstream join
  * skip an Exchange it needs. A loaded cache's layout is fixed.
  *
  * Lives under org.apache.spark.sql because `Dataset.ofRows` and
  * `QueryExecution.toRdd` are private[sql]; no Spark internals are
  * modified (the GraftColumnBridge precedent).
  */
object Rebind {
  @tailrec private def unwrap(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
    case q: QueryStageExec => unwrap(q.plan)
    case other => other
  }

  /** PartitioningCollection can nest exponentially through join chains
    * — LogicalRDD.fromDataset flattens to the first leaf, but that
    * DROPS alternatives the loops rely on (an LPA state carries
    * `(hash(label) or hash(node))` because label aliases node, and the
    * first leaf is the one the next round's join can't use). Keep the
    * whole collection when it is small; fall back to the first leaf
    * only past a bound. */
  private def leafCount(p: Partitioning): Int = p match {
    case c: PartitioningCollection => c.partitionings.map(leafCount).sum
    case _ => 1
  }

  @tailrec private def firstLeaf(p: Partitioning): Partitioning = p match {
    case c: PartitioningCollection => firstLeaf(c.partitionings.head)
    case other => other
  }

  def preserving(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[Dataset[Row]]
    val qe = ds.queryExecution
    val inner = unwrap(qe.executedPlan)
    val out = qe.analyzed.output
    val (part, order) = inner match {
      case scan: InMemoryTableScanExec
          if scan.relation.cacheBuilder.isCachedColumnBuffersLoaded &&
            scan.output.map(_.exprId) == out.map(_.exprId) =>
        val raw = scan.outputPartitioning
        (if (leafCount(raw) <= 8) raw else firstLeaf(raw), scan.outputOrdering)
      case _ => (UnknownPartitioning(0), Nil)
    }
    Dataset.ofRows(ds.sparkSession,
      LogicalRDD(out, qe.toRdd, part, order, isStreaming = false)(ds.sparkSession))
  }
}
