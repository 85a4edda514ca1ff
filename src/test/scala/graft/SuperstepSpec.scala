package graft

import graft.operators.Superstep
import org.apache.spark.sql.{CacheEntries, DataFrame}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{col, count, lit, raise_error, when}

/** The superstep driver's contract: loops stop at their fixpoint or
  * cap, a failed round leaves no cache behind, and outputs rebind over
  * a loaded cache. */
class SuperstepSpec extends SparkSpec {

  private def cacheEntries: Int = CacheEntries(spark)

  private def claimed(rebound: DataFrame): Partitioning =
    rebound.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.outputPartitioning }.get

  /** A countdown loop: each round decrements every positive value, so
    * the count of positive values reaches 0 after max(values) rounds. */
  private def countdown(state: DataFrame): (DataFrame, org.apache.spark.sql.Column) =
    (state.select(when(col("v") > 0, col("v") - 1).otherwise(col("v")).as("v")),
      count(when(col("v") > 0, lit(1))))

  test("Superstep.iterate stops at its fixpoint or its round cap and keeps only the last cache") {
    val init = spark.range(0L, 50L).select((col("id") % 4).as("v"))
    val before = cacheEntries
    val done = Superstep.iterate(init, count(when(col("v") > 0, lit(1))), 10)((st, _) => countdown(st))
    try {
      assert(done.r == 3 && done.n == 0, s"fixpoint after 3 rounds, got r=${done.r} n=${done.n}")
      assert(done.state.collect().forall(_.getLong(0) == 0L))
      assert(cacheEntries == before + 1, "only the last round's cache stays")
    } finally CacheRegistry.releaseAll()
    val capped = Superstep.iterate(init, count(when(col("v") > 0, lit(1))), 2)((st, _) => countdown(st))
    try assert(capped.r == 2 && capped.n > 0, s"capped at 2 rounds, got r=${capped.r} n=${capped.n}")
    finally CacheRegistry.releaseAll()
  }

  test("Superstep.iterate rethrows a failed round and leaves no loop cache behind") {
    val init = spark.range(0L, 50L).select((col("id") % 4 + 1).as("v"))
    val initAgg = count(lit(1))
    val before = cacheEntries
    // the step itself throws in round 2
    val stepErr = intercept[IllegalStateException] {
      Superstep.iterate(init, initAgg, 5) { (st, r) =>
        if (r == 2) throw new IllegalStateException("round 2 step failed")
        countdown(st)
      }
    }
    assert(stepErr.getMessage == "round 2 step failed")
    assert(cacheEntries == before, "a throwing step left a loop cache behind")
    // round 2's frame fails while its materializing write runs
    val runErr = intercept[Exception] {
      Superstep.iterate(init, initAgg, 5) { (st, r) =>
        val (next, agg) = countdown(st)
        if (r < 2) (next, agg)
        else (next.select(when(col("v") >= 0, raise_error(lit("round 2 write failed")))
          .otherwise(col("v")).as("v")), agg)
      }
    }
    assert(Iterator.iterate[Throwable](runErr)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("round 2 write failed")), runErr.toString)
    assert(cacheEntries == before, "a failing round write left a loop cache behind")
  }

  test("Superstep.output returns its input's rows and claims the layout of a loaded cache") {
    import spark.implicits._
    val df = spark.range(0L, 1000L).selectExpr("id % 37 AS k", "id AS v").repartition($"k")
    val out = Superstep.output(df)
    try {
      assert(CacheEntries.loaded(df), "output's cache is not loaded")
      assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      claimed(out) match {
        case h: HashPartitioning =>
          assert(h.expressions.map(_.sql) == Seq("k"), s"output partitioned by $h")
        case other => fail(s"output lost its hash(k) layout: $other")
      }
      val plan = out.groupBy($"k").count().queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"k-keyed aggregate over the output still shuffles:\n$plan")
    } finally CacheRegistry.releaseAll()
  }
}
