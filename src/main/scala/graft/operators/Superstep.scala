package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.{coalesce, lit}
import org.apache.spark.sql.graft.Rebind
import org.apache.spark.storage.StorageLevel

/** The superstep driver behind every fixpoint loop (pagerank, LPA,
  * BFS, k-core, dedup connected components, path resolution) and every
  * one-shot materialized output.
  *
  * A round is ONE action: the round's frame is persisted, and a single
  * `noop` write over the cached frame fills the cache while an
  * `Observation` of the round's convergence aggregate counts in the
  * write's own stage — no partial and final aggregate jobs to bring
  * one Long back. The state comes back through
  * [[org.apache.spark.sql.graft.Rebind.preserving]] over the loaded
  * cache, which keeps the logical plan constant-size over any round
  * count and the cache's hash partitioning visible to the next round's
  * node-keyed join. */
object Superstep {

  /** One materialized round: the persisted `cache`, its
    * partitioning-preserving rebind `state` (the next round's input),
    * the round's convergence count `n` and its index `r` (0 for the
    * initial state). */
  final case class Round(cache: DataFrame, state: DataFrame, n: Long, r: Int = 0)

  /** Materialize `df` in one action, counting `agg` (a Long-valued
    * aggregate, null → 0) over its rows. The caller owns the returned
    * cache: it unpersists or tracks it. */
  def materialize(df: DataFrame, agg: Column): Round = {
    val obs = Observation()
    filled(df, _.observe(obs, coalesce(agg, lit(0L)).as("n"))) { cache =>
      Round(cache, Rebind.preserving(cache),
        IndexUtil.observed(obs, "superstep round").getLong(0))
    }
  }

  /** Run a fixpoint loop: materialize `init` (counting `initAgg`), then
    * rounds r = 1, 2, … while the last count is positive and
    * r ≤ `maxRounds`. `step(state, r)` returns round r's frame and its
    * convergence aggregate. Each predecessor's cache is released once
    * its successor is filled; on a throw the in-flight cache is
    * released and the error rethrown. The last round's cache stays
    * tracked in [[graft.CacheRegistry]] until the consumer's release,
    * and its `n` tells whether the loop stopped at its fixpoint
    * (0) or at the round cap. */
  def iterate(init: DataFrame, initAgg: Column, maxRounds: Int)(
      step: (DataFrame, Int) => (DataFrame, Column)): Round = {
    var round = materialize(init, initAgg)
    try {
      while (round.n > 0 && round.r < maxRounds) {
        val r = round.r + 1
        val (next, agg) = step(round.state, r)
        val nextRound = materialize(next, agg).copy(r = r)
        round.cache.unpersist(blocking = false)
        round = nextRound
      }
    } catch { case t: Throwable =>
      round.cache.unpersist(blocking = false)
      throw t
    }
    graft.CacheRegistry.track(round.cache)
    round
  }

  /** Materialize a query's output in one action and return it rebound
    * over its loaded cache, tracked in [[graft.CacheRegistry]]. */
  def output(df: DataFrame): DataFrame =
    filled(df, identity)(cache => Rebind.preserving(graft.CacheRegistry.track(cache)))

  /** Persist `df`, fill the cache with one `noop` write over
    * `shape(cache)` and hand the filled cache to `use`; the cache is
    * released if any of it throws. */
  private def filled[T](df: DataFrame, shape: DataFrame => DataFrame)(
      use: DataFrame => T): T = {
    val cache = df.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      shape(cache).write.format("noop").mode("overwrite").save()
      use(cache)
    } catch { case t: Throwable =>
      cache.unpersist(blocking = false)
      throw t
    }
  }
}
