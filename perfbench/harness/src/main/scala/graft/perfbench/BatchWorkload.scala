package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A workload of batch queries from `graft.SparkEntry.queries`. Each pass
  * issues every query once, in the pass's seeded order. Pass 0 is the
  * cold pass of a fresh JVM: it writes each output as parquet, as a batch
  * job would, and those outputs are what run.py checks against the
  * queries' DuckDB oracles. Warm passes follow until the run's time is up
  * and at least the workload's `warm_passes` have run; they materialize
  * every output row through the `noop` sink. */
final class BatchWorkload(r: Run) {
  def run(): Unit = {
    val all = graft.SparkEntry.queries
    val missing = r.o.queries.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
    val fns = r.o.queries.map(n => n -> all(n))

    def timed(p: Int, sink: (String, DataFrame) => Unit)(
        q: (String, (SparkSession, String) => DataFrame)): Unit =
      r.op(q._1, p, "query") {
        val df = q._2(r.spark, r.o.data)
        () => sink(q._1, df)
      }

    r.pass(0, traced = r.o.trace, settled = true) {
      r.order(fns, 0).foreach(timed(0, (n, df) =>
        df.write.mode("overwrite").parquet(s"${r.o.out}/check/$n")))
    }
    r.warmPasses(if (r.o.trace) math.max(4, r.o.warmPasses) else r.o.warmPasses) { p =>
      r.order(fns, p).foreach(timed(p, (_, df) =>
        df.write.format("noop").mode("overwrite").save()))
    }
    val oracle = graft.SparkEntry.oracleSql
    r.extra("oracle") = r.o.queries.flatMap(n => oracle.get(n).map(n -> _)).toMap
  }
}
