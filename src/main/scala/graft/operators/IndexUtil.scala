package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, count, lit, pmod, sum}

/** Shared plumbing for the PERSISTED-INDEX lifecycle (build-once
  * bucketed tables searched by later queries — the ANN family's
  * vector-store posture, reused by the graph family's edge indexes):
  * per-source-dir table-name tags and a drop that clears both the
  * in-memory catalog and any files a previous JVM left behind in the
  * warehouse dir. */
private[graft] object IndexUtil {

  /** Per-dir SHA tag for persisted index table names. */
  def dirTag(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString

  private def warehousePath(s: SparkSession): String =
    s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")

  /** Sidecar commit-marker path for a streaming index append leg —
    * `<warehouse>/_graft_commits/<tbl>.<leg>`, a tiny file holding the
    * last batchId whose append COMMITTED on that table+leg. Lives next
    * to the table it describes so a restart that finds the warehouse
    * finds the marker (the FileOutputCommitter posture: the commit
    * record travels with the data, reference hadoop-mapreduce-client-
    * core/src/main/java/org/apache/hadoop/mapreduce/lib/output/
    * FileOutputCommitter.java:1). */
  def commitMarkerPath(s: SparkSession, tbl: String, leg: String): java.nio.file.Path =
    java.nio.file.Paths.get(warehousePath(s), "_graft_commits",
      s"$tbl.${if (leg.isEmpty) "_" else leg}")

  /** Remove every commit marker for `tbl` — MUST accompany a table
    * rebuild: a fresh stream over a rebuilt table legitimately
    * restarts its batchIds at 0, and a stale marker from the previous
    * incarnation would wrongly block its appends. Called from
    * [[dropIndexTable]], the single gate every index (re)builder goes
    * through. */
  def clearCommitMarkers(s: SparkSession, tbl: String): Unit = {
    val dir = java.nio.file.Paths.get(warehousePath(s), "_graft_commits")
    if (java.nio.file.Files.isDirectory(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.list(dir).iterator().asScala.toSeq
        .filter(_.getFileName.toString.startsWith(s"$tbl."))
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
  }

  /** COMPACT a multi-generation bucketed index into a single-
    * generation successor — the small-files maintenance op that
    * append growth eventually requires (the HDFS problem class the
    * reference dedicates whole subsystems to: concat folds small
    * blocks into one file, hadoop-hdfs/src/main/java/org/apache/
    * hadoop/hdfs/server/namenode/FSDirConcatOp.java:1; Hadoop
    * Archives pack cold small files wholesale, hadoop-tools/
    * hadoop-archives/src/main/java/org/apache/hadoop/tools/
    * HadoopArchives.java:1 — same pressure, metadata-scale instead of
    * open()-count). Every append generation adds one file set per
    * bucket, so a long-lived index accretes files linearly with
    * ingest batches: scan open()s grow, per-bucket sorted runs
    * multiply (each generation sorted independently — a bucketed
    * sort-merge consumer re-merges runs per read), and at 100 TB the
    * NameNode-shaped metadata cost arrives too.
    *
    * The rewrite is ONE job with ZERO shuffle: the source is read
    * through its BUCKETED scan — one partition per bucket, each
    * coalescing that bucket's files across ALL generations — so every
    * write task holds exactly one bucket's rows and writes exactly
    * one file: N generations × B files in, B files out, one sorted
    * run per bucket, no Exchange anywhere (data never changes
    * buckets; compaction only changes FILES). The scan must be
    * FORCED bucketed for the duration: AQE's auto-bucketed-scan
    * demotes a bucketed read to plain size-split files when no
    * operator exploits the partitioning — correct for queries, wrong
    * here, where the partitioning IS the point (and it also defeats a
    * `repartition(buckets, bucketCols)` workaround: the optimizer
    * elides the repartition as satisfied by the nominal scan
    * partitioning, then the demotion un-satisfies it — measured,
    * 13 mixed-bucket files from 4 size-split tasks).
    * The result is written and FINGERPRINT-VERIFIED through
    * [[writeVerifiedGeneration]] before the swap — compaction must be
    * invisible to every query; the fragmented table drops only on a
    * match. `rewrite` passes through to it.
    * At 100 TB compaction runs partition-scoped and incremental —
    * only partitions whose generation count crossed a threshold
    * rewrite (the Delta OPTIMIZE / LSM-compaction posture). */
  def compactTable(s: SparkSession, frag: String, compacted: String,
      buckets: Int, bucketCols: Seq[String], sortCols: Seq[String],
      rewrite: DataFrame => DataFrame = identity): Unit = {
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = s.conf.getOption(autoKey)
    s.conf.set(autoKey, "false")
    try writeVerifiedGeneration(s.table(frag), compacted, buckets, bucketCols,
      sortCols, "compacted", rewrite)
    finally prevAuto match {
      case Some(v) => s.conf.set(autoKey, v)
      case None => s.conf.unset(autoKey)
    }
    dropIndexTable(s, frag) // commit point: compacted is live
  }

  /** Write `rows` as the bucketed index generation `tbl` and VERIFY it
    * before any caller swaps it in — the one write path of every
    * index generation (compaction, the keyed merges, the merge
    * stream). `tbl` is dropped first, catalog AND disk: a previous
    * JVM's run may have left the location behind with no in-memory
    * catalog entry, and saveAsTable fails on an existing location it
    * doesn't know about.
    *
    * The write job itself observes the rows' (count, bit_xor, Σ mod
    * 2^40) of [[MetadataOps.fnvRowFingerprint]] — an `Observation` on
    * the frame the writer consumes (after any repartition, so it is
    * counted in the write's own stage and `rows` is evaluated once) —
    * and only `tbl` is read back for the same triple. On a mismatch
    * the 64-bucket full-outer diagnosis ([[MetadataOps
    * .fnvFingerprints]] of `rows` against `tbl`) counts the bad
    * buckets for the failure message, and nothing is swapped: the
    * caller's commit point (dropping the old generation) is never
    * reached. `rewrite` is a fault-injection seam for specs: it sees
    * the rows after they are observed and before they are written
    * (identity in every real caller). */
  def writeVerifiedGeneration(rows: DataFrame, tbl: String, buckets: Int,
      bucketCols: Seq[String], sortCols: Seq[String], what: String,
      rewrite: DataFrame => DataFrame = identity): Unit = {
    val s = rows.sparkSession
    dropIndexTable(s, tbl)
    val totals = fingerprintTotals(rows)
    val obs = Observation()
    rewrite(rows.observe(obs, totals.head, totals.tail: _*))
      .write.mode("overwrite")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(sortCols.head, sortCols.tail: _*)
      .format("parquet").saveAsTable(tbl)
    val written = observed(obs, tbl)
    val target = s.table(tbl)
    if (target.select(fingerprintTotals(target): _*).head().toSeq != written.toSeq) {
      val bad = MetadataOps.fnvFingerprints(rows, "src")
        .join(MetadataOps.fnvFingerprints(target, "dst"), Seq("bucket"), "full_outer")
        .filter(!(col("src_rows") <=> col("dst_rows") &&
          col("src_xor") <=> col("dst_xor") &&
          col("src_sum") <=> col("dst_sum")))
        .count()
      throw new IllegalStateException(
        s"$what generation $tbl failed fingerprint " +
          s"verification in $bad/64 buckets — not swapped in")
    }
  }

  /** Whole-table (rows, bit_xor, Σ mod 2^40) of the FNV row
    * fingerprint — [[MetadataOps.fnvFingerprints]]' per-bucket triple
    * folded over all buckets. The sum runs in decimal so it cannot
    * overflow at any row count. */
  private def fingerprintTotals(df: DataFrame): Seq[Column] = {
    val fp = MetadataOps.fnvRowFingerprint(df)
    Seq(count(lit(1)).as("rows"), bit_xor(fp).as("xor"),
      sum(pmod(fp, lit(1L << 40)).cast("decimal(38,0)")).as("sum"))
  }

  /** Longest wait for an `Observation` once its action has returned.
    * Spark fills observations from its listener bus, so they land
    * asynchronously but normally within milliseconds. */
  private val ObservationWait = scala.concurrent.duration.Duration(60, "s")

  /** The metrics an index write observed. The one place that reads an
    * `Observation`: waits at most [[ObservationWait]] and then fails
    * naming `tbl`, never blocks without a bound. */
  def observed(obs: Observation, tbl: String): Row =
    try scala.concurrent.Await.result(obs.future, ObservationWait)
    catch { case _: java.util.concurrent.TimeoutException =>
      throw new IllegalStateException(
        s"observed metrics of the write to $tbl did not arrive within $ObservationWait")
    }

  /** Number of parquet data files backing a saved table — the
    * quantity compaction exists to shrink; exposed for specs. */
  def dataFileCount(s: SparkSession, tbl: String): Long = {
    val loc = java.nio.file.Paths.get(warehousePath(s), tbl)
    if (!java.nio.file.Files.isDirectory(loc)) 0L
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala
        .count(p => p.getFileName.toString.endsWith(".parquet") ||
          p.getFileName.toString.startsWith("part-"))
    }
  }

  /** Drop a persisted index table from both the (in-memory) catalog
    * and the warehouse dir — a previous JVM may have left table files
    * the in-memory catalog doesn't know about (the bucketedTables
    * rule). Shared by every persisted-index builder. Also clears the
    * table's streaming commit markers: table gone ⇒ its append
    * history is gone. */
  def dropIndexTable(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val wh = warehousePath(s)
    val loc = java.nio.file.Paths.get(wh, tbl)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(p => java.nio.file.Files.deleteIfExists(p))
    }
    clearCommitMarkers(s, tbl)
  }
}
