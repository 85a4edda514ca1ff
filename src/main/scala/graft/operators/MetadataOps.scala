package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.3 HopsFS-metadata-style analytics. HopsFS's pitch is that
  * NameNode metadata lives in an in-memory SQL database and "can now be
  * easily accessed via a SQL API" (reference README.md:7,
  * hadoop-hdfs-project/). These queries re-express the canonical
  * metadata workloads — du/quota rollups, block reports, audit-log hot
  * keys — as DataFrame aggregations, with `documents` standing in for
  * the inode table (source = directory, n_chars = size) and `events`
  * for the audit log. `ec_parity` mirrors hops-erasure-coding-project's
  * XOR parity over striped blocks.
  */
object MetadataOps {

  /** `hdfs dfs -du` — per-directory usage rollup. */
  def fs_du(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_files"),
        sum($"n_chars").as("bytes_used"),
        round(avg($"n_chars"), 2).as("avg_file_size"),
        max($"n_chars").as("max_file_size"))
      .orderBy($"source")
  }

  /** Block report shape — file-size histogram in 64-"byte" buckets. */
  def fs_block_histogram(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select((floor($"n_chars" / 64) * 64).as("bucket"))
      .groupBy($"bucket").agg(count(lit(1)).as("n_files"))
      .orderBy($"bucket")
  }

  /** Audit-log hot keys — most active principals. */
  def fs_hot_keys(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_ops"), round(sum($"value"), 2).as("total_value"))
      .orderBy($"n_ops".desc, $"user_id")
      .limit(20)
  }

  /** `hdfs find`-style metadata SEARCH (reference: hadoop-hdfs-project/
    * hadoop-hdfs/src/main/java/org/apache/hadoop/fs/shell/find/ — the
    * find CLI walks the namespace evaluating predicate expressions per
    * inode; HopsFS's pitch is that the same search is ONE SQL query
    * over the metadata DB, no tree walk). Multi-predicate inode
    * search — size range, language/extension class, name pattern
    * (doc_id suffix stands in for the filename glob) — returning the
    * matched paths with sizes. Pure filter + project: every predicate
    * pushes to the parquet scan and only two columns are read, the
    * posture that makes namespace search O(matching metadata) instead
    * of O(namespace) at 100 TB. */
  def fs_find(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"n_chars" >= 150 && $"lang".isin("en", "de") &&
        $"doc_id" % 10 === 3)
      .select(concat(lit("/"), $"source", lit("/"), $"lang",
          lit("/doc_"), $"doc_id".cast("string"), lit(".txt")).as("path"),
        $"n_chars".as("size"))
      .orderBy($"path")
  }

  /** Quota enforcement — directories above 1.05× the mean usage. */
  def fs_quota_check(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // scalar mean via agg + broadcast cross join — a global (unpartitioned)
    // window here would funnel the whole aggregate through one task.
    val usage = Tables.documents(s, d)
      .groupBy($"source").agg(sum($"n_chars").as("bytes_used"))
    usage
      .crossJoin(broadcast(usage.agg(avg($"bytes_used").as("mean_used"))))
      .filter($"bytes_used" > $"mean_used" * 1.05)
      .select($"source", $"bytes_used", round($"mean_used", 2).as("mean_used"))
      .orderBy($"source")
  }

  /** STORAGE-TYPE quota enforcement — the per-type dimension byte
    * quotas miss (reference: hadoop-hdfs-project/.../namenode/
    * QuotaByStorageTypeEntry.java — a directory may be inside its
    * total byte quota yet over its DISK allowance, which is exactly
    * what tiered-storage admins cap). Reuses [[fs_mover_plan]]'s
    * deterministic replica-placement model verbatim (same block split,
    * same pmod replica membership), splits each block's replica bytes
    * into DISK (n_disk present replicas) vs ARCHIVE (the remaining of
    * 3), rolls up per (directory, storage type) and checks usage
    * against a uniform per-type quota of 1.05× the cross-directory
    * mean — the same enforcement threshold as [[fs_quota_check]], now
    * per type. All integer arithmetic (the exceeded test is
    * cross-multiplied, usage reported as exact ppm of quota), so the
    * DuckDB oracle hash-matches.
    *
    * Scale: block explode → per-type rollup is one combine-friendly
    * aggregation on (source, type); the quota side is a 2-row
    * broadcast. No skew risk — the group count is dirs×2. The rollup
    * feeds BOTH join sides (usage + totals), so it is persisted
    * (registry-tracked, dirs×2 rows) — unpersisted, each side would
    * re-run the full block-explode scan, the self-join recompute rule
    * every multi-consumer stage in this repo follows. */
  def fs_quota_bytype(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val byType = graft.CacheRegistry.cache(Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("blk", explode(expr(
        "sequence(bigint(0), greatest(bigint(1), (n_chars + 63) div 64) - 1)")))
      .withColumn("blk_bytes",
        greatest(lit(0L), least(lit(64L), $"n_chars" - $"blk" * 64)))
      .withColumn("n_disk", expr(
        """aggregate(array(0L, 5L, 11L), 0L, (acc, o) ->
          |  acc + IF(pmod(doc_id * 131 + blk * 17 + o, 16) < 12, 1L, 0L))"""
          .stripMargin))
      .select($"source", explode(array(
        struct(lit("DISK").as("storage_type"),
          ($"n_disk" * $"blk_bytes").as("b")),
        struct(lit("ARCHIVE").as("storage_type"),
          ((lit(3L) - $"n_disk") * $"blk_bytes").as("b")))).as("e"))
      .select($"source", $"e.storage_type", $"e.b")
      .groupBy($"source", $"storage_type")
      .agg(sum($"b").as("bytes_used")))
    val totals = byType.groupBy($"storage_type")
      .agg(sum($"bytes_used").as("type_total"),
        count(lit(1)).as("n_dirs"))
    byType.join(broadcast(totals), "storage_type")
      .select($"source", $"storage_type", $"bytes_used",
        expr("bytes_used * n_dirs * 100000000 div (greatest(type_total, 1) * 105)")
          .as("quota_used_ppm"),
        ($"bytes_used" * $"n_dirs" * lit(100L) >
          greatest($"type_total", lit(1L)) * lit(105L)).as("quota_exceeded"))
      .orderBy($"source", $"storage_type")
  }

  /** Erasure-coding XOR parity (hops-erasure-coding-project): stripe
    * each document's payload into 4 blocks, XOR-fold them into one
    * parity block, report its fingerprint. Embarrassingly parallel —
    * no shuffle; at 100 TB this is a pure map over blocks.
    * Oracle: full hash match — the XOR fold and FNV fingerprint are
    * re-derived in DuckDB over the hex-encoded payload bytes.
    */
  def ec_parity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 4
    Tables.documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"), $"n_chars")
      .as[(Long, Array[Byte], Long)]
      .map { case (id, payload, n) =>
        val stripe = math.max(1, math.ceil(payload.length.toDouble / k).toInt)
        val parity = new Array[Byte](stripe)
        var i = 0
        while (i < payload.length) {
          parity(i % stripe) = (parity(i % stripe) ^ payload(i)).toByte
          i += 1
        }
        val fp = parity.foldLeft(1469598103934665603L)((h, b) => (h ^ (b & 0xff)) * 1099511628211L)
        (id, n, stripe, fp)
      }
      .toDF("doc_id", "bytes", "stripe_size", "parity_fp")
      .orderBy($"doc_id")
  }

  /** Reed-Solomon parity (hops-erasure-coding-project's RS codec — see
    * [[graft.functions.ReedSolomon]]): stripe each document's payload
    * into k=4 data blocks, compute m=2 GF(2^8) parity blocks (any 2
    * erasures recoverable — round-tripped in ReedSolomonSpec), report
    * both parity fingerprints. Pure map, no shuffle at 100 TB.
    * Oracle: full hash match — the GF(2^8) log/antilog tables and the
    * Lagrange-basis parity combination are re-derived in DuckDB. */
  def ec_parity_rs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.ReedSolomon
    val k = 4; val m = 2
    Tables.documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"), $"n_chars")
      .as[(Long, Array[Byte], Long)]
      .map { case (id, payload, n) =>
        val data = ReedSolomon.stripe(payload, k)
        val parity = ReedSolomon.encode(data, m)
        (id, n, data(0).length,
          ReedSolomon.fingerprint(parity(0)), ReedSolomon.fingerprint(parity(1)))
      }
      .toDF("doc_id", "bytes", "stripe_size", "parity_fp_0", "parity_fp_1")
      .orderBy($"doc_id")
  }

  /** Distributed erasure-coding reconstruction — the reference's block
    * REPAIR workload (hops-erasure-coding-project: ReedSolomonDecoder
    * .java drives decode over striped blocks; MapReduceBlockRepair
    * Manager.java / BlockReconstructor.java schedule it as a
    * distributed job). Per document: stripe into k=4 data blocks,
    * encode m=2 RS parity blocks, erase TWO of the six blocks
    * (deterministically chosen from doc_id so every erasure pattern —
    * data/data, data/parity, parity/parity — is exercised across the
    * corpus), reconstruct both from the four survivors, and verify the
    * rebuilt bytes fingerprint-match the originals. `recovered` must be
    * true on every row (asserted in ReedSolomonSpec).
    *
    * Scale: encode+erase+decode+verify all happen inside one typed map
    * — no shuffle, pipelines at scan speed over 100 TB exactly like the
    * reference's per-block repair tasks. Oracle: full hash match — the
    * erasure points are pure doc_id arithmetic and `recovered` is
    * contractually all-true, so DuckDB re-derives the pattern and any
    * reconstruction regression hash-mismatches (the GF algebra itself
    * is cross-verified via the ec_parity_rs oracle). */
  def ec_reconstruct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.functions.ReedSolomon
    val k = 4; val m = 2
    Tables.documents(s, d)
      .select($"doc_id", encode($"text", "UTF-8").as("payload"), $"n_chars")
      .as[(Long, Array[Byte], Long)]
      .map { case (id, payload, n) =>
        val data = ReedSolomon.stripe(payload, k)
        val blocks = data ++ ReedSolomon.encode(data, m)
        // erase points: e1 cycles 0..5 with doc_id; e2 = e1 + offset
        // with offset cycling 1..5, so all C(6,2) patterns occur.
        val e1 = (id % (k + m)).toInt
        val e2 = ((e1 + 1 + (id / (k + m)) % (k + m - 1)) % (k + m)).toInt
        val survivors = blocks.zipWithIndex.collect {
          case (b, pt) if pt != e1 && pt != e2 => pt -> b
        }.toMap
        val ok = java.util.Arrays.equals(ReedSolomon.decode(survivors, e1, k), blocks(e1)) &&
          java.util.Arrays.equals(ReedSolomon.decode(survivors, e2, k), blocks(e2))
        (id, n, e1, e2, ok)
      }
      .toDF("doc_id", "bytes", "erased_1", "erased_2", "recovered")
      .orderBy($"doc_id")
  }

  /** Recursive directory rollup — HDFS content-summary / `hdfs dfs -du`
    * semantics where every directory aggregates its WHOLE subtree
    * (hadoop-hdfs-project; HopsFS's pitch is exactly this query over
    * the metadata DB, reference README.md:7). Each file at path
    * /source/lang/doc contributes to all three ancestors: `/`,
    * /source, and /source/lang — expressed by exploding the ancestor
    * prefixes and aggregating once, NOT by iterating a join per tree
    * level. Row growth is bounded by path depth (here 3; real
    * filesystems ~10–20), partial aggregation collapses per-prefix
    * counts map-side, and the single shuffle is on the prefix key —
    * at 100 TB this is one pass over the inode table. */
  def fs_du_tree(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(array(lit("/"),
        concat(lit("/"), $"source"),
        concat(lit("/"), $"source", lit("/"), $"lang"))).as("dir"),
        $"n_chars")
      .groupBy($"dir")
      .agg(count(lit(1)).as("n_files"),
        sum($"n_chars").as("bytes_used"),
        round(avg($"n_chars"), 2).as("avg_file_size"))
      .orderBy($"dir")
  }

  /** The synthesized INODE TABLE backing [[fs_path_resolve]] and
    * [[fs_nearest_quota]] — the reference's actual namespace
    * representation: HopsFS replaces the NameNode's in-memory tree
    * with inode ROWS in a SQL database keyed by (parent_id, name)
    * (reference README.md:7; hadoop-hdfs-project's INode hierarchy is
    * the in-memory original). `documents` stands in for the file
    * inodes (source/lang = the two directory levels, n_chars = size);
    * directory inodes get dense-rank ids over the sorted distinct
    * path set — a global window, but over the DIM-sized distinct
    * directory list (the same driver-scale footprint as the ANN
    * centroid collects), never the file table. File ids are offset by
    * 1e6 to keep the id spaces disjoint. Returns
    * (id, parent_id, name, is_dir, size_bytes); only root has a NULL
    * parent_id. */
  private def inodeTable(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", $"source", $"lang", $"n_chars")
    val srcDirs = docs.select(concat(lit("/"), $"source").as("path"),
      lit("").as("parent_path"), $"source".as("name")).distinct()
    val langDirs = docs.select(
      concat(lit("/"), $"source", lit("/"), $"lang").as("path"),
      concat(lit("/"), $"source").as("parent_path"), $"lang".as("name"))
      .distinct()
    val root = Seq(("", null: String, "")).toDF("path", "parent_path", "name")
    val dirs = root.unionByName(srcDirs).unionByName(langDirs)
      .withColumn("id",
        dense_rank().over(Window.orderBy($"path")).cast("long"))
    val dirInodes = dirs.as("c")
      .join(dirs.select($"path".as("pp"), $"id".as("pid")).as("p"),
        $"c.parent_path" === $"pp", "left")
      .select($"c.id", $"pid".as("parent_id"), $"c.name",
        lit(true).as("is_dir"), lit(0L).as("size_bytes"))
    val fileInodes = docs
      .join(dirs.select($"path", $"id".as("pid")),
        concat(lit("/"), $"source", lit("/"), $"lang") === $"path")
      .select(($"doc_id" + 1000000L).as("id"), $"pid".as("parent_id"),
        concat(lit("doc_"), $"doc_id".cast("string"), lit(".txt")).as("name"),
        lit(false).as("is_dir"), $"n_chars".as("size_bytes"))
    dirInodes.unionByName(fileInodes)
  }

  /** PATH RESOLUTION by pointer doubling — the log-depth distributed
    * form of the reference's hottest metadata operation: every HopsFS
    * request starts by resolving a path to its inode via repeated
    * (parent_id, name) primary-key lookups (hadoop-hdfs-project's
    * INodeDirectory.getChild walk, re-expressed over inode ROWS).
    * Resolving EVERY inode's full path sequentially is O(depth) round
    * trips per inode; here each round joins the frontier to itself
    * (state.anc = state.id), so after k rounds every node has folded
    * in its 2^k-step ancestor — O(log depth) shuffles TOTAL for the
    * whole namespace, the same doubling argument as
    * [[graft.operators.Dedup.connectedComponents]]'s jump step (and
    * the same [[Superstep.iterate]] driver: one materializing action
    * per round that also counts the unresolved nodes, LogicalRDD
    * rebinding against plan-tree doubling, loud failure on iteration
    * exhaustion — MetadataSpec gates a 3000-deep chain resolving in
    * ≤ 13 rounds).
    *
    * Input: (id, parent_id, name) — parent_id NULL only at root.
    * Output: (id, path, depth); the invariant each round preserves is
    * full_path(id) = full_path(anc) ++ path, so when anc drains to
    * NULL, `path` IS the full path ('' for root). */
  def resolvePaths(inodes: DataFrame, maxIter: Int = 40): DataFrame = {
    // the convergence count: nodes still carrying an ancestor pointer
    val pending = sum(when(col("anc").isNotNull, 1L).otherwise(0L))
    val init = inodes.select(col("id"),
      col("parent_id").as("anc"),
      when(col("parent_id").isNull, lit(""))
        .otherwise(concat(lit("/"), col("name"))).as("path"),
      when(col("parent_id").isNull, lit(0L)).otherwise(lit(1L))
        .as("depth"))
    val last = Superstep.iterate(init, pending, maxIter) { (state, _) =>
      val lut = state.select(col("id").as("tid"), col("anc").as("tanc"),
        col("path").as("tpath"), col("depth").as("tdepth"))
      val upd = state.join(lut, state("anc") === col("tid"), "left")
        .select(state("id"), col("tanc").as("anc"),
          when(col("tid").isNull, state("path"))
            .otherwise(concat(col("tpath"), state("path"))).as("path"),
          when(col("tid").isNull, state("depth"))
            .otherwise(col("tdepth") + state("depth")).as("depth"))
      (upd, pending)
    }
    if (last.n > 0) {
      last.cache.unpersist(blocking = false)
      throw new IllegalStateException(
        s"resolvePaths did not converge in $maxIter rounds (${last.n} " +
          "nodes unresolved) — with doubling this covers depth 2^40; " +
          "the parent graph has a cycle or a dangling parent_id")
    }
    last.state.select(col("id"), col("path"), col("depth"))
  }

  /** Full-namespace path listing — [[resolvePaths]] over the
    * [[inodeTable]], joined back to inode attributes: the `hdfs dfs
    * -ls -R /` a HopsFS deployment answers with one SQL query instead
    * of a tree walk. Root's empty path renders as '/'. Oracle: the
    * inode synthesis is re-derived in DuckDB (same dense-rank ids
    * over the same sorted dir paths) and the resolution re-walked as
    * a RECURSIVE one-step-per-iteration CTE — an independent
    * sequential fixpoint against which the distributed doubling loop
    * hash-verifies, the dedup_clusters playbook. */
  def fs_path_resolve(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // read twice, by the loop's init and by the attribute join back:
    // persisted once, so the join does not derive the inode table (its
    // global dense-rank window and directory joins) a second time
    val inodes = graft.CacheRegistry.cache(inodeTable(s, d))
    resolvePaths(inodes)
      .join(inodes.select($"id", $"is_dir", $"size_bytes"), "id")
      .select($"id".as("inode_id"),
        when($"path" === "", "/").otherwise($"path").as("path"),
        $"depth", $"is_dir", $"size_bytes")
      .orderBy($"path")
  }

  /** QUOTA INHERITANCE by longest-prefix match — HDFS quota
    * enforcement resolves each write against the NEAREST ancestor
    * directory carrying a quota directive (hadoop-hdfs-project's
    * DirectoryWithQuotaFeature walk up the INode parents; HopsFS runs
    * the same check against inode rows). Directives are synthesized
    * deterministically over the [[inodeTable]] directory set (root
    * always; even-numbered source dirs; 'en'/'es' language dirs —
    * every tree level and the masking case are exercised: a file
    * under an en/ dir with a quota'd source ancestor counts against
    * the DEEPER directive only). Resolution is the IP-routing shape:
    * each file explodes its ≤ depth ancestor prefixes, equi-joins the
    * BROADCAST directive dim, and keeps the deepest hit via max_by —
    * no tree walk, one corpus-scale shuffle for the per-directive
    * rollup. Directives with every file masked by a deeper quota
    * still report (n_files = 0). Utilization is exact integer ppm.
    * MetadataSpec gates masking + conservation; the oracle re-derives
    * the synthesis, the sequential path walk, and the same
    * longest-prefix resolution in DuckDB. */
  def fs_nearest_quota(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inodes = inodeTable(s, d)
    val res = graft.CacheRegistry.cache(resolvePaths(inodes)
      .join(inodes.select($"id", $"is_dir", $"size_bytes"), "id"))
    // root always; even-numbered source dirs; en/es language dirs;
    // plus EVERY language dir under each 5th source — those sources'
    // own directives end up fully masked (n_files = 0), the case the
    // LEFT JOIN below must surface
    val quotaDirs = res.filter($"is_dir")
      .filter($"depth" === 0 ||
        ($"depth" === 1 && substring($"path", 5, 18).cast("long") % 2 === 0) ||
        ($"depth" === 2 && (element_at(split($"path", "/"), 3)
          .isin("en", "es") ||
          substring(element_at(split($"path", "/"), 2), 4, 18).cast("long")
            % 5 === 0)))
      // the root directive is deliberately oversubscribed (smaller
      // multiplier) so the over_quota branch is populated at every SF
      .select($"path".as("qpath"), (($"id" * 97 + 13) *
        when($"depth" === 0, 192L).otherwise(256L)).as("quota_bytes"))
    val ancestors = res.filter(!$"is_dir")
      .select($"id", $"size_bytes",
        explode(expr(
          """transform(sequence(0, cast(depth as int) - 1),
            |  k -> struct(k as k,
            |    array_join(slice(split(path, '/'), 1, k + 1), '/') as anc))"""
            .stripMargin)).as("a"))
      .select($"id", $"size_bytes", $"a.k", $"a.anc")
    val governed = ancestors
      .join(broadcast(quotaDirs), $"anc" === $"qpath")
      .groupBy($"id")
      .agg(first($"size_bytes").as("size_bytes"),
        max_by($"qpath", $"k").as("gov_path"))
    val rollup = governed.groupBy($"gov_path".as("qpath"))
      .agg(count(lit(1)).as("n_files"), sum($"size_bytes").as("bytes_used"))
    quotaDirs.join(rollup, Seq("qpath"), "left")
      .select(
        when($"qpath" === "", "/").otherwise($"qpath").as("quota_path"),
        $"quota_bytes",
        coalesce($"n_files", lit(0L)).as("n_files"),
        coalesce($"bytes_used", lit(0L)).as("bytes_used"))
      .withColumn("used_ppm", expr("bytes_used * 1000000 div quota_bytes"))
      .withColumn("over_quota", $"bytes_used" > $"quota_bytes")
      .orderBy($"quota_path")
  }

  /** 20-bit Morton interleave of two 10-bit dims `a`/`b` — one
    * generated integer expression, valid in BOTH Spark SQL and DuckDB
    * (same `>> & <<` operators), so the layout computation is shared
    * with its oracle by construction. */
  private[operators] val mortonExpr: String =
    (0 until 10).map(i =>
      s"(((a >> $i) & 1) << ${2 * i}) + (((b >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** Z-ORDER clustering manifest — the lakehouse `OPTIMIZE ZORDER BY
    * (user, hour)` layout pass, the multi-dimensional answer to the
    * single-key sort that [[fs_mover_plan]]-era warehouses used: rows
    * map to a 20-bit Morton code interleaving the two filter dims
    * (user bucket, epoch-hour bucket), files = 1024 code-range tiles
    * (top 10 Morton bits), and the emitted manifest is each tile's
    * per-dim min/max — exactly the file/row-group statistics a scan
    * planner prunes with. The Z-property this buys (MetadataSpec
    * gates it mechanically): every tile is a 32×32-aligned RECTANGLE,
    * so a selective predicate on EITHER dim (or both) skips ~31/32 of
    * the files — a single-dim sorted layout prunes one dim and scans
    * everything for the other (the spec's baseline comparison). At
    * 100 TB the same plan is `repartitionByRange(morton)` before the
    * write — one range shuffle, tile-sized files, stats from parquet
    * footers; here the manifest is computed directly (one groupBy on
    * the tile id, map-side combined). All-integer bit arithmetic —
    * the Morton expression string itself is shared with the DuckDB
    * oracle. */
  def fs_zorder_layout(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select(pmod($"user_id", lit(1024L)).as("a"),
        // guarded floor-div hour grid (the ev_anomaly rule), wrapped
        // to the manifest's 10-bit dim
        pmod(expr("(unix_timestamp(date_trunc('hour', ts)) - " +
          "pmod(unix_timestamp(date_trunc('hour', ts)), 3600)) div 3600"),
          lit(1024L)).as("b"))
      .withColumn("morton", expr(mortonExpr))
      .groupBy(expr("morton >> 10").as("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        min($"a").as("a_min"), max($"a").as("a_max"),
        min($"b").as("b_min"), max($"b").as("b_max"))
      .orderBy($"bucket")
  }

  /** Small-files report + compaction plan — THE HopsFS workload: the
    * reference's headline deviation from stock HDFS is storing
    * small-file data in the metadata DB because small files dominate
    * real namespaces and overwhelm block-based storage (reference
    * README.md:7 "Small files stored in the database"). The operator
    * every such system needs: per directory, how many files are small,
    * how many bytes they hold, and how many fixed-size bins a
    * compaction pass would pack them into (ceil of small bytes over the
    * bin size — the number of merged blobs a compactor would write).
    * One groupBy with conditional aggregates — map-side combined, one
    * shuffle on the directory key at any scale. */
  def fs_small_files(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val threshold = 256L; val bin = 1024L
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_files"),
        sum(when($"n_chars" < threshold, 1L).otherwise(0L)).as("n_small"),
        sum(when($"n_chars" < threshold, $"n_chars").otherwise(0L)).as("small_bytes"))
      .select($"source", $"n_files", $"n_small", $"small_bytes",
        round($"n_small" * 100.0 / $"n_files", 2).as("pct_small"),
        ceil($"small_bytes" / lit(bin.toDouble)).cast("long").as("n_compaction_bins"))
      .orderBy($"source")
  }

  /** Size-distribution report — per-directory file-size percentiles
    * (capacity planning / SLO reporting over the inode table). EXACT
    * percentile here: per-directory file counts are bounded, so the
    * per-group value buffer is too, and exactness buys a hash-checkable
    * oracle. For UNBOUNDED groups at 100 TB the same query swaps in
    * `percentile_approx` — Spark's mergeable single-pass sketch, whose
    * agreement with the exact form is spec-gated in MetadataSpec
    * (within 2% on every group) so the swap is a measured trade, not a
    * leap. */
  def fs_size_percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_files"),
        round(percentile($"n_chars", lit(0.5)), 2).as("p50"),
        round(percentile($"n_chars", lit(0.9)), 2).as("p90"),
        round(percentile($"n_chars", lit(0.99)), 2).as("p99"))
      .orderBy($"source")
  }

  /** Order-independent content fingerprints of a table, bucketed by a
    * row-content hash: per bucket, the row count, the XOR fold of the
    * 64-bit row hashes, and a wrap-safe hash sum. Used by
    * [[fs_copy_verify]] on both sides of a copy. XOR alone is blind to
    * a row duplicated an even number of times (x⊕x=0) and count alone
    * to swaps, so the triple is what makes single-row corruption,
    * loss, duplication, and cross-bucket swaps all detectable —
    * deliberately NOT the order-dependent fnv64Fold kernel, because a
    * copy re-writes the physical layout and row order is the one thing
    * the fingerprint must ignore. One map-side-combined aggregation
    * per side; at 100 TB raise `buckets` so each bucket stays a sane
    * audit unit (the summary is 3 longs per bucket regardless). */
  def copyFingerprints(df: DataFrame, side: String,
                       buckets: Int = 64): DataFrame =
    bucketedFingerprints(df,
      xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*), side, buckets)

  /** [[copyFingerprints]] with an ENGINE-PORTABLE row hash: FNV-1a
    * over the sorted columns' values joined by \u0001 (codegen'd
    * [[graft.functions.Fnv64StringExpr]]). DuckDB re-derives the same
    * fold over `ascii(ch)` HUGEINTs, which is what buys
    * [[fs_snapshot_apply]] a full hash oracle — xxhash64's internals
    * aren't available to a second engine. Fit for tables of
    * bigint/ASCII-string columns, where the decimal/string rendering
    * is identical across engines (both fingerprint sides use the SAME
    * canonicalization, so the VERIFICATION itself is as strong either
    * way). Doubles and timestamps render through the typed
    * canonicalization documented at the `canon` builder below (cents /
    * epoch micros) — that is what lets lineitem-shaped tables
    * fingerprint portably too (r13). Bucket = fp mod buckets is identical on
    * both engines for any buckets dividing 2^64 (the unsigned-vs-
    * signed residue coincides). NULL-free inputs only: concat_ws
    * silently drops nulls, which would alias (1,NULL,2)/(1,2,NULL). */
  def fnvFingerprints(df: DataFrame, side: String,
                      buckets: Int = 64): DataFrame =
    bucketedFingerprints(df, fnvRowFingerprint(df), side, buckets)

  /** The per-row FNV-1a fingerprint that [[fnvFingerprints]] buckets,
    * as a column over `df`'s own columns (referenced by name, so it
    * also evaluates inside an `observe` on `df`). */
  def fnvRowFingerprint(df: DataFrame): org.apache.spark.sql.Column = {
    import graft.functions.{Fnv64StringExpr, GraftExpressions}
    // Per-type canonical rendering - each case has an exact DuckDB
    // mirror, which is the whole point of this fingerprint family:
    //  - integers/strings: decimal/identity rendering (identical);
    //  - doubles: CENTS - floor(x*100 + 0.5) - both engines floor the
    //    same IEEE double (shortest-repr double FORMATTING is the one
    //    rendering that is NOT portable). Detection granularity is
    //    therefore 1/100 semantically, which for 2-decimal TPC-H
    //    money columns is value-lossless; missing a corruption below
    //    cents on a raw double is the accepted trade for a
    //    second-engine gate;
    //  - timestamps: epoch MICROS (unix_micros = DuckDB epoch_us; the
    //    NTZ-to-TZ cast at the session's UTC shifts nothing).
    val canon = concat_ws("\u0001",
      df.columns.sorted.map { c =>
        df.schema(c).dataType match {
          case org.apache.spark.sql.types.DoubleType =>
            floor(col(c) * 100 + 0.5).cast("long").cast("string")
          case org.apache.spark.sql.types.TimestampType |
               org.apache.spark.sql.types.TimestampNTZType =>
            unix_micros(col(c).cast("timestamp")).cast("string")
          case _ => col(c).cast("string")
        }
      }.toIndexedSeq: _*)
    GraftExpressions.toColumn(Fnv64StringExpr(GraftExpressions.toExpr(canon)))
  }

  private def bucketedFingerprints(df: DataFrame, rowFp: org.apache.spark.sql.Column,
                                   side: String, buckets: Int): DataFrame =
    df.select(pmod(rowFp, lit(buckets.toLong)).as("bucket"), rowFp.as("fp"))
      .groupBy("bucket")
      .agg(count(lit(1)).as(s"${side}_rows"),
        expr("bit_xor(fp)").as(s"${side}_xor"),
        sum(pmod(col("fp"), lit(1L << 40))).as(s"${side}_sum"))

  /** DistCp-shape bulk copy + checksum verify (reference:
    * hadoop-tools/hadoop-distcp/src/main/java/org/apache/hadoop/tools/
    * DistCp.java, mapred/CopyMapper.java — distributed copy where
    * every mapper re-verifies its file's checksum). Spark-native: the
    * copy is an embarrassingly-parallel re-write of the table into a
    * DIFFERENT physical layout (repartitioned parquet — same rows, new
    * files), and verification compares order-independent bucketed
    * fingerprints of source and copy through a full-outer join, so a
    * bucket missing entirely on either side surfaces as verified=false
    * rather than vanishing (the whole-bucket-loss case is negative-
    * tested in MetadataSpec alongside corruption/loss/duplication).
    * Two scans + a 64-row join; the copy write and both summary scans
    * parallelize linearly.
    *
    * DESTINATION: `destDir` argument, else the `graft.distcp.dest`
    * session conf, else `<spark.sql.warehouse.dir>/graft_distcp/
    * <applicationId>/<dataset>` — the warehouse is a SHARED filesystem
    * path on a real cluster (a node-local tmpdir would scatter task
    * files across executors and verify nothing), the applicationId
    * keys concurrent runs apart, and the sanitized dataset name keys
    * datasets apart, so overwrite-mode re-runs within one app reuse
    * one directory instead of accumulating copies. NOTE the copy is an
    * EAGER side effect of constructing the query — DistCp *is* a copy
    * job; the returned DataFrame is the verification report over the
    * artifact just written. HASH-ORACLED since r13 via
    * [[fnvFingerprints]]' typed canonicalization (money doubles →
    * cents, timestamps → epoch micros): DuckDB re-derives every
    * lineitem row's FNV fingerprint and the bucket folds, so the
    * whole copy → read-back → fingerprint chain is verified on a
    * second engine; the all-true `verified` column is additionally
    * gated in MetadataSpec. */
  def fs_copy_verify(s: SparkSession, d: String,
                     destDir: Option[String] = None): DataFrame = {
    import s.implicits._
    val src = Tables.lineitem(s, d)
    val copyDir = destDir
      .orElse(s.conf.getOption("graft.distcp.dest"))
      .getOrElse {
        val wh = s.conf.get("spark.sql.warehouse.dir")
        val app = s.sparkContext.applicationId
        val name = d.replaceAll("[^A-Za-z0-9._-]", "_")
        s"$wh/graft_distcp/$app/$name"
      }
    src.repartition(16).write.mode("overwrite").parquet(copyDir)
    val copy = s.read.parquet(copyDir)
    fnvFingerprints(src, "src")
      .join(fnvFingerprints(copy, "dst"), Seq("bucket"), "full_outer")
      .withColumn("verified",
        $"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
          $"src_sum" <=> $"dst_sum")
      .orderBy($"bucket")
  }

  /** One compacted container: the packed small-file payloads plus the
    * (doc_id, offset, length) index a reader needs to address each
    * member — the HAR part-file + index shape. */
  final case class IndexEntry(doc_id: Long, off: Long, len: Long)
  final case class ContainerBin(source: String, bin_id: Long, files_in: Long,
      bytes_in: Long, index: Seq[IndexEntry], container: Array[Byte])

  /** Small files of `documents` assigned to size-aware compaction bins:
    * per directory, files pack greedily in doc_id order until the
    * running size passes the bin capacity (a file belongs to the bin
    * its START offset falls in, so bins target `bin` bytes and overrun
    * by at most one small file — HAR part files target a size, they
    * don't hard-cap it). The per-directory cumsum is a window keyed on
    * `source`; a pathologically hot directory funnels through one
    * task's sort, and the escape hatch is the same two-phase
    * decomposition [[TextOps.text_pack]] uses for its GLOBAL cumsum. */
  private def smallBinned(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val threshold = 256L; val bin = 1024L
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(s, d)
      .filter($"n_chars" < threshold)
      .select($"doc_id", $"source", encode($"text", "UTF-8").as("payload"), $"n_chars")
      .withColumn("start_off", coalesce(sum($"n_chars").over(w), lit(0L)))
      .withColumn("bin_id", expr(s"start_off div $bin"))
      .select($"source", $"bin_id", $"doc_id", $"payload")
  }

  /** Pack each (source, bin) group into ONE container blob + index.
    * Typed mapGroups: one linear pass per bin (bins hold a handful of
    * small files by construction), exactly a HAR part-file writer's
    * loop. The groupBy shuffles the small-file BYTES — inherent to
    * compaction; the bytes must physically co-locate to merge. */
  private def packContainers(binned: DataFrame): DataFrame = {
    import binned.sparkSession.implicits._
    binned.as[(String, Long, Long, Array[Byte])]
      .groupByKey { case (src, bin, _, _) => (src, bin) }
      .mapGroups { (key: (String, Long), it: Iterator[(String, Long, Long, Array[Byte])]) =>
        val (src, bin) = key
        val rows = it.toArray.sortBy(_._3)
        val out = new java.io.ByteArrayOutputStream()
        val idx = rows.map { case (_, _, id, p) =>
          val off = out.size().toLong; out.write(p); IndexEntry(id, off, p.length.toLong)
        }
        ContainerBin(src, bin, rows.length.toLong, out.size().toLong,
          idx.toIndexedSeq, out.toByteArray)
      }
      .toDF()
  }

  /** Slice a container table back into per-file rows via its index —
    * the read path a compacted-store client runs. Pure map. */
  def unpackContainers(containers: DataFrame): DataFrame =
    containers
      .select(col("source"), col("bin_id"), explode(col("index")).as("e"), col("container"))
      .select(col("source"), col("bin_id"), col("e.doc_id").as("doc_id"),
        expr("substring(container, CAST(e.off AS INT) + 1, CAST(e.len AS INT))").as("payload"))

  /** Order-independent per-bin fingerprints of (doc_id, payload) rows —
    * [[copyFingerprints]]' triple (count / bit_xor / wrap-safe sum),
    * keyed on the compaction bin instead of a hash bucket. */
  def binFingerprints(rows: DataFrame, side: String): DataFrame = {
    val fp = xxhash64(col("doc_id"), col("payload"))
    rows.select(col("source"), col("bin_id"), fp.as("fp"))
      .groupBy(col("source"), col("bin_id"))
      .agg(count(lit(1)).as(s"${side}_rows"),
        expr("bit_xor(fp)").as(s"${side}_xor"),
        sum(pmod(col("fp"), lit(1L << 40))).as(s"${side}_sum"))
  }

  /** Compare the pre-write small-file rows against the rows sliced back
    * out of the (read-back) containers: full-outer on the bin key so a
    * LOST bin surfaces as verified=false, not as a vanished row —
    * negative-tested in MetadataSpec like fs_copy_verify. */
  def compactVerify(binned: DataFrame, back: DataFrame): DataFrame = {
    import binned.sparkSession.implicits._
    val report = back.select($"source", $"bin_id", $"files_in", $"bytes_in")
    binFingerprints(binned, "src")
      .join(binFingerprints(unpackContainers(back), "dst"), Seq("source", "bin_id"), "full_outer")
      .join(report, Seq("source", "bin_id"), "left_outer")
      .withColumn("verified",
        $"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
          $"src_sum" <=> $"dst_sum")
      .select($"source", $"bin_id", $"files_in", $"bytes_in",
        lit(1L).as("files_out"), $"verified")
      .orderBy($"source", $"bin_id")
  }

  /** Small-file COMPACTION, executed — the archiving step
    * [[fs_small_files]] only plans (reference: hadoop-tools/
    * hadoop-archives/src/main/java/org/apache/hadoop/tools/
    * HadoopArchives.java packs small files into HAR part files +
    * index; small-files-in-the-DB is the reference's headline,
    * README.md:7). Pipeline: bin the small files per directory
    * ([[smallBinned]]), pack each bin into one container blob with a
    * (doc_id, offset, length) index ([[packContainers]]), EAGERLY
    * write the container table (the compaction artifact — same
    * dest-resolution contract as [[fs_copy_verify]]), read it back,
    * slice every file back out of the physical artifact, and
    * fingerprint-verify per bin. Report: one row per bin — files_in,
    * bytes_in, files_out=1, verified (all-true gated in MetadataSpec).
    * HASH-ORACLED since r13: the report exposes no raw hashes, so
    * DuckDB re-derives the BINNING itself (the same per-directory
    * cumsum over n_chars, bin = start_off // 1024) and asserts
    * verified=true per bin — a packing/slicing/fingerprint failure
    * anywhere in the physical round trip flips `verified` and the
    * hash mismatches.
    *
    * Scale: binning is one window per directory key; packing is one
    * shuffle of small-file bytes (inherent — compaction must co-locate
    * the bytes it merges); verify is two map-side-combined aggs + a
    * bin-keyed join. Linear at 100 TB, and the artifact write is
    * embarrassingly parallel across bins. */
  def fs_compact(s: SparkSession, d: String,
                 destDir: Option[String] = None): DataFrame = {
    import s.implicits._
    val binned = graft.CacheRegistry.cache(smallBinned(s, d))
    val compactDir = destDir
      .orElse(s.conf.getOption("graft.compact.dest"))
      .getOrElse {
        val wh = s.conf.get("spark.sql.warehouse.dir")
        val app = s.sparkContext.applicationId
        val name = d.replaceAll("[^A-Za-z0-9._-]", "_")
        s"$wh/graft_compact/$app/$name"
      }
    packContainers(binned).write.mode("overwrite").parquet(compactDir)
    compactVerify(binned, s.read.parquet(compactDir))
  }

  /** Snapshot temporal diff — `hdfs snapshotDiff` / DistCp `-diff`
    * semantics (reference: hadoop-hdfs-project/hadoop-hdfs/.../
    * protocol/SnapshotDiffReport.java — the added/deleted/modified
    * report between two filesystem snapshots that drives incremental
    * copy). Two PHYSICAL snapshots are written: A = the inode table
    * as-is; B = a deterministic mutation (every doc_id % 17 == 3
    * deleted, % 11 == 5 modified to bytes*2+7, % 13 == 7 re-created
    * under a new id namespace with bytes+11). The diff reads both
    * artifacts back and full-outer-joins on the file key — CREATE /
    * DELETE / MODIFY rows with byte deltas, exactly the report shape.
    * The mutation rule is pure arithmetic on `documents`, so the
    * DuckDB oracle recomputes both snapshots logically and the diff is
    * hash-verified end to end despite the physical round-trip.
    *
    * Scale: snapshot writes are embarrassingly parallel scans; the
    * diff is ONE shuffle join on the file key. At 100 TB this is the
    * standard incremental-copy planning pass. */
  def fs_snapshot_diff(s: SparkSession, d: String,
                       destDir: Option[String] = None): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d).select($"doc_id", $"source", $"n_chars")
    val snapA = docs
    val snapB = docs.filter($"doc_id" % 17 =!= 3)
      .select($"doc_id", $"source",
        when($"doc_id" % 11 === 5, $"n_chars" * 2 + 7)
          .otherwise($"n_chars").as("n_chars"))
      .unionByName(docs.filter($"doc_id" % 13 === 7)
        .select(($"doc_id" + lit(1L << 40)).as("doc_id"), $"source",
          ($"n_chars" + 11).as("n_chars")))
    val base = destDir
      .orElse(s.conf.getOption("graft.snapshot.dest"))
      .getOrElse {
        val wh = s.conf.get("spark.sql.warehouse.dir")
        val app = s.sparkContext.applicationId
        val name = d.replaceAll("[^A-Za-z0-9._-]", "_")
        s"$wh/graft_snapshot/$app/$name"
      }
    snapA.write.mode("overwrite").parquet(s"$base/snap_a")
    snapB.write.mode("overwrite").parquet(s"$base/snap_b")
    val a = s.read.parquet(s"$base/snap_a")
      .select($"doc_id", $"source".as("source_a"), $"n_chars".as("bytes_a"))
    val b = s.read.parquet(s"$base/snap_b")
      .select($"doc_id", $"source".as("source_b"), $"n_chars".as("bytes_b"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when($"bytes_b".isNull, "DELETE")
          .when($"bytes_a".isNull, "CREATE")
          .when($"bytes_a" =!= $"bytes_b", "MODIFY")
          .otherwise("UNCHANGED"))
      .filter($"change" =!= "UNCHANGED")
      .select($"doc_id", coalesce($"source_a", $"source_b").as("source"),
        $"change",
        coalesce($"bytes_a", lit(0L)).as("bytes_a"),
        coalesce($"bytes_b", lit(0L)).as("bytes_b"),
        (coalesce($"bytes_b", lit(0L)) - coalesce($"bytes_a", lit(0L))).as("bytes_delta"))
      .orderBy($"doc_id", $"change")
  }

  /** The APPLY leg of the snapshot workflow — DistCp `-diff -update`
    * semantics (reference: hadoop-tools/hadoop-distcp — incremental
    * copy takes a SnapshotDiffReport and replays it so the target
    * catches up to the newer snapshot): run [[fs_snapshot_diff]] to
    * write both physical snapshots and produce the diff, REPLAY the
    * diff against snapshot A (anti-join the DELETEs/MODIFYs out,
    * union the CREATEs/MODIFYs' new values in — one anti-join + one
    * union, both linear), and verify the reconstruction against the
    * physically-written snapshot B with [[fs_copy_verify]]'s
    * order-independent bucketed-fingerprint machinery (full-outer
    * on the bucket, so a whole lost bucket surfaces unverified —
    * tamper-tested in MetadataSpec via [[applySnapshotDiff]]). One
    * verified=true row per fingerprint bucket; any false row means
    * the diff does not reproduce B. Fingerprints use the
    * ENGINE-PORTABLE [[fnvFingerprints]] (snapshot rows are pure
    * bigint/ASCII-string), so since r13 the whole leg is HASH-ORACLED:
    * DuckDB recomputes snapshot B logically (the fs_snapshot_diff
    * mutation arithmetic), re-derives every row's FNV fingerprint,
    * buckets, and fold/sum/count — one bit out of place anywhere in
    * the write→read→replay→fingerprint chain and the hash mismatches. */
  def fs_snapshot_apply(s: SparkSession, d: String,
                        destDir: Option[String] = None): DataFrame = {
    import s.implicits._
    val diff = fs_snapshot_diff(s, d, destDir)
    val base = destDir
      .orElse(s.conf.getOption("graft.snapshot.dest"))
      .getOrElse {
        val wh = s.conf.get("spark.sql.warehouse.dir")
        val app = s.sparkContext.applicationId
        val name = d.replaceAll("[^A-Za-z0-9._-]", "_")
        s"$wh/graft_snapshot/$app/$name"
      }
    val a = s.read.parquet(s"$base/snap_a")
    val b = s.read.parquet(s"$base/snap_b")
    val rebuilt = applySnapshotDiff(a, diff)
    fnvFingerprints(rebuilt, "src")
      .join(fnvFingerprints(b, "dst"), Seq("bucket"), "full_outer")
      .withColumn("verified",
        $"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
          $"src_sum" <=> $"dst_sum")
      .orderBy($"bucket")
  }

  /** Replay a snapshot diff report against a base snapshot: rows whose
    * key appears as DELETE or MODIFY leave (one anti-join), then the
    * CREATE and MODIFY rows' new values arrive (one union). Pure
    * relational replay — the DistCp incremental-copy kernel. */
  def applySnapshotDiff(base: DataFrame, diff: DataFrame): DataFrame = {
    import base.sparkSession.implicits._
    val removedKeys = diff
      .filter($"change" === "DELETE" || $"change" === "MODIFY")
      .select($"doc_id")
    val arrivals = diff
      .filter($"change" === "CREATE" || $"change" === "MODIFY")
      .select($"doc_id", $"source", $"bytes_b".as("n_chars"))
    base.join(removedKeys, Seq("doc_id"), "left_anti")
      .unionByName(arrivals)
  }

  /** Row-level MERGE INTO kernel (r17 — the keyed warehouse-maintenance
    * primitive; reference analogue: DistCp `-update`'s
    * copy-if-changed semantics applied to ROWS, hadoop-tools/
    * hadoop-distcp/src/main/java/org/apache/hadoop/tools/DistCp.java:1):
    *
    *   MERGE INTO target t USING delta d ON t.doc_id = d.doc_id
    *     WHEN MATCHED AND d.op = 'D' THEN DELETE
    *     WHEN MATCHED AND d.op = 'U' THEN UPDATE SET *
    *     WHEN NOT MATCHED AND d.op = 'I' THEN INSERT *
    *
    * as ONE full-outer equi-join on the key + a row-local CASE — no
    * second pass, no driver-side state. Unmatched U/D delta rows are
    * no-ops and matched I rows keep the target values (ANSI MERGE
    * clause-gating). Precondition, as in every MERGE engine: the
    * delta carries at most one row per key (enforced upstream by the
    * delta derivation; a violating delta would fan the join out and
    * the fingerprint verification downstream flags it). Explicit
    * `in_t` marker, not value-null-ness, decides MATCHED — target
    * columns may legitimately hold NULLs someday. */
  def mergeUpsert(target: DataFrame, delta: DataFrame): DataFrame = {
    import target.sparkSession.implicits._
    val t = target.select($"doc_id", $"source".as("t_source"),
      $"n_chars".as("t_n_chars"), lit(true).as("in_t"))
    val dl = delta.select($"doc_id", $"source".as("d_source"),
      $"n_chars".as("d_n_chars"), $"op")
    // NULL-safe op: target rows with no delta match carry op = NULL,
    // and three-valued logic would turn !(matched && op = 'D') into
    // NULL — silently dropping every untouched target row
    val op = coalesce($"op", lit(""))
    val matched = coalesce($"in_t", lit(false))
    val takeDelta = (op === "U" && matched) || (op === "I" && !matched)
    t.join(dl, Seq("doc_id"), "full_outer")
      .filter(!(matched && op === "D"))
      .filter(matched || op === "I")
      .select($"doc_id",
        when(takeDelta, $"d_source").otherwise($"t_source").as("source"),
        when(takeDelta, $"d_n_chars").otherwise($"t_n_chars").as("n_chars"))
  }

  /** Deterministic keyed delta over the inode table — one row per key,
    * all three MERGE clauses exercised: updates (7-residue, size
    * rewritten), deletes (19-residue of the non-updated keys), and
    * inserts (13-residue, keys shifted past any real doc_id so the
    * NOT-MATCHED clause is the one that fires). Pure integer
    * arithmetic → DuckDB regenerates it exactly. */
  private[graft] def mergeDelta(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val base = docs.select($"doc_id", $"source", $"n_chars")
    val updates = base.filter($"doc_id" % 7 === 3)
      .select($"doc_id", $"source", ($"n_chars" * 3 + 1).as("n_chars"),
        lit("U").as("op"))
    val deletes = base.filter($"doc_id" % 7 =!= 3 && $"doc_id" % 19 === 11)
      .select($"doc_id", $"source", lit(0L).as("n_chars"), lit("D").as("op"))
    val inserts = base.filter($"doc_id" % 13 === 7)
      .select(($"doc_id" + lit(1L << 41)).as("doc_id"), $"source",
        ($"n_chars" + 5).as("n_chars"), lit("I").as("op"))
    updates.unionByName(deletes).unionByName(inserts)
  }

  private val mergeTargetBuilt = new java.util.HashSet[String]()

  /** MERGE INTO-shaped table maintenance, end to end (r17): a
    * PERSISTED doc_id-bucketed target table (built once per (JVM,
    * dir) — the warehouse table being maintained), a deterministic
    * keyed delta, the [[mergeUpsert]] kernel, a bucketed WRITE of the
    * merged result as the new table version, and [[fnvFingerprints]]
    * verification of the read-back against a LOGICAL recomputation
    * of the merge from the raw inputs — one verified=true row per
    * fingerprint bucket; a row lost, duplicated, or corrupted
    * anywhere in the bucketed-scan → merge → write → read-back chain
    * flips its bucket false (lost/duplicated-key tamper-gated in
    * MetadataSpec). The DuckDB oracle recomputes the merged table AND
    * the FNV fingerprints logically, so the driver hash-compare
    * verifies the whole physical chain.
    *
    * Scale shape: the corpus-scale TARGET is read bucketed on the
    * merge key — the full-outer join moves only the delta (one
    * Exchange on the small side; at 100 TB the nightly delta is the
    * operand that fits, the table is the one that doesn't) — and the
    * merged write re-buckets on the same key so NEXT run's merge
    * reads the new version Exchange-free too: the maintenance loop is
    * closed under its own layout. */
  def fs_table_merge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tgtTbl = s"mt_target_${IndexUtil.dirTag(d)}"
    mergeTargetBuilt.synchronized { if (!mergeTargetBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tgtTbl)
      Tables.documents(s, d).select($"doc_id", $"source", $"n_chars")
        .write.mode("overwrite").bucketBy(32, "doc_id").sortBy("doc_id")
        .format("parquet").saveAsTable(tgtTbl)
      mergeTargetBuilt.add(d)
    } }
    val delta = mergeDelta(Tables.documents(s, d))
    val merged = mergeUpsert(s.table(tgtTbl), delta)
    val outTbl = s"${tgtTbl}_m"
    IndexUtil.dropIndexTable(s, outTbl)
    merged.write.mode("overwrite").bucketBy(32, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(outTbl)
    val expected = mergeUpsert(
      Tables.documents(s, d).select($"doc_id", $"source", $"n_chars"), delta)
    fnvFingerprints(expected, "src")
      .join(fnvFingerprints(s.table(outTbl), "dst"), Seq("bucket"), "full_outer")
      .withColumn("verified",
        $"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
          $"src_sum" <=> $"dst_sum")
      .orderBy($"bucket")
  }

  /** Stream-owned generation-0 target table for
    * [[graft.streaming.StreamingOps.tableMergeStream]] — the
    * continuous form MUTATES its table (merge-then-swap per
    * micro-batch), so it gets its own per-(dir, tag) generation chain
    * rather than sharing [[fs_table_merge]]'s memoized target.
    * Rebuilt on every call: a stream run wants a fresh generation 0,
    * not a JVM memo. Returns the BASE name; generation `i` lives at
    * `<base>_g<i>`. */
  private[graft] def mergeStreamTarget(s: SparkSession, d: String,
      tag: String): String = {
    import s.implicits._
    val base = s"mts_${IndexUtil.dirTag(d)}_$tag"
    IndexUtil.writeVerifiedGeneration(
      Tables.documents(s, d).select($"doc_id", $"source", $"n_chars"),
      s"${base}_g0", 32, Seq("doc_id"), Seq("doc_id"), "merge-stream base")
    // Defensive: the merge stream's guard is in-process only (its leg
    // is idempotent, see AppendGuard) and writes no markers, but clear
    // any BASE-keyed leftovers from older builds anyway — a rebuilt
    // chain must never inherit commit history under any version skew.
    IndexUtil.clearCommitMarkers(s, base)
    base
  }

  /** Synthetic block-placement model shared by [[fs_balancer_plan]] and
    * [[fs_fsck]] — the inode table's files split into 64-"byte" blocks
    * and each block's three replicas land on nodes
    * `pmod(doc_id*131 + blk*17 + off, 16)` for offsets {0, 5, 11} of a
    * 16-node / two-8-node-rack cluster. The offsets are chosen so the
    * rack-aware invariant of the reference's placement policy
    * (hadoop-hdfs-project/.../BlockPlacementPolicyDefault.java —
    * replicas must span racks) holds BY CONSTRUCTION: the three nodes
    * are {b-5, b, b+5} mod 16, whose span (10) cannot fit inside one
    * 8-node rack, so every block has a replica in each rack; and no
    * two offsets differ by <3, so no two replicas of a block share a
    * node. Placement is pure integer arithmetic → DuckDB recomputes it
    * exactly and the downstream reports are hash-oracled.
    *
    * Scale: the explode is bounded by blocks-per-file (the same row
    * growth a real block report carries) and everything downstream is
    * partial-aggregated; no join, one shuffle on the consumer's key. */
  private[graft] def blockReplicas(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("blk", explode(expr(
        "sequence(bigint(0), greatest(bigint(1), (n_chars + 63) div 64) - 1)")))
      .withColumn("blk_bytes",
        greatest(lit(0L), least(lit(64L), $"n_chars" - $"blk" * 64)))
      .withColumn("off", explode(typedLit(Seq(0L, 5L, 11L))))
      .withColumn("node_id", pmod($"doc_id" * 131 + $"blk" * 17 + $"off", lit(16L)))
  }

  /** Cluster-balancer plan — the reference's Balancer workload
    * (hadoop-hdfs-project/hadoop-hdfs/src/main/java/org/apache/hadoop/
    * hdfs/server/balancer/Balancer.java: classify datanodes as
    * over/under-utilized against the cluster-average utilization ±
    * threshold, then schedule bytes to move until every node is inside
    * the band). Per node: replica bytes from [[blockReplicas]],
    * capacity from a deterministic heterogeneous model (1–4× a unit
    * sized so the cluster runs ≈62% full at any SF), utilization in
    * integer ppm, state vs avg ± 10% (Balancer's default threshold),
    * and the bytes to move to re-enter the band.
    *
    * All arithmetic is integer (ppm, KiB-granular move sizes) so the
    * DuckDB oracle hash-matches exactly — no float rounding seam.
    * Documented i64 bounds: per-node `used*1e6` caps at 9.2 TB/node;
    * cluster totals are computed in KiB (caps at ~9 EB).
    *
    * Scale: one explode-bounded scan + one 16-row aggregation; the
    * scalar average rides a broadcast cross join (same shape as
    * fs_quota_check). The node count is a model parameter — a real
    * cluster's block report joins in here unchanged. */
  def fs_balancer_plan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // nodes is referenced twice (totals + final report) — one-scan rule.
    val nodes = graft.CacheRegistry.cache(
      blockReplicas(s, d)
        .groupBy($"node_id")
        .agg(sum($"blk_bytes").as("used_bytes"), count(lit(1)).as("n_replicas")))
    val tot = nodes.agg(sum($"used_bytes").as("total_used"))
    nodes.crossJoin(broadcast(tot))
      .withColumn("cap_unit", greatest(lit(1L), expr("total_used div 25")))
      .withColumn("capacity_bytes", (lit(1L) + $"node_id" % 4) * $"cap_unit")
      .withColumn("util_ppm", expr("used_bytes * 1000000 div capacity_bytes"))
      .withColumn("avg_util_ppm", expr(
        "(total_used div 1024) * 1000000 div greatest(1, (40 * cap_unit) div 1024)"))
      .withColumn("state",
        when($"util_ppm" > $"avg_util_ppm" + 100000, "OVER")
          .when($"util_ppm" < $"avg_util_ppm" - 100000, "UNDER")
          .otherwise("OK"))
      .withColumn("bytes_to_move",
        when($"util_ppm" > $"avg_util_ppm" + 100000, expr(
          "((util_ppm - avg_util_ppm - 100000) * (capacity_bytes div 1024) div 1000000) * 1024"))
          .otherwise(lit(0L)))
      .select($"node_id", $"capacity_bytes", $"used_bytes", $"n_replicas",
        $"util_ppm", $"avg_util_ppm", $"state", $"bytes_to_move")
      .orderBy($"node_id")
  }

  /** Filesystem health check — `hdfs fsck` (reference:
    * hadoop-hdfs-project/hadoop-hdfs/src/main/java/org/apache/hadoop/
    * hdfs/server/namenode/NamenodeFsck.java: walk the namespace,
    * count each block's live replicas, report under-replicated /
    * corrupt / missing per directory). Failure model: nodes 13–15 are
    * dead, plus a deterministic ~1% corrupt-replica rule
    * (`pmod(doc_id + blk*31 + off*101, 97) == 0`). Because placement
    * is rack-aware ([[blockReplicas]]: no two replicas of a block
    * share a node, every block spans both racks), no block can lose
    * two replicas to the 3 dead co-located nodes — `missing` is
    * structurally zero and `min_live >= 1` barring a corrupt+dead
    * coincidence, which is exactly the resilience claim fsck exists
    * to check (asserted in MetadataSpec).
    *
    * Scale: live-replica counting happens INSIDE the row via an
    * `aggregate` HOF over the three offsets — no replica explode, no
    * (doc, blk) shuffle; the only shuffle is the final per-directory
    * rollup. A real fsck over 100 TB is this exact partial-aggregated
    * single pass over the block report. */
  def fs_fsck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("blk", explode(expr(
        "sequence(bigint(0), greatest(bigint(1), (n_chars + 63) div 64) - 1)")))
      .withColumn("live", expr(
        """aggregate(array(0L, 5L, 11L), 0L, (acc, o) ->
          |  acc + IF(pmod(doc_id * 131 + blk * 17 + o, 16) < 13
          |           AND pmod(doc_id + blk * 31 + o * 101, 97) <> 0, 1L, 0L))"""
          .stripMargin))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when($"live" < 3, 1L).otherwise(0L)).as("under_replicated"),
        sum(when($"live" <= 1, 1L).otherwise(0L)).as("critical"),
        sum(when($"live" === 0, 1L).otherwise(0L)).as("missing"),
        min($"live").as("min_live"))
      .withColumn("under_ppm", expr("under_replicated * 1000000 div n_blocks"))
      .orderBy($"source")
  }

  /** Storage-policy migration plan — the reference's Mover workload
    * (hadoop-hdfs-project/hadoop-hdfs/src/main/java/org/apache/hadoop/
    * hdfs/server/mover/Mover.java:292–312: for each block, compare the
    * replicas' CURRENT storage types against the types the file's
    * storage policy `chooseStorageTypes`, and schedule moves for the
    * difference; policies per HdfsConstants — HOT = all replicas on
    * DISK, WARM = one DISK + rest ARCHIVE, COLD = all ARCHIVE).
    *
    * Model: nodes 12–15 of the [[blockReplicas]] cluster carry ARCHIVE
    * volumes, nodes 0–11 DISK; the policy attaches at the source
    * directory (`srcN` → N % 3 → HOT/WARM/COLD), mirroring HDFS's
    * directory-level `setStoragePolicy`. A block conforms when its
    * DISK-replica count equals the policy's want (3/1/0); since the
    * replica count is fixed, `abs(n_disk - want_disk)` is exactly the
    * number of replica migrations (each move flips one replica's
    * tier). Rolled up per (source, policy): blocks/replicas/bytes to
    * move + integer-ppm conformance.
    *
    * Scale: like [[fs_fsck]], the DISK-replica count rides an in-row
    * `aggregate` HOF over the three placement offsets — no replica
    * explode, no (doc, blk) shuffle; the only shuffle is the final
    * per-directory rollup with map-side partial aggregation. */
  def fs_mover_plan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("blk", explode(expr(
        "sequence(bigint(0), greatest(bigint(1), (n_chars + 63) div 64) - 1)")))
      .withColumn("blk_bytes",
        greatest(lit(0L), least(lit(64L), $"n_chars" - $"blk" * 64)))
      .withColumn("n_disk", expr(
        """aggregate(array(0L, 5L, 11L), 0L, (acc, o) ->
          |  acc + IF(pmod(doc_id * 131 + blk * 17 + o, 16) < 12, 1L, 0L))"""
          .stripMargin))
      .withColumn("policy", expr(
        "element_at(array('HOT', 'WARM', 'COLD'), " +
          "int(substring(source, 4, 10)) % 3 + 1)"))
      .withColumn("want_disk", expr(
        "CASE policy WHEN 'HOT' THEN 3L WHEN 'WARM' THEN 1L ELSE 0L END"))
      .withColumn("moves", abs($"n_disk" - $"want_disk"))
      .groupBy($"source", $"policy")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when($"moves" > 0, 1L).otherwise(0L)).as("blocks_to_move"),
        sum($"moves").as("replicas_to_move"),
        sum($"moves" * $"blk_bytes").as("bytes_to_move"))
      .withColumn("conform_ppm", expr(
        "(n_blocks - blocks_to_move) * 1000000 div n_blocks"))
      .orderBy($"source")
  }

  /** EC STORAGE-SAVINGS report — the number the reference's
    * erasure-coding project exists to deliver (hops-erasure-coding
    * stores blocks at ~1.5× instead of triplication's 3×): per
    * directory, logical bytes vs what 3× replication stores vs what
    * the repo's own RS(k=4, m=2) striping model stores (the
    * [[ec_parity_rs]] layout: 4 data chunks + 2 parity chunks of
    * ceil(size/4) bytes per file), with the saving as exact integer
    * ppm. A pure per-row map into one combine-friendly rollup — no
    * shuffle beyond the per-directory agg, scale-trivial. The ppm
    * division is per-GROUP (sums first), so the only div-by-zero
    * guard needed is the empty-file filter. */
  def fs_ec_savings(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .filter($"n_chars" > 0)
      .select($"source", $"n_chars".as("sz"))
      .withColumn("repl", expr("3 * sz"))
      .withColumn("ec", expr("sz + 2 * ((sz + 3) div 4)"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_files"),
        sum($"sz").as("logical_bytes"),
        sum($"repl").as("replicated_bytes"),
        sum($"ec").as("ec_bytes"))
      .select($"source", $"n_files", $"logical_bytes",
        $"replicated_bytes", $"ec_bytes",
        expr("(replicated_bytes - ec_bytes) * 1000000 div replicated_bytes")
          .as("savings_ppm"))
      .orderBy($"source")
  }

  /** HDFS centralized cache-administration report (`hdfs cacheadmin
    * -listPools -stats` / -listDirectives; reference:
    * hadoop-hdfs-project/hadoop-hdfs/src/main/java/org/apache/hadoop/
    * hdfs/server/namenode/CacheManager.java:364 computeNeeded —
    * a directive's bytesNeeded is the selected file bytes × its cache
    * replication, accumulated into its CachePool; CachePool.java:290
    * getBytesOverlimit = max(bytesNeeded − limit, 0); CacheManager
    * .java:373 checkLimit rejects an addDirective that would push the
    * pool past its limit).
    *
    * Model: a directive per (source, lang) prefix — "cache
    * /source/lang at replication r(lang)" (hot English corpora at 3×,
    * zh/fr at 2×, the rest at 1×); pools partition the 20 source
    * directories by number mod 4; pool limits are deterministic
    * slices of the global demand ((idx+1) × total/10 — so low-index
    * pools are oversubscribed and high-index ones admit everything,
    * both branches exercised at every SF). `admitted` evaluates
    * checkLimit at plan time: a directive is flagged when the
    * cumulative pool demand up to it (directive-id = (source, lang)
    * order) already exceeds the pool limit — i.e. `addDirective`
    * would throw "would exceed pool limit". (The live NameNode
    * re-evaluates after each rejection, so a later small directive
    * may still fit; this is the conservative plan-time report.)
    *
    * Scale: the directive table is namespace metadata (|sources| ×
    * |langs| rows), built by one map-side-combined aggregate over the
    * corpus; windows run over that metadata table, never the corpus;
    * the global-demand scalar broadcasts. */
  def fs_cache_plan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dirs = Tables.documents(s, d)
      .groupBy($"source", $"lang")
      .agg(count(lit(1)).as("n_files"), sum($"n_chars").as("bytes"))
      .withColumn("replication", expr(
        "CASE lang WHEN 'en' THEN 3L WHEN 'zh' THEN 2L WHEN 'fr' THEN 2L ELSE 1L END"))
      .withColumn("pool", expr(
        "concat('pool_', cast(int(substring(source, 4, 10)) % 4 as string))"))
      .withColumn("bytes_needed", $"bytes" * $"replication")
    val global = dirs.agg(sum($"bytes_needed").as("g_needed"))
    val admission = Window.partitionBy($"pool").orderBy($"source", $"lang")
    val perPool = Window.partitionBy($"pool")
    dirs.crossJoin(broadcast(global))
      .withColumn("pool_limit",
        expr("(int(substring(pool, 6, 10)) + 1) * (g_needed div 10)"))
      .withColumn("cum_needed", sum($"bytes_needed").over(admission))
      .withColumn("admitted", $"cum_needed" <= $"pool_limit")
      .withColumn("pool_needed", sum($"bytes_needed").over(perPool))
      .withColumn("pool_overlimit_bytes",
        greatest(lit(0L), $"pool_needed" - $"pool_limit"))
      .select($"pool", $"source", $"lang", $"replication", $"n_files",
        $"bytes_needed", $"admitted", $"pool_needed", $"pool_limit",
        $"pool_overlimit_bytes")
      .orderBy($"pool", $"source", $"lang")
  }

  /** Trash expunge plan (`hdfs dfs -expunge` / the NameNode Emptier;
    * reference: hadoop-common-project/hadoop-common/src/main/java/org/
    * apache/hadoop/fs/TrashPolicyDefault.java:371 — a checkpoint
    * directory named by its timestamp is deleted once
    * `now − deletionInterval > checkpointTime`; :200 createCheckpoint
    * rolls the live `Current` directory into a new timestamped
    * checkpoint, so the newest bucket is never expunged).
    *
    * Model: `error` events are moveToTrash operations into the acting
    * user's trash root (`/user/<id>/.Trash`), file size a pure
    * function of event_id (no double arithmetic near the hash);
    * checkpoints are day buckets; the audit clock `now` is the
    * newest deletion in the log (deterministic — no wall clock);
    * deletionInterval = 3 days. Emits the per-(trash root,
    * checkpoint) expunge plan: CURRENT for today's un-rolled bucket,
    * EXPUNGE past the interval, RETAINED between.
    *
    * Scale: one filter + one map-side-combined aggregate over the
    * audit log; the clock is a broadcast scalar; output is
    * |users| × |days| plan rows. */
  def fs_trash_expunge(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val del = Tables.events(s, d)
      .filter($"event_type" === "error")
      .select($"user_id", date_trunc("day", $"ts").as("checkpoint"),
        ($"event_id" % 997 + 64).as("sz"))
    val clock = del.agg(max($"checkpoint").as("now_day"))
    del.groupBy($"user_id", $"checkpoint")
      .agg(count(lit(1)).as("n_files"), sum($"sz").as("bytes"))
      .crossJoin(broadcast(clock))
      .withColumn("age_days",
        datediff($"now_day".cast("date"), $"checkpoint".cast("date")).cast("long"))
      .withColumn("status", expr(
        """CASE WHEN age_days = 0 THEN 'CURRENT'
          |     WHEN age_days > 3 THEN 'EXPUNGE'
          |     ELSE 'RETAINED' END""".stripMargin))
      .select($"user_id", $"checkpoint", $"n_files", $"bytes", $"age_days",
        $"status")
      .orderBy($"user_id", $"checkpoint")
  }

  /** Block-placement policy audit (reference: hadoop-hdfs .../server/
    * blockmanagement/BlockPlacementPolicyDefault.java —
    * verifyBlockPlacement deems a block satisfied when its replicas
    * span ≥ min(2, replication) racks; replicas must also land on
    * distinct datanodes, the invariant chooseTarget enforces by
    * excluding already-chosen nodes). `hdfs fsck -blocks -racks`
    * surfaces exactly this conformance report.
    *
    * Model: the 16-node/2-rack cluster of fs_balancer_plan/fs_fsck
    * (rack = node div 8), but with a DEGRADED placement function —
    * replica o of block (doc, blk) sits on node
    * (doc·(131 + 7o) + 17·blk) mod 16, an o×doc interaction that
    * (unlike fs_fsck's fixed-offset placement, which is
    * collision-free by construction) puts two replicas on one node
    * whenever doc ≡ 0 (mod 8) — the mis-replicated state a placement
    * audit exists to find. Per block: distinct nodes, distinct racks;
    * violations roll up per directory with misplaced bytes and an
    * integer-ppm conformance score.
    *
    * Scale: pure per-row expansion (block explode + a 3-element
    * array transform — no join, no shuffle before the final rollup);
    * the rollup is map-side combined on |sources| keys. */
  def fs_placement_audit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("blk", explode(expr(
        "sequence(bigint(0), greatest(bigint(1), (n_chars + 63) div 64) - 1)")))
      .withColumn("blk_bytes",
        greatest(lit(0L), least(lit(64L), $"n_chars" - $"blk" * 64)))
      .withColumn("nodes", expr(
        "transform(array(0L, 1L, 2L), o -> (doc_id * (131 + 7 * o) + blk * 17) % 16)"))
      .withColumn("n_nodes", expr("size(array_distinct(nodes))").cast("long"))
      .withColumn("n_racks",
        expr("size(array_distinct(transform(nodes, n -> n div 8)))").cast("long"))
      .withColumn("node_dup", $"n_nodes" < 3)
      .withColumn("single_rack", $"n_racks" < 2)
      .groupBy($"source")
      .agg(count(lit(1)).as("n_blocks"),
        sum(when($"node_dup", 1L).otherwise(0L)).as("blocks_node_dup"),
        sum(when($"single_rack", 1L).otherwise(0L)).as("blocks_single_rack"),
        sum(when($"node_dup" || $"single_rack", 1L).otherwise(0L))
          .as("blocks_violating"),
        sum(when($"node_dup" || $"single_rack", $"blk_bytes").otherwise(0L))
          .as("bytes_misplaced"))
      .withColumn("placement_ok_ppm",
        expr("(n_blocks - blocks_violating) * 1000000 div n_blocks"))
      .orderBy($"source")
  }

  /** Storage CHARGEBACK report — the bill a multi-tenant platform
    * (HopsFS's model: projects own directories, quotas meter them)
    * renders per tenant from the metadata DB: replica-placement-aware
    * billed bytes per tier (fs_mover_plan's n_disk model — DISK
    * replicas at the premium rate, the remaining replicas on ARCHIVE
    * at the cold rate), tier prices in integer cents per KiB so the
    * whole bill is exact i64 arithmetic, plus each directory's share
    * of the total bill in ppm (broadcast scalar). One block explode +
    * one map-side-combined per-source rollup — the same single-pass
    * shape as fs_ec_savings. */
  def fs_chargeback(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val billed = Tables.documents(s, d)
      .select($"doc_id", $"source", $"n_chars")
      .withColumn("blk", explode(expr(
        "sequence(bigint(0), greatest(bigint(1), (n_chars + 63) div 64) - 1)")))
      .withColumn("blk_bytes",
        greatest(lit(0L), least(lit(64L), $"n_chars" - $"blk" * 64)))
      .withColumn("n_disk", expr(
        """aggregate(array(0L, 5L, 11L), 0L, (acc, o) ->
          |  acc + IF(pmod(doc_id * 131 + blk * 17 + o, 16) < 12, 1L, 0L))"""
          .stripMargin))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_blocks"),
        sum($"blk_bytes" * $"n_disk").as("disk_bytes"),
        sum($"blk_bytes" * (lit(3L) - $"n_disk")).as("archive_bytes"))
      // DISK 5 ¢/KiB, ARCHIVE 2 ¢/KiB — integer cents, ceil per source
      .withColumn("bill_cents", expr(
        "(disk_bytes * 5 + archive_bytes * 2 + 1023) div 1024"))
    // two consumers (rows + total) — persist the tiny rollup so the
    // block explode runs once (the one-scan rule)
    val cached = graft.CacheRegistry.cache(billed)
    cached
      .crossJoin(broadcast(cached.agg(sum($"bill_cents").as("total_cents"))))
      .withColumn("bill_share_ppm",
        expr("bill_cents * 1000000 div total_cents"))
      .select($"source", $"n_blocks", $"disk_bytes", $"archive_bytes",
        $"bill_cents", $"bill_share_ppm")
      .orderBy($"source")
  }

  /** SCD TYPE-2 DIMENSION HISTORY — the warehouse compaction that
    * turns a sequence of full dimension snapshots into validity
    * intervals (valid_from/valid_to/is_current), generalizing
    * [[fs_snapshot_diff]]'s two-snapshot report to a timeline. Four
    * snapshot versions are derived from the inode table by a closed-
    * form mutation rule (the snapshot_diff discipline — pure
    * arithmetic both engines replay): at version v ≥ 1, docs with
    * doc_id % (v+3) == 0 grow by v·17 bytes (cumulative), and docs
    * with doc_id % 19 == v are deleted from v onward.
    *
    * Spark-first shape: versions come from ONE corpus scan via an
    * explode over the 4-version spine (no 4-way self-union of the
    * scan); the change detector is a lag window per doc over the
    * version order, islands fold with the cumulative-sum device
    * (ev_sessionize's rule), and intervals aggregate per (doc,
    * island) — all on ONE doc_id exchange (window and group share the
    * key prefix). Output rows = one per value-run, the SCD2 contract:
    * `valid_to` is the last version the value held, is_current marks
    * runs reaching the newest version, deletions simply end their
    * run. At 100 TB this replaces the K-way diff-merge with one
    * linear pass — the explode factor is the (small, fixed) snapshot
    * count, never data-dependent. */
  def fs_scd2_history(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val versions = 3
    val rows = Tables.documents(s, d).select($"doc_id", $"n_chars")
      .withColumn("v", explode(expr(s"sequence(bigint(0), bigint($versions))")))
      // cumulative closed-form mutation: growth event u (= 1..3) has
      // landed once v >= u. Written as explicit terms, not a
      // sequence() fold — sequence(1, 0) is DESCENDING in Spark, so a
      // fold would phantom-apply event 1 at version 0
      .withColumn("bytes", expr(
        """n_chars
          | + IF(v >= 1 AND doc_id % 4 = 0, 17L, 0L)
          | + IF(v >= 2 AND doc_id % 5 = 0, 34L, 0L)
          | + IF(v >= 3 AND doc_id % 6 = 0, 51L, 0L)""".stripMargin))
      // deleted from version v0 onward (v0 in 1..3): the run ends
      .filter(expr(s"NOT (doc_id % 19 BETWEEN 1 AND $versions AND v >= doc_id % 19)"))
    val w = Window.partitionBy($"doc_id").orderBy($"v")
    rows
      .withColumn("changed",
        when(lag($"bytes", 1).over(w).isNull ||
          lag($"bytes", 1).over(w) =!= $"bytes", 1L).otherwise(0L))
      .withColumn("island", sum($"changed").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"doc_id", $"island")
      // bytes is constant within an island (that IS the island
      // definition), so min is just the order-safe way to project it
      .agg(min($"v").as("valid_from"), max($"v").as("valid_to"),
        min($"bytes").as("bytes"))
      .withColumn("is_current", $"valid_to" === versions)
      .select($"doc_id", $"bytes", $"valid_from", $"valid_to", $"is_current")
      .orderBy($"doc_id", $"valid_from")
  }

  /** PERMISSION AUDIT — the security sweep over the namespace's mode
    * bits (reference: hadoop-common-project/hadoop-common/src/main/
    * java/org/apache/hadoop/fs/permission/FsPermission.java:1 — the
    * u/g/o rwx octal triple every inode carries; HopsFS holds it as a
    * column, so the audit that HDFS answers by walking the tree is
    * one aggregate here). Mode bits derive deterministically from the
    * inode id (owner fixed rw-, group = id mod 8, other = id·7 mod 8 —
    * the closed-form attribute rule fs_snapshot_diff established), and
    * the audit rolls up per directory: world-readable/writable and
    * group-writable counts (the exposure every hardening pass hunts),
    * the loosest other-triple present, and an exposed_ppm rate. Pure
    * integer bit arithmetic (div/mod on non-negative ints — identical
    * in both engines), one map-side-combined aggregate, two columns
    * read. */
  def fs_perm_audit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val inodes = Tables.documents(s, d)
      .select($"source",
        expr("384 + (doc_id % 8) * 8 + (doc_id * 7) % 8").as("mode"))
    inodes.groupBy($"source")
      .agg(count(lit(1)).as("n_files"),
        sum(expr("(mode div 4) % 2")).as("n_world_readable"),
        sum(expr("(mode div 2) % 2")).as("n_world_writable"),
        sum(expr("(mode div 16) % 2")).as("n_group_writable"),
        max(expr("mode % 8")).as("loosest_other"))
      .withColumn("exposed_ppm",
        expr("(n_world_readable + n_world_writable) * 1000000 div (2 * n_files)"))
      .orderBy($"source")
  }

  /** ACL EFFECTIVE-ACCESS AUDIT — the permission model PAST the mode
    * bits [[fs_perm_audit]] covers (reference: hadoop-common-project/
    * hadoop-common/src/main/java/org/apache/hadoop/fs/permission/
    * AclEntry.java:1 — extended ACL entries (type, name, perms) stored
    * per inode, which HopsFS holds as metadata rows; and
    * FsPermission's documented check order: owner triple UNMASKED,
    * then named-user entry ∧ mask, then group triple ∧ mask, then
    * other triple). For every (directory, principal) pair the audit
    * reports how many files each principal can effectively read/write
    * and through WHICH path access resolves — the report a hardening
    * pass wants ("who can actually touch this tree, and why").
    *
    * Synthesis is closed-form integer arithmetic (the
    * fs_snapshot_diff attribute rule): owner = id mod 10, group = id
    * mod 4, mode bits as fs_perm_audit, per-inode mask = 7 − id mod 3;
    * named-user grants live in a real ACL DIM — one row per
    * (directory, principal) where (srcnum·7 + p) mod 3 = 0, perms
    * (srcnum + 5p) mod 8 — broadcast onto the corpus scan (the
    * fs_nearest_quota broadcast-directive shape: the ACL table is
    * namespace-dimension-sized, never corpus-sized). The per-file
    * principal fan is a 10-way explode fused into the same scan; one
    * map-side-combined rollup per (directory, principal). All bit
    * arithmetic is div/mod/& on non-negative integers — identical in
    * both engines, so the full audit hash-verifies. */
  def fs_acl_audit(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val dirs = docs.select($"source").distinct()
      .select($"source", substring($"source", 4, 18).cast("long").as("src_num"))
    val acl = dirs
      .select($"source", explode(sequence(lit(0L), lit(9L))).as("p"), $"src_num")
      .filter(($"src_num" * 7 + $"p") % 3 === 0)
      .select($"source", $"p", (($"src_num" + $"p" * 5) % 8).as("acl_perms"))
    val files = docs.select($"source",
        expr("384 + (doc_id % 8) * 8 + (doc_id * 7) % 8").as("mode"),
        ($"doc_id" % 10).as("owner"), ($"doc_id" % 4).as("grp"),
        (lit(7L) - $"doc_id" % 3).as("mask"),
        explode(sequence(lit(0L), lit(9L))).as("p"))
    val resolved = files
      .join(broadcast(acl), Seq("source", "p"), "left")
      .select($"source", $"p",
        when($"p" === $"owner", expr("(mode div 64) % 8"))
          .when($"acl_perms".isNotNull, expr("acl_perms & mask"))
          .when($"p" % 4 === $"grp", expr("((mode div 8) % 8) & mask"))
          .otherwise(expr("mode % 8")).as("eff"),
        when($"p" === $"owner", 0L)
          .when($"acl_perms".isNotNull, 1L)
          .when($"p" % 4 === $"grp", 2L)
          .otherwise(3L).as("via"))
    resolved.groupBy($"source", $"p")
      .agg(count(lit(1)).as("n_files"),
        sum(when($"via" === 0, 1L).otherwise(0L)).as("n_owner"),
        sum(when($"via" === 1, 1L).otherwise(0L)).as("n_acl"),
        sum(when($"via" === 2, 1L).otherwise(0L)).as("n_group"),
        sum(when($"via" === 3, 1L).otherwise(0L)).as("n_other"),
        sum(expr("(eff div 4) % 2")).as("n_readable"),
        sum(expr("(eff div 2) % 2")).as("n_writable"))
      .select($"source", concat(lit("u"), $"p").as("principal"),
        $"n_files", $"n_owner", $"n_acl", $"n_group", $"n_other",
        $"n_readable", $"n_writable",
        expr("n_readable * 1000000 div n_files").as("readable_ppm"))
      .orderBy($"source", $"principal")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fs_acl_audit" -> fs_acl_audit _,
    "fs_perm_audit" -> fs_perm_audit _,
    "fs_scd2_history" -> fs_scd2_history _,
    "fs_chargeback" -> fs_chargeback _,
    "fs_cache_plan" -> fs_cache_plan _,
    "fs_trash_expunge" -> fs_trash_expunge _,
    "fs_placement_audit" -> fs_placement_audit _,
    "fs_ec_savings" -> fs_ec_savings _,
    "fs_copy_verify" -> ((s, d) => fs_copy_verify(s, d)),
    "fs_compact" -> ((s, d) => fs_compact(s, d)),
    "fs_snapshot_diff" -> ((s, d) => fs_snapshot_diff(s, d)),
    "fs_snapshot_apply" -> ((s, d) => fs_snapshot_apply(s, d)),
    "fs_table_merge" -> fs_table_merge _,
    "fs_balancer_plan" -> fs_balancer_plan _,
    "fs_fsck" -> fs_fsck _,
    "fs_mover_plan" -> fs_mover_plan _,
    "fs_du" -> fs_du _,
    "fs_path_resolve" -> fs_path_resolve _,
    "fs_nearest_quota" -> fs_nearest_quota _,
    "fs_zorder_layout" -> fs_zorder_layout _,
    "fs_find" -> fs_find _,
    "fs_size_percentiles" -> fs_size_percentiles _,
    "fs_small_files" -> fs_small_files _,
    "fs_du_tree" -> fs_du_tree _,
    "fs_block_histogram" -> fs_block_histogram _,
    "fs_hot_keys" -> fs_hot_keys _,
    "fs_quota_check" -> fs_quota_check _,
    "fs_quota_bytype" -> fs_quota_bytype _,
    "ec_parity" -> ec_parity _,
    "ec_parity_rs" -> ec_parity_rs _,
    "ec_reconstruct" -> ec_reconstruct _)

  /** Shared DuckDB prefix for the namespace oracles: the inode
    * synthesis (same dense-rank ids over the same sorted distinct dir
    * paths — binary string order on ASCII agrees across engines) plus
    * an independent SEQUENTIAL re-resolution — the recursive CTE
    * walks ONE ancestor per iteration, so the distributed doubling
    * loop is verified against a step-by-step fixpoint, not against
    * itself. Ends with CTE `res`(id, path, depth, is_dir,
    * size_bytes); callers prepend WITH RECURSIVE. */
  private val inodeResolveSql: String =
    """docs0 AS (
      |  SELECT doc_id, source, lang, n_chars FROM documents),
      |sdir AS (SELECT DISTINCT '/' || source AS path, '' AS parent_path,
      |    source AS name FROM docs0),
      |ldir AS (SELECT DISTINCT '/' || source || '/' || lang AS path,
      |    '/' || source AS parent_path, lang AS name FROM docs0),
      |dirs0 AS (
      |  SELECT '' AS path, CAST(NULL AS VARCHAR) AS parent_path, '' AS name
      |  UNION ALL SELECT * FROM sdir UNION ALL SELECT * FROM ldir),
      |dirs AS (SELECT path, parent_path, name,
      |  CAST(dense_rank() OVER (ORDER BY path) AS BIGINT) AS id FROM dirs0),
      |dinode AS (
      |  SELECT c.id, p.id AS parent_id, c.name, TRUE AS is_dir,
      |    CAST(0 AS BIGINT) AS size_bytes
      |  FROM dirs c LEFT JOIN dirs p ON c.parent_path = p.path),
      |finode AS (
      |  SELECT CAST(doc_id + 1000000 AS BIGINT) AS id, l.id AS parent_id,
      |    'doc_' || doc_id || '.txt' AS name, FALSE AS is_dir,
      |    CAST(n_chars AS BIGINT) AS size_bytes
      |  FROM docs0 JOIN dirs l ON l.path = '/' || source || '/' || lang),
      |inodes AS (SELECT * FROM dinode UNION ALL SELECT * FROM finode),
      |walk(id, cur, path, depth) AS (
      |  SELECT id, parent_id,
      |    CASE WHEN parent_id IS NULL THEN '' ELSE '/' || name END,
      |    CAST(CASE WHEN parent_id IS NULL THEN 0 ELSE 1 END AS BIGINT)
      |  FROM inodes
      |  UNION ALL
      |  SELECT w.id, i.parent_id,
      |    CASE WHEN i.parent_id IS NULL THEN w.path
      |      ELSE '/' || i.name || w.path END,
      |    w.depth + CASE WHEN i.parent_id IS NULL THEN 0 ELSE 1 END
      |  FROM walk w JOIN inodes i ON w.cur = i.id),
      |res AS (
      |  SELECT i.id, w.path, w.depth, i.is_dir, i.size_bytes
      |  FROM walk w JOIN inodes i USING (id)
      |  WHERE w.cur IS NULL)""".stripMargin

  val oracle: Map[String, String] = Map(
    "fs_acl_audit" ->
      """WITH f AS (
        |  SELECT source, doc_id,
        |    384 + (doc_id % 8) * 8 + (doc_id * 7) % 8 AS mode,
        |    doc_id % 10 AS owner, doc_id % 4 AS grp,
        |    7 - (doc_id % 3) AS mask
        |  FROM documents),
        |pr AS (SELECT CAST(t.p AS BIGINT) AS p FROM unnest(range(10)) AS t(p)),
        |dirs AS (
        |  SELECT DISTINCT source,
        |    CAST(substring(source, 4) AS BIGINT) AS src_num
        |  FROM documents),
        |acl AS (
        |  SELECT source, p, (src_num + p * 5) % 8 AS acl_perms
        |  FROM dirs CROSS JOIN pr WHERE (src_num * 7 + p) % 3 = 0),
        |e AS (
        |  SELECT f.source, pr.p,
        |    CASE WHEN pr.p = f.owner THEN (f.mode // 64) % 8
        |         WHEN a.acl_perms IS NOT NULL THEN a.acl_perms & f.mask
        |         WHEN pr.p % 4 = f.grp THEN ((f.mode // 8) % 8) & f.mask
        |         ELSE f.mode % 8 END AS eff,
        |    CASE WHEN pr.p = f.owner THEN 0
        |         WHEN a.acl_perms IS NOT NULL THEN 1
        |         WHEN pr.p % 4 = f.grp THEN 2 ELSE 3 END AS via
        |  FROM f CROSS JOIN pr
        |  LEFT JOIN acl a ON a.source = f.source AND a.p = pr.p),
        |agg AS (
        |  SELECT source, p, count(*) AS n_files,
        |    sum(CASE WHEN via = 0 THEN 1 ELSE 0 END) AS n_owner,
        |    sum(CASE WHEN via = 1 THEN 1 ELSE 0 END) AS n_acl,
        |    sum(CASE WHEN via = 2 THEN 1 ELSE 0 END) AS n_group,
        |    sum(CASE WHEN via = 3 THEN 1 ELSE 0 END) AS n_other,
        |    sum((eff // 4) % 2) AS n_readable,
        |    sum((eff // 2) % 2) AS n_writable
        |  FROM e GROUP BY 1, 2)
        |SELECT source, 'u' || p AS principal,
        |  CAST(n_files AS BIGINT) AS n_files,
        |  CAST(n_owner AS BIGINT) AS n_owner,
        |  CAST(n_acl AS BIGINT) AS n_acl,
        |  CAST(n_group AS BIGINT) AS n_group,
        |  CAST(n_other AS BIGINT) AS n_other,
        |  CAST(n_readable AS BIGINT) AS n_readable,
        |  CAST(n_writable AS BIGINT) AS n_writable,
        |  CAST(n_readable * 1000000 // n_files AS BIGINT) AS readable_ppm
        |FROM agg ORDER BY source, principal""".stripMargin,
    "fs_perm_audit" ->
      """WITH inodes AS (
        |  SELECT source,
        |    384 + (doc_id % 8) * 8 + (doc_id * 7) % 8 AS mode
        |  FROM documents),
        |agg AS (
        |  SELECT source, count(*) AS n_files,
        |    sum((mode // 4) % 2) AS n_world_readable,
        |    sum((mode // 2) % 2) AS n_world_writable,
        |    sum((mode // 16) % 2) AS n_group_writable,
        |    max(mode % 8) AS loosest_other
        |  FROM inodes GROUP BY 1)
        |SELECT source, n_files,
        |  CAST(n_world_readable AS BIGINT) AS n_world_readable,
        |  CAST(n_world_writable AS BIGINT) AS n_world_writable,
        |  CAST(n_group_writable AS BIGINT) AS n_group_writable,
        |  CAST(loosest_other AS BIGINT) AS loosest_other,
        |  CAST((n_world_readable + n_world_writable) * 1000000
        |    // (2 * n_files) AS BIGINT) AS exposed_ppm
        |FROM agg ORDER BY source""".stripMargin,
    "fs_scd2_history" ->
      """WITH spine AS (SELECT unnest(range(4)) AS v),
        |snaps AS (
        |  SELECT d.doc_id, CAST(s.v AS BIGINT) AS v,
        |    d.n_chars
        |      + CASE WHEN s.v >= 1 AND d.doc_id % 4 = 0 THEN 17 ELSE 0 END
        |      + CASE WHEN s.v >= 2 AND d.doc_id % 5 = 0 THEN 34 ELSE 0 END
        |      + CASE WHEN s.v >= 3 AND d.doc_id % 6 = 0 THEN 51 ELSE 0 END
        |      AS bytes
        |  FROM documents d, spine s
        |  WHERE NOT (d.doc_id % 19 BETWEEN 1 AND 3 AND s.v >= d.doc_id % 19)),
        |ch AS (
        |  SELECT doc_id, v, bytes,
        |    CASE WHEN lag(bytes) OVER w IS NULL
        |           OR lag(bytes) OVER w <> bytes THEN 1 ELSE 0 END AS changed
        |  FROM snaps
        |  WINDOW w AS (PARTITION BY doc_id ORDER BY v)),
        |isl AS (
        |  SELECT doc_id, v, bytes,
        |    SUM(changed) OVER (PARTITION BY doc_id ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
        |  FROM ch)
        |SELECT doc_id, CAST(min(bytes) AS BIGINT) AS bytes,
        |  CAST(min(v) AS BIGINT) AS valid_from,
        |  CAST(max(v) AS BIGINT) AS valid_to,
        |  max(v) = 3 AS is_current
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, valid_from""".stripMargin,
    "fs_path_resolve" -> ("WITH RECURSIVE " + inodeResolveSql + """
        |SELECT id AS inode_id,
        |  CASE WHEN path = '' THEN '/' ELSE path END AS path,
        |  depth, is_dir, size_bytes
        |FROM res ORDER BY path""".stripMargin),
    // The Morton expression string is the SAME Scala value the Spark
    // plan compiles — only the hour-grid idiom and the aggregation
    // are re-spelled.
    "fs_zorder_layout" -> s"""WITH e AS (
        |  SELECT CAST(user_id % 1024 AS BIGINT) AS a,
        |    CAST((epoch_us(date_trunc('hour', ts)) // 3600000000) % 1024
        |      AS BIGINT) AS b
        |  FROM events),
        |m AS (SELECT a, b, $mortonExpr AS morton FROM e)
        |SELECT morton >> 10 AS bucket, CAST(count(*) AS BIGINT) AS n_rows,
        |  min(a) AS a_min, max(a) AS a_max, min(b) AS b_min, max(b) AS b_max
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // Directive synthesis, the ancestor-prefix explode, the deepest-
    // hit max_by and the per-directive rollup all re-derived; the
    // masked-directive zero rows come from the same LEFT JOIN.
    "fs_nearest_quota" -> ("WITH RECURSIVE " + inodeResolveSql + """,
        |qd AS (
        |  SELECT path AS qpath,
        |    (id * 97 + 13) * CASE WHEN depth = 0 THEN 192 ELSE 256 END
        |      AS quota_bytes
        |  FROM res WHERE is_dir AND (depth = 0
        |    OR (depth = 1 AND CAST(substr(path, 5) AS BIGINT) % 2 = 0)
        |    OR (depth = 2 AND (string_split(path, '/')[3] IN ('en', 'es')
        |      OR CAST(substr(string_split(path, '/')[2], 4) AS BIGINT)
        |        % 5 = 0)))),
        |fa AS (
        |  SELECT r.id, r.size_bytes, CAST(t.k AS BIGINT) AS k,
        |    array_to_string(list_slice(string_split(r.path, '/'), 1,
        |      CAST(t.k AS INTEGER) + 1), '/') AS anc
        |  FROM res r, LATERAL unnest(range(r.depth)) AS t(k)
        |  WHERE NOT r.is_dir),
        |gov AS (
        |  SELECT fa.id, any_value(fa.size_bytes) AS size_bytes,
        |    max_by(fa.anc, fa.k) AS gov_path
        |  FROM fa JOIN qd ON fa.anc = qd.qpath GROUP BY fa.id),
        |ag AS (
        |  SELECT gov_path AS qpath, CAST(count(*) AS BIGINT) AS n_files,
        |    CAST(sum(size_bytes) AS BIGINT) AS bytes_used
        |  FROM gov GROUP BY 1)
        |SELECT CASE WHEN qd.qpath = '' THEN '/' ELSE qd.qpath END
        |    AS quota_path,
        |  CAST(qd.quota_bytes AS BIGINT) AS quota_bytes,
        |  CAST(COALESCE(ag.n_files, 0) AS BIGINT) AS n_files,
        |  CAST(COALESCE(ag.bytes_used, 0) AS BIGINT) AS bytes_used,
        |  COALESCE(ag.bytes_used, 0) * 1000000 // qd.quota_bytes AS used_ppm,
        |  COALESCE(ag.bytes_used, 0) > qd.quota_bytes AS over_quota
        |FROM qd LEFT JOIN ag ON ag.qpath = qd.qpath
        |ORDER BY quota_path""".stripMargin),
    // fs_compact's report exposes no raw hashes, so the oracle
    // re-derives the BINNING (per-directory cumsum over n_chars,
    // bin = start_off // 1024 — the smallBinned contract) and asserts
    // verified=true per bin: any packing/slicing/fingerprint failure
    // in the physical round trip flips `verified` on the Spark side
    // and the hash mismatches.
    "fs_compact" ->
      """WITH small AS (
        |  SELECT doc_id, source, n_chars, strlen(text)::BIGINT AS pbytes
        |  FROM documents WHERE n_chars < 256),
        |off AS (
        |  SELECT source, doc_id, pbytes,
        |    COALESCE(sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM small),
        |bins AS (
        |  SELECT source, CAST(start_off // 1024 AS BIGINT) AS bin_id,
        |    CAST(count(*) AS BIGINT) AS files_in,
        |    CAST(sum(pbytes) AS BIGINT) AS bytes_in
        |  FROM off GROUP BY 1, 2)
        |SELECT source, bin_id, files_in, bytes_in,
        |  1::BIGINT AS files_out, TRUE AS verified
        |FROM bins ORDER BY source, bin_id""".stripMargin,
    // Every lineitem row's FNV fingerprint re-derived over the typed
    // canonical rendering (cents for the 2-decimal money doubles —
    // floor(x*100+0.5) on the identical IEEE value both engines read
    // from parquet — epoch micros for the timestamp), then the same
    // bucket/xor/sum folds as the snapshot-apply oracle. src_* = dst_*
    // by construction: the Spark side only matches when the physical
    // repartition-write → read-back round trip preserved every row.
    "fs_copy_verify" ->
      """WITH canon AS (
        |  SELECT
        |    CAST(CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS VARCHAR) || chr(1) ||
        |    CAST(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS VARCHAR) || chr(1) ||
        |    CAST(l_linenumber AS VARCHAR) || chr(1) ||
        |    l_linestatus || chr(1) ||
        |    CAST(l_orderkey AS VARCHAR) || chr(1) ||
        |    CAST(l_partkey AS VARCHAR) || chr(1) ||
        |    CAST(CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS VARCHAR) || chr(1) ||
        |    l_returnflag || chr(1) ||
        |    CAST(epoch_us(l_shipdate) AS VARCHAR) || chr(1) ||
        |    CAST(l_suppkey AS VARCHAR) || chr(1) ||
        |    CAST(CAST(floor(l_tax*100 + 0.5) AS BIGINT) AS VARCHAR) AS cs
        |  FROM lineitem),
        |fp AS (
        |  SELECT list_reduce(
        |    list_prepend(1469598103934665603::HUGEINT,
        |      list_transform(string_split(cs, ''), ch -> ascii(ch)::HUGEINT)),
        |    (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT)
        |                % 18446744073709551616::HUGEINT) AS h
        |  FROM canon),
        |sfp AS (
        |  SELECT CAST(h % 64 AS BIGINT) AS bucket,
        |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |         THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fps,
        |    CAST(h % 1099511627776::HUGEINT AS BIGINT) AS fpm
        |  FROM fp),
        |agg AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(bit_xor(fps) AS BIGINT) AS xr, CAST(sum(fpm) AS BIGINT) AS sm
        |  FROM sfp GROUP BY 1)
        |SELECT bucket, n AS src_rows, xr AS src_xor, sm AS src_sum,
        |       n AS dst_rows, xr AS dst_xor, sm AS dst_sum, TRUE AS verified
        |FROM agg ORDER BY bucket""".stripMargin,
    // Snapshot B recomputed logically (the fs_snapshot_diff mutation
    // arithmetic), then every row's FNV-1a fingerprint re-derived over
    // the \x01-joined sorted-column rendering (the fnvFingerprints
    // canonicalization) with the gramSql HUGEINT mod-2^64 device;
    // bucket/sum residues coincide signed-vs-unsigned because 64 and
    // 2^40 divide 2^64; the xor fold converts to signed BIGINT first
    // so bit_xor matches Spark's. src_* = dst_* by construction — the
    // Spark side only matches when its physical write→read→replay
    // chain reproduces B exactly.
    "fs_snapshot_apply" ->
      """WITH b AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN n_chars * 2 + 7 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, source, n_chars + 11
        |  FROM documents WHERE doc_id % 13 = 7),
        |fp AS (
        |  SELECT list_reduce(
        |    list_prepend(1469598103934665603::HUGEINT,
        |      list_transform(string_split(
        |        CAST(doc_id AS VARCHAR) || chr(1) || CAST(n_chars AS VARCHAR)
        |          || chr(1) || source, ''), ch -> ascii(ch)::HUGEINT)),
        |    (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT)
        |                % 18446744073709551616::HUGEINT) AS h
        |  FROM b),
        |sfp AS (
        |  SELECT CAST(h % 64 AS BIGINT) AS bucket,
        |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |         THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fps,
        |    CAST(h % 1099511627776::HUGEINT AS BIGINT) AS fpm
        |  FROM fp),
        |agg AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(bit_xor(fps) AS BIGINT) AS xr,
        |    CAST(sum(fpm) AS BIGINT) AS sm
        |  FROM sfp GROUP BY 1)
        |SELECT bucket, n AS src_rows, xr AS src_xor, sm AS src_sum,
        |       n AS dst_rows, xr AS dst_xor, sm AS dst_sum, TRUE AS verified
        |FROM agg ORDER BY bucket""".stripMargin,
    // The merged table recomputed logically (update-else-insert-else-
    // delete arithmetic of mergeDelta + mergeUpsert), then the same
    // FNV-1a fingerprint chain as fs_snapshot_apply — src_* = dst_* by
    // construction; the Spark side only matches when the bucketed-scan
    // → merge → bucketed-write → read-back chain reproduces the merge
    // exactly.
    "fs_table_merge" ->
      """WITH m AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 7 = 3 THEN n_chars * 3 + 1 ELSE n_chars END AS n_chars
        |  FROM documents
        |  WHERE NOT (doc_id % 7 <> 3 AND doc_id % 19 = 11)
        |  UNION ALL
        |  SELECT doc_id + 2199023255552, source, n_chars + 5
        |  FROM documents WHERE doc_id % 13 = 7),
        |fp AS (
        |  SELECT list_reduce(
        |    list_prepend(1469598103934665603::HUGEINT,
        |      list_transform(string_split(
        |        CAST(doc_id AS VARCHAR) || chr(1) || CAST(n_chars AS VARCHAR)
        |          || chr(1) || source, ''), ch -> ascii(ch)::HUGEINT)),
        |    (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT)
        |                % 18446744073709551616::HUGEINT) AS h
        |  FROM m),
        |sfp AS (
        |  SELECT CAST(h % 64 AS BIGINT) AS bucket,
        |    CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |         THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT) AS fps,
        |    CAST(h % 1099511627776::HUGEINT AS BIGINT) AS fpm
        |  FROM fp),
        |agg AS (
        |  SELECT bucket, CAST(count(*) AS BIGINT) AS n,
        |    CAST(bit_xor(fps) AS BIGINT) AS xr,
        |    CAST(sum(fpm) AS BIGINT) AS sm
        |  FROM sfp GROUP BY 1)
        |SELECT bucket, n AS src_rows, xr AS src_xor, sm AS src_sum,
        |       n AS dst_rows, xr AS dst_xor, sm AS dst_sum, TRUE AS verified
        |FROM agg ORDER BY bucket""".stripMargin,
    // Same RS(4,2) striping model as ec_parity_rs; all-integer
    // arithmetic (ceil via (sz+3)//4 on non-negative sizes, sums cast
    // from HUGEINT, per-group Euclidean ppm).
    "fs_ec_savings" ->
      """WITH f AS (
        |  SELECT source, n_chars AS sz, 3 * n_chars AS repl,
        |         n_chars + 2 * ((n_chars + 3) // 4) AS ec
        |  FROM documents WHERE n_chars > 0),
        |a AS (
        |  SELECT source, count(*)::BIGINT AS n_files,
        |    CAST(sum(sz) AS BIGINT) AS logical_bytes,
        |    CAST(sum(repl) AS BIGINT) AS replicated_bytes,
        |    CAST(sum(ec) AS BIGINT) AS ec_bytes
        |  FROM f GROUP BY 1)
        |SELECT source, n_files, logical_bytes, replicated_bytes, ec_bytes,
        |  (replicated_bytes - ec_bytes) * 1000000 // replicated_bytes AS savings_ppm
        |FROM a ORDER BY source""".stripMargin,
    // The XOR-parity + FNV-1-style fold IS expressible in DuckDB after
    // all (r10 verdict item): bytes via hex() + per-byte hex cast,
    // stripe XOR via bit_xor GROUP BY i % stripe, and the 64-bit
    // wraparound fold via list_reduce in HUGEINT mod 2^64, mapped back
    // to signed BIGINT. greatest(len, 1) positions + the CASE keep the
    // empty-payload doc (parity = one zero byte) identical to the
    // Spark side's zeroed parity buffer.
    "ec_parity" ->
      """WITH b AS (
        |  SELECT doc_id, n_chars, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS len
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, n_chars, len,
        |         greatest(1, CAST(ceil(len / 4.0) AS BIGINT)) AS stripe,
        |         i,
        |         CASE WHEN i < len
        |              THEN ('0x' || substr(hx, CAST(2*i+1 AS BIGINT), 2))::BIGINT
        |              ELSE 0 END AS byte
        |  FROM b, LATERAL unnest(range(greatest(len, 1))) AS t(i)),
        |parity AS (
        |  SELECT doc_id, n_chars, stripe, i % stripe AS j, bit_xor(byte) AS pbyte
        |  FROM pos GROUP BY 1,2,3,4),
        |folded AS (
        |  SELECT doc_id, n_chars, stripe,
        |    list_reduce(
        |      list_prepend(1469598103934665603::HUGEINT, list(pbyte ORDER BY j)),
        |      (acc, x) -> (xor(acc::HUGEINT, x::HUGEINT)
        |                   * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS h
        |  FROM parity GROUP BY 1,2,3)
        |SELECT doc_id, n_chars AS bytes, CAST(stripe AS INTEGER) AS stripe_size,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT ELSE h END AS BIGINT)
        |    AS parity_fp
        |FROM folded ORDER BY doc_id""".stripMargin,
    // Full GF(2^8) Reed-Solomon parity cross-verified in SQL: the
    // exp/log tables are built by a 255-step recursive CTE over the
    // 0x11D generator cycle, the k=4/m=2 Lagrange coefficients are the
    // fixed constants L_i(4)=[27,28,18,20] / L_i(5)=[28,27,20,18]
    // (independent of payload — they depend only on the evaluation
    // points), each parity byte is the 4-term GF dot product, and the
    // FNV fold reuses the ec_parity HUGEINT mod-2^64 list_reduce.
    "ec_parity_rs" ->
      """WITH RECURSIVE gf(i, x) AS (
        |  SELECT 0, 1
        |  UNION ALL
        |  SELECT i + 1, CASE WHEN x * 2 >= 256 THEN xor(x * 2, 285) ELSE x * 2 END
        |  FROM gf WHERE i < 254),
        |tabs AS (
        |  SELECT list(x ORDER BY i) AS expt, list(i ORDER BY x) AS logt
        |  FROM gf),
        |b AS (
        |  SELECT doc_id, n_chars, hex(encode(text)) AS hx,
        |         octet_length(encode(text)) AS len
        |  FROM documents),
        |dims AS (
        |  SELECT doc_id, n_chars, hx, len,
        |         greatest(1, (len + 3) // 4) AS stripe
        |  FROM b),
        |pos AS (
        |  SELECT d.doc_id, d.n_chars, d.stripe, t.bpos,
        |    [CASE WHEN 0 * d.stripe + t.bpos < d.len
        |          THEN ('0x' || substr(d.hx, CAST(2 * (0 * d.stripe + t.bpos) + 1 AS BIGINT), 2))::BIGINT ELSE 0 END,
        |     CASE WHEN 1 * d.stripe + t.bpos < d.len
        |          THEN ('0x' || substr(d.hx, CAST(2 * (1 * d.stripe + t.bpos) + 1 AS BIGINT), 2))::BIGINT ELSE 0 END,
        |     CASE WHEN 2 * d.stripe + t.bpos < d.len
        |          THEN ('0x' || substr(d.hx, CAST(2 * (2 * d.stripe + t.bpos) + 1 AS BIGINT), 2))::BIGINT ELSE 0 END,
        |     CASE WHEN 3 * d.stripe + t.bpos < d.len
        |          THEN ('0x' || substr(d.hx, CAST(2 * (3 * d.stripe + t.bpos) + 1 AS BIGINT), 2))::BIGINT ELSE 0 END] AS db
        |  FROM dims d, LATERAL unnest(range(d.stripe)) AS t(bpos)),
        |par AS (
        |  SELECT p.doc_id, p.n_chars, p.stripe, p.bpos,
        |    xor(xor(CASE WHEN p.db[1] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[27] + tabs.logt[p.db[1]]) % 255 + 1] END,
        |            CASE WHEN p.db[2] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[28] + tabs.logt[p.db[2]]) % 255 + 1] END),
        |        xor(CASE WHEN p.db[3] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[18] + tabs.logt[p.db[3]]) % 255 + 1] END,
        |            CASE WHEN p.db[4] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[20] + tabs.logt[p.db[4]]) % 255 + 1] END)) AS p0,
        |    xor(xor(CASE WHEN p.db[1] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[28] + tabs.logt[p.db[1]]) % 255 + 1] END,
        |            CASE WHEN p.db[2] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[27] + tabs.logt[p.db[2]]) % 255 + 1] END),
        |        xor(CASE WHEN p.db[3] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[20] + tabs.logt[p.db[3]]) % 255 + 1] END,
        |            CASE WHEN p.db[4] = 0 THEN 0 ELSE tabs.expt[(tabs.logt[18] + tabs.logt[p.db[4]]) % 255 + 1] END)) AS p1
        |  FROM pos p, tabs),
        |folded AS (
        |  SELECT doc_id, any_value(n_chars) AS n_chars, any_value(stripe) AS stripe,
        |    list_reduce(list_prepend(1469598103934665603::HUGEINT, list(p0 ORDER BY bpos)),
        |      (acc, v) -> (xor(acc::HUGEINT, v::HUGEINT) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS h0,
        |    list_reduce(list_prepend(1469598103934665603::HUGEINT, list(p1 ORDER BY bpos)),
        |      (acc, v) -> (xor(acc::HUGEINT, v::HUGEINT) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS h1
        |  FROM par GROUP BY doc_id)
        |SELECT doc_id, n_chars AS bytes, CAST(stripe AS INTEGER) AS stripe_size,
        |  CAST(CASE WHEN h0 >= 9223372036854775808::HUGEINT
        |       THEN h0 - 18446744073709551616::HUGEINT ELSE h0 END AS BIGINT) AS parity_fp_0,
        |  CAST(CASE WHEN h1 >= 9223372036854775808::HUGEINT
        |       THEN h1 - 18446744073709551616::HUGEINT ELSE h1 END AS BIGINT) AS parity_fp_1
        |FROM folded ORDER BY doc_id""".stripMargin,
    // The erasure points are pure doc_id arithmetic and `recovered`
    // is contractually all-true, so the oracle asserts exactly that:
    // any reconstruction regression flips the Spark side to false and
    // hash-mismatches. The GF algebra itself is round-tripped in
    // ReedSolomonSpec and cross-verified via ec_parity_rs above.
    "ec_reconstruct" ->
      """SELECT doc_id, n_chars AS bytes,
        |  CAST(doc_id % 6 AS INTEGER) AS erased_1,
        |  CAST((doc_id % 6 + 1 + (doc_id // 6) % 5) % 6 AS INTEGER) AS erased_2,
        |  TRUE AS recovered
        |FROM documents ORDER BY doc_id""".stripMargin,
    // Recomputes both snapshots LOGICALLY (the mutation rule is pure
    // arithmetic) — hash-matching the Spark side's physical write +
    // read-back + diff proves the round-trip lossless.
    "fs_snapshot_diff" ->
      """WITH a AS (SELECT doc_id, source, n_chars FROM documents),
        |b AS (
        |  SELECT doc_id, source,
        |    CASE WHEN doc_id % 11 = 5 THEN n_chars * 2 + 7 ELSE n_chars END AS n_chars
        |  FROM documents WHERE doc_id % 17 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1099511627776, source, n_chars + 11
        |  FROM documents WHERE doc_id % 13 = 7)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  COALESCE(a.source, b.source) AS source,
        |  CASE WHEN b.doc_id IS NULL THEN 'DELETE'
        |       WHEN a.doc_id IS NULL THEN 'CREATE'
        |       ELSE 'MODIFY' END AS change,
        |  COALESCE(a.n_chars, 0) AS bytes_a,
        |  COALESCE(b.n_chars, 0) AS bytes_b,
        |  COALESCE(b.n_chars, 0) - COALESCE(a.n_chars, 0) AS bytes_delta
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.n_chars <> b.n_chars
        |ORDER BY 1, 3""".stripMargin,
    // Recomputes the deterministic block placement (see blockReplicas)
    // and the integer-ppm balancer math; `//` on these all-nonnegative
    // quantities truncates exactly like Spark's `div`.
    "fs_balancer_plan" ->
      """WITH blocks AS (
        |  SELECT doc_id, n_chars, t.blk AS blk
        |  FROM documents,
        |       LATERAL unnest(range(greatest(1, (n_chars + 63) // 64))) AS t(blk)),
        |repl AS (
        |  SELECT (doc_id * 131 + blk * 17 + o.off) % 16 AS node_id,
        |         greatest(0, least(64, n_chars - blk * 64)) AS blk_bytes
        |  FROM blocks, LATERAL unnest([0, 5, 11]) AS o(off)),
        |nodes AS (
        |  SELECT node_id, CAST(sum(blk_bytes) AS BIGINT) AS used_bytes,
        |         CAST(count(*) AS BIGINT) AS n_replicas
        |  FROM repl GROUP BY 1),
        |cap AS (
        |  SELECT greatest(1, CAST(sum(used_bytes) AS BIGINT) // 25) AS cap_unit,
        |         CAST(sum(used_bytes) AS BIGINT) AS total_used
        |  FROM nodes),
        |f AS (
        |  SELECT n.node_id, n.used_bytes, n.n_replicas,
        |         (1 + n.node_id % 4) * c.cap_unit AS capacity_bytes,
        |         n.used_bytes * 1000000 // ((1 + n.node_id % 4) * c.cap_unit) AS util_ppm,
        |         (c.total_used // 1024) * 1000000
        |           // greatest(1, (40 * c.cap_unit) // 1024) AS avg_util_ppm
        |  FROM nodes n, cap c)
        |SELECT node_id, capacity_bytes, used_bytes, n_replicas, util_ppm, avg_util_ppm,
        |  CASE WHEN util_ppm > avg_util_ppm + 100000 THEN 'OVER'
        |       WHEN util_ppm < avg_util_ppm - 100000 THEN 'UNDER'
        |       ELSE 'OK' END AS state,
        |  CASE WHEN util_ppm > avg_util_ppm + 100000
        |       THEN ((util_ppm - avg_util_ppm - 100000) * (capacity_bytes // 1024)
        |             // 1000000) * 1024
        |       ELSE 0 END AS bytes_to_move
        |FROM f ORDER BY node_id""".stripMargin,
    "fs_fsck" ->
      """WITH blocks AS (
        |  SELECT doc_id, source, t.blk AS blk
        |  FROM documents,
        |       LATERAL unnest(range(greatest(1, (n_chars + 63) // 64))) AS t(blk)),
        |lv AS (
        |  SELECT doc_id, source, blk,
        |    CAST(sum(CASE WHEN (doc_id * 131 + blk * 17 + o.off) % 16 < 13
        |                   AND (doc_id + blk * 31 + o.off * 101) % 97 <> 0
        |             THEN 1 ELSE 0 END) AS BIGINT) AS live
        |  FROM blocks, LATERAL unnest([0, 5, 11]) AS o(off)
        |  GROUP BY 1, 2, 3)
        |SELECT source, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN live < 3 THEN 1 ELSE 0 END) AS BIGINT) AS under_replicated,
        |  CAST(sum(CASE WHEN live <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS critical,
        |  CAST(sum(CASE WHEN live = 0 THEN 1 ELSE 0 END) AS BIGINT) AS missing,
        |  min(live) AS min_live,
        |  CAST(sum(CASE WHEN live < 3 THEN 1 ELSE 0 END) AS BIGINT) * 1000000
        |    // count(*) AS under_ppm
        |FROM lv GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same replica-placement model as fs_mover_plan (block split, pmod
    // membership), split into DISK/ARCHIVE byte rollups, quota = 1.05x
    // the per-type cross-directory mean via cross-multiplication —
    // all-integer, so exceeded flags and ppm match exactly.
    "fs_quota_bytype" ->
      """WITH blocks AS (
        |  SELECT doc_id, source, t.blk AS blk,
        |         greatest(0, least(64, n_chars - t.blk * 64)) AS blk_bytes
        |  FROM documents,
        |       LATERAL unnest(range(greatest(1, (n_chars + 63) // 64))) AS t(blk)),
        |m AS (
        |  SELECT source, blk_bytes,
        |    CAST(sum(CASE WHEN (doc_id * 131 + blk * 17 + o.off) % 16 < 12
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_disk
        |  FROM blocks, LATERAL unnest([0, 5, 11]) AS o(off)
        |  GROUP BY doc_id, source, blk, blk_bytes),
        |ty AS (
        |  SELECT source, u.storage_type,
        |    CAST(sum((CASE WHEN u.storage_type = 'DISK' THEN n_disk
        |              ELSE 3 - n_disk END) * blk_bytes) AS BIGINT) AS bytes_used
        |  FROM m, LATERAL unnest(['DISK', 'ARCHIVE']) AS u(storage_type)
        |  GROUP BY 1, 2),
        |tot AS (
        |  SELECT storage_type, CAST(sum(bytes_used) AS BIGINT) AS type_total,
        |         count(*) AS n_dirs
        |  FROM ty GROUP BY 1)
        |SELECT ty.source, ty.storage_type, ty.bytes_used,
        |  ty.bytes_used * tot.n_dirs * 100000000
        |    // (greatest(tot.type_total, 1) * 105) AS quota_used_ppm,
        |  ty.bytes_used * tot.n_dirs * 100
        |    > greatest(tot.type_total, 1) * 105 AS quota_exceeded
        |FROM ty JOIN tot USING (storage_type)
        |ORDER BY ty.source, ty.storage_type""".stripMargin,
    "fs_mover_plan" ->
      """WITH blocks AS (
        |  SELECT doc_id, source, t.blk AS blk,
        |         greatest(0, least(64, n_chars - t.blk * 64)) AS blk_bytes
        |  FROM documents,
        |       LATERAL unnest(range(greatest(1, (n_chars + 63) // 64))) AS t(blk)),
        |m AS (
        |  SELECT source, blk_bytes,
        |    CAST(sum(CASE WHEN (doc_id * 131 + blk * 17 + o.off) % 16 < 12
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_disk,
        |    ['HOT', 'WARM', 'COLD'][CAST(substr(source, 4) AS INT) % 3 + 1] AS policy
        |  FROM blocks, LATERAL unnest([0, 5, 11]) AS o(off)
        |  GROUP BY doc_id, source, blk, blk_bytes),
        |mm AS (
        |  SELECT source, policy, blk_bytes,
        |    abs(n_disk - CASE policy WHEN 'HOT' THEN 3 WHEN 'WARM' THEN 1
        |                 ELSE 0 END) AS moves
        |  FROM m)
        |SELECT source, policy, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN moves > 0 THEN 1 ELSE 0 END) AS BIGINT) AS blocks_to_move,
        |  CAST(sum(moves) AS BIGINT) AS replicas_to_move,
        |  CAST(sum(moves * blk_bytes) AS BIGINT) AS bytes_to_move,
        |  (count(*) - CAST(sum(CASE WHEN moves > 0 THEN 1 ELSE 0 END) AS BIGINT))
        |    * 1000000 // count(*) AS conform_ppm
        |FROM mm GROUP BY 1, 2 ORDER BY 1""".stripMargin,
    "fs_size_percentiles" ->
      """SELECT source, count(*) AS n_files,
        | round(percentile_cont(0.5) WITHIN GROUP (ORDER BY n_chars), 2) AS p50,
        | round(percentile_cont(0.9) WITHIN GROUP (ORDER BY n_chars), 2) AS p90,
        | round(percentile_cont(0.99) WITHIN GROUP (ORDER BY n_chars), 2) AS p99
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "fs_small_files" ->
      """SELECT source, count(*) AS n_files,
        | CAST(sum(CASE WHEN n_chars < 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_small,
        | CAST(sum(CASE WHEN n_chars < 256 THEN n_chars ELSE 0 END) AS BIGINT) AS small_bytes,
        | round(sum(CASE WHEN n_chars < 256 THEN 1 ELSE 0 END) * 100.0 / count(*), 2) AS pct_small,
        | CAST(ceil(sum(CASE WHEN n_chars < 256 THEN n_chars ELSE 0 END) / 1024.0) AS BIGINT) AS n_compaction_bins
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "fs_du" ->
      """SELECT source, count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS bytes_used,
        | round(avg(n_chars),2) AS avg_file_size, max(n_chars) AS max_file_size
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "fs_find" ->
      """SELECT '/' || source || '/' || lang || '/doc_' || doc_id::VARCHAR || '.txt' AS path,
        | CAST(n_chars AS BIGINT) AS size
        |FROM documents
        |WHERE n_chars >= 150 AND lang IN ('en','de') AND doc_id % 10 = 3
        |ORDER BY 1""".stripMargin,
    "fs_block_histogram" ->
      """SELECT CAST(floor(n_chars / 64) * 64 AS BIGINT) AS bucket, count(*) AS n_files
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "fs_du_tree" ->
      """SELECT dir, count(*) AS n_files, CAST(sum(n_chars) AS BIGINT) AS bytes_used,
        | round(avg(n_chars),2) AS avg_file_size
        |FROM (
        |  SELECT '/' AS dir, n_chars FROM documents
        |  UNION ALL SELECT '/' || source, n_chars FROM documents
        |  UNION ALL SELECT '/' || source || '/' || lang, n_chars FROM documents)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "fs_hot_keys" ->
      """SELECT user_id, count(*) AS n_ops, round(sum(value),2) AS total_value
        |FROM events GROUP BY 1 ORDER BY n_ops DESC, user_id LIMIT 20""".stripMargin,
    "fs_quota_check" ->
      """WITH usage AS (SELECT source, CAST(sum(n_chars) AS BIGINT) AS bytes_used FROM documents GROUP BY 1)
        |SELECT source, bytes_used,
        | round((SELECT avg(bytes_used) FROM usage),2) AS mean_used
        |FROM usage WHERE bytes_used > (SELECT avg(bytes_used) FROM usage) * 1.05
        |ORDER BY source""".stripMargin,
    "fs_chargeback" ->
      """WITH blocks AS (
        |  SELECT doc_id, source, t.blk AS blk,
        |         greatest(0, least(64, n_chars - t.blk * 64)) AS blk_bytes
        |  FROM documents,
        |       LATERAL unnest(range(greatest(1, (n_chars + 63) // 64))) AS t(blk)),
        |m AS (
        |  SELECT source, blk_bytes,
        |    CAST(sum(CASE WHEN (doc_id * 131 + blk * 17 + o.off) % 16 < 12
        |             THEN 1 ELSE 0 END) AS BIGINT) AS n_disk
        |  FROM blocks, LATERAL unnest([0, 5, 11]) AS o(off)
        |  GROUP BY doc_id, source, blk, blk_bytes),
        |b AS (
        |  SELECT source, count(*) AS n_blocks,
        |    CAST(sum(blk_bytes * n_disk) AS BIGINT) AS disk_bytes,
        |    CAST(sum(blk_bytes * (3 - n_disk)) AS BIGINT) AS archive_bytes
        |  FROM m GROUP BY source),
        |bb AS (
        |  SELECT *, (disk_bytes * 5 + archive_bytes * 2 + 1023) // 1024
        |    AS bill_cents FROM b),
        |tot AS (SELECT CAST(sum(bill_cents) AS BIGINT) AS total_cents FROM bb)
        |SELECT source, n_blocks, disk_bytes, archive_bytes,
        |  CAST(bill_cents AS BIGINT) AS bill_cents,
        |  CAST(bill_cents * 1000000 // total_cents AS BIGINT) AS bill_share_ppm
        |FROM bb, tot ORDER BY source""".stripMargin,
    "fs_cache_plan" ->
      """WITH dirs AS (
        |  SELECT source, lang, count(*) AS n_files,
        |    CAST(sum(n_chars) AS BIGINT)
        |      * (CASE lang WHEN 'en' THEN 3 WHEN 'zh' THEN 2
        |         WHEN 'fr' THEN 2 ELSE 1 END) AS bytes_needed,
        |    CAST(CASE lang WHEN 'en' THEN 3 WHEN 'zh' THEN 2
        |         WHEN 'fr' THEN 2 ELSE 1 END AS BIGINT) AS replication,
        |    'pool_' || CAST(CAST(substr(source, 4) AS INT) % 4 AS VARCHAR) AS pool
        |  FROM documents GROUP BY source, lang),
        |g AS (SELECT CAST(sum(bytes_needed) AS BIGINT) AS g_needed FROM dirs),
        |lim AS (
        |  SELECT dirs.*, (CAST(substr(pool, 6) AS INT) + 1) * (g_needed // 10) AS pool_limit,
        |    CAST(sum(bytes_needed) OVER (PARTITION BY pool ORDER BY source, lang
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_needed,
        |    CAST(sum(bytes_needed) OVER (PARTITION BY pool) AS BIGINT) AS pool_needed
        |  FROM dirs, g)
        |SELECT pool, source, lang, replication, n_files, bytes_needed,
        |  cum_needed <= pool_limit AS admitted, pool_needed,
        |  CAST(pool_limit AS BIGINT) AS pool_limit,
        |  CAST(greatest(0, pool_needed - pool_limit) AS BIGINT) AS pool_overlimit_bytes
        |FROM lim ORDER BY pool, source, lang""".stripMargin,
    "fs_trash_expunge" ->
      """WITH del AS (
        |  SELECT user_id, date_trunc('day', ts) AS checkpoint,
        |    event_id % 997 + 64 AS sz
        |  FROM events WHERE event_type = 'error'),
        |clock AS (SELECT max(checkpoint) AS now_day FROM del),
        |cp AS (
        |  SELECT user_id, checkpoint, count(*) AS n_files,
        |    CAST(sum(sz) AS BIGINT) AS bytes
        |  FROM del GROUP BY 1, 2)
        |SELECT user_id, checkpoint, n_files, bytes,
        |  CAST(date_diff('day', checkpoint::DATE, now_day::DATE) AS BIGINT) AS age_days,
        |  CASE WHEN date_diff('day', checkpoint::DATE, now_day::DATE) = 0 THEN 'CURRENT'
        |       WHEN date_diff('day', checkpoint::DATE, now_day::DATE) > 3 THEN 'EXPUNGE'
        |       ELSE 'RETAINED' END AS status
        |FROM cp, clock ORDER BY user_id, checkpoint""".stripMargin,
    "fs_placement_audit" ->
      """WITH blocks AS (
        |  SELECT doc_id, source, t.blk AS blk,
        |    greatest(0, least(64, n_chars - t.blk * 64)) AS blk_bytes,
        |    list_transform([0, 1, 2],
        |      o -> (doc_id * (131 + 7 * o) + t.blk * 17) % 16) AS nodes
        |  FROM documents,
        |    LATERAL unnest(range(greatest(1, (n_chars + 63) // 64))) AS t(blk)),
        |audit AS (
        |  SELECT source, blk_bytes,
        |    len(list_distinct(nodes)) < 3 AS node_dup,
        |    len(list_distinct(list_transform(nodes, n -> n // 8))) < 2 AS single_rack
        |  FROM blocks)
        |SELECT source, count(*) AS n_blocks,
        |  CAST(sum(CASE WHEN node_dup THEN 1 ELSE 0 END) AS BIGINT) AS blocks_node_dup,
        |  CAST(sum(CASE WHEN single_rack THEN 1 ELSE 0 END) AS BIGINT) AS blocks_single_rack,
        |  CAST(sum(CASE WHEN node_dup OR single_rack THEN 1 ELSE 0 END) AS BIGINT) AS blocks_violating,
        |  CAST(sum(CASE WHEN node_dup OR single_rack THEN blk_bytes ELSE 0 END) AS BIGINT) AS bytes_misplaced,
        |  CAST((count(*) - sum(CASE WHEN node_dup OR single_rack THEN 1 ELSE 0 END))
        |    * 1000000 // count(*) AS BIGINT) AS placement_ok_ppm
        |FROM audit GROUP BY source ORDER BY source""".stripMargin)
}
