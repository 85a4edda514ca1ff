package graft.operators

import graft.{CacheRegistry, Tables}
import graft.functions.TextFunctions._
import graft.functions.{CdcChunksExpr, GraftExpressions, VectorFunctions}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** §2.5 Deduplication — the LLM-training-data pipeline operators.
  *
  * Scale posture (100 TB): every candidate-generation step is an
  * equi-join on a computed key (hash bucket, LSH band, simhash chunk),
  * never an inequality or cross join. Candidate pairs are ALWAYS
  * deduplicated (`distinct` on the bare (doc_id, doc_id2) pair) BEFORE
  * any scoring join, so a pair that collides in many bands is scored
  * once. dedup_simhash additionally pre-aggregates to distinct simhash
  * values before pair enumeration, so exact-duplicate clusters of any
  * size contribute one row to the chunk join instead of a quadratic
  * bucket blowup — the r1 length-bucket/hot-chunk pathology.
  */
object Dedup {

  /** Exact dedup: md5 content hash → keep lowest doc_id per group.
    * Output is the full dedup map (hash, keeper, group size). */
  def dedup_exact(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .groupBy(md5($"text".cast("binary")).as("content_hash"))
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("n_docs"))
      .orderBy($"content_hash")
  }

  /** Monotonic id for unique `observe` metric names (one CollectMetrics
    * node per bucketPairs call site in a plan tree). */
  private val obsId = new java.util.concurrent.atomic.AtomicInteger()

  /** Generic bucketed pair generator: explode each row's bucket keys,
    * groupBy bucket collecting ids, and enumerate ordered id pairs
    * within each bucket via nested explode. ONE aggregation shuffle —
    * no self-join, so the (expensive-to-recompute) upstream lineage is
    * evaluated once, not once per join side. Buckets larger than
    * `maxBucket` are dropped — the standard LSH hot-bucket cap: a
    * degenerate key (e.g. the empty-document bucket) otherwise turns
    * pair enumeration quadratic at corpus scale. The drop is NOT
    * silent: an `observe` metric (`dropped_buckets`, `max_bucket`,
    * `capped_ids`) is attached to the plan, so any listener (or
    * `Observation`) sees exactly how many buckets were capped —
    * at 100 TB an operator watches this instead of guessing. Final
    * `distinct` on the bare pair dedupes multi-bucket collisions
    * BEFORE any scoring.
    *
    * The cap is operator-tunable without a code change via the session
    * conf `graft.dedup.maxBucket` (explicit `maxBucket` argument wins;
    * default 1000) — at 100 TB the right cap depends on corpus
    * boilerplate rates, and the BucketCapMetrics numbers are exactly
    * what an operator reads before raising it.
    *
    * Input: (id, explodedKeys: array<struct>). Output: (id, id2),
    * id < id2, distinct. */
  private[operators] def bucketPairs(rows: DataFrame, idCol: String, keysCol: Column,
      maxBucket: Int = -1): DataFrame = {
    val cap =
      if (maxBucket > 0) maxBucket
      else rows.sparkSession.conf.get("graft.dedup.maxBucket", "1000").toInt
    val id2 = s"${idCol}2"
    rows
      .select(col(idCol), explode(keysCol).as("bk"))
      .groupBy(col("bk"))
      .agg(collect_list(col(idCol)).as("ids"))
      .filter(size(col("ids")) >= 2)
      .observe(s"graft_bucket_pairs_${obsId.incrementAndGet()}",
        sum(when(size(col("ids")) > cap, 1).otherwise(0)).as("dropped_buckets"),
        max(size(col("ids"))).as("max_bucket"),
        sum(when(size(col("ids")) > cap, size(col("ids"))).otherwise(0)).as("capped_ids"))
      .filter(size(col("ids")) <= cap)
      .select(explode(col("ids")).as(idCol), col("ids"))
      .select(col(idCol), explode(col("ids")).as(id2))
      .filter(col(idCol) < col(id2))
      .distinct()
  }

  /** LSH candidate pairs from minhash signatures via `bands`×`r`
    * banding. */
  private def lshCandidatePairs(sigs: DataFrame, bands: Int, r: Int): DataFrame =
    bucketPairs(sigs, "doc_id", bandKeys(col("sig"), bands, r))

  /** MinHash + LSH near-dup detection: 32-perm minhash → 8 bands × 4
    * rows → distinct candidate pairs → signature-agreement Jaccard
    * estimate ≥ 0.5. Signatures are joined back to the deduped pairs,
    * so each pair is scored exactly once. The signature stage (the
    * dominant cost at corpus scale — one shingle+minhash pass over
    * every document) is referenced three times (pair-gen + both score
    * joins), so it is persisted: one scan of `documents` per query,
    * not three. The cache entry is tracked in [[graft.CacheRegistry]]
    * and released by the consumer after materialization (CacheManager
    * holds strong references — an untracked persist would leak an
    * entry per call); Bench additionally clears the cache between
    * timed passes so measured times stay cold-start honest. */
  def dedup_minhash_lsh(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 32; val bands = 8; val r = 4
    val sigs = CacheRegistry.cache(Tables.documents(s, d)
      .select($"doc_id", minhashSignature(shingleHashes($"text", 3), k).as("sig")))
    lshCandidatePairs(sigs, bands, r)
      .join(sigs, "doc_id")
      .join(sigs.select($"doc_id".as("doc_id2"), $"sig".as("sig2")), "doc_id2")
      .select($"doc_id", $"doc_id2",
        (aggregate(zip_with($"sig", $"sig2",
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k).as("est_jaccard"))
      .filter($"est_jaccard" >= 0.5)
      .select($"doc_id", $"doc_id2", round($"est_jaccard", 4).as("est_jaccard"))
      .orderBy($"doc_id", $"doc_id2")
  }

  /** Incremental (delta-vs-corpus) minhash dedup — the shape continuous
    * ingestion actually runs at 100 TB. Re-deduping a full corpus per
    * arriving batch is quadratic in corpus lifetime; the production
    * pattern is to probe the NEW batch against the existing corpus's
    * LSH band index and self-dedup within the batch. Here the delta is
    * the deterministic `doc_id % 10 = 0` slice (a stand-in for "today's
    * crawl"); the remaining 90% plays the already-indexed corpus. Same
    * 32-perm / 8-band×4-row pipeline, threshold and bucket cap as
    * [[dedup_minhash_lsh]]; a bucket qualifies when it holds 2..cap
    * members, at least one delta — base-only buckets are never
    * enumerated, mirroring the at-scale probe that only ever touches
    * band keys the delta emits. Output is keyed by the delta doc
    * (`probe_id`), `match_src` says whether the match is pre-existing
    * corpus ('base') or same-batch ('delta'); delta-delta pairs appear
    * once (probe_id < match_id).
    *
    * At scale the base band index (doc_id, band, key) is a
    * MATERIALIZED table, bucketed by (band, key) and computed once per
    * corpus — not per batch (in-query here because the driver contract
    * is a standalone query over the test tables). The probe is then an
    * equi-join of the delta's band keys against that index: zero
    * exchange on the corpus side, shuffle volume proportional to the
    * DELTA, not the corpus — the whole point of incremental dedup.
    * Oracle: full cross-engine hash match — shares the DuckDB
    * signature/band re-derivation with dedup_minhash_lsh
    * ([[minhashSigSql]]) plus the delta-probe bucket semantics. */
  def dedup_incremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 32; val bands = 8; val r = 4
    val cap = s.conf.get("graft.dedup.maxBucket", "1000").toInt
    val sigs = CacheRegistry.cache(Tables.documents(s, d)
      .select($"doc_id", minhashSignature(shingleHashes($"text", 3), k).as("sig"),
        ($"doc_id" % 10 === 0).cast("int").as("is_delta")))
    val tagged = sigs.select($"doc_id", $"is_delta",
      explode(bandKeys($"sig", bands, r)).as("bk"))
    val buckets = tagged
      .groupBy($"bk")
      .agg(collect_list(struct($"doc_id", $"is_delta")).as("members"),
        max($"is_delta").as("has_delta"))
      .filter(size($"members") >= 2 && $"has_delta" === 1)
      .observe(s"graft_bucket_pairs_${obsId.incrementAndGet()}",
        sum(when(size(col("members")) > cap, 1).otherwise(0)).as("dropped_buckets"),
        max(size(col("members"))).as("max_bucket"),
        sum(when(size(col("members")) > cap, size(col("members"))).otherwise(0)).as("capped_ids"))
      .filter(size($"members") <= cap)
    val pairs = buckets
      .select(explode($"members").as("a"), $"members")
      .select($"a", explode($"members").as("b"))
      .filter($"a.doc_id" < $"b.doc_id" &&
        ($"a.is_delta" === 1 || $"b.is_delta" === 1))
      .select(
        when($"a.is_delta" === 1, $"a.doc_id").otherwise($"b.doc_id").as("probe_id"),
        when($"a.is_delta" === 1, $"b.doc_id").otherwise($"a.doc_id").as("match_id"),
        when($"a.is_delta" === 1 && $"b.is_delta" === 1, lit("delta"))
          .otherwise(lit("base")).as("match_src"))
      .distinct()
    pairs
      .join(sigs.select($"doc_id".as("probe_id"), $"sig"), "probe_id")
      .join(sigs.select($"doc_id".as("match_id"), $"sig".as("sig2")), "match_id")
      .select($"probe_id", $"match_id", $"match_src",
        (aggregate(zip_with($"sig", $"sig2",
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k).as("est_jaccard"))
      .filter($"est_jaccard" >= 0.5)
      .select($"probe_id", $"match_id", $"match_src",
        round($"est_jaccard", 4).as("est_jaccard"))
      .orderBy($"probe_id", $"match_id")
  }

  // ──────────────────────────────────────────────────────────────────
  // Persisted band-index lifecycle for the dedup family — the ANN
  // vector-store posture (Similarity.lshIndexTables) applied to
  // minhash dedup: [[dedup_incremental]]'s scaladoc already states the
  // at-scale design ("the base band index is a MATERIALIZED table,
  // bucketed by (band, key), computed once per corpus — not per
  // batch"); these queries BUILD that table and probe it. Two tables
  // per dir (the LSH-index two-table play): the flat band-key table
  // bucketed on the candidate join's key, and a companion signature
  // table bucketed on doc_id for the rescore — storing the 32-element
  // signature on each of the 8 band rows would 8× the index bytes.
  // ──────────────────────────────────────────────────────────────────

  private val mhIndexBuilt = new java.util.HashSet[String]()
  /** Build-once corpus band index for [[dedup_minhash_index]]: band
    * keys and signatures of the BASE split (doc_id % 10 ≠ 0 — the
    * "already-indexed corpus"), from the exact expressions
    * [[dedup_incremental]] computes in-flight. Built once per
    * (JVM, dir) — the setup-not-query rule every index builder
    * follows; the registered query times the PROBE. */
  private def mhIndexTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val tbl = s"mh_band_${IndexUtil.dirTag(d)}"
    val sigTbl = s"mh_sig_${IndexUtil.dirTag(d)}"
    mhIndexBuilt.synchronized { if (!mhIndexBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      IndexUtil.dropIndexTable(s, sigTbl)
      writeMhIndex(baseSigs(s, d).filter($"doc_id" % 10 =!= 0),
        tbl, sigTbl, mode = "overwrite")
      mhIndexBuilt.add(d)
    } }
    (tbl, sigTbl)
  }

  private val mhDeltaBuilt = new java.util.HashSet[String]()
  /** Incrementally-grown band index for [[dedup_minhash_index_delta]]:
    * the initial build indexes doc_id % 10 ∉ {0, 5} and a SECOND
    * bucketed write APPENDS the % 10 = 5 slice ("yesterday's accepted
    * batch") into both tables — the [[Similarity.ann_ivf_index_delta]]
    * append play. The merged contents equal [[mhIndexTables]]'s
    * base split exactly, so the probe result must match
    * [[dedup_incremental]] bit-for-bit: the driver's hash gate IS the
    * append ≡ rebuild theorem (one band row lost or doubled in the
    * append fails the hash). Minhash band entries need no frozen
    * model for this to hold — a doc's band keys never depend on the
    * rest of the corpus — which is exactly why production minhash
    * indexes grow by pure append. */
  private def mhDeltaIndexTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val tbl = s"mhd_band_${IndexUtil.dirTag(d)}"
    val sigTbl = s"mhd_sig_${IndexUtil.dirTag(d)}"
    mhDeltaBuilt.synchronized { if (!mhDeltaBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      IndexUtil.dropIndexTable(s, sigTbl)
      val sigs = baseSigs(s, d)
      writeMhIndex(sigs.filter($"doc_id" % 10 =!= 0 && $"doc_id" % 10 =!= 5),
        tbl, sigTbl, mode = "overwrite")
      writeMhIndex(sigs.filter($"doc_id" % 10 === 5),
        tbl, sigTbl, mode = "append")
      mhDeltaBuilt.add(d)
    } }
    (tbl, sigTbl)
  }

  /** (doc_id, sig) over the documents table — the signature expression
    * every minhash query shares (32 perms over word-3-gram hashes). */
  private def baseSigs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", minhashSignature(shingleHashes($"text", 3), 32).as("sig"))
  }

  /** One bucketed write pass into the (band table, signature table)
    * pair — shared by the full build and the delta append. Bucket
    * counts are the ANN indexes' 8: per-bucket probe work is trivial,
    * so parallelism never binds (the graph indexes' 32-bucket sizing
    * rule applies to compute-heavy supersteps, not point probes). */
  private def writeMhIndex(sigs: DataFrame, tbl: String, sigTbl: String,
      mode: String, ingested: Option[Int] = None): Unit = {
    import sigs.sparkSession.implicits._
    def flag(df: DataFrame): DataFrame =
      ingested.fold(df)(v => df.withColumn("ingested", lit(v)))
    flag(sigs.select($"doc_id", explode(bandKeys($"sig", 8, 4)).as("bk"))
        .select($"doc_id", $"bk.band".as("band"), $"bk.bkey".as("bkey")))
      .write.mode(mode).bucketBy(8, "band", "bkey").sortBy("band", "bkey")
      .format("parquet").saveAsTable(tbl)
    flag(sigs).write.mode(mode).bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(sigTbl)
  }

  /** Stream-owned copy of the band index (base split, `ingested` = 0
    * on every row) for [[graft.streaming.StreamingOps.dedupIndexStream]]
    * — a continuous ingest MUTATES its index (probe-then-append per
    * micro-batch), so it gets its own tables rather than sharing the
    * batch queries' pristine build. Rebuilt on every call: a stream
    * run wants a fresh generation, not a JVM memo. */
  private[graft] def mhStreamIndexTables(s: SparkSession, d: String,
      tag: String): (String, String) = {
    import s.implicits._
    // per-dir tag in the name like every other index builder (r16
    // advice): two streams over different corpora reusing a caller
    // tag must not share/clobber one index
    val tbl = s"mhs_band_${IndexUtil.dirTag(d)}_$tag"
    val sigTbl = s"mhs_sig_${IndexUtil.dirTag(d)}_$tag"
    IndexUtil.dropIndexTable(s, tbl)
    IndexUtil.dropIndexTable(s, sigTbl)
    writeMhIndex(baseSigs(s, d).filter($"doc_id" % 10 =!= 0),
      tbl, sigTbl, mode = "overwrite", ingested = Some(0))
    (tbl, sigTbl)
  }

  /** Append one ingested micro-batch's band keys + signatures into a
    * stream-owned index (flag = 1): each bucketed append job's files
    * carry their bucket ids, so the probe scan stays `Bucketed: true`
    * across generations — the [[mhDeltaIndexTables]] append play, per
    * micro-batch. Exposed as TWO legs (r17 advice) so the streaming
    * caller can guard each table's append independently — a retry
    * after a partial failure (band committed, sig threw) must re-run
    * only the failed leg, never duplicate the committed one. */
  private[graft] def appendMhBands(sigs: DataFrame, tbl: String): Unit = {
    import sigs.sparkSession.implicits._
    sigs.select($"doc_id", explode(bandKeys($"sig", 8, 4)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.bkey".as("bkey"),
        lit(1).as("ingested"))
      .write.mode("append").bucketBy(8, "band", "bkey").sortBy("band", "bkey")
      .format("parquet").saveAsTable(tbl)
  }
  private[graft] def appendMhSigs(sigs: DataFrame, sigTbl: String): Unit = {
    import sigs.sparkSession.implicits._
    sigs.withColumn("ingested", lit(1))
      .write.mode("append").bucketBy(8, "doc_id").sortBy("doc_id")
      .format("parquet").saveAsTable(sigTbl)
  }

  /** The persisted-index delta probe, shared verbatim by
    * [[dedup_minhash_index]] and [[dedup_minhash_index_delta]] —
    * [[dedup_incremental]]'s semantics through the index physical
    * path:
    *
    *  1. candidate buckets: the delta's band keys semi-join the
    *     band table MERGE-hinted on its bucketed (band, bkey) layout —
    *     zero Exchange on the corpus side, and only base rows in
    *     delta-touched buckets ever leave the scan (output volume ∝
    *     delta, the incremental promise);
    *  2. bucket membership = those base rows ∪ the delta's own rows,
    *     so the size-2..cap / has-delta semantics see exactly the
    *     members [[dedup_incremental]]'s full groupBy sees (base-only
    *     buckets are never consulted — they can't qualify);
    *  3. rescore: probe signatures come from the in-flight delta,
    *     match signatures from the companion doc_id-bucketed signature
    *     table (merge join — again no corpus-side Exchange), with
    *     delta-delta matches falling back to the in-flight sigs.
    *
    * Identical output to [[dedup_incremental]] by construction →
    * carries its DuckDB oracle verbatim: same answer, different
    * physical path, both hash-verified. DedupSpec gates the
    * bucketed-scan/no-Exchange shape mechanically. */
  private def mhIndexProbe(s: SparkSession, tables: (String, String),
      d: String): DataFrame = {
    import s.implicits._
    mhProbeCore(s, tables, CacheRegistry.cache(Tables.documents(s, d)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", minhashSignature(shingleHashes($"text", 3), 32).as("sig"))))
  }

  /** The probe itself, parameterized on the arriving (doc_id, sig)
    * slice so [[graft.streaming.StreamingOps.dedupIndexStream]] can
    * run it per micro-batch against a MUTATING index. Member rows
    * carry a 3-state flag: 0 = original corpus, 1 = ingested by an
    * earlier batch (the stream tables' `ingested` column; absent on
    * the batch queries' tables, where every index row is 0), 2 = this
    * probe's own rows. A pair qualifies only if its max flag is 2
    * (at least one CURRENT doc — a 0/1-only pair was either emitted
    * when its later member arrived or predates the stream), which is
    * exactly the exactly-once discovery argument: pair (x, y) with y
    * arriving last is found in y's batch (x is then flag 0/1, or 2 if
    * same batch) and in no other. With no flag-1 rows this reduces
    * verbatim to the batch delta-probe semantics, so the registered
    * queries are bit-unchanged. match_src reads "delta" when BOTH
    * sides are ingest-set docs (min flag >= 1) — the stream's labels
    * agree with the batch replay's by construction. */
  private[graft] def mhProbeCore(s: SparkSession, tables: (String, String),
      delta: DataFrame): DataFrame = {
    import s.implicits._
    val k = 32; val bands = 8; val r = 4
    val cap = s.conf.get("graft.dedup.maxBucket", "1000").toInt
    val (tbl, sigTbl) = tables
    val deltaKeys = delta
      .select($"doc_id", explode(bandKeys($"sig", bands, r)).as("bk"))
      .select($"doc_id", $"bk.band".as("band"), $"bk.bkey".as("bkey"))
    val baseRaw = s.table(tbl)
    val baseFlag =
      if (baseRaw.columns.contains("ingested")) $"ingested" else lit(0)
    val baseHits = baseRaw.hint("merge")
      .join(deltaKeys.select($"band", $"bkey").distinct(),
        Seq("band", "bkey"), "left_semi")
    val members = baseHits
      .select($"band", $"bkey", $"doc_id", baseFlag.as("flag"))
      .unionByName(deltaKeys
        .select($"band", $"bkey", $"doc_id", lit(2).as("flag")))
    val buckets = members
      .groupBy($"band", $"bkey")
      .agg(collect_list(struct($"doc_id", $"flag")).as("members"),
        max($"flag").as("max_flag"))
      .filter(size($"members") >= 2 && $"max_flag" === 2)
      .observe(s"graft_bucket_pairs_${obsId.incrementAndGet()}",
        sum(when(size(col("members")) > cap, 1).otherwise(0)).as("dropped_buckets"),
        max(size(col("members"))).as("max_bucket"),
        sum(when(size(col("members")) > cap, size(col("members"))).otherwise(0)).as("capped_ids"))
      .filter(size($"members") <= cap)
    val pairs = buckets
      .select(explode($"members").as("a"), $"members")
      .select($"a", explode($"members").as("b"))
      .filter($"a.doc_id" < $"b.doc_id" &&
        greatest($"a.flag", $"b.flag") === 2)
      .select(
        when($"a.flag" >= 1, $"a.doc_id").otherwise($"b.doc_id").as("probe_id"),
        when($"a.flag" >= 1, $"b.doc_id").otherwise($"a.doc_id").as("match_id"),
        when(least($"a.flag", $"b.flag") >= 1, lit("delta"))
          .otherwise(lit("base")).as("match_src"))
      .distinct()
    // index table as the join's LEFT child (a right-outer join is the
    // probe's left-outer flipped): the bucketed scan feeds its SMJ
    // directly, which is both the Exchange-free shape and what lets
    // DedupSpec gate it textually (the ann_lsh_index idiom)
    // probe-side signature: from the arriving slice in the batch
    // queries (probe_id is always a delta doc there — inner join, the
    // bit-pinned registered plan); on a stream's ingested-flagged
    // tables a delta-delta pair spanning micro-batches orients its
    // EARLIER (flag-1) member as probe_id, whose signature lives in
    // the appended sig table, not the current batch — fall back to it
    // (scores are symmetric, so which member contributes "sig" vs
    // "sig2" cannot change est_jaccard)
    val probeSigged =
      if (baseRaw.columns.contains("ingested"))
        s.table(sigTbl).hint("merge")
          .select($"doc_id".as("probe_id"), $"sig".as("sig_pb"))
          .join(pairs.join(
            delta.select($"doc_id".as("probe_id"), $"sig".as("sig_pd")),
            Seq("probe_id"), "left"), Seq("probe_id"), "right")
          .withColumn("sig", coalesce($"sig_pd", $"sig_pb"))
          .drop("sig_pd", "sig_pb")
      else pairs.join(delta.select($"doc_id".as("probe_id"), $"sig"), "probe_id")
    val scored = s.table(sigTbl).hint("merge")
      .select($"doc_id".as("match_id"), $"sig".as("sig_b"))
      .join(probeSigged, Seq("match_id"), "right")
      .join(delta.select($"doc_id".as("match_id"), $"sig".as("sig_d")),
        Seq("match_id"), "left")
      .withColumn("sig2", coalesce($"sig_b", $"sig_d"))
    scored
      .select($"probe_id", $"match_id", $"match_src",
        (aggregate(zip_with($"sig", $"sig2",
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, v) => acc + v).cast("double") / k).as("est_jaccard"))
      .filter($"est_jaccard" >= 0.5)
      .select($"probe_id", $"match_id", $"match_src",
        round($"est_jaccard", 4).as("est_jaccard"))
      .orderBy($"probe_id", $"match_id")
  }

  /** Ensure the band index exists for `d` and expose it to the
    * SQL-text persona as DIR-TAGGED temp-view names — [[SqlSurface]]
    * serves `sql_dedup_minhash_index` over these (the
    * [[graft.operators.Graph.triIndexViews]] device on the dedup
    * tier; createOrReplaceTempView is metadata-only and resolves to
    * the catalog tables' bucketed layouts). The names carry the same
    * per-dir SHA tag as the backing tables (r18 advice — previously
    * session-global names rebound per call, which ASSUMED a strictly
    * sequential harness: two sql_* queries over different dirs
    * interleaved on one session could cross-read). Tagged names make
    * views for any number of dirs coexist on one session; each SQL
    * statement is rendered against the names returned here, so there
    * is no bind-then-execute window to race. */
  private[graft] def mhIndexViews(s: SparkSession, d: String): (String, String) = {
    val (tbl, sigTbl) = mhIndexTables(s, d)
    val (bandView, sigView) =
      (s"mh_band_idx_${IndexUtil.dirTag(d)}", s"mh_sig_idx_${IndexUtil.dirTag(d)}")
    s.table(tbl).createOrReplaceTempView(bandView)
    s.table(sigTbl).createOrReplaceTempView(sigView)
    (bandView, sigView)
  }

  /** Delta probe against the PERSISTED corpus band index — the
    * lifecycle [[dedup_incremental]] describes but computes in-query.
    * See [[mhIndexProbe]]. */
  def dedup_minhash_index(s: SparkSession, d: String): DataFrame =
    mhIndexProbe(s, mhIndexTables(s, d), d)

  /** Delta probe against the APPEND-GROWN band index (initial build +
    * one appended batch — see [[mhDeltaIndexTables]]); the driver hash
    * match proves append ≡ rebuild. */
  def dedup_minhash_index_delta(s: SparkSession, d: String): DataFrame =
    mhIndexProbe(s, mhDeltaIndexTables(s, d), d)

  private val mhMergeBuilt = new java.util.HashSet[String]()
  /** KEYED-MERGE-GROWN band index — the update case
    * [[mhDeltaIndexTables]]'s pure-append growth cannot express, on
    * the DEDUP tier (the Graph edge-index / TextOps postings-index
    * keyed-merge play, same round): a RE-CRAWLED document whose
    * content CHANGED invalidates index rows already written — its old
    * signature is wrong and its old band keys hash elsewhere, so rows
    * must be DELETED and REWRITTEN, which no append can express (an
    * append would leave the doc enrolled under both its old and new
    * band keys, surfacing phantom candidates and scoring probes
    * against a stale signature). At 100 TB re-crawls are the common
    * case; brand-new documents (the append leg) are the rare one.
    *
    * The split models it: the base generations index the corpus split
    * (doc_id % 10 ≠ 0), but the touched slice (doc_id % 10 = 7)
    * carries its FIRST-crawl text — the true content plus a
    * cookie-banner suffix the re-crawl drops, so its signature and
    * band keys are stale. The merge is the read-modify-write play on
    * BOTH index tables (reference: DistCp `-update` copy-if-changed,
    * hadoop-tools/hadoop-distcp/src/main/java/org/apache/hadoop/
    * tools/DistCp.java:1):
    *
    *   - untouched docs' rows CARRY OVER byte-identical (anti-join on
    *     the delta's distinct doc_ids — broadcast-sized);
    *   - each touched doc's band rows and signature are REBUILT from
    *     its re-crawled text (the exact [[writeMhIndex]] expressions);
    *   - each table's result is written as the NEXT GENERATION of its
    *     own bucketed layout ((band, bkey) for the band table, doc_id
    *     for the signatures) through [[IndexUtil
    *     .writeVerifiedGeneration]]; both verify before either swaps.
    *
    * Scale: copy-on-write, one bucketed rewrite per table with a
    * delta-sized Exchange. The same key asymmetry as the postings
    * tier, doubled: the band table is bucketed on (band, bkey) but
    * deletes key on doc_id — a touched doc's 8 stale band rows live
    * in up to 8 different buckets, so the delete rides a full-scan
    * anti-join (or tombstones + merge-on-read); the signature table
    * is doc_id-bucketed, so ITS delete IS bucket-local — one merge,
    * two delete shapes, which is exactly why real stores keep the
    * posting/banding and the per-key record in separate tables.
    *
    * The merged tables hold the identical (band rows, signatures) as
    * [[mhIndexTables]]'s build over the true corpus — spec-gated
    * directly — so the probe result matches [[dedup_minhash_index]]
    * bit-for-bit and carries [[dedup_incremental]]'s oracle verbatim:
    * the hash match IS merge ≡ rebuild. */
  private def mhMergeIndexTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val baseB = s"mhk_band_${IndexUtil.dirTag(d)}"
    val baseS = s"mhk_sig_${IndexUtil.dirTag(d)}"
    val (mergB, mergS) = (s"${baseB}_m", s"${baseS}_m")
    mhMergeBuilt.synchronized { if (!mhMergeBuilt.contains(d)) {
      Seq(baseB, baseS, mergB, mergS).foreach(IndexUtil.dropIndexTable(s, _))
      val docs = Tables.documents(s, d).filter($"doc_id" % 10 =!= 0)
      // first-crawl snapshot: the touched slice was indexed with
      // boilerplate the re-crawl removes — stale sig AND band keys
      val firstCrawl = docs.withColumn("text",
        when($"doc_id" % 10 === 7,
          concat($"text", lit(" accept all cookies to continue")))
          .otherwise($"text"))
      writeMhIndex(firstCrawl.select($"doc_id",
          minhashSignature(shingleHashes($"text", 3), 32).as("sig")),
        baseB, baseS, mode = "overwrite")
      val reSigs = docs.filter($"doc_id" % 10 === 7)
        .select($"doc_id", minhashSignature(shingleHashes($"text", 3), 32).as("sig"))
      val touched = reSigs.select($"doc_id").distinct()
      val mergedBand = s.table(baseB).join(touched, Seq("doc_id"), "left_anti")
        .unionByName(reSigs
          .select($"doc_id", explode(bandKeys($"sig", 8, 4)).as("bk"))
          .select($"doc_id", $"bk.band".as("band"), $"bk.bkey".as("bkey")))
      IndexUtil.writeVerifiedGeneration(mergedBand, mergB, 8, Seq("band", "bkey"),
        Seq("band", "bkey"), "band-index merge")
      IndexUtil.writeVerifiedGeneration(
        s.table(baseS).join(touched, Seq("doc_id"), "left_anti").unionByName(reSigs),
        mergS, 8, Seq("doc_id"), Seq("doc_id"), "signature-index merge")
      // commit point: both generations verified, the stale pair drops
      IndexUtil.dropIndexTable(s, baseB)
      IndexUtil.dropIndexTable(s, baseS)
      mhMergeBuilt.add(d)
    } }
    (mergB, mergS)
  }

  /** Delta probe against the KEYED-MERGE-GROWN band index (see
    * [[mhMergeIndexTables]]) — registered so the driver's hash gate
    * proves stale-snapshot + keyed merge ≡ rebuild over the
    * re-crawled corpus: the changed-document update path on the dedup
    * tier. */
  def dedup_minhash_index_merge(s: SparkSession, d: String): DataFrame =
    mhIndexProbe(s, mhMergeIndexTables(s, d), d)

  /** SimHash near-dup: 64-bit simhash (single-pass codegen'd
    * expression); pair enumeration over DISTINCT simhash values via
    * combinatorial chunk blocking, then qualifying hash pairs mapped to
    * per-hash representative (keeper) doc pairs.
    *
    * Blocking key (scale-aware): the 64-bit hash is split into 6
    * chunks (11/11/11/11/10/10 bits); each distinct hash emits one key
    * per 3-of-6 chunk combination (C(6,3) = 20 keys). Two hashes at
    * hamming ≤ 3 differ in ≤ 3 chunks, so ≥ 3 chunks agree and both
    * sides emit the key of an untouched 3-combo — pigeonhole-complete,
    * like the r2 4×16-bit scheme, but over a 20·2³³ key space instead
    * of 4·2¹⁶: at corpus scale buckets hold hashes sharing ≥ 32
    * concrete bits (genuinely similar fingerprints), not 1/65536th of
    * the corpus. Each key packs comboId(5 bits) | 3 chunks(≤ 33 bits)
    * into one long — an 8-byte shuffle key, 20 of them per DISTINCT
    * hash (chunk count trades key volume against per-combo key width;
    * 3-of-6 × 33 bits keeps both comfortable at 10¹¹ documents).
    *
    * Hamming-0 (exact-duplicate clusters) is handled separately as a
    * keeper→member star via groupBy(min) + join-back: linear in cluster
    * size and complete for ANY cluster size — a >maxBucket boilerplate
    * cluster can no longer silently lose its pairs (the r2 flaw), and
    * the all-pairs clique (quadratic in cluster size) is never
    * materialized. The clique is recoverable: members of one cluster
    * share a keeper. Hamming 1–3 pairs are likewise keeper-to-keeper
    * (one row per distinct-hash pair), so two near boilerplate clusters
    * contribute one edge instead of a c1×c2 product — the r3 residual
    * quadratic path. */
  def dedup_simhash(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = CacheRegistry.cache(Tables.documents(s, d)
      .select($"doc_id", simhash64(shingleHashes($"text", 3)).as("simhash")))
    val hs = sh.select($"simhash").distinct()
    val widths = Array(11, 11, 11, 11, 10, 10)
    val offsets = widths.scanLeft(0)(_ + _)
    val chunkKeys = array(widths.indices.combinations(3).toIndexedSeq.zipWithIndex.map {
      case (chunks, ci) =>
        var shift = 0
        val parts = chunks.map { c =>
          val p = shiftleft(
            shiftrightunsigned($"simhash", offsets(c))
              .bitwiseAND(lit((1L << widths(c)) - 1)), shift)
          shift += widths(c)
          p
        }
        parts.reduce(_.bitwiseOR(_)).bitwiseOR(lit(ci.toLong << 33))
    }: _*)
    val hpairs = bucketPairs(hs, "simhash", chunkKeys)
      .withColumn("hamming", bit_count($"simhash".bitwiseXOR($"simhash2")))
      .filter($"hamming" <= 3 && $"hamming" > 0)
    // One representative (keeper = min doc_id) per distinct hash: near
    // pairs are emitted keeper-to-keeper, ONE row per qualifying hash
    // pair — never the c1×c2 member product two exact-dup clusters at
    // hamming 1–3 would otherwise produce. Member→keeper edges come
    // from the hamming-0 star below, so the full near-dup relation is
    // recoverable by following keeper links (exactly how the cluster
    // resolution in [[dedup_clusters]] consumes pair lists).
    val reps = sh.groupBy($"simhash")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("csize"))
    val near = hpairs
      .join(reps.select($"simhash", $"keeper".as("doc_a")), "simhash")
      .join(reps.select($"simhash".as("simhash2"), $"keeper".as("doc_b")), "simhash2")
      .select(least($"doc_a", $"doc_b").as("doc_id"),
        greatest($"doc_a", $"doc_b").as("doc_id2"), $"hamming")
    val same = sh.join(reps.filter($"csize" >= 2), "simhash")
      .filter($"doc_id" > $"keeper")
      .select($"keeper".as("doc_id"), $"doc_id".as("doc_id2"),
        lit(0).as("hamming"))
    near.unionByName(same).orderBy($"doc_id", $"doc_id2")
  }

  /** Exact n-gram Jaccard on MinHash-banded candidates: the blocking
    * key is CONTENT-based (16 bands × 2 rows over a 32-perm minhash of
    * the same gram set that is scored), not length-based — r1's
    * `floor(n_chars/64)` buckets had an O(1) key domain and went
    * near-quadratic. Banding at r=2 gives ≥99% recall at Jaccard 0.5
    * (1-(1-0.5²)¹⁶). Scoring runs once per distinct candidate pair on
    * the SORTED distinct gram-hash arrays via a linear merge kernel
    * (equivalent to string-set Jaccard up to 64-bit hash collisions;
    * shuffles ~8-byte hashes instead of gram strings). The score is
    * kept in EXACT integer arithmetic end to end — intersection count
    * from the merge kernel, `J >= 0.5` as `2·|∩| >= |∪|`, output in
    * integer ppm — so the DuckDB oracle (which re-derives signatures,
    * band keys, candidate buckets AND the gram sets from
    * [[minhashSigSql]]) hash-matches with no double-rounding step. */
  def dedup_ngram_jaccard(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 32; val bands = 16; val r = 2
    // grams are referenced by the signature derivation and both score
    // joins — persist (registry-tracked) so the shingle kernel runs
    // once per document.
    val docs = CacheRegistry.cache(Tables.documents(s, d)
      .select($"doc_id", shingleHashes($"text", 3).as("grams")))
    val sigs = docs.select($"doc_id", minhashSignature($"grams", k).as("sig"))
    lshCandidatePairs(sigs, bands, r)
      .join(docs, "doc_id")
      .join(docs.select($"doc_id".as("doc_id2"), $"grams".as("grams2")), "doc_id2")
      .select($"doc_id", $"doc_id2",
        intersectCountSorted($"grams", $"grams2").as("inter"),
        (size($"grams") + size($"grams2")).cast("long").as("sz"))
      .withColumn("uni", $"sz" - $"inter")
      .filter($"uni" > 0 && $"inter" * 2 >= $"uni")
      .select($"doc_id", $"doc_id2",
        expr("inter * 1000000 div uni").as("jaccard_ppm"))
      .orderBy($"doc_id", $"doc_id2")
  }

  /** Embedding-cosine near-dup pairs within each label block, scored by
    * the fused single-pass cosine expression (bit-identical to DuckDB's
    * list_cosine_similarity over DOUBLE[]).
    *
    * Why the block join stays exact rather than LSH-blocked: the
    * operator's contract (and oracle) is ALL same-label pairs with
    * cos ≥ 0.35. At that threshold the qualifying pairs sit at angles
    * of 61–69°, where a random-hyperplane agreement probability is only
    * ~0.61 vs 0.50 for unrelated pairs — no banding scheme has both
    * recall ≈ 1 and sub-quadratic candidates, so any LSH blocking would
    * silently drop oracle rows. The label key is the semantic block;
    * within-block enumeration is the required output size. For the
    * production near-dup regime (cos ≥ ~0.95, where hyperplane LSH is
    * selective AND near-complete) use [[embeddingLshPairs]], which is
    * recall-tested in DedupSpec.
    *
    * STATUS — a VERIFICATION query, by declaration: its job is to be
    * oracle-complete by construction (every same-label pair enumerated,
    * every cosine exact) so the DuckDB hash gate can verify the fused
    * cosine kernel and the pair semantics end to end. It is O(n²/L) in
    * the label-block size and is NEVER the operator to run at corpus
    * scale; the production embedding-near-dup path is
    * [[embeddingLshPairs]] (library, recall-gated) and its registered
    * composition [[Multimodal.mm_near_dups]] (banded equi-join, linear
    * candidate volume). A 100 TB pipeline calls those; this query
    * exists so that what those paths' exact-rescore stage computes is
    * hash-verified against an independent engine. */
  def dedup_embedding(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val a = e.select($"label", $"vec_id", $"embedding")
    val b = e.select($"label".as("label2"), $"vec_id".as("vec_id2"),
      $"embedding".as("embedding2"))
    a.join(b, $"label" === $"label2" && $"vec_id" < $"vec_id2")
      .select($"label", $"vec_id", $"vec_id2",
        VectorFunctions.cosine($"embedding", $"embedding2").as("cos"))
      .filter($"cos" >= 0.35)
      .select($"label", $"vec_id", $"vec_id2", round($"cos", 6).as("cos_sim"))
      .orderBy($"vec_id", $"vec_id2")
  }

  /** SEMANTIC dedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space with k-means, then call two documents
    * semantic duplicates when their embeddings' cosine similarity
    * clears a threshold WITHIN a cluster — catching paraphrases and
    * re-renderings that share no n-grams (invisible to minhash/simhash/
    * CDC) without any all-pairs scan. The keep policy is the paper's:
    * among duplicates, KEEP the example LEAST similar to its cluster
    * centroid (the most atypical one — retaining diversity), so a doc
    * is dropped when some same-cell partner with cosine ≥ τ sits
    * strictly lower on the (centroid_sim, vec_id) order. The
    * lex-minimal member of every cell is therefore never dropped — each
    * duplicate group keeps at least one member (gated in DedupSpec).
    *
    * Scale posture: clustering IS the blocking — pair enumeration is a
    * self-equi-join on the cell id, so pair volume is Σ|cell|²/2, and
    * k is chosen ∝ corpus size to hold E[|cell|] at a few thousand
    * (the paper runs 11k clusters for 100M docs); training cost does
    * NOT grow with k·corpus because centroids train on a sample-capped
    * slice ([[Similarity.trainSlice]]) and each Lloyd round is one
    * map-side-combined aggregation collecting k×dim doubles
    * ([[Similarity.kmeansCentroids]]). Assignment is the codegen'd
    * literal-centroid argmin at scan speed; the assigned stage is
    * persisted so the argmin kernel runs once, not once per join side.
    * Scores are exact integer ppm (floor(cos·1e6)) per the family's
    * cross-engine rule. Verification is two-layer: training quality
    * gates live in DedupSpec (planted-duplicate recall, driver-side
    * cosine soundness of every emitted pair, determinism,
    * keep-at-least-one); everything DOWNSTREAM of training is
    * hash-verified by the DuckDB literal-replay oracle
    * ([[semanticOracleSql]] — this run's centroids inlined, the rest
    * re-derived independently). */
  def dedup_semantic(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", VectorFunctions.asDouble($"embedding").as("vec"))
    val cents = Similarity.kmeansCentroids(
      Similarity.trainSlice(s, d, e), k = 32, iters = 1)
    lastSemanticCents.set(cents)
    semanticDupsWithCents(e, cents, threshPpm = 300000L)
      .orderBy($"vec_id")
  }

  /** Centroids [[dedup_semantic]] trained in THIS run, replayed into
    * its literal-replay oracle (same contract as
    * [[Similarity.lastIvfCents]]: Lloyd's avg() reduction order bars
    * re-training on the second engine, so the oracle inlines the run's
    * exact floats and independently re-derives everything downstream —
    * assignment, directed pair generation, scoring, best-partner
    * resolution). */
  private[graft] val lastSemanticCents =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** Library form of [[dedup_semantic]] over any (vec_id, vec:
    * array<double>) frame: `train` is the (possibly sample-capped)
    * slice centroids learn from; returns one row per DROPPED doc —
    * (cell, vec_id, centroid_sim_ppm, dup_of, cos_ppm) where dup_of is
    * the highest-cosine partner that out-ranks it (ties to the lower
    * id), which may itself be dropped in a chain (the row justifies
    * the drop; transitive resolution is [[dedup_clusters]]'s job). The
    * pair join is DIRECTED by the lexicographic (centroid_sim, id)
    * order, so each unordered pair is scored exactly once. */
  def semanticDupsFrom(vecs: DataFrame, train: DataFrame, k: Int,
      iters: Int, threshPpm: Long): DataFrame =
    semanticDupsWithCents(vecs,
      Similarity.kmeansCentroids(train, k, iters), threshPpm)

  /** [[semanticDupsFrom]] downstream of training: everything after the
    * centroids are known (assignment, directed within-cell pair join,
    * ppm scoring, best-partner resolution) — the exact stage span the
    * literal-replay oracle re-derives in DuckDB. */
  def semanticDupsWithCents(vecs: DataFrame, cents: Array[Array[Double]],
      threshPpm: Long): DataFrame = {
    val s = vecs.sparkSession
    import s.implicits._
    val assigned = CacheRegistry.cache(
      vecs.select($"vec_id", $"vec",
          Similarity.bestCell(cents, $"vec").as("best"))
        .select($"vec_id", $"vec", $"best.cid".as("cell"),
          floor((lit(1.0) - $"best.dist") * 1e6).cast("long")
            .as("centroid_sim_ppm")))
    val x = assigned.select($"cell", $"vec_id", $"vec", $"centroid_sim_ppm")
    val y = assigned.select($"cell".as("cell_y"), $"vec_id".as("vec_id2"),
      $"vec".as("vec2"), $"centroid_sim_ppm".as("csim2"))
    x.join(y, $"cell" === $"cell_y" &&
        ($"csim2" < $"centroid_sim_ppm" ||
          ($"csim2" === $"centroid_sim_ppm" && $"vec_id2" < $"vec_id")))
      .select($"cell", $"vec_id", $"centroid_sim_ppm", $"vec_id2",
        floor(VectorFunctions.cosine($"vec", $"vec2") * 1e6).cast("long")
          .as("cos_ppm"))
      .filter($"cos_ppm" >= threshPpm)
      .groupBy($"cell", $"vec_id", $"centroid_sim_ppm")
      .agg(max_by(struct($"vec_id2".as("dup_of"), $"cos_ppm"),
        struct($"cos_ppm", -$"vec_id2")).as("best"))
      .select($"cell", $"vec_id", $"centroid_sim_ppm",
        $"best.dup_of".as("dup_of"), $"best.cos_ppm".as("cos_ppm"))
  }

  /** CONTAINMENT near-dup detection — the embedded-document case
    * resemblance dedup misses: a short doc fully contained in a long
    * one (a quoted article, a boilerplate-wrapped page) has
    * containment |A∩B|/min ≈ 1 but Jaccard |A∩B|/union = |A|/|B|,
    * which drops below any resemblance threshold once the size ratio
    * does — minhash banding keyed on Jaccard never surfaces the pair.
    *
    * Blocking is a BOTTOM-m sketch join (Broder): each doc emits its m
    * smallest shingle hashes as bucket keys. If A ⊆ B, any of B's m
    * corpus-smallest grams that lands in A is automatically among A's
    * m smallest too (A's grams are a subset, so ranks only shrink), so
    * the pair collides with probability 1-(1-ratio)^m — ≥ 0.93 at
    * ratio 0.15 with m=16, ≈ 1 at ratio ≥ 0.3. Keys are single longs
    * (8-byte shuffle), m per doc — linear candidate volume; degenerate
    * corpus-common grams concentrate in hot buckets, which the
    * bucketPairs cap drops OBSERVABLY (BucketCapMetrics), exactly like
    * the LSH band paths. Scoring is one linear merge over the sorted
    * gram arrays per distinct candidate pair ([[ExprKernels
    * .intersectSortedCount]]); the gram stage is persisted so the
    * shingle kernel runs once per doc (pair-gen + two score joins).
    *
    * Scores are EXACT INTEGER ppm (r13, was round(double, 4)):
    * `c >= 0.8` as `5·|∩| >= 4·min(|A|,|B|)`, both ratios emitted as
    * truncating integer divisions — same integer-arithmetic rule as
    * [[dedup_ngram_jaccard]], which is what lets the DuckDB oracle
    * (bottom-m prefix of the signed-sorted gram set, bucket cap, pair
    * distinct, intersection re-count) hash-match with no rounding
    * hazard. Output schema change noted for cross-round diffs:
    * containment/jaccard (double, 4 dp) → containment_ppm/jaccard_ppm
    * (bigint). */
  def dedup_containment(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = 16
    val docs = CacheRegistry.cache(Tables.documents(s, d)
      .select($"doc_id", shingleHashes($"text", 3).as("grams")))
    // grams are sorted ascending (kernel contract) → bottom-m = prefix
    val keyed = docs.select($"doc_id", slice($"grams", 1, m).as("keys"))
    bucketPairs(keyed, "doc_id", $"keys")
      .join(docs, "doc_id")
      .join(docs.select($"doc_id".as("doc_id2"), $"grams".as("grams2")), "doc_id2")
      .select($"doc_id", $"doc_id2",
        intersectCountSorted($"grams", $"grams2").as("inter"),
        size($"grams").cast("long").as("sz"),
        size($"grams2").cast("long").as("sz2"))
      .filter($"inter" * 5 >= least($"sz", $"sz2") * 4)
      .select($"doc_id", $"doc_id2",
        expr("inter * 1000000 div least(sz, sz2)").as("containment_ppm"),
        expr("inter * 1000000 div (sz + sz2 - inter)").as("jaccard_ppm"))
      .orderBy($"doc_id", $"doc_id2")
  }

  /** SPAN-level near-dup pairs via content-defined chunking — the
    * dedup storage systems actually ship (LBFS, Muthitacharoen et al.
    * SOSP'01; backup dedup generally): two documents are related when
    * they share VERBATIM spans, found by chunking each doc on
    * content-defined boundaries ([[graft.functions.ExprKernels.cdcChunks]],
    * same codegen'd kernel as text_cdc_chunks) and equi-joining on
    * chunk content hash. Complements the sketch family: minhash/simhash
    * estimate set overlap of all shingles; CDC finds exact contiguous
    * reuse (quoted passages, boilerplate, the planted shared prefixes)
    * and reports the shared BYTES, not an estimate.
    *
    * Pipeline: chunk (per-row map) → distinct (doc, chunk) → bucket by
    * chunk hash with the standard hot-bucket cap (observable, conf
    * `graft.dedup.maxBucket` — a boilerplate chunk shared by everything
    * would otherwise go quadratic) → ordered pairs → per-pair
    * shared-chunk/shared-byte aggregation → containment vs the smaller
    * doc's chunked bytes, in integer ppm. Chunks below `minChunk` bytes
    * are ignored (tiny common spans are noise). Every step is a
    * map-side-combined shuffle on computed keys; the doc-bytes join is
    * a broadcast at any realistic distinct-doc count per executor.
    *
    * Fully hash-oracled: the DuckDB oracle re-derives every boundary
    * and chunk hash from the shared kernel spec (the text_cdc_chunks
    * chain), then replays the SAME cap/threshold pipeline in SQL —
    * candidate generation itself is verified on a second engine, the
    * first of the near-dup family where that is possible (sketch-based
    * candidates depend on RNG planes/permutations; CDC is content-pure). */
  def dedup_cdc(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val minChunk = 24
    val cap = s.conf.get("graft.dedup.maxBucket", "1000").toInt
    val chunkCol = GraftExpressions.toColumn(
      CdcChunksExpr(GraftExpressions.toExpr($"text")))
    // r20 (gc_top leader): explode the chunk INDEX and subscript into
    // the flat triple array, instead of transform(...)-materializing an
    // array of structs per row — each struct was an InternalRow
    // allocation (the graph_triangles named_struct fingerprint, r19),
    // ~30 per doc per pass. Same (doc_id, len, h) rows.
    val chunks = CacheRegistry.cache(
      Tables.documents(s, d)
        .select($"doc_id", chunkCol.as("c"))
        .filter(size($"c") > 0)
        .select($"doc_id", $"c",
          explode(expr("sequence(0, size(c) div 3 - 1)")).as("i"))
        .select($"doc_id", expr("c[3*i+1]").as("len"), expr("c[3*i+2]").as("h"))
        .filter($"len" >= minChunk)
        .distinct())
    val byChunk = chunks
      .groupBy($"h", $"len")
      .agg(collect_list($"doc_id").as("ids"))
      .filter(size($"ids") >= 2)
      .observe(s"graft_bucket_pairs_${obsId.incrementAndGet()}",
        sum(when(size($"ids") > cap, 1).otherwise(0)).as("dropped_buckets"),
        max(size($"ids")).as("max_bucket"),
        sum(when(size($"ids") > cap, size($"ids")).otherwise(0)).as("capped_ids"))
      .filter(size($"ids") <= cap)
    val pairs = byChunk
      .select($"len", explode($"ids").as("doc_id"), $"ids")
      .select($"len", $"doc_id", explode($"ids").as("doc_id2"))
      .filter($"doc_id" < $"doc_id2")
      .groupBy($"doc_id", $"doc_id2")
      .agg(count(lit(1)).as("shared_chunks"), sum($"len").as("shared_bytes"))
    val docBytes = chunks.groupBy($"doc_id").agg(sum($"len").as("bytes"))
    pairs
      .join(docBytes, "doc_id")
      .join(docBytes.select($"doc_id".as("doc_id2"), $"bytes".as("bytes2")),
        "doc_id2")
      .withColumn("containment_ppm",
        expr("shared_bytes * 1000000 div least(bytes, bytes2)"))
      .filter($"containment_ppm" >= 300000)
      .select($"doc_id", $"doc_id2", $"shared_chunks", $"shared_bytes",
        $"containment_ppm")
      .orderBy($"doc_id", $"doc_id2")
  }

  /** Connected components over an undirected pair list via min-label
    * propagation WITH pointer jumping (hook + shortcut, the classic
    * PRAM connectivity recipe): each round every node (a) hooks to the
    * min of its own and its neighbors' labels, then (b) jumps by
    * replacing its label with its LABEL'S label. Hooking alone needs
    * diameter rounds; the jump roughly doubles how far a label has
    * travelled each round, so convergence is O(log diameter) — a
    * 3000-node chain converges in ~a dozen rounds instead of 3000
    * (spec-gated in DedupSpec). Near-dup graphs are clique-ish (LSH
    * emits most pairs within a cluster), so 2–3 rounds in practice.
    *
    * Each round is one edge⋈frontier join + aggregate (hook) and one
    * frontier⋈frontier join (jump), all shuffles on node id; the
    * initial frontier folds the first hook into one edge aggregation
    * (min neighbor per node — no join needed while labels are
    * identity); the hooked frontier is persisted per round (it feeds
    * both the jump lookup and the jump probe — unpersisted, the
    * self-join would recompute the hook twice) and the previous round
    * unpersisted, so lineage never re-executes. Each round is one
    * [[Superstep.iterate]] round: the write that fills the frontier
    * cache also counts the labels that changed.
    *
    * If `maxIter` is exhausted before convergence the result would
    * contain SPLIT components, so the loop fails loudly rather than
    * returning silently-wrong labels (with jumping, the default cap
    * covers diameters beyond 2^25 — hitting it means something is
    * genuinely wrong, not merely a long chain).
    *
    * `edges` is unpersisted on exit; the returned frontier stays
    * persisted and registry-tracked — the consumer releases it via
    * [[graft.CacheRegistry.releaseAll]] after materializing.
    *
    * Input: 2-column pair DataFrame (id, id2). Output: (node, label)
    * where label = min node id of the component. */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 30): DataFrame = {
    val Array(a, b) = pairs.columns.take(2)
    val fwd = pairs.select(col(a).as("src"), col(b).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().persist(StorageLevel.MEMORY_AND_DISK)
    // the round's persisted hook, released once the next round's state
    // is filled (the step after it) or when the loop exits
    var hooked: Option[DataFrame] = None
    val t0 = System.nanoTime()
    try {
      // Materialize `edges` BEFORE anything consumes it: the round-1
      // job otherwise contains several independent branches (initial
      // frontier, neighbor-min, hook) that all scan the still-lazy
      // cache concurrently — each racing branch re-executes the full
      // upstream pair-generation lineage (minhash signatures at corpus
      // scale) before any partition lands in cache. One count pays the
      // lineage exactly once.
      edges.count()
      // Initial frontier = the FIRST propagation round computed without
      // a join: with identity labels, round 1's neighbor-min is just
      // min(dst) per src, so label₀ = least(node, min neighbor) comes
      // straight off the edge list — one aggregation replaces the
      // identity init PLUS a full join round.
      val init = edges.groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("label"))
        .select(col("src").as("node"), col("label"))
      val last = Superstep.iterate(init, count(lit(1)), maxIter) { (state, _) =>
        hooked.foreach(_.unpersist(blocking = false))
        val labels = state.select(col("node"), col("label"))
        val nbrMin = edges.join(labels, edges("dst") === labels("node"))
          .groupBy(col("src")).agg(min(col("label")).as("nlabel"))
        // HOOK: take the min of own and neighbors' labels. Persisted:
        // the jump below reads it from two sides.
        val hook = labels.join(nbrMin, labels("node") === nbrMin("src"), "left")
          .select(labels("node"), labels("label").as("old"),
            least(labels("label"), coalesce(col("nlabel"), labels("label"))).as("lab"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        hooked = Some(hook)
        // JUMP (pointer doubling): label := label's label. Labels only
        // decrease and always name a node of the same component, so the
        // shortcut is safe and strictly accelerating.
        val lut = hook.select(col("node").as("jnode"), col("lab").as("jlab"))
        val upd = hook.join(lut, hook("lab") === col("jnode"), "left")
          .select(hook("node"), hook("old"),
            least(hook("lab"), coalesce(col("jlab"), hook("lab"))).as("label"))
        (upd, sum(when(col("label") =!= col("old"), 1L).otherwise(0L)))
      }
      if (last.n > 0) {
        last.cache.unpersist(blocking = false)
        throw new IllegalStateException(
          s"connectedComponents did not converge in $maxIter rounds " +
            s"(${last.n} labels still changing) — labels would be split; " +
            "with pointer jumping this means a genuine defect, not depth")
      }
      // at corpus scale an operator sees the loop's round count and
      // time here instead of a silent multi-hour job
      System.err.println(f"[graft:cc] ${last.r} rounds " +
        f"${(System.nanoTime() - t0) / 1e9}%.2f s")
      last.state.select(col("node"), col("label"))
    } finally {
      hooked.foreach(_.unpersist(blocking = false))
      edges.unpersist(blocking = false)
    }
  }

  /** Dedup RESOLUTION — the step a training-data pipeline runs after
    * pair generation: fold exact-duplicate clusters (md5 star,
    * linear and complete at any cluster size) and MinHash-LSH near-dup
    * pairs into one graph, take connected components, and emit each
    * clustered document with its cluster id and a keep/drop decision
    * (keeper = min doc_id of the component). Transitively-linked docs
    * (A≈B, B≈C, A̸≈C) land in ONE cluster — pairwise output alone
    * cannot express that. Oracle: full hash match (r13) — the pair
    * graph reuses the minhash-LSH re-derivation ([[minhashSigSql]])
    * plus the md5 star, and the components themselves are recomputed
    * in DuckDB with a recursive transitive-closure CTE + min-label
    * aggregation, so the distributed pointer-jumping loop is verified
    * against an independent sequential fixpoint. DedupSpec additionally
    * checks the assignment against a driver-side union-find and
    * transitive-chain merging on planted corpora. */
  def dedup_clusters(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
      .select($"doc_id", md5($"text".cast("binary")).as("h"))
    val groups = docs.groupBy($"h")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("csize"))
      .filter($"csize" >= 2)
    val exactPairs = docs.join(groups, "h")
      .filter($"doc_id" > $"keeper")
      .select($"keeper".as("doc_id"), $"doc_id".as("doc_id2"))
    val nearPairs = dedup_minhash_lsh(s, d).select($"doc_id", $"doc_id2")
    connectedComponents(exactPairs.unionByName(nearPairs))
      .select($"label".as("cluster_id"), $"node".as("doc_id"),
        ($"node" === $"label").as("is_keeper"))
      .orderBy($"cluster_id", $"doc_id")
  }

  /** Cluster resolution with a QUALITY keep policy — what a curation
    * pipeline actually ships: within each near-duplicate cluster keep
    * the highest-quality document, not the lowest id. Composition of
    * [[dedup_clusters]] (exact ∪ LSH pairs → connected components)
    * with the [[TextOps.text_quality]] score; the keeper is
    * `max_by(doc_id, (quality, −doc_id))` — one map-side-combined
    * aggregate per cluster, deterministic under ties (lower doc_id
    * wins). Oracle: full hash match (r13) — the [[dedup_clusters]]
    * recursive-CTE re-derivation joined with the text_quality
    * integer-ppm score, keeper via `row_number() = 1` under the same
    * (quality DESC, doc_id ASC) order. DedupSpec additionally asserts
    * exactly one keeper per cluster and that no member out-scores its
    * keeper. */
  def dedup_resolve_best(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val clusters = dedup_clusters(s, d).select($"cluster_id", $"doc_id")
    val quality = TextOps.text_quality(s, d).select($"doc_id", $"quality_ppm")
    // referenced twice (keeper agg + join back); persisted so the
    // quality-scoring scan of `documents` runs once, not per reference
    // (the CC side is already cache-backed by connectedComponents)
    val joined = CacheRegistry.cache(clusters.join(quality, "doc_id"))
    val keepers = joined.groupBy($"cluster_id")
      .agg(max_by($"doc_id", struct($"quality_ppm", -$"doc_id")).as("keeper"))
    joined.join(keepers, "cluster_id")
      .select($"cluster_id", $"doc_id", $"quality_ppm",
        ($"doc_id" === $"keeper").as("is_keeper"))
      .orderBy($"cluster_id", $"doc_id")
  }

  /** Scale path for embedding near-dup at a true near-duplicate
    * threshold: multi-band random-hyperplane LSH blocking + exact
    * cosine rescoring. At cos ≥ 0.95 a hyperplane agrees w.p. ~0.90,
    * so `bands`×`r` = 8×8 gives per-pair recall ≈ 1-(1-0.9⁸)⁸ ≈ 0.99
    * while unrelated pairs (p≈0.5) collide w.p. ≈ 8/2⁸ ≈ 3% — linear
    * candidate volume at corpus scale. Input: (id: long, vec:
    * array<float|double>). Output: (id, id2, cos_sim ≥ threshold).
    *
    * The signature stage references `vecs` THREE times (pair-gen +
    * both id-joins), so it is persisted via [[graft.CacheRegistry]] —
    * the same one-scan rule [[dedup_minhash_lsh]] follows. This
    * matters most when `vecs` is itself expensive to produce:
    * [[Multimodal.mm_near_dups]] feeds this function from a
    * feature-extraction stage (a vision tower at 100 TB — the single
    * most expensive producer in the pipeline), and an unpersisted
    * `sigs` recomputed that lineage 3×. The consumer releases the
    * entry per the registry lifecycle (Bench/Verify call
    * [[graft.CacheRegistry.releaseAll]] between queries); a LIBRARY
    * caller outside that lifecycle would otherwise accumulate
    * never-released MEMORY_AND_DISK entries (CacheManager holds
    * strong refs), so `persistSigs = false` opts out — the caller
    * then owns the one-scan trade (persist `vecs` itself, or accept
    * the 3× recompute). */
  def embeddingLshPairs(vecs: DataFrame, threshold: Double,
      bands: Int = 8, r: Int = 8, dim: Int = 64,
      persistSigs: Boolean = true): DataFrame = {
    require(r <= 64, "r (band key width) must fit in one 64-bit key")
    val planes = VectorFunctions.randomPlanes(bands * r, dim)
    // One signature expression PER BAND over that band's plane slice
    // (identical band keys to the former packed-64-bit form, but with
    // no bands*r <= 64 ceiling): the key width r is the collision
    // exponent — unrelated vectors share a band key w.p. ~2^-r — so
    // being able to afford r=16 instead of r=8 cuts candidate volume
    // ~256x per band, which r11 measured as the dominant cost of
    // mm_near_dups (1.62M candidates from a 5.5k corpus at r=8).
    val sigsRaw = vecs.select(
      col("id") +: col("vec") +: (0 until bands).map { b =>
        VectorFunctions.hyperplaneSignature(
          col("vec"), planes.slice(b * r, (b + 1) * r)).as(s"bk$b")
      }: _*)
    val sigs = if (persistSigs) CacheRegistry.cache(sigsRaw) else sigsRaw
    val bandStructs = array((0 until bands).map { b =>
      struct(lit(b).as("band"), col(s"bk$b").as("bkey"))
    }: _*)
    bucketPairs(sigs, "id", bandStructs)
      .join(sigs.select(col("id"), col("vec")), "id")
      .join(sigs.select(col("id").as("id2"), col("vec").as("vec2")), "id2")
      .select(col("id"), col("id2"),
        VectorFunctions.cosine(col("vec"), col("vec2")).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact" -> dedup_exact _,
    "dedup_cdc" -> dedup_cdc _,
    "dedup_minhash_lsh" -> dedup_minhash_lsh _,
    "dedup_incremental" -> dedup_incremental _,
    "dedup_minhash_index" -> dedup_minhash_index _,
    "dedup_minhash_index_delta" -> dedup_minhash_index_delta _,
    "dedup_minhash_index_merge" -> dedup_minhash_index_merge _,
    "dedup_simhash" -> dedup_simhash _,
    "dedup_ngram_jaccard" -> dedup_ngram_jaccard _,
    "dedup_containment" -> dedup_containment _,
    "dedup_embedding" -> dedup_embedding _,
    "dedup_semantic" -> dedup_semantic _,
    "dedup_clusters" -> dedup_clusters _,
    "dedup_resolve_best" -> dedup_resolve_best _)

  /** DuckDB re-derivation of the word-3-gram hash sets (`u`: doc_id,
    * gram as unsigned HUGEINT): word FNV hashes over space-split
    * lower(text), fmix64 stages, 3-gram chained folds, DISTINCT.
    * Shared by every gram-consuming oracle (minhash_lsh, incremental,
    * ngram_jaccard, simhash) so all re-derivations stay provably
    * identical. */
  /** `private[operators]`: Similarity composes it into the
    * ann_hybrid_rrf lexical-leg oracle. */
  private[operators] val gramSql: String =
    """|WITH w0 AS (
        |  SELECT doc_id, t.i AS widx,
        |    list_reduce(
        |      list_prepend(1469598103934665603::HUGEINT,
        |        list_transform(string_split(l[t.i + 1], ''), ch -> ascii(ch)::HUGEINT)),
        |      (acc, c) -> (xor(acc, c) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS a
        |  FROM (SELECT doc_id,
        |          list_filter(string_split(lower(text), ' '), x -> x <> '') AS l
        |        FROM documents),
        |       LATERAL unnest(range(len(l))) AS t(i)),
        |
        |w1 AS (SELECT doc_id, widx, xor(a, a // 8589934592::HUGEINT) AS a FROM w0),
        |w2 AS (SELECT doc_id, widx, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM w1),
        |w3 AS (SELECT doc_id, widx, xor(a, a // 8589934592::HUGEINT) AS a FROM w2),
        |w4 AS (SELECT doc_id, widx, (((a) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM w3),
        |w5 AS (SELECT doc_id, widx, xor(a, a // 8589934592::HUGEINT) AS a FROM w4),
        |wh AS (SELECT doc_id, widx, a AS h FROM w5),
        |gw AS (
        |  SELECT doc_id, widx AS g, h AS h0,
        |         lead(h, 1) OVER win AS h1, lead(h, 2) OVER win AS h2
        |  FROM wh WINDOW win AS (PARTITION BY doc_id ORDER BY widx)
        |  QUALIFY lead(h, 2) OVER win IS NOT NULL),
        |ga0 AS (SELECT doc_id, g, h1, h2, xor(14695981039346656037::HUGEINT, h0) AS a FROM gw),
        |
        |ga1 AS (SELECT doc_id, g, h1, h2, xor(a, a // 8589934592::HUGEINT) AS a FROM ga0),
        |ga2 AS (SELECT doc_id, g, h1, h2, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM ga1),
        |ga3 AS (SELECT doc_id, g, h1, h2, xor(a, a // 8589934592::HUGEINT) AS a FROM ga2),
        |ga4 AS (SELECT doc_id, g, h1, h2, (((a) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM ga3),
        |ga5 AS (SELECT doc_id, g, h1, h2, xor(a, a // 8589934592::HUGEINT) AS a FROM ga4),
        |gb0 AS (SELECT doc_id, g, h2,
        |          xor((a * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT, h1) AS a
        |        FROM ga5),
        |
        |gb1 AS (SELECT doc_id, g, h2, xor(a, a // 8589934592::HUGEINT) AS a FROM gb0),
        |gb2 AS (SELECT doc_id, g, h2, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM gb1),
        |gb3 AS (SELECT doc_id, g, h2, xor(a, a // 8589934592::HUGEINT) AS a FROM gb2),
        |gb4 AS (SELECT doc_id, g, h2, (((a) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM gb3),
        |gb5 AS (SELECT doc_id, g, h2, xor(a, a // 8589934592::HUGEINT) AS a FROM gb4),
        |gc0 AS (SELECT doc_id, g,
        |          xor((a * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT, h2) AS a
        |        FROM gb5),
        |
        |gc1 AS (SELECT doc_id, g, xor(a, a // 8589934592::HUGEINT) AS a FROM gc0),
        |gc2 AS (SELECT doc_id, g, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM gc1),
        |gc3 AS (SELECT doc_id, g, xor(a, a // 8589934592::HUGEINT) AS a FROM gc2),
        |gc4 AS (SELECT doc_id, g, (((a) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM gc3),
        |gc5 AS (SELECT doc_id, g, xor(a, a // 8589934592::HUGEINT) AS a FROM gc4),
        |gd0 AS (SELECT doc_id, g,
        |          (a * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT AS a
        |        FROM gc5),
        |
        |gd1 AS (SELECT doc_id, g, xor(a, a // 8589934592::HUGEINT) AS a FROM gd0),
        |gd2 AS (SELECT doc_id, g, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM gd1),
        |gd3 AS (SELECT doc_id, g, xor(a, a // 8589934592::HUGEINT) AS a FROM gd2),
        |gd4 AS (SELECT doc_id, g, (((a) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM gd3),
        |gd5 AS (SELECT doc_id, g, xor(a, a // 8589934592::HUGEINT) AS a FROM gd4),
        |u AS (SELECT DISTINCT doc_id, a AS gram FROM gd5)""".stripMargin

  /** Continuation of [[gramSql]]: the 32 seeded-permutation signed
    * minima (`sigv`: doc_id, p, sv) and per-document FNV band keys
    * (`bk`: doc_id, band, key), with `rowsPerBand` signature rows
    * folded per band (4 for the 8×4 minhash queries, 2 for
    * dedup_ngram_jaccard's 16×2 banding). */
  private def sigBandSql(rowsPerBand: Int): String =
    s"""|s0 AS (SELECT CAST(t.p AS BIGINT) AS p,
        |         (11400714819323198485::HUGEINT * (t.p + 1))
        |           % 18446744073709551616::HUGEINT AS a
        |       FROM unnest(range(32)) AS t(p)),
        |
        |s1 AS (SELECT p, xor(a, a // 8589934592::HUGEINT) AS a FROM s0),
        |s2 AS (SELECT p, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM s1),
        |s3 AS (SELECT p, xor(a, a // 8589934592::HUGEINT) AS a FROM s2),
        |s4 AS (SELECT p, (((a) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM s3),
        |s5 AS (SELECT p, xor(a, a // 8589934592::HUGEINT) AS a FROM s4),
        |seeds AS (SELECT p, a AS seed FROM s5),
        |mh0 AS (SELECT doc_id, p, xor(gram, seed) AS a FROM u CROSS JOIN seeds),
        |
        |mh1 AS (SELECT doc_id, p, xor(a, a // 8589934592::HUGEINT) AS a FROM mh0),
        |mh2 AS (SELECT doc_id, p, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM mh1),
        |mh3 AS (SELECT doc_id, p, xor(a, a // 8589934592::HUGEINT) AS a FROM mh2),
        |mh4 AS (SELECT doc_id, p, (((a) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS a FROM mh3),
        |mh5 AS (SELECT doc_id, p, xor(a, a // 8589934592::HUGEINT) AS a FROM mh4),
        |sigv AS (
        |  SELECT doc_id, p,
        |    min(CAST(CASE WHEN a >= 9223372036854775808::HUGEINT
        |        THEN a - 18446744073709551616::HUGEINT ELSE a END AS BIGINT)) AS sv
        |  FROM mh5 GROUP BY 1, 2),
        |bk AS (
        |  SELECT doc_id, p // $rowsPerBand AS band,
        |    list_reduce(
        |      list_prepend(1469598103934665603::HUGEINT,
        |        list(CASE WHEN sv < 0 THEN sv::HUGEINT + 18446744073709551616::HUGEINT
        |             ELSE sv::HUGEINT END ORDER BY p)),
        |      (acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS key
        |  FROM sigv GROUP BY 1, 2)""".stripMargin

  /** [[gramSql]] + [[sigBandSql]] — the full signature/band
    * re-derivation the minhash-family oracles share. */
  private def minhashSigSql(rowsPerBand: Int): String =
    gramSql + ",\n" + sigBandSql(rowsPerBand)

  /** The [[dedup_clusters]] pair graph + connected components in
    * DuckDB, shared by the dedup_clusters and dedup_resolve_best
    * oracles: the full minhash-LSH candidate/score re-derivation
    * (same CTE chain as the dedup_minhash_lsh oracle), the md5
    * exact-duplicate keeper star, the undirected edge list, and
    * components as a RECURSIVE transitive-closure fixpoint (`reach`
    * holds every (node, reachable-node) pair; UNION dedup terminates
    * it) reduced by min-label — an independent sequential CC algorithm
    * against which the distributed pointer-jumping loop hash-verifies.
    * Closure size is bounded by the same 2..1000 bucket cap that
    * bounds the pair list. Ends with CTE `cl`(cluster_id, doc_id).
    * `private[operators]`: TextOps composes it into the
    * text_pipeline_near oracle. */
  private[operators] val clusterCcSql: String =
    minhashSigSql(4).replaceFirst("WITH ", "WITH RECURSIVE ") + "," + """
        |ok AS (SELECT band, key FROM bk GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000),
        |pr AS (
        |  SELECT DISTINCT a.doc_id, b.doc_id AS doc_id2
        |  FROM bk a JOIN ok ON a.band = ok.band AND a.key = ok.key
        |  JOIN bk b ON b.band = ok.band AND b.key = ok.key AND a.doc_id < b.doc_id),
        |sg AS (SELECT doc_id, list(sv ORDER BY p) AS s FROM sigv GROUP BY 1),
        |near AS (
        |  SELECT pr.doc_id, pr.doc_id2
        |  FROM pr JOIN sg x ON pr.doc_id = x.doc_id JOIN sg y ON pr.doc_id2 = y.doc_id
        |  WHERE CAST(len(list_filter(range(32), i -> x.s[i + 1] = y.s[i + 1])) AS DOUBLE) / 32 >= 0.5),
        |ex AS (
        |  SELECT g.keeper AS doc_id, dd.doc_id AS doc_id2
        |  FROM (SELECT md5(text) AS h, min(doc_id) AS keeper
        |        FROM documents GROUP BY 1 HAVING count(*) >= 2) g
        |  JOIN (SELECT doc_id, md5(text) AS h FROM documents) dd ON g.h = dd.h
        |  WHERE dd.doc_id > g.keeper),
        |allp AS (SELECT doc_id, doc_id2 FROM ex UNION SELECT doc_id, doc_id2 FROM near),
        |ed AS (SELECT doc_id AS a, doc_id2 AS b FROM allp
        |       UNION SELECT doc_id2, doc_id FROM allp),
        |nodes AS (SELECT DISTINCT a AS node FROM ed),
        |reach(node, lab) AS (
        |  SELECT node, node FROM nodes
        |  UNION
        |  SELECT r.node, e.b FROM reach r JOIN ed e ON r.lab = e.a),
        |cl AS (SELECT min(lab) AS cluster_id, node AS doc_id FROM reach GROUP BY node)""".stripMargin

  /** The 20 3-of-6 simhash chunk-combination bucket keys of
    * [[dedup_simhash]], as DuckDB expressions over the unsigned
    * simhash `hu` — generated by the SAME `combinations(3)`
    * enumeration as the Spark operator, so combo order and bit
    * packing (comboId << 33 | chunks at accumulated shifts) agree by
    * construction. */
  private val simhashComboKeySql: String = {
    val widths = Array(11, 11, 11, 11, 10, 10)
    val offsets = widths.scanLeft(0)(_ + _)
    widths.indices.combinations(3).toArray.zipWithIndex.map { case (chunks, ci) =>
      var shift = 0
      val parts = chunks.map { c =>
        val div = BigInt(2).pow(offsets(c))
        val mask = 1L << widths(c)
        val mul = BigInt(2).pow(shift)
        shift += widths(c)
        s"((hu // ${div}::HUGEINT) % $mask) * $mul"
      }
      (parts.toSeq :+ s"${ci.toLong << 33}").mkString("CAST(", " + ", " AS BIGINT)")
    }.mkString(", ")
  }

  /** DuckDB literal-replay oracle for [[dedup_semantic]] (the
    * [[Similarity.annIvfOracleSql]] playbook): the run's trained
    * centroids inlined as a DOUBLE[][] literal, then cell assignment
    * (lexicographic (dist, cid) argmin; centroid_sim_ppm =
    * floor((1.0 − dist)·1e6) with dist = 1.0 −
    * list_cosine_similarity, the same IEEE op sequence as the
    * codegen'd argmin), the DIRECTED within-cell pair join on the
    * (centroid_sim, id) order, exact floor-ppm cosine scoring, the
    * ≥ threshold filter, and the max-by (cos_ppm, −vec_id2)
    * best-partner resolution all re-derived on the second engine. */
  private def semanticOracleSql(cents: Array[Array[Double]],
      threshPpm: Long): String = {
    val cl = cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |ce AS (SELECT CAST($cl AS DOUBLE[][]) AS cents),
       |ad AS (
       |  SELECT vec_id, vd, u.cid AS cid,
       |    1.0 - list_cosine_similarity(vd, cents[CAST(u.cid + 1 AS BIGINT)])
       |      AS dist
       |  FROM v, ce, unnest(range(${cents.length})) AS u(cid)),
       |asg AS (
       |  SELECT vec_id, vd, CAST(cid AS INTEGER) AS cell,
       |    CAST(floor((1.0 - dist) * 1e6) AS BIGINT) AS centroid_sim_ppm
       |  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM ad)
       |  WHERE rn = 1),
       |pairs AS (
       |  SELECT x.cell, x.vec_id, x.centroid_sim_ppm, y.vec_id AS vec_id2,
       |    CAST(floor(list_cosine_similarity(x.vd, y.vd) * 1e6) AS BIGINT)
       |      AS cos_ppm
       |  FROM asg x JOIN asg y ON x.cell = y.cell
       |    AND (y.centroid_sim_ppm < x.centroid_sim_ppm OR
       |         (y.centroid_sim_ppm = x.centroid_sim_ppm
       |          AND y.vec_id < x.vec_id)))
       |SELECT cell, vec_id, centroid_sim_ppm, vec_id2 AS dup_of, cos_ppm
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cos_ppm DESC, vec_id2) AS rn
       |  FROM pairs WHERE cos_ppm >= $threshPpm)
       |WHERE rn = 1 ORDER BY vec_id""".stripMargin
  }

  /** Incremental probe on the SAME signature/band re-derivation
    * (minhashSigSql): tag each band-key row with the delta split
    * (doc_id % 10 = 0), qualify buckets of 2..1000 members holding at
    * least one delta, enumerate only pairs touching a delta doc,
    * canonicalize with the delta doc as probe_id, score by signature
    * agreement. Hash-matching this verifies the delta-probe bucket
    * semantics — base-only exclusion, mixed-pair orientation, cap —
    * on a second engine. Shared by [[dedup_incremental]] and its
    * persisted-index twins (identical output by construction). */
  private lazy val incrementalOracleSql: String =
    minhashSigSql(4) + "," + """
        |tg AS (SELECT doc_id, band, key,
        |         CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS is_delta
        |       FROM bk),
        |ok AS (SELECT band, key FROM tg GROUP BY 1, 2
        |       HAVING count(*) BETWEEN 2 AND 1000 AND max(is_delta) = 1),
        |pr AS (
        |  SELECT DISTINCT
        |    CASE WHEN a.is_delta = 1 THEN a.doc_id ELSE b.doc_id END AS probe_id,
        |    CASE WHEN a.is_delta = 1 THEN b.doc_id ELSE a.doc_id END AS match_id,
        |    CASE WHEN a.is_delta = 1 AND b.is_delta = 1
        |         THEN 'delta' ELSE 'base' END AS match_src
        |  FROM tg a JOIN ok ON a.band = ok.band AND a.key = ok.key
        |  JOIN tg b ON b.band = ok.band AND b.key = ok.key AND a.doc_id < b.doc_id
        |  WHERE a.is_delta = 1 OR b.is_delta = 1),
        |sg AS (SELECT doc_id, list(sv ORDER BY p) AS s FROM sigv GROUP BY 1),
        |sc AS (
        |  SELECT pr.probe_id, pr.match_id, pr.match_src,
        |    len(list_filter(range(32), i -> x.s[i + 1] = y.s[i + 1])) AS agree
        |  FROM pr JOIN sg x ON pr.probe_id = x.doc_id
        |  JOIN sg y ON pr.match_id = y.doc_id)
        |SELECT probe_id, match_id, match_src,
        |  round(CAST(agree AS DOUBLE) / 32, 4) AS est_jaccard
        |FROM sc WHERE CAST(agree AS DOUBLE) / 32 >= 0.5
        |ORDER BY 1, 2""".stripMargin

  /** def, not val: the dedup_semantic entry replays THIS run's
    * trained centroids ([[lastSemanticCents]]) — see
    * [[Similarity.oracle]] for the populate-before-dump contract. */
  def oracle: Map[String, String] = Option(lastSemanticCents.get())
    .map(c => Map("dedup_semantic" -> semanticOracleSql(c, 300000L)))
    .getOrElse(Map.empty) ++ Map(
    // Same independently-rebuilt CDC kernel as the text_cdc_chunks
    // oracle (gear table from fmix64, boundaries as 10-term lag-window
    // sums mod 1024, per-chunk FNV64), then the operator's own
    // cap/threshold pipeline replayed in SQL: distinct (doc, chunk) at
    // >= 24 B, buckets of 2..1000 docs, ordered pairs, shared-byte
    // aggregation, integer-ppm containment vs the smaller doc.
    // The FULL minhash-LSH pipeline re-expressed in DuckDB: word FNV
    // hashes (ascii-codepoint fold over space-split lower(text) — the
    // kernel's toLowerCase(char) equals the byte on this ASCII corpus,
    // the winnowStats caveat), fmix64 via the standard 32/32-split
    // HUGEINT stages, 3-gram chained folds, the 32 seeded-permutation
    // minima (min taken in SIGNED order, matching the kernel), FNV
    // band folds, the SAME 2..1000 bucket cap, ordered distinct pairs,
    // and signature-agreement scoring (agree/32 is dyadic — exact in
    // both engines; its .xxxx5 midpoints round identically, away from
    // zero). Hash-matching this verifies LSH candidate generation
    // itself — bucketing, capping, pairing — on a second engine.
    "dedup_minhash_lsh" -> (minhashSigSql(4) + "," + """
        |ok AS (SELECT band, key FROM bk GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000),
        |pr AS (
        |  SELECT DISTINCT a.doc_id, b.doc_id AS doc_id2
        |  FROM bk a JOIN ok ON a.band = ok.band AND a.key = ok.key
        |  JOIN bk b ON b.band = ok.band AND b.key = ok.key AND a.doc_id < b.doc_id),
        |sg AS (SELECT doc_id, list(sv ORDER BY p) AS s FROM sigv GROUP BY 1),
        |sc AS (
        |  SELECT pr.doc_id, pr.doc_id2,
        |    len(list_filter(range(32), i -> x.s[i + 1] = y.s[i + 1])) AS agree
        |  FROM pr JOIN sg x ON pr.doc_id = x.doc_id JOIN sg y ON pr.doc_id2 = y.doc_id)
        |SELECT doc_id, doc_id2,
        |  round(CAST(agree AS DOUBLE) / 32, 4) AS est_jaccard
        |FROM sc WHERE CAST(agree AS DOUBLE) / 32 >= 0.5
        |ORDER BY 1, 2""".stripMargin),
    "dedup_incremental" -> incrementalOracleSql,
    // The persisted-index twins return dedup_incremental's rows
    // identically by construction (same semantics through the index
    // physical path), so they carry its replay verbatim; for the
    // append-grown index the shared hash additionally proves
    // append ≡ rebuild.
    "dedup_minhash_index" -> incrementalOracleSql,
    "dedup_minhash_index_delta" -> incrementalOracleSql,
    // the keyed-merge generations hold the identical band rows and
    // signatures as a rebuild over the re-crawled corpus, so the
    // identical replay: its hash match IS merge == rebuild (stale
    // band keys deleted, stale signatures rewritten)
    "dedup_minhash_index_merge" -> incrementalOracleSql,
    "dedup_cdc" ->
      """WITH g0 AS (
        |  SELECT bv, xor((bv + 1)::HUGEINT, (bv + 1)::HUGEINT // 8589934592::HUGEINT) AS a
        |  FROM (SELECT CAST(unnest(range(256)) AS BIGINT) AS bv)),
        |g1 AS (SELECT bv, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS bb FROM g0),
        |g2 AS (SELECT bv, xor(bb, bb // 8589934592::HUGEINT) AS c FROM g1),
        |g3 AS (SELECT bv, (((c) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((c) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS d FROM g2),
        |gear AS (
        |  SELECT bv, CAST(xor(d, d // 8589934592::HUGEINT) % 1024::HUGEINT AS BIGINT) AS gm
        |  FROM g3),
        |b AS (
        |  SELECT doc_id, hex(encode(text)) AS hx, length(text) AS len
        |  FROM documents WHERE length(text) > 0),
        |pos AS (
        |  SELECT doc_id, len, i,
        |         ('0x' || substr(hx, CAST(2*i+1 AS BIGINT), 2))::BIGINT AS byte
        |  FROM b, LATERAL unnest(range(len)) AS t(i)),
        |gp AS (
        |  SELECT p.doc_id, p.len, p.i, p.byte, g.gm
        |  FROM pos p JOIN gear g ON p.byte = g.bv),
        |sv AS (
        |  SELECT doc_id, len, i,
        |    (gm
        |     +   2 * coalesce(lag(gm, 1) OVER w, 0)
        |     +   4 * coalesce(lag(gm, 2) OVER w, 0)
        |     +   8 * coalesce(lag(gm, 3) OVER w, 0)
        |     +  16 * coalesce(lag(gm, 4) OVER w, 0)
        |     +  32 * coalesce(lag(gm, 5) OVER w, 0)
        |     +  64 * coalesce(lag(gm, 6) OVER w, 0)
        |     + 128 * coalesce(lag(gm, 7) OVER w, 0)
        |     + 256 * coalesce(lag(gm, 8) OVER w, 0)
        |     + 512 * coalesce(lag(gm, 9) OVER w, 0)) % 1024 AS s
        |  FROM gp WINDOW w AS (PARTITION BY doc_id ORDER BY i)),
        |bnd AS (SELECT doc_id, i FROM sv WHERE s < 16),
        |spans AS (
        |  SELECT doc_id,
        |         coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 1, 0) AS st,
        |         i AS fin
        |  FROM bnd
        |  UNION ALL
        |  SELECT b.doc_id, coalesce(m.mx + 1, 0) AS st, b.len - 1 AS fin
        |  FROM b LEFT JOIN (SELECT doc_id, max(i) AS mx FROM bnd GROUP BY doc_id) m
        |    ON b.doc_id = m.doc_id
        |  WHERE coalesce(m.mx + 1, 0) <= b.len - 1),
        |bl AS (SELECT doc_id, list(byte ORDER BY i) AS bs FROM pos GROUP BY doc_id),
        |hh AS (
        |  SELECT s.doc_id, s.fin - s.st + 1 AS clen,
        |    list_reduce(
        |      list_prepend(1469598103934665603::HUGEINT,
        |        list_transform(bs[s.st + 1 : s.fin + 1], x -> x::HUGEINT)),
        |      (acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS hu
        |  FROM spans s JOIN bl ON s.doc_id = bl.doc_id),
        |u AS (
        |  SELECT DISTINCT doc_id, clen,
        |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |         THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS h
        |  FROM hh WHERE clen >= 24),
        |ok AS (
        |  SELECT h, clen FROM u GROUP BY 1, 2
        |  HAVING count(*) BETWEEN 2 AND 1000),
        |pr AS (
        |  SELECT a.doc_id, b.doc_id AS doc_id2, a.clen
        |  FROM u a JOIN ok ON a.h = ok.h AND a.clen = ok.clen
        |  JOIN u b ON b.h = ok.h AND b.clen = ok.clen AND a.doc_id < b.doc_id),
        |ag AS (
        |  SELECT doc_id, doc_id2,
        |    CAST(count(*) AS BIGINT) AS shared_chunks,
        |    CAST(sum(clen) AS BIGINT) AS shared_bytes
        |  FROM pr GROUP BY 1, 2),
        |db AS (SELECT doc_id, CAST(sum(clen) AS BIGINT) AS bytes FROM u GROUP BY 1)
        |SELECT ag.doc_id, ag.doc_id2, ag.shared_chunks, ag.shared_bytes,
        |  ag.shared_bytes * 1000000 // least(x.bytes, y.bytes) AS containment_ppm
        |FROM ag JOIN db x ON ag.doc_id = x.doc_id
        |        JOIN db y ON ag.doc_id2 = y.doc_id
        |WHERE ag.shared_bytes * 1000000 // least(x.bytes, y.bytes) >= 300000
        |ORDER BY 1, 2""".stripMargin,
    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keeper, count(*) AS n_docs
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    // Exact n-gram Jaccard on the 16×2-banded minhash candidates,
    // fully re-derived: same gram/signature pipeline as minhash_lsh
    // but with 2 rows folded per band key, the same 2..1000 bucket
    // cap, distinct ordered pairs, then EXACT integer scoring —
    // intersection via a gram-level self-join count (the engine-
    // neutral form of the sorted-merge kernel; |∩| is invariant
    // under the signed/unsigned hash bijection), J ≥ 0.5 as
    // 2·|∩| ≥ |∪|, output in integer ppm. No floating point anywhere,
    // so the hash gate verifies banding, capping, pairing AND the
    // merge-kernel scores bit-for-bit on a second engine.
    "dedup_ngram_jaccard" -> (minhashSigSql(2) + "," + """
        |ok AS (SELECT band, key FROM bk GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000),
        |pr AS (
        |  SELECT DISTINCT a.doc_id, b.doc_id AS doc_id2
        |  FROM bk a JOIN ok ON a.band = ok.band AND a.key = ok.key
        |  JOIN bk b ON b.band = ok.band AND b.key = ok.key AND a.doc_id < b.doc_id),
        |gs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1),
        |iv AS (
        |  SELECT pr.doc_id, pr.doc_id2, CAST(count(*) AS BIGINT) AS inter
        |  FROM pr JOIN u x ON pr.doc_id = x.doc_id
        |          JOIN u y ON pr.doc_id2 = y.doc_id AND x.gram = y.gram
        |  GROUP BY 1, 2)
        |SELECT iv.doc_id, iv.doc_id2,
        |  inter * 1000000 // (x.n + y.n - inter) AS jaccard_ppm
        |FROM iv JOIN gs x ON iv.doc_id = x.doc_id
        |        JOIN gs y ON iv.doc_id2 = y.doc_id
        |WHERE x.n + y.n - inter > 0 AND 2 * inter >= x.n + y.n - inter
        |ORDER BY 1, 2""".stripMargin),
    // SimHash, fully re-derived: same gram hashes (gramSql), 64
    // per-bit majority counters as exact integer sums over the
    // distinct gram set (bit j of the unsigned hash via // 2^j % 2
    // against a HUGEINT powers table; set iff 2·count > n — the
    // kernel's strict majority), docs with no grams hashing to 0,
    // then the operator's own pipeline replayed: DISTINCT hashes,
    // the 20 3-of-6 chunk-combination keys (generated by the same
    // Scala enumeration — see simhashComboKeySql), 2..1000 bucket
    // cap, distinct SIGNED-ordered hash pairs, hamming 1..3 via
    // bit_count(xor), keeper-to-keeper near pairs + the hamming-0
    // keeper→member star. Verifies the whole blocking scheme —
    // pigeonhole keys, capping, representative mapping — on a
    // second engine.
    "dedup_simhash" -> (gramSql + "," + s"""
        |pw AS (SELECT CAST(t.j AS BIGINT) AS j,
        |  list_reduce(list_prepend(1::HUGEINT, list_transform(range(t.j), x -> 2::HUGEINT)),
        |    (a, b) -> a * b) AS p
        |  FROM unnest(range(64)) AS t(j)),
        |cnt AS (SELECT doc_id, count(*) AS n FROM u GROUP BY 1),
        |bits AS (
        |  SELECT u.doc_id, pw.j, pw.p, sum(CAST((gram // pw.p) % 2 AS BIGINT)) AS c
        |  FROM u CROSS JOIN pw GROUP BY 1, 2, 3),
        |shu AS (
        |  SELECT b.doc_id,
        |    sum(CASE WHEN 2 * b.c > cnt.n THEN b.p ELSE 0::HUGEINT END) AS hu
        |  FROM bits b JOIN cnt ON b.doc_id = cnt.doc_id GROUP BY 1),
        |sh AS (
        |  SELECT d.doc_id, coalesce(s.hu, 0::HUGEINT) AS hu,
        |    CAST(CASE WHEN coalesce(s.hu, 0::HUGEINT) >= 9223372036854775808::HUGEINT
        |         THEN coalesce(s.hu, 0::HUGEINT) - 18446744073709551616::HUGEINT
        |         ELSE coalesce(s.hu, 0::HUGEINT) END AS BIGINT) AS h
        |  FROM documents d LEFT JOIN shu s ON d.doc_id = s.doc_id),
        |hs AS (SELECT DISTINCT hu, h FROM sh),
        |keys AS (SELECT h, hu, unnest([$simhashComboKeySql]) AS bk FROM hs),
        |ok AS (SELECT bk FROM keys GROUP BY 1 HAVING count(*) BETWEEN 2 AND 1000),
        |hp AS (
        |  SELECT DISTINCT a.h AS h1, a.hu AS hu1, b.h AS h2, b.hu AS hu2
        |  FROM keys a JOIN ok ON a.bk = ok.bk
        |  JOIN keys b ON b.bk = ok.bk AND a.h < b.h),
        |hx AS (
        |  SELECT h1, h2, CAST(bit_count(xor(hu1, hu2)) AS INTEGER) AS hamming
        |  FROM hp),
        |reps AS (SELECT h, min(doc_id) AS keeper, count(*) AS csize FROM sh GROUP BY 1),
        |near AS (
        |  SELECT least(ra.keeper, rb.keeper) AS doc_id,
        |         greatest(ra.keeper, rb.keeper) AS doc_id2, hamming
        |  FROM hx JOIN reps ra ON hx.h1 = ra.h JOIN reps rb ON hx.h2 = rb.h
        |  WHERE hamming BETWEEN 1 AND 3),
        |same AS (
        |  SELECT r.keeper AS doc_id, s.doc_id AS doc_id2,
        |    CAST(0 AS INTEGER) AS hamming
        |  FROM sh s JOIN reps r ON s.h = r.h
        |  WHERE r.csize >= 2 AND s.doc_id > r.keeper)
        |SELECT * FROM near UNION ALL SELECT * FROM same
        |ORDER BY doc_id, doc_id2""".stripMargin),
    "dedup_clusters" -> (clusterCcSql + """
        |SELECT cluster_id, doc_id, doc_id = cluster_id AS is_keeper
        |FROM cl ORDER BY 1, 2""".stripMargin),
    // Clusters (above) joined with the text_quality integer-ppm score;
    // keeper = row_number() = 1 under (quality DESC, doc_id ASC) — the
    // exact SQL mirror of max_by(doc_id, struct(quality, -doc_id)).
    "dedup_resolve_best" -> (clusterCcSql + """,
        |q AS (
        |  SELECT doc_id,
        |    (CASE WHEN nw = 0 THEN 0 ELSE nu * 1000000 // nw END)
        |    * (CASE WHEN nw >= 20 THEN 2 ELSE 1 END)
        |    * (CASE WHEN (CASE WHEN nw = 0 THEN 0 ELSE nst * 1000000 // nw END) > 10000
        |       THEN 5 ELSE 4 END) // 10 AS quality_ppm
        |  FROM (
        |    SELECT doc_id, CAST(len(words) AS BIGINT) AS nw,
        |      CAST(len(list_distinct(words)) AS BIGINT) AS nu,
        |      CAST(len(list_filter(words,
        |        w -> w IN ('the','a','an','of','and','to','in','is','it'))) AS BIGINT) AS nst
        |    FROM (SELECT doc_id,
        |            list_filter(string_split(lower(text), ' '), w -> w <> '') AS words
        |          FROM documents)))
        |SELECT cluster_id, cl.doc_id, quality_ppm,
        |  row_number() OVER (PARTITION BY cluster_id
        |                     ORDER BY quality_ppm DESC, cl.doc_id) = 1 AS is_keeper
        |FROM cl JOIN q ON cl.doc_id = q.doc_id
        |ORDER BY cluster_id, cl.doc_id""".stripMargin),
    // Bottom-m sketch blocking + exact integer scoring, fully
    // re-derived: grams from gramSql, signed-order bottom-16 prefix
    // per doc (row_number over the signed mapping — the kernel's
    // sorted-array prefix), single-gram bucket keys with the same
    // 2..1000 cap, distinct ordered pairs, intersection via gram-level
    // self-join count, `c >= 0.8` as 5·|∩| >= 4·min, both ratios as
    // truncating integer ppm.
    "dedup_containment" -> (gramSql + """,
        |sgn AS (SELECT doc_id, CAST(CASE WHEN gram >= 9223372036854775808::HUGEINT
        |        THEN gram - 18446744073709551616::HUGEINT ELSE gram END AS BIGINT) AS h
        |        FROM u),
        |bm AS (SELECT doc_id, h FROM (
        |  SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
        |  FROM sgn) WHERE rn <= 16),
        |ok AS (SELECT h FROM bm GROUP BY 1 HAVING count(*) BETWEEN 2 AND 1000),
        |pr AS (SELECT DISTINCT a.doc_id, b.doc_id AS doc_id2
        |       FROM bm a JOIN ok ON a.h = ok.h
        |       JOIN bm b ON b.h = ok.h AND a.doc_id < b.doc_id),
        |gs AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM u GROUP BY 1),
        |iv AS (SELECT pr.doc_id, pr.doc_id2, CAST(count(*) AS BIGINT) AS inter
        |       FROM pr JOIN sgn x ON pr.doc_id = x.doc_id
        |       JOIN sgn y ON pr.doc_id2 = y.doc_id AND x.h = y.h GROUP BY 1, 2)
        |SELECT iv.doc_id, iv.doc_id2,
        |  inter * 1000000 // least(x.n, y.n) AS containment_ppm,
        |  inter * 1000000 // (x.n + y.n - inter) AS jaccard_ppm
        |FROM iv JOIN gs x ON iv.doc_id = x.doc_id
        |        JOIN gs y ON iv.doc_id2 = y.doc_id
        |WHERE inter * 5 >= least(x.n, y.n) * 4
        |ORDER BY 1, 2""".stripMargin),
    "dedup_embedding" ->
      """SELECT a.label, a.vec_id, b.vec_id AS vec_id2,
        | round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])), 6) AS cos_sim
        |FROM embeddings a JOIN embeddings b
        | ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |   CAST(b.embedding AS DOUBLE[])) >= 0.35
        |ORDER BY a.vec_id, b.vec_id""".stripMargin)
}
