package graft.operators

import graft.Tables
import graft.functions.GraftExpressions
import graft.functions.VectorFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** §2.6 Similarity search over the embeddings table.
  *
  * Brute force: the query set is small → broadcast it and stream the
  * corpus; scoring is the fused single-pass cosine expression; ranking
  * is a per-query window. LSH: one 64-hyperplane signature per vector,
  * split into 16 bands of 4 bits = 16 independent hash tables (the
  * OR-construction). Candidates are the union of per-band bucket
  * collisions, deduplicated BEFORE exact-cosine rescoring. r1 shipped a
  * single 12-bit table, whose buckets were so sparse that recall was 0
  * (empty output); the banded form trades bits-per-table for tables so
  * each neighbor only needs to agree on one 4-bit band. Band width/count
  * are parameters: corpora with tighter neighbor angles (real embedding
  * near-dups) support wider bands and proportionally sparser candidate
  * sets — at 100 TB the band join is a plain shuffled equi-join either
  * way, and recall is asserted against brute force in SimilaritySpec.
  */
object Similarity {

  /** Brute-force cosine top-5 neighbors for query vectors vec_id < 16. */
  def ann_topk_brute(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val scored = e.select($"vec_id".as("nid"), $"embedding")
      .crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid", cosine($"qvec", $"embedding").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  /** Multi-table LSH approximate top-5: 16 bands × 4 bits over one
    * 64-plane signature; per-band bucket equi-join → distinct (qid,
    * nid) candidates → exact cosine → per-query top-5. */
  def ann_lsh(s: SparkSession, d: String): DataFrame =
    annLsh(s, d, bands = 16, r = 4, probes = 0)

  /** Parameterized LSH ANN. `probes` enables MULTI-PROBE on the QUERY
    * side only: besides its exact band key, each query also looks up
    * every bucket within `probes` bit flips of it (probes=1 → r extra
    * keys per band). The trade-off at 100 TB: band count multiplies the
    * CORPUS-side key volume (the dominant shuffle/storage cost — one
    * key per vector per band), while probing multiplies only the
    * broadcast query keys. Per-band neighbor hit probability goes from
    * p^r (exact) to P(≥ r-probes of r bits agree) = p^r + r·p^(r-1)(1-p)
    * + … — e.g. at p = 0.7, r = 4: 0.24 exact vs 0.53 probed — so
    * halving the bands and probing 1 bit keeps recall while halving
    * corpus keys. SimilaritySpec gates recall for both the registered
    * exact config and the 8-band probed config. */
  def annLsh(s: SparkSession, d: String, bands: Int, r: Int,
      probes: Int): DataFrame = {
    import s.implicits._
    require(probes >= 0 && probes <= 1, "supported probe depths: 0 (exact), 1 (single-bit)")
    val planes = randomPlanes(bands * r, 64)
    val mask = (1L << r) - 1
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding",
        hyperplaneSignature($"embedding", planes).as("sig"))
    def bucketed(df: DataFrame, idCol: String, probe: Boolean): DataFrame = {
      val keys = (0 until bands).flatMap { b =>
        val exact = shiftrightunsigned(col("sig"), b * r).bitwiseAND(lit(mask))
        val variants =
          if (!probe) Seq(exact)
          else exact +: (0 until r).map(bit => exact.bitwiseXOR(lit(1L << bit)))
        variants.map(k => struct(lit(b).as("band"), k.as("bkey")))
      }
      df.select(col("vec_id").as(idCol), explode(array(keys: _*)).as("bk"))
        .select(col(idCol), col("bk.band").as(s"band_$idCol"),
          col("bk.bkey").as(s"bkey_$idCol"))
    }
    val corpusBuckets = bucketed(e, "nid", probe = false)
    val queryBuckets = bucketed(e.filter($"vec_id" < 16), "qid", probe = probes > 0)
    val cand = corpusBuckets
      .join(broadcast(queryBuckets),
        $"band_nid" === $"band_qid" && $"bkey_nid" === $"bkey_qid" &&
          $"nid" =!= $"qid")
      .select($"qid", $"nid").distinct()
    val scored = cand
      .join(e.select($"vec_id".as("nid"), $"embedding"), "nid")
      .join(broadcast(e.filter($"vec_id" < 16)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))), "qid")
      .select($"qid", $"nid", cosine($"qvec", $"embedding").as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  // Persisted-index table plumbing shared with the graph family.
  private def dropIndexTable(s: SparkSession, tbl: String): Unit =
    IndexUtil.dropIndexTable(s, tbl)
  private def dirTag(d: String): String = IndexUtil.dirTag(d)

  /** One LSH index (TWO tables) per source dir, built once per JVM —
    * the setup-not-query rule the JDBC/bucketed sources follow: the
    * write is index CONSTRUCTION (paid once, like a vector store's
    * build phase), the registered query times the SEARCH path. The
    * index is (a) the band-key table bucketed on (band, bkey) — the
    * candidate join's key — and (b) a companion VECTOR table bucketed
    * on nid, so the exact-cosine rescore fetches candidate vectors
    * from the index itself instead of rejoining the raw embeddings
    * table (the IVF inverted-lists design; storing the vector on each
    * of the 16 band rows would instead 16× the index bytes). Both
    * search joins therefore read a side pre-partitioned on exactly
    * their join key — zero Exchange ever touches corpus-scale data. */
  private val lshIndexBuilt = new java.util.HashSet[String]()
  private def lshIndexTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val tbl = s"lsh_idx_${dirTag(d)}"
    val vecTbl = s"lsh_vec_${dirTag(d)}"
    lshIndexBuilt.synchronized { if (!lshIndexBuilt.contains(d)) {
      dropIndexTable(s, tbl)
      dropIndexTable(s, vecTbl)
      val planes = randomPlanes(16 * 4, 64)
      val mask = (1L << 4) - 1
      val e = Tables.embeddings(s, d)
        .select($"vec_id", hyperplaneSignature($"embedding", planes).as("sig"))
      val keys = (0 until 16).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned($"sig", b * 4).bitwiseAND(lit(mask)).as("bkey"))
      }
      e.select($"vec_id".as("nid"), explode(array(keys: _*)).as("bk"))
        .select($"nid", $"bk.band".as("band"), $"bk.bkey".as("bkey"))
        .write.mode("overwrite")
        .bucketBy(8, "band", "bkey").sortBy("band", "bkey")
        .format("parquet").saveAsTable(tbl)
      Tables.embeddings(s, d)
        .select($"vec_id".as("nid"), $"embedding".as("nvec"))
        .write.mode("overwrite")
        .bucketBy(8, "nid").sortBy("nid")
        .format("parquet").saveAsTable(vecTbl)
      lshIndexBuilt.add(d)
    } }
    (tbl, vecTbl)
  }

  /** The persisted-LSH search path, shared verbatim by
    * [[ann_lsh_index]] (exact band keys) and [[ann_lsh_index_probed]]
    * (each key plus its 4 single-bit flips): probe-key explode on the
    * query side, merge-hinted candidate join on the bucketed
    * (band, bkey) index, exact-cosine rescore against the bucketed
    * nid-keyed vector table, per-query top-5. Only the tiny query/
    * candidate sides ever exchange. */
  private def lshIndexSearch(s: SparkSession, d: String,
      probed: Boolean): DataFrame = {
    import s.implicits._
    val (tbl, vecTbl) = lshIndexTables(s, d)
    val planes = randomPlanes(16 * 4, 64)
    val mask = (1L << 4) - 1
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" < 16)
      .select($"vec_id",
        hyperplaneSignature($"embedding", planes).as("sig"))
    val qKeys = (0 until 16).flatMap { b =>
      val exact = shiftrightunsigned($"sig", b * 4).bitwiseAND(lit(mask))
      val variants =
        if (probed) exact +: (0 until 4).map(bit => exact.bitwiseXOR(lit(1L << bit)))
        else Seq(exact)
      variants.map(k => struct(lit(b).as("band_q"), k.as("bkey_q")))
    }
    val qb = q.select($"vec_id".as("qid"), explode(array(qKeys: _*)).as("bk"))
      .select($"qid", $"bk.band_q".as("band_q"), $"bk.bkey_q".as("bkey_q"))
    val idx = s.table(tbl)
    val cand = idx.hint("merge")
      .join(qb, idx("band") === qb("band_q") && idx("bkey") === qb("bkey_q") &&
        idx("nid") =!= qb("qid"))
      .select($"qid", $"nid").distinct()
    val scored = s.table(vecTbl).hint("merge").join(cand, "nid")
      .join(broadcast(e.filter($"vec_id" < 16)
        .select($"vec_id".as("qid"), $"embedding".as("qvec"))), "qid")
      .select($"qid", $"nid", cosine($"qvec", $"nvec").as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  /** PERSISTED-INDEX LSH search — the vector-store LIFECYCLE the
    * in-flight [[ann_lsh]] computation doesn't show: real deployments
    * build the index ONCE (a write-time cost, amortized over every
    * later query) and search against the prebuilt structure. The
    * index here is the corpus band-key table persisted BUCKETED on
    * (band, bkey) — at 100 TB that layout means the search join reads
    * the index pre-partitioned on exactly its join key: NO Exchange
    * ever touches the corpus-scale side (SimilaritySpec gates the
    * bucketed scan + sort-merge path mechanically). The query side is
    * deliberately NOT broadcast (merge hint): this is the
    * MANY-QUERIES posture — a production search tier joins a large
    * query batch against the index, where the broadcast shortcut
    * stops applying and the write-time bucketing is what saves the
    * corpus shuffle; only the tiny query side exchanges.
    *
    * Same planes, same banding, same rescore as [[ann_lsh]] — the
    * result is IDENTICAL by construction, so it carries the identical
    * DuckDB oracle: same answer, different physical path, both
    * hash-verified. */
  def ann_lsh_index(s: SparkSession, d: String): DataFrame =
    lshIndexSearch(s, d, probed = false)

  /** MULTI-PROBE search against the SAME persisted LSH index — the
    * lifecycle property that makes a fixed index worth owning: recall
    * is dialed at QUERY time, per query, with zero index changes and
    * zero extra corpus cost. Each query looks up its exact band key
    * PLUS the r single-bit-flip neighbors ([[annLsh]]'s probe
    * arithmetic: per-band hit probability rises from p^r to
    * p^r + r·p^(r-1)(1−p)), so the probed candidate set is a strict
    * SUPERSET of [[ann_lsh_index]]'s — more of the index's buckets are
    * consulted, only the tiny query-side key table (×(r+1)) grows.
    * At 100 TB this is the knob that answers "this query needs higher
    * recall" without rebuilding or widening the corpus-side index
    * (band count multiplies corpus keys; probing multiplies only query
    * keys). Same merge-hinted bucketed join — still NO Exchange on the
    * corpus side (spec-gated), and SimilaritySpec asserts the
    * candidate-superset + recall-dominance claims against the exact
    * index search on the same table. Oracle: the ann_lsh replay with
    * the probe keys re-derived via DuckDB xor(). */
  def ann_lsh_index_probed(s: SparkSession, d: String): DataFrame =
    lshIndexSearch(s, d, probed = true)

  /** One persisted IVF index per source dir, built once per JVM — the
    * [[ann_lsh_index]] lifecycle applied to the TRAINED family: train
    * the coarse quantizer, assign every corpus vector to its cell, and
    * persist (cell, nid, nvec) BUCKETED on cell — the inverted lists
    * as a table, with each list holding its vectors the way a real
    * vector store's IVF lists do (search never joins back to the raw
    * embedding table for candidates). Centroids are trained on the
    * first call of each JVM per dir and memo'd PER DIR, so a search
    * (and the literal-replay oracle) always uses the model the
    * persisted assignments were written with — even when several dirs
    * alternate within one JVM. */
  private val ivfIndexBuilt = new java.util.HashSet[String]()
  private[graft] val ivfIndexCents =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private[graft] val lastIvfIndexDir =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private def ivfIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val tbl = s"ivf_idx_${dirTag(d)}"
    ivfIndexBuilt.synchronized { if (!ivfIndexBuilt.contains(d)) {
      dropIndexTable(s, tbl)
      val e = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("vec"))
      val cents = kmeansCentroids(trainSlice(s, d, e), k = 32, iters = 1)
      ivfIndexCents.put(d, cents)
      e.select($"vec_id".as("nid"), $"vec".as("nvec"),
          bestCell(cents, $"vec").getField("cid").as("cell"))
        .write.mode("overwrite")
        .bucketBy(8, "cell").sortBy("cell")
        .format("parquet").saveAsTable(tbl)
      ivfIndexBuilt.add(d)
    } }
    tbl
  }

  /** PERSISTED-INDEX IVF search — the build-once/search-many lifecycle
    * for the trained family, closing the gap [[ann_lsh_index]] closed
    * for LSH: [[ann_ivf]] re-trains and re-assigns the whole corpus
    * in-flight on every call, which at 100 TB means paying the full
    * corpus scan per query batch; here construction is a one-time
    * write ([[ivfIndexTable]] — inverted lists persisted BUCKETED on
    * the cell id, vectors stored IN the lists) and the registered
    * query times only the search path. The probe join reads the index
    * pre-partitioned on exactly its join key — NO Exchange ever
    * touches the corpus-scale side (spec-gated mechanically, the
    * ann_lsh_index rule); the merge hint keeps the MANY-QUERIES
    * posture where broadcast stops applying and the write-time
    * bucketing is what saves the corpus shuffle.
    *
    * Same k/nprobe operating point as [[ann_ivf]] (recall ≈ 0.76 on
    * this deliberately-uniform corpus, gated ≥ 0.7); the oracle is the
    * same literal-replay over THIS index's trained centroids —
    * assignment, probe choice, candidate join, rescore and ranking all
    * re-derived in DuckDB from the inlined floats. */
  def ann_ivf_index(s: SparkSession, d: String): DataFrame = {
    val tbl = ivfIndexTable(s, d)
    lastIvfIndexDir.set(d)
    ivfIndexSearch(s, d, tbl, ivfIndexCents.get(d))
  }

  /** Ensure the persisted IVF index exists for `d` and expose its
    * inverted lists to the SQL-text persona as a DIR-TAGGED temp view
    * ([[graft.operators.Dedup.mhIndexViews]]'s device on the ANN
    * tier; same tagged-name convention, so two dirs' views coexist).
    * Returns the view name plus the trained centroids so
    * [[SqlSurface]] can bake them into the statement as literals —
    * the SQL re-expression of the DataFrame form's codegen'd literal
    * argmin. Also marks this dir as last-searched so the
    * literal-replay oracle renders over THE SAME centroids the
    * persisted assignments were written with. */
  private[graft] def ivfIndexViews(s: SparkSession, d: String): (String, Array[Array[Double]]) = {
    val tbl = ivfIndexTable(s, d)
    lastIvfIndexDir.set(d)
    val view = s"ivf_idx_v_${dirTag(d)}"
    s.table(tbl).createOrReplaceTempView(view)
    (view, ivfIndexCents.get(d))
  }

  /** WIDER-PROBE search against the SAME persisted IVF index — the
    * query-time recall dial [[ann_lsh_index_probed]] gives the LSH
    * index, completing it for the trained family: doubling nprobe
    * (16 of 32 cells) is a pure QUERY-side change — more probe rows
    * explode on the tiny query side, the index is untouched and its
    * bucketed scan stays Exchange-free — trading scan volume for
    * recall per query batch with zero index changes (re-bucketing at
    * 100 TB is a rebuild; widening nprobe is free). Oracle = the same
    * literal replay over the shared index's trained centroids at
    * nprobe = 16; SimilaritySpec gates recall-monotonicity vs
    * [[ann_ivf_index]] on the same index. */
  def ann_ivf_index_probed(s: SparkSession, d: String): DataFrame = {
    val tbl = ivfIndexTable(s, d)
    lastIvfIndexDir.set(d)
    ivfIndexSearch(s, d, tbl, ivfIndexCents.get(d), nprobe = 16)
  }

  /** The IVF index search path, table-parameterized so
    * [[ann_ivf_index]] and [[ann_ivf_index_delta]] share it verbatim:
    * probe choice from the memo'd centroids, merge-hinted equi-join on
    * the bucketed cell key (no corpus-side Exchange), exact-cosine
    * rescore, per-query top-5. */
  /** Frozen-centroid assignment of a (vec_id, vec: array&lt;double&gt;)
    * batch to (nid, nvec, cell) — the shared write shape of every IVF
    * generation (base build, delta append, streaming ingest). */
  private[graft] def ivfAssign(df: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    import df.sparkSession.implicits._
    df.select($"vec_id".as("nid"), $"vec".as("nvec"),
      bestCell(cents, $"vec").getField("cid").as("cell"))
  }

  /** Stream-owned IVF index for
    * [[graft.streaming.StreamingOps.annIndexStream]] — a continuous
    * ingest MUTATES its lists (append per micro-batch), so it gets
    * its own per-(dir, tag) table rather than sharing the batch
    * queries' pristine build; rebuilt on every call (a stream run
    * wants a fresh generation, not a JVM memo). Base = the 90% slice
    * (vec_id % 10 ≠ 0); the coarse quantizer is trained on the base
    * and FROZEN — returned so the caller can assign every later
    * batch (and build the spec's one-shot truth) with the exact same
    * model: two trainings have no cross-run bit determinism, so the
    * append≡rebuild gate must share the centroids by value. */
  private[graft] def ivfStreamIndexTable(s: SparkSession, d: String,
      tag: String): (String, Array[Array[Double]]) = {
    import s.implicits._
    val tbl = s"ivfs_idx_${dirTag(d)}_$tag"
    dropIndexTable(s, tbl)
    val base = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))
      .filter(pmod($"vec_id", lit(10)) =!= 0)
    val cents = kmeansCentroids(trainSlice(s, d, base), k = 32, iters = 1)
    ivfAssign(base, cents).write.mode("overwrite")
      .bucketBy(8, "cell").sortBy("cell")
      .format("parquet").saveAsTable(tbl)
    (tbl, cents)
  }

  /** ONE-SHOT rebuild of the full corpus under CALLER-SUPPLIED frozen
    * centroids — the truth side of the streaming ≡-batch gate
    * (StreamingSpec): union of per-batch appends must equal this
    * table's search results exactly. */
  private[graft] def ivfRebuildWith(s: SparkSession, d: String, tag: String,
      cents: Array[Array[Double]]): String = {
    import s.implicits._
    val tbl = s"ivfs_truth_${dirTag(d)}_$tag"
    dropIndexTable(s, tbl)
    ivfAssign(Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("vec")), cents)
      .write.mode("overwrite").bucketBy(8, "cell").sortBy("cell")
      .format("parquet").saveAsTable(tbl)
    tbl
  }

  /** Append one ingested micro-batch's assigned vectors into a
    * stream-owned IVF index — a second (third, …) bucketed write job
    * whose files carry their bucket ids, so the probe scan stays
    * `Bucketed: true` across generations (the ann_ivf_index_delta
    * append play, per micro-batch). */
  private[graft] def appendIvfLists(batch: DataFrame, tbl: String,
      cents: Array[Array[Double]]): Unit =
    ivfAssign(batch, cents).write.mode("append")
      .bucketBy(8, "cell").sortBy("cell")
      .format("parquet").saveAsTable(tbl)

  /** The index search path under caller-supplied centroids, exposed
    * for the streaming refresh ([[ivfIndexSearch]] is the engine). */
  private[graft] def ivfSearchOver(s: SparkSession, d: String, tbl: String,
      cents: Array[Array[Double]]): DataFrame =
    ivfIndexSearch(s, d, tbl, cents)

  private def ivfIndexSearch(s: SparkSession, d: String, tbl: String,
      cents: Array[Array[Double]], nprobe: Int = 8): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))
    val probes = e.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"vec".as("qvec"),
        explode(probeCells(cents, $"vec", nprobe)).as("probe"))
      .select($"qid", $"qvec", $"probe.cid".as("cell"))
    val idx = s.table(tbl)
    val scored = idx.hint("merge").join(probes, "cell")
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid", cosine($"qvec", $"nvec").as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  /** One INCREMENTALLY-GROWN IVF index per source dir — the update
    * path a production vector store lives by: new vectors arrive
    * AFTER the quantizer is trained, and rebuilding the index per
    * batch is exactly the cost persisting it was meant to avoid. The
    * base index is built from 90% of the corpus (vec_id % 10 ≠ 0) and
    * trains the centroids; the remaining 10% arrives as a DELTA batch,
    * assigned with the SAME frozen centroids and APPENDED to the
    * bucketed table (a second bucketed write job — each job's files
    * carry their bucket ids, so the scan stays `Bucketed: true` and
    * the probe join stays Exchange-free across both file generations,
    * spec-gated). The search is [[ivfIndexSearch]] verbatim.
    *
    * The correctness claim is the IVM theorem applied to a vector
    * index, and the driver's hash gate IS its proof: the oracle
    * re-derives assignment/probe/rescore over the FULL corpus from the
    * frozen centroids, so base-build + delta-append must equal the
    * full recompute bit-for-bit — one mis-assigned or dropped delta
    * vector fails the hash (the ev_ivm_delta pattern). */
  private val ivfDeltaBuilt = new java.util.HashSet[String]()
  private[graft] val ivfDeltaCents =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private[graft] val lastIvfDeltaDir =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private def ivfDeltaIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val tbl = s"ivfd_idx_${dirTag(d)}"
    ivfDeltaBuilt.synchronized { if (!ivfDeltaBuilt.contains(d)) {
      dropIndexTable(s, tbl)
      val e = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("vec"))
      val base = e.filter(pmod($"vec_id", lit(10)) =!= 0)
      // the quantizer predates the delta — trained on the base only
      val cents = kmeansCentroids(trainSlice(s, d, base), k = 32, iters = 1)
      ivfDeltaCents.put(d, cents)
      def assigned(df: org.apache.spark.sql.DataFrame) =
        df.select($"vec_id".as("nid"), $"vec".as("nvec"),
          bestCell(cents, $"vec").getField("cid").as("cell"))
      assigned(base).write.mode("overwrite")
        .bucketBy(8, "cell").sortBy("cell")
        .format("parquet").saveAsTable(tbl)
      // the delta APPEND: same frozen centroids, a second bucketed
      // write job into the same table
      assigned(e.filter(pmod($"vec_id", lit(10)) === 0))
        .write.mode("append")
        .bucketBy(8, "cell").sortBy("cell")
        .format("parquet").saveAsTable(tbl)
      ivfDeltaBuilt.add(d)
    } }
    tbl
  }

  /** Search over the incrementally-grown index (see
    * [[ivfDeltaIndexTable]]) — registered so the driver's hash gate
    * proves base-build + delta-append ≡ full recompute. */
  def ann_ivf_index_delta(s: SparkSession, d: String): DataFrame = {
    val tbl = ivfDeltaIndexTable(s, d)
    lastIvfDeltaDir.set(d)
    ivfIndexSearch(s, d, tbl, ivfDeltaCents.get(d))
  }

  private val ivfMergeBuilt = new java.util.HashSet[String]()
  private[graft] val ivfMergeCents =
    new java.util.concurrent.ConcurrentHashMap[String, Array[Array[Double]]]()
  private[graft] val lastIvfMergeDir =
    new java.util.concurrent.atomic.AtomicReference[String]()
  /** KEYED-MERGE-GROWN IVF index — the update case
    * [[ivfDeltaIndexTable]]'s pure-append growth cannot express, on
    * the VECTOR tier (the Graph / TextOps / Dedup keyed-merge play,
    * same round): a RE-EMBEDDED document — its content changed, or
    * the embedding model was partially re-run — lands in a DIFFERENT
    * cell than the vector already in the lists, so the old list entry
    * must be DELETED and the new one inserted, which no append can
    * express (an append would leave the doc searchable under both its
    * old and new embedding — phantom neighbors from a vector that no
    * longer exists). Production vector stores hit this daily: upserts
    * are the API, and under the hood they are exactly this
    * read-modify-write.
    *
    * The split models it: the base generation assigns every vector,
    * but the touched slice (vec_id % 9 = 4) carries its FIRST-run
    * embedding (modeled as the reversed vector — a deterministic
    * stand-in for the old model's output); the coarse quantizer is
    * trained on that snapshot and stays FROZEN through the re-embed
    * (re-training per upsert batch is the cost the persisted model
    * avoids — the [[ivfDeltaIndexTable]] posture). The merge:
    *
    *   - untouched vectors' list entries CARRY OVER byte-identical
    *     (anti-join on the delta's nids — broadcast-sized);
    *   - each touched vector is RE-ASSIGNED under the frozen
    *     quantizer from its re-embedded value ([[ivfAssign]] — the
    *     shared write shape of every IVF generation);
    *   - the result is written as the NEXT GENERATION of the same
    *     cell-bucketed layout through [[IndexUtil
    *     .writeVerifiedGeneration]] before the swap.
    *
    * Scale: copy-on-write with a delta-sized Exchange (carry-over
    * rows never leave their cell buckets; only the re-embedded
    * vectors re-shuffle to their new cells). The key asymmetry again:
    * lists are bucketed on CELL but the upsert keys on NID, and a
    * re-embed MOVES rows between buckets — the delete scans, the
    * insert is bucket-local, which is why real stores pair the lists
    * with an nid→cell lookup (here the anti-join plays that role).
    *
    * The merged lists hold exactly assign(re-embedded corpus, frozen
    * centroids) — spec-gated directly — so the search result matches
    * the full-corpus literal replay over THESE centroids: the
    * driver's hash match IS merge ≡ rebuild. */
  private def ivfMergeIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val base = s"ivfk_idx_${dirTag(d)}"
    val merged = s"${base}_m"
    ivfMergeBuilt.synchronized { if (!ivfMergeBuilt.contains(d)) {
      dropIndexTable(s, base)
      dropIndexTable(s, merged)
      val e = Tables.embeddings(s, d)
        .select($"vec_id", asDouble($"embedding").as("vec"))
      // first-run snapshot: the touched slice carries the OLD model's
      // embedding (deterministic stand-in: the reversed vector)
      val firstEmbed = e.withColumn("vec",
        when(pmod($"vec_id", lit(9)) === 4, reverse($"vec"))
          .otherwise($"vec"))
      // quantizer trained at snapshot time, FROZEN through the merge
      val cents = kmeansCentroids(trainSlice(s, d, firstEmbed), k = 32, iters = 1)
      ivfMergeCents.put(d, cents)
      ivfAssign(firstEmbed, cents).write.mode("overwrite")
        .bucketBy(8, "cell").sortBy("cell")
        .format("parquet").saveAsTable(base)
      val reEmbedded = e.filter(pmod($"vec_id", lit(9)) === 4)
      val touched = reEmbedded.select($"vec_id".as("nid")).distinct()
      val mergedRows = s.table(base).join(touched, Seq("nid"), "left_anti")
        .unionByName(ivfAssign(reEmbedded, cents))
      IndexUtil.writeVerifiedGeneration(mergedRows, merged, 8, Seq("cell"),
        Seq("cell"), "IVF-list merge")
      dropIndexTable(s, base) // commit point: merged is live
      ivfMergeBuilt.add(d)
    } }
    merged
  }

  /** Search over the KEYED-MERGE-GROWN IVF index (see
    * [[ivfMergeIndexTable]]) — registered so the driver's hash gate
    * proves stale-snapshot + keyed merge ≡ assign(re-embedded corpus,
    * frozen centroids): the vector-upsert path, closing the
    * changed-record boundary on the last index tier. */
  def ann_ivf_index_merge(s: SparkSession, d: String): DataFrame = {
    val tbl = ivfMergeIndexTable(s, d)
    lastIvfMergeDir.set(d)
    ivfIndexSearch(s, d, tbl, ivfMergeCents.get(d))
  }

  /** IVF (inverted-file) ANN — the coarse-quantizer scale path: K
    * centroids partition the corpus into cells (inverted lists); a
    * query probes only its `nprobe` nearest cells and brute-forces
    * within them, so scored candidates shrink ~K/nprobe-fold vs brute
    * force.
    *
    * Spark-first shape, 100 TB posture:
    * - TRAIN: on a deterministic hash-mod SAMPLE (capped ~100k rows —
    *   quantizer quality saturates at ~100s of vectors per centroid,
    *   so full-corpus Lloyd is pure waste at 100 TB); seed = k
    *   smallest-hash sample vectors, then Lloyd refinement rounds. The
    *   element-wise cell means use posexplode → groupBy(cell, pos) →
    *   avg: partial aggregation combines map-side, so the shuffle
    *   carries one partial sum per (cell, dim, partition), never the
    *   sample. Only K×dim doubles ever reach the driver.
    * - ASSIGN: centroids are literal arrays baked into a codegen'd
    *   argmin expression (array_min over struct(dist, cid)) — a pure
    *   map over the corpus, no shuffle, no join.
    * - SEARCH: candidate generation is an equi-join on the cell id
    *   with the probed query set broadcast; exact cosine rescoring
    *   and a per-query window top-k (WindowGroupLimit pushes the
    *   partial top-k below the shuffle).
    *
    * Operating point: the synthetic embeddings are near-uniform on the
    * sphere (by construction — see dedup_embedding's scaladoc), so
    * top-5 neighbors spread across cells and recall tracks the probe
    * fraction (measured: 4/16 cells → 0.56, 8/32 → 0.76). Real
    * embedding corpora cluster, which is what makes IVF's
    * probe-few-cells bet pay; on this corpus the registered config
    * scores 25% of the corpus per query for recall ≈ 0.76, gated ≥ 0.7
    * in SimilaritySpec alongside an nprobe=k sanity check (probing all
    * cells must reproduce brute force). */
  def ann_ivf(s: SparkSession, d: String): DataFrame =
    annIvf(s, d, k = 32, nprobe = 8, iters = 1, memo = lastIvfCents)

  /** Centroids the registered [[ann_ivf]] config trained in THIS run,
    * for the literal-replay oracle (see [[annIvfOracleSql]]): Lloyd's
    * distributed avg() has no cross-run bit determinism (reduction
    * order), so the oracle can't re-train — instead the exact floats
    * this run trained are inlined into the SQL and everything
    * downstream of training (assignment, probe choice, candidate
    * join, rescoring, ranking) is re-derived independently. Verify
    * materializes every query BEFORE dumping oracle SQL, so the memo
    * is always populated when it is read. */
  private[graft] val lastIvfCents =
    new java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]]()

  /** Argmin / sorted-probe helpers: one struct(dist, cid) per centroid,
    * compared lexicographically (distance first). Cosine distance on
    * the double-cast vector; the cast column is shared across the K
    * kernel calls. Shared with [[Dedup.dedup_semantic]]'s cluster
    * assignment, hence operators-private rather than object-private. */
  private[graft] def centroidDists(cents: Array[Array[Double]], v: Column): Column =
    array(cents.toIndexedSeq.zipWithIndex.map { case (c, i) =>
      struct((lit(1.0) - cosine(v, typedLit(c.toSeq))).as("dist"),
        lit(i).as("cid"))
    }: _*)

  /** Nearest-centroid assignment at ANY k — r20: ONE custom codegen'd
    * expression ([[graft.functions.BestCentroidExpr]], the centroid
    * matrix riding along as a codegen reference object) instead of the
    * k-literal-structs argmin the r19 profile blamed for ann planning
    * overhead (plan size, analysis and per-stage codegen compile all
    * grew with k; the HOF fallback this replaces paid interpreted eval
    * inside the lambda instead). Constant plan/code size at ANY k —
    * the ≤64 split disappears — and bit-identical (dist, cid) results
    * to the literal argmin (same fused-cosine accumulation order, ties
    * to the smaller cid; equivalence spec-gated in SimilaritySpec).
    * This is what lets [[Dedup.dedup_semantic]]'s documented "k grows
    * with the corpus" posture actually run. */
  private[graft] def bestCell(cents: Array[Array[Double]], v: Column): Column =
    GraftExpressions.toColumn(graft.functions.BestCentroidExpr(
      GraftExpressions.toExpr(v), cents))

  /** The nprobe nearest centroids as (dist, cid) structs in ascending
    * (dist, cid) order — r20 constant-size form of
    * `slice(array_sort(centroidDists(cents, v)), 1, nprobe)`. */
  private[graft] def probeCells(cents: Array[Array[Double]], v: Column,
      nprobe: Int): Column =
    GraftExpressions.toColumn(graft.functions.ProbeCellsExpr(
      GraftExpressions.toExpr(v), cents, nprobe))

  /** Sample-bounded training slice for centroid training: corpora at or
    * under the cap train on everything; larger ones on a deterministic
    * hash-mod sample (coarse-quantizer quality needs ~100s of vectors
    * per centroid, so Lloyd over the full corpus is wasted work at
    * scale — 100 TB of embeddings would re-scan everything per round
    * for centroids a 100k-row sample determines just as well). The
    * corpus size (only needed to pick the sampling modulus) comes from
    * parquet FOOTER metadata — [[Tables.parquetRowCount]], zero Spark
    * jobs — not a count() scan. */
  private[graft] def trainSlice(s: SparkSession, d: String,
      e: DataFrame, trainCap: Long = 100000L): DataFrame = {
    import s.implicits._
    val n = Tables.parquetRowCount(s, d, "embeddings")
    if (n <= trainCap) e
    else e.filter(pmod(xxhash64($"vec_id"), lit(n / trainCap + 1)) === 0)
  }

  /** Deterministic distributed k-means over a (vec_id, vec) training
    * DataFrame: seed = the k smallest-vec_id-hash sample vectors
    * (stable across runs/partitionings; k×dim is tiny), then `iters`
    * Lloyd rounds — each round is ONE map-side-combined aggregation
    * (assign to nearest centroid via the codegen'd literal-centroid
    * argmin, posexplode, per-(cell, pos) mean) collecting only
    * k×dim doubles to the driver. Empty cells keep their seed
    * centroid. Shared by [[annIvf]], [[annIvfPq]] (coarse quantizer)
    * and [[Dedup.dedup_semantic]] (SemDeDup clustering). */
  private[graft] def kmeansCentroids(train: DataFrame, k: Int,
      iters: Int): Array[Array[Double]] = {
    import train.sparkSession.implicits._
    var cents: Array[Array[Double]] = train
      .orderBy(xxhash64($"vec_id"), $"vec_id").limit(k)
      .select($"vec_id", $"vec").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    for (_ <- 0 until iters) {
      val means = train
        .select(bestCell(cents, $"vec").getField("cid").as("cell"),
          posexplode($"vec").as(Seq("pos", "x")))
        .groupBy($"cell", $"pos").agg(avg($"x").as("m"))
        .collect()
      val byCell = means.groupBy(_.getInt(0))
      cents = cents.zipWithIndex.map { case (old, cid) =>
        byCell.get(cid) match {
          case Some(rows) =>
            val m = old.clone()
            rows.foreach(r => m(r.getInt(1)) = r.getDouble(2))
            m
          case None => old // empty cell keeps its seed centroid
        }
      }
    }
    cents
  }

  def annIvf(s: SparkSession, d: String, k: Int, nprobe: Int,
      iters: Int,
      memo: java.util.concurrent.atomic.AtomicReference[Array[Array[Double]]] = null)
      : DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))

    // Sample-bounded training set (see trainSlice) + seed-and-Lloyd
    // centroid training (see kmeansCentroids).
    val train = trainSlice(s, d, e)
    val cents = kmeansCentroids(train, k, iters)
    if (memo != null) memo.set(cents)

    val corpus = e.select($"vec_id".as("nid"), $"vec".as("nvec"),
      bestCell(cents, $"vec").getField("cid").as("cell"))
    val probes = e.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"vec".as("qvec"),
        explode(probeCells(cents, $"vec", nprobe)).as("probe"))
      .select($"qid", $"qvec", $"probe.cid".as("cell"))
    val scored = corpus.join(broadcast(probes), "cell")
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid", cosine($"qvec", $"nvec").as("cos"))
    scored.withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  /** RANGE similarity search — all corpus vectors within a cosine
    * radius of each query (the retrieval-filter form: "everything at
    * least this similar", vs top-k's "the k best"). Same plan shape as
    * brute top-k — broadcast query set, stream the corpus, fused
    * single-pass cosine, no window needed since there is no ranking —
    * so the scan is one pass and the output is the selectivity the
    * threshold buys. Exact, so the oracle hash-verifies it (the one
    * ANN-family query besides brute top-k that SQL can express).
    * Both the membership test and the emitted score are the INTEGER
    * floor(cos·1e6): a `cos >= 0.3` filter plus `round(cos, 6)` output
    * would hinge row membership and hash on the 1-ULP cross-engine
    * hazards this family documents elsewhere (Spark rounds via
    * BigDecimal HALF_UP, DuckDB in float; a boundary cosine flips
    * rows) — flooring a shared exact double once removes both. */
  def ann_cos_range(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    e.select($"vec_id".as("nid"), $"embedding")
      .crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid",
        floor(cosine($"qvec", $"embedding") * 1e6).cast("long").as("cos_ppm"))
      .filter($"cos_ppm" >= 300000L)
      .orderBy($"qid", $"nid")
  }

  /** INT8 QUANTIZATION of the embedding store — the memory scale path
    * for ANN at corpus scale: a 64-dim float32 vector is 256 B; the
    * symmetric-int8 form (per-vector scale + 64 signed bytes) is ~72 B,
    * so the same executor memory holds ~3.5× more of the corpus and
    * IVF cell scans stream ~3.5× fewer bytes. Per vector: scale =
    * max|x| (emitted as exact integer ppm), q_i = round(x_i·127 /
    * max|x|) ∈ [-127, 127]. Per-row map at scan speed, no shuffle.
    *
    * Hash-oracled: both engines evaluate the IDENTICAL double
    * expression tree (float→double widening is exact; x·127/m is two
    * IEEE ops; Spark's round(double) and DuckDB's round() both round
    * half away from zero), so the emitted integers are bit-equal —
    * the quantized array is flattened to a comma-joined string because
    * the driver's row-sort cannot order raw array cells (the
    * mm_features rule). Zero vectors quantize through a guarded
    * scale of 1 rather than dividing by zero (identical guard both
    * sides). Quality — reconstruction bound and top-k preservation
    * vs float brute force — is gated in SimilaritySpec. */
  def ann_quantize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val m = array_max(transform($"embedding", x => abs(x.cast("double"))))
    Tables.embeddings(s, d)
      .select($"vec_id", $"embedding", m.as("m"))
      .withColumn("m1", when($"m" === 0.0, 1.0).otherwise($"m"))
      .select($"vec_id",
        floor($"m" * 1e6).cast("long").as("maxabs_ppm"),
        concat_ws(",", transform($"embedding",
          x => round(x.cast("double") * 127.0 / $"m1").cast("long").cast("string")))
          .as("q8"))
      .orderBy($"vec_id")
  }

  /** PRODUCT QUANTIZATION ANN (IVF-PQ's compression half; Jégou et al.
    * 2011, "Product Quantization for Nearest Neighbor Search") — the
    * byte-budget scale path past [[ann_quantize]]'s scalar int8: the
    * 64-dim vector splits into `m`=8 subvectors, each quantized to one
    * of `ks`=16 per-subspace centroids, so a corpus vector is 8 CODES
    * (codes fit 4 bits each; stored as an int array here) instead of
    * 512 B of doubles — the ADC scan streams ~2 orders of magnitude
    * fewer bytes than brute force.
    *
    * Spark-first shape, 100 TB posture:
    * - TRAIN like [[annIvf]]: deterministic hash-mod sample, seed
    *   codebooks from the ks smallest-hash vectors' subvectors, one
    *   Lloyd round where ALL m subspaces refine in a single
    *   distributed pass (per-row argmin cells → posexplode → groupBy
    *   (pos, cell) with map-side partial avg; the shuffle carries
    *   per-partition partials, never the sample). Driver holds only
    *   m·ks·(64/m) = 1024 doubles of codebook.
    * - ENCODE: per-subspace argmin over `lit(|c|²) − 2·dot(sub, c)`
    *   (the row-constant |sub|² cancels inside argmin) — codegen'd
    *   fused-dot kernels, pure map, no shuffle.
    * - SEARCH (asymmetric distance computation): each query
    *   precomputes its m×ks inner-product table against the codebooks
    *   (queries are the driver-sized side by contract — same as the
    *   IVF centroid collect); the corpus scan approximates cosine as
    *   m table LOOKUPS (codegen'd element_at chain, no HOF) per
    *   (query, code-vector), per-query top-`rerank` survives, and only
    *   those candidates fetch their float vectors for exact-cosine
    *   rescoring → top-5.
    * Operating point: the synthetic corpus is near-uniform on the
    * sphere (PQ's worst case — no cluster structure for codebooks to
    * exploit; same caveat as [[ann_ivf]]'s), so recall tracks the
    * rerank budget: measured recall@5 at sf0.01 (5k vectors) is 0.43 /
    * 0.65 / 0.84 at rerank 32 / 64 / 128; the registered rerank=64
    * rescores 1.3% of that corpus for 0.65, gated ≥ 0.6 in
    * SimilaritySpec alongside the exactness sanity `rerank ≥ corpus ⇒
    * ≡ brute` (ADC only orders candidates, it never drops anyone). */
  def ann_pq(s: SparkSession, d: String): DataFrame =
    annPq(s, d, m = 8, ks = 16, rerank = 64, memo = lastPqTrained)

  /** (codebooks, per-query ADC tables) the registered [[ann_pq]]
    * config trained/derived in THIS run — both are driver-held
    * constants baked into the Spark plan as literals, so inlining the
    * same values into the DuckDB replay oracle replays the plan
    * exactly (see [[lastIvfCents]] for the populate-before-dump
    * contract). */
  private[graft] val lastPqTrained = new java.util.concurrent.atomic.AtomicReference[
    (Array[Array[Array[Double]]], Seq[(Long, Seq[Double])])]()

  def annPq(s: SparkSession, d: String, m: Int, ks: Int,
      rerank: Int,
      memo: java.util.concurrent.atomic.AtomicReference[
        (Array[Array[Array[Double]]], Seq[(Long, Seq[Double])])] = null): DataFrame = {
    import s.implicits._
    val dim = 64
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val ds = dim / m
    val e = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))

    // Sample-bounded training set (see trainSlice).
    val train = trainSlice(s, d, e)

    // Seed codebooks: subvectors of the ks smallest-hash sample rows.
    val books: Array[Array[Array[Double]]] = {
      val seeds = train.orderBy(xxhash64($"vec_id"), $"vec_id").limit(ks)
        .select($"vec_id", $"vec").collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      Array.tabulate(m)(mi => seeds.map(_.slice(mi * ds, (mi + 1) * ds)))
    }
    // argmin cell per subspace: |c|² − 2⟨sub,c⟩ ranks identically to
    // squared L2 (the row-constant |sub|² cancels). r20: all m
    // subspaces assign in ONE codegen'd kernel (PqCodesExpr — the m·ks
    // per-centroid literal dot trees were the ann_pq planning/compile
    // overhead the r19 profile named; bit-identical codes,
    // SimilaritySpec-gated).
    def withCells(df: DataFrame): DataFrame =
      df.select($"vec_id", $"vec",
        GraftExpressions.toColumn(graft.functions.PqCodesExpr(
          GraftExpressions.toExpr($"vec"), books)).as("cells"))

    // One Lloyd round, all subspaces in one distributed pass: the
    // element mean for (pos, cell) updates codebook[pos/ds][cell][pos%ds].
    withCells(train)
      .select(posexplode($"vec").as(Seq("pos", "x")), $"cells")
      .select($"pos",
        element_at($"cells", (expr(s"pos div $ds") + 1).cast("int")).as("cell"), $"x")
      .groupBy($"pos", $"cell").agg(avg($"x").as("mn"))
      .collect()
      .foreach { r =>
        val pos = r.getInt(0)
        books(pos / ds)(r.getInt(1))(pos % ds) = r.getDouble(2)
      }

    val encoded = withCells(e).select($"vec_id".as("nid"), $"cells".as("codes"))

    // Per-query ADC tables: tab[mi*ks + k] = ⟨q_sub_mi, books[mi][k]⟩.
    val qTabs = e.filter($"vec_id" < 16).select($"vec_id", $"vec").collect()
      .sortBy(_.getLong(0))
      .map { r =>
        val q = r.getSeq[Double](1).toArray
        (r.getLong(0), (0 until m).flatMap { mi =>
          books(mi).map(c => (0 until ds).map(j => q(mi * ds + j) * c(j)).sum)
        })
      }.toSeq
    if (memo != null) memo.set((books.map(_.map(_.clone())), qTabs))
    val queries = qTabs.toDF("qid", "tab")

    val adc = (0 until m)
      .map(mi => expr(s"element_at(tab, ${mi * ks + 1} + codes[$mi])"))
      .reduce(_ + _)
    val cand = encoded.crossJoin(broadcast(queries))
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid", adc.as("adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"adc".desc, $"nid")))
      .filter($"rk" <= rerank)
      .select($"qid", $"nid")

    cand
      .join(e.select($"vec_id".as("nid"), $"vec".as("nvec")), "nid")
      .join(broadcast(e.filter($"vec_id" < 16)
        .select($"vec_id".as("qid"), $"vec".as("qvec"))), "qid")
      .select($"qid", $"nid", cosine($"qvec", $"nvec").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  /** IVF-PQ — [[ann_ivf]]'s cell pruning composed with [[ann_pq]]'s
    * code compression (Jégou et al. 2011's IVFADC, the shape
    * billion-vector ANN actually deploys): the coarse quantizer cuts
    * WHICH rows the scan touches (nprobe/k of the corpus), PQ cuts the
    * BYTES per touched row (8 codes ≈ 16 B vs 512 B of doubles), so
    * the candidate scan streams ~(nprobe/k)·(1/32) of brute-force
    * bytes and only `rerank` rows per query ever fetch their float
    * vectors.
    *
    * Spark-first shape, 100 TB posture:
    * - TRAIN: coarse centroids exactly as [[annIvf]] (hash-mod sample,
    *   smallest-hash seeds, distributed Lloyd round); PQ codebooks
    *   trained on the RESIDUALS vec − centroid[cell] (IVFADC — the
    *   residual distribution is what the codebooks can actually fit
    *   once the coarse quantizer has removed cell structure), one
    *   all-subspaces Lloyd pass like [[annPq]].
    * - ENCODE: cell assignment + residual + per-subspace argmin are
    *   all per-row maps (fused-dot kernels, no shuffle). A real
    *   deployment materializes (nid, cell, codes) as a table BUCKETED
    *   by cell — the probe join then prunes cells at the scan.
    * - SEARCH: ⟨q,n⟩ = ⟨q,c⟩ + ⟨q,r_n⟩, so each query carries ONE
    *   m×ks ADC table (⟨q_sub, book⟩ — cell-independent) plus a
    *   per-probed-cell scalar ⟨q,c⟩; both driver-computed (the
    *   queries are the driver-sized side by contract) and broadcast.
    *   Candidate generation is the equi-join on cell id; scoring is m
    *   table lookups + one add; per-query top-`rerank` survives to
    *   exact-cosine rescoring → top-5.
    * Operating point: same uniform-sphere caveat as [[ann_ivf]] /
    * [[ann_pq]]; at the registered k=16/nprobe=4/rerank=64 the scan
    * touches ~25% of the corpus in code form. Measured recall@5 at
    * sf0.01: 0.56 (cell pruning and PQ ordering losses compose),
    * gated ≥ 0.5 in SimilaritySpec next to the exactness sanity
    * `nprobe=k ∧ rerank ≥ corpus ⇒ ≡ brute force`. */
  def ann_ivfpq(s: SparkSession, d: String): DataFrame =
    annIvfPq(s, d, k = 16, nprobe = 4, m = 8, ks = 16, rerank = 64,
      memo = lastIvfPqTrained)

  /** (coarse centroids, residual codebooks, probe rows) the registered
    * [[ann_ivfpq]] config trained/derived in THIS run — all
    * driver-held plan literals, inlined into the replay oracle (see
    * [[lastIvfCents]]). */
  private[graft] val lastIvfPqTrained = new java.util.concurrent.atomic.AtomicReference[
    (Array[Array[Double]], Array[Array[Array[Double]]],
      Seq[(Long, Int, Double, Seq[Double])])]()

  def annIvfPq(s: SparkSession, d: String, k: Int, nprobe: Int, m: Int,
      ks: Int, rerank: Int,
      memo: java.util.concurrent.atomic.AtomicReference[
        (Array[Array[Double]], Array[Array[Array[Double]]],
          Seq[(Long, Int, Double, Seq[Double])])] = null): DataFrame = {
    val (cents, books, encoded) = ivfPqModel(s, d, k, m, ks)
    val probeRows = ivfPqProbeRows(s, d, cents, books, nprobe)
    if (memo != null)
      memo.set((cents.map(_.clone()), books.map(_.map(_.clone())), probeRows))
    ivfPqSearch(s, d, encoded, probeRows, m, ks, rerank, bucketedIndex = false)
  }

  /** Shared IVF-PQ model: coarse quantizer (hash-mod sample, seed +
    * one distributed Lloyd round), residual PQ codebooks (seed + one
    * all-subspaces Lloyd pass), and the ENCODED corpus (nid, cell,
    * codes) — factored out of [[annIvfPq]] so [[ann_ivfpq_index]] can
    * persist the encoded corpus as its inverted lists instead of
    * recomputing it per search. */
  private[graft] def ivfPqModel(s: SparkSession, d: String, k: Int,
      m: Int, ks: Int)
      : (Array[Array[Double]], Array[Array[Array[Double]]], DataFrame) = {
    import s.implicits._
    val dim = 64
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val ds = dim / m
    val e = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))

    // Sample-bounded training set + coarse quantizer: seed + one
    // distributed Lloyd round (trainSlice / kmeansCentroids).
    val train = trainSlice(s, d, e)
    val cents = kmeansCentroids(train, k, iters = 1)
    val centsLit = typedLit(cents.map(_.toSeq).toSeq)
    def withCellRes(df: DataFrame): DataFrame =
      df.select($"vec_id", $"vec",
          bestCell(cents, $"vec").getField("cid").as("cell"))
        .withColumn("res",
          zip_with($"vec", element_at(centsLit, $"cell" + 1), (x, c) => x - c))

    // PQ codebooks over RESIDUALS: seed from the ks smallest-hash
    // sample residuals, one all-subspaces Lloyd pass (annPq).
    val trainRes = withCellRes(train)
    val books: Array[Array[Array[Double]]] = {
      val seeds = trainRes.orderBy(xxhash64($"vec_id"), $"vec_id").limit(ks)
        .select($"vec_id", $"res").collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      Array.tabulate(m)(mi => seeds.map(_.slice(mi * ds, (mi + 1) * ds)))
    }
    // r20: one codegen'd kernel for all m residual subspaces (see
    // annPq.withCells — same PqCodesExpr, over the residual column)
    def withCodes(df: DataFrame): DataFrame =
      df.withColumn("codes", GraftExpressions.toColumn(
        graft.functions.PqCodesExpr(GraftExpressions.toExpr($"res"), books)))
    withCodes(trainRes)
      .select(posexplode($"res").as(Seq("pos", "x")), $"codes")
      .select($"pos",
        element_at($"codes", (expr(s"pos div $ds") + 1).cast("int")).as("cid"), $"x")
      .groupBy($"pos", $"cid").agg(avg($"x").as("mn"))
      .collect()
      .foreach { r =>
        val pos = r.getInt(0)
        books(pos / ds)(r.getInt(1))(pos % ds) = r.getDouble(2)
      }

    val encoded = withCodes(withCellRes(e))
      .select($"vec_id".as("nid"), $"cell", $"codes")
    (cents, books, encoded)
  }

  /** Driver-side probe set for IVF-PQ search: per query ONE ADC table
    * (cell-independent — residual books are shared across cells) plus
    * per probed cell the ⟨q,c⟩ scalar; cells ordered by the same
    * (cosine dist, cid) key centroidDists uses, so nprobe=k
    * degenerates to all cells. Pure driver arithmetic over the
    * 16-query collect — deterministic given (cents, books), which is
    * what lets the replay oracle inline it. */
  private[graft] def ivfPqProbeRows(s: SparkSession, d: String,
      cents: Array[Array[Double]], books: Array[Array[Array[Double]]],
      nprobe: Int): Seq[(Long, Int, Double, Seq[Double])] = {
    import s.implicits._
    val m = books.length; val ds = books(0)(0).length; val dim = m * ds
    val e = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))
    val qRows = e.filter($"vec_id" < 16).select($"vec_id", $"vec").collect()
      .sortBy(_.getLong(0))
    qRows.toSeq.flatMap { r =>
      val qid = r.getLong(0)
      val q = r.getSeq[Double](1).toArray
      val tab = (0 until m).flatMap { mi =>
        books(mi).map(c => (0 until ds).map(j => q(mi * ds + j) * c(j)).sum)
      }
      val nq = math.sqrt(q.map(x => x * x).sum)
      cents.zipWithIndex.map { case (c, cid) =>
        val ip = (0 until dim).map(j => q(j) * c(j)).sum
        val nc = math.sqrt(c.map(x => x * x).sum)
        val dist = if (nq * nc == 0) 1.0 else 1.0 - ip / (nq * nc)
        (dist, cid, ip)
      }.sortBy(t => (t._1, t._2)).take(nprobe)
        .map { case (_, cid, ip) => (qid, cid, ip, tab) }
    }
  }

  /** ADC candidate scan + exact rescore over an encoded corpus (in
    * flight from [[ivfPqModel]], or the persisted inverted lists of
    * [[ann_ivfpq_index]]). `bucketedIndex = true` switches the probe
    * join from the broadcast shortcut to the merge-hinted
    * bucketed-scan path — the many-queries posture where the
    * write-time bucketing, not a broadcast, is what saves the
    * corpus-side shuffle. */
  private def ivfPqSearch(s: SparkSession, d: String, encoded: DataFrame,
      probeRows: Seq[(Long, Int, Double, Seq[Double])], m: Int, ks: Int,
      rerank: Int, bucketedIndex: Boolean): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))
    val probes = probeRows.toDF("qid", "cell", "qcip", "tab")

    val adc = $"qcip" + (0 until m)
      .map(mi => expr(s"element_at(tab, ${mi * ks + 1} + codes[$mi])"))
      .reduce(_ + _)
    val cand = (if (bucketedIndex)
        encoded.hint("merge").join(probes, "cell")
      else encoded.join(broadcast(probes), "cell"))
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid", adc.as("adc"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"qid").orderBy($"adc".desc, $"nid")))
      .filter($"rk" <= rerank)
      .select($"qid", $"nid")

    cand
      .join(e.select($"vec_id".as("nid"), $"vec".as("nvec")), "nid")
      .join(broadcast(e.filter($"vec_id" < 16)
        .select($"vec_id".as("qid"), $"vec".as("qvec"))), "qid")
      .select($"qid", $"nid", cosine($"qvec", $"nvec").as("cos"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")))
      .filter($"rank" <= 5)
      .select($"qid", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  /** One persisted IVF-PQ index per source dir, built once per JVM —
    * the sentence in [[ann_ivfpq]]'s scaladoc ("a real deployment
    * materializes (nid, cell, codes) as a table BUCKETED by cell")
    * made real: the encoded corpus persists as cell-bucketed inverted
    * lists holding CODES, not vectors — the memory-compressed index
    * shape ([[ann_quantize]]'s byte-budget argument applied to the
    * index itself: ~8 int codes per vector instead of 64 doubles).
    * Re-trained and rewritten on the first call of each JVM so the
    * persisted codes always match the memo'd model. */
  private val ivfPqIndexBuilt = new java.util.HashSet[String]()
  private[graft] val ivfPqIndexTrained =
    new java.util.concurrent.ConcurrentHashMap[String,
      (Array[Array[Double]], Array[Array[Array[Double]]],
        Seq[(Long, Int, Double, Seq[Double])])]()
  private[graft] val lastIvfPqIndexDir =
    new java.util.concurrent.atomic.AtomicReference[String]()
  private def ivfPqIndexTable(s: SparkSession, d: String): String = {
    val tbl = s"ivfpq_idx_${dirTag(d)}"
    ivfPqIndexBuilt.synchronized { if (!ivfPqIndexBuilt.contains(d)) {
      dropIndexTable(s, tbl)
      val (cents, books, encoded) = ivfPqModel(s, d, k = 16, m = 8, ks = 16)
      // probe rows derive once at BUILD time from the frozen model and
      // ride the per-dir memo (they are a deterministic function of
      // (cents, books), so every later search — and the oracle dump —
      // reuses exactly what this build produced)
      ivfPqIndexTrained.put(d, (cents, books,
        ivfPqProbeRows(s, d, cents, books, nprobe = 4)))
      encoded.write.mode("overwrite")
        .bucketBy(8, "cell").sortBy("cell")
        .format("parquet").saveAsTable(tbl)
      ivfPqIndexBuilt.add(d)
    } }
    tbl
  }

  /** PERSISTED-INDEX IVF-PQ search — the compressed counterpart of
    * [[ann_ivf_index]]: the inverted lists hold PQ CODES (the
    * ~30×-smaller representation the ADC scan actually needs), exact
    * vectors are fetched ONLY for the per-query top-`rerank`
    * candidates. Same k/nprobe/m/ks/rerank operating point as
    * [[ann_ivfpq]] (recall gate ≥ 0.5); the merge-hinted probe join
    * reads the index pre-partitioned on the cell key — zero
    * corpus-side Exchange, spec-gated mechanically — and the oracle is
    * the ann_ivfpq literal replay over THIS index's own trained model. */
  def ann_ivfpq_index(s: SparkSession, d: String): DataFrame = {
    val tbl = ivfPqIndexTable(s, d)
    lastIvfPqIndexDir.set(d)
    val (_, _, probeRows) = ivfPqIndexTrained.get(d)
    ivfPqSearch(s, d, s.table(tbl), probeRows, m = 8, ks = 16,
      rerank = 64, bucketedIndex = true)
  }

  /** FILTERED vector search — top-k under a metadata predicate (the
    * retrieval shape every vector store ships as "filtered ANN": only
    * corpus rows whose `label` matches the query's own qualify as
    * neighbors). The filter composes INSIDE the search, not as a
    * post-filter on an unfiltered top-k — post-filtering famously
    * starves result sets when the predicate is selective (a top-5 of
    * which 4 fail the predicate returns 1 row; the correct answer is
    * the top-5 OF the qualifying subset). Same broadcast-query /
    * streamed-corpus single-pass shape as ann_topk_brute with the
    * predicate fused into the join condition, so rows failing it are
    * dropped before any cosine is computed; at scale a label-
    * partitioned corpus layout would additionally prune whole
    * partitions (src_partitioned_prune's posture). */
  def ann_topk_filtered(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d)
    val q = e.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"),
        $"label".as("qlabel"))
    val scored = e.select($"vec_id".as("nid"), $"embedding", $"label")
      .crossJoin(broadcast(q))
      .filter($"nid" =!= $"qid" && $"label" === $"qlabel")
      .select($"qid", $"qlabel", $"nid",
        cosine($"qvec", $"embedding").as("cos"))
    val w = Window.partitionBy($"qid").orderBy($"cos".desc, $"nid")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select($"qid", $"qlabel", $"rank", $"nid", round($"cos", 6).as("cos_sim"))
      .orderBy($"qid", $"rank")
  }

  /** HYBRID retrieval with RECIPROCAL-RANK FUSION (the production
    * search-stack shape: a lexical ranker and a vector ranker each
    * produce a top-k, fused as Σ 1/(60 + rank) — Cormack et al.'s RRF,
    * the fusion every hybrid vector store ships because it needs no
    * score calibration between legs). Items are the ids carrying BOTH
    * text and an embedding (documents ⋈ embeddings); queries are the
    * standard id < 16 slice.
    *
    * Integer-exact throughout so the whole composition hash-verifies:
    * the lexical score is word-3-gram Jaccard in exact ppm (distinct
    * literal grams — candidate pairs arise from a gram equi-join
    * against the BROADCAST query gram set, so only overlapping pairs
    * ever materialize), the vector score is floor(cos·1e6)
    * (ann_cos_range's rule — ranks order on an INTEGER, so a 1-ULP
    * cross-engine cosine wobble cannot flip adjacent ranks), both
    * legs keep rank ≤ 50 via WindowGroupLimit, and the fused score is
    * Σ 1000000 div (60 + rank) over the legs a pair appears in.
    *
    * Scale: the query side (grams and vectors) broadcasts; the vector
    * leg is one fused-cosine map over the corpus; the lexical leg is
    * ONE gram pass whose only corpus-scale shuffle is the
    * candidate-pair rollup (the gram stream is probed map-side against
    * the broadcast query grams, and each gram row carries its doc's
    * denominator — no denominator pass, rollup, or join exists at
    * all); per-leg ranking ships ≤ 50·tasks rows per query; fusion is
    * a map-side-combined rollup over ≤ 100 rows per query. */
  def ann_hybrid_rrf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val items = Tables.documents(s, d).select($"doc_id", $"text")
      .join(Tables.embeddings(s, d)
        .select($"vec_id".as("doc_id"), $"embedding"), Seq("doc_id"))
    val queries = items.filter($"doc_id" < 16)

    // vector leg: integer score, rank <= 50
    val vec = items.select($"doc_id".as("nid"), $"embedding")
      .crossJoin(broadcast(queries
        .select($"doc_id".as("qid"), $"embedding".as("qvec"))))
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid",
        floor(cosine($"qvec", $"embedding") * 1e6).cast("long").as("score"))
    val wV = Window.partitionBy($"qid").orderBy($"score".desc, $"nid")
    val vecRanked = vec.withColumn("rank", row_number().over(wV))
      .filter($"rank" <= 50).select($"qid", $"nid", $"rank", lit("vec").as("leg"))

    // lexical leg: distinct word-3-gram Jaccard in exact ppm over
    // HASHED grams — the single-pass codegen'd shingle kernel the
    // whole dedup family runs on (WordNgramHashExpr: FNV-mix word
    // hashes → chained gram fold → sort-unique), measured 5× faster
    // than the string-gram HOF pipeline at sf0.1 (0.3 s vs 1.6 s per
    // corpus pass; the r14 candidate-semi-join shape additionally
    // serialized a broadcast job ahead of a SECOND string pass —
    // 3.2 s total where this leg now costs under 1 s). Candidate
    // pairs arise from the corpus gram stream probed MAP-SIDE against
    // the broadcast query gram set (non-matching gram rows never
    // shuffle; the rollup is the leg's only corpus-scale exchange),
    // and the per-doc denominators are a second kernel pass emitting
    // ONE 16-byte row per doc — no gram explode, no rollup, no
    // corpus-side shuffle: the scored pairs broadcast back onto the
    // streamed denominator pass. Oracle: the dedup family's gramSql
    // re-derivation (same hashes bit-for-bit in DuckDB), restricted
    // to docs carrying embeddings.
    import graft.functions.TextFunctions.shingleHashes
    val qG = queries.select($"doc_id".as("qid"),
      explode(shingleHashes($"text", 3)).as("g"))
    val dG = items.select($"doc_id".as("nid"),
      explode(shingleHashes($"text", 3)).as("g"))
    val cand = dG.join(broadcast(qG), Seq("g"))
      .filter($"nid" =!= $"qid")
      .groupBy($"qid", $"nid").agg(count(lit(1)).as("inter"))
    val qN = queries.select($"doc_id".as("qid"),
      size(shingleHashes($"text", 3)).cast("long").as("nq"))
    val dN = items.select($"doc_id".as("nid"),
      size(shingleHashes($"text", 3)).cast("long").as("nd"))
    val lex = dN
      .join(broadcast(cand.join(broadcast(qN), Seq("qid"))), Seq("nid"))
      .select($"qid", $"nid",
        expr("inter * 1000000 div (nq + nd - inter)").as("score"))
    val lexRanked = lex.withColumn("rank", row_number().over(wV))
      .filter($"rank" <= 50).select($"qid", $"nid", $"rank", lit("lex").as("leg"))

    // reciprocal-rank fusion + final top-10
    val fused = vecRanked.unionByName(lexRanked)
      .groupBy($"qid", $"nid")
      .agg(sum(expr("1000000 div (60 + rank)")).as("rrf_score"),
        max(when($"leg" === "vec", $"rank").otherwise(-1L)).as("vec_rank"),
        max(when($"leg" === "lex", $"rank").otherwise(-1L)).as("lex_rank"))
    val wF = Window.partitionBy($"qid").orderBy($"rrf_score".desc, $"nid")
    fused.withColumn("fused_rank", row_number().over(wF))
      .filter($"fused_rank" <= 10)
      .select($"qid", $"fused_rank", $"nid", $"rrf_score", $"vec_rank", $"lex_rank")
      .orderBy($"qid", $"fused_rank")
  }

  /** HYBRID RETRIEVAL OVER PERSISTED INDEXES — [[ann_hybrid_rrf]]'s
    * reciprocal-rank fusion re-served so BOTH legs read build-once
    * index tables instead of rescanning the corpus per query batch
    * (the production serving shape: at 100 TB neither a brute-force
    * cosine pass nor a full-text shingle pass is per-batch work).
    * The vector leg probes the [[ann_ivf_index]] inverted lists
    * (trained centroids memo'd per dir; vectors stored IN the lists,
    * so the rescore never rejoins the raw embeddings; the probe join
    * reads the cell-bucketed table Exchange-free) widened to rank ≤
    * 50. The lexical leg is QUERY-BY-DOCUMENT over
    * [[TextOps.text_search_index]]'s term-bucketed postings: the
    * query docs' distinct terms get the capped idf-ratio ppm weight
    * (document frequencies aggregate pre-partitioned on the bucketed
    * term key — no Exchange), the tiny (query, term, weight) table
    * broadcasts into the candidate fetch so non-query postings never
    * leave the scan, and per-(query, doc) scores are
    * Σ tf(t,d)·w_ppm(t), rank ≤ 50.
    *
    * The two universes deliberately differ — the text index covers
    * ALL documents, the vector index only the embedded subset — the
    * real hybrid posture (embedding coverage lags text coverage), and
    * RRF fuses asymmetric legs natively: a doc absent from one leg
    * carries no rank there (surfaced as -1), exactly as in the
    * in-flight form. Scoring stays integer-exact per leg (floor-ppm
    * cosine; capped idf-ratio ppm), fusion is the same integer
    * 10^6 div (60 + rank) RRF, and the whole composition replays in
    * DuckDB — the IVF leg over the inlined trained centroids
    * (assignment, probe choice, candidate join re-derived), the
    * lexical leg over a string_split re-derivation of the postings. */
  def ann_hybrid_rrf_index(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val wV = Window.partitionBy($"qid").orderBy($"score".desc, $"nid")

    // vector leg over the persisted IVF index, widened to rank <= 50
    val tbl = ivfIndexTable(s, d)
    lastIvfIndexDir.set(d)
    val cents = ivfIndexCents.get(d)
    val e = Tables.embeddings(s, d)
      .select($"vec_id", asDouble($"embedding").as("vec"))
    val probes = e.filter($"vec_id" < 16)
      .select($"vec_id".as("qid"), $"vec".as("qvec"),
        explode(probeCells(cents, $"vec", 8)).as("probe"))
      .select($"qid", $"qvec", $"probe.cid".as("cell"))
    val vecRanked = s.table(tbl).hint("merge").join(probes, "cell")
      .filter($"nid" =!= $"qid")
      .select($"qid", $"nid",
        floor(cosine($"qvec", $"nvec") * 1e6).cast("long").as("score"))
      .withColumn("rank", row_number().over(wV))
      .filter($"rank" <= 50)
      .select($"qid", $"nid", $"rank", lit("vec").as("leg"))

    // lexical leg: query-by-document over the persisted inverted index
    val post = s.table(TextOps.searchIndexTable(s, d))
    val n = Tables.parquetRowCount(s, d, "documents")
    val qTerms = Tables.documents(s, d).filter($"doc_id" < 16)
      .select($"doc_id".as("qid"),
        explode(graft.functions.TextFunctions.tokens($"text")).as("term"))
      .distinct()
    val dfreq = post.groupBy($"term").agg(count(lit(1)).as("df"))
    val weights = dfreq.join(broadcast(qTerms), Seq("term"))
      .withColumn("w_ppm", least(lit(1000000000000L),
        expr(s"(${n}L div df) * 1000000 + ((${n}L % df) * 1000000) div df")))
      .select($"term", $"qid", $"w_ppm")
    val lexRanked = post.join(broadcast(weights), Seq("term"))
      .filter($"doc_id" =!= $"qid")
      .groupBy($"qid", $"doc_id")
      .agg(sum(expr("tf * w_ppm")).as("score"))
      .select($"qid", $"doc_id".as("nid"), $"score")
      .withColumn("rank", row_number().over(wV))
      .filter($"rank" <= 50)
      .select($"qid", $"nid", $"rank", lit("lex").as("leg"))

    // reciprocal-rank fusion + final top-10 (the ann_hybrid_rrf tail)
    val fused = vecRanked.unionByName(lexRanked)
      .groupBy($"qid", $"nid")
      .agg(sum(expr("1000000 div (60 + rank)")).as("rrf_score"),
        max(when($"leg" === "vec", $"rank").otherwise(-1L)).as("vec_rank"),
        max(when($"leg" === "lex", $"rank").otherwise(-1L)).as("lex_rank"))
    val wF = Window.partitionBy($"qid").orderBy($"rrf_score".desc, $"nid")
    fused.withColumn("fused_rank", row_number().over(wF))
      .filter($"fused_rank" <= 10)
      .select($"qid", $"fused_rank", $"nid", $"rrf_score", $"vec_rank", $"lex_rank")
      .orderBy($"qid", $"fused_rank")
  }

  /** K-NN GRAPH construction — every vector's approximate top-5
    * neighbors over the WHOLE corpus, not just a query set: the
    * primitive under graph-based ANN indexes (HNSW/NN-descent start
    * from exactly this), SemDeDup-style semantic clustering, and
    * label-propagation over embedding neighborhoods. The all-pairs
    * form is O(N²·dim) — dead at corpus scale — so candidates come
    * from the [[ann_lsh]] blocking turned inward: the SAME 64
    * seed-42 hyperplanes, 16 bands × 4 bits, but the band-key table
    * equi-joins AGAINST ITSELF (corpus×corpus on (band, bkey)) rather
    * than against a broadcast query side. Buckets above `cap`=500
    * members are dropped BEFORE pair enumeration (the
    * dedup_minhash_lsh hot-bucket discipline — a degenerate key's
    * C(n,2) blowup is excluded deterministically on both engines;
    * a no-op at test SF, asserted in SimilaritySpec). Band width is
    * the density knob at 100 TB: wider bands → exponentially smaller
    * buckets → linear candidate volume at the same table count.
    *
    * Scoring is floor-ppm integer cosine (the ann_cos_range rule) so
    * the per-node top-5 window ranks on an INTEGER — a 1-ULP cosine
    * wobble cannot flip adjacent ranks — and the whole composition
    * (literal planes → band keys → capped self-join → distinct pairs
    * → rescore → rank) replays in DuckDB and hash-verifies. */
  def ann_knn_graph(s: SparkSession, d: String): DataFrame =
    annKnnGraph(s, d, bands = 16, r = 4, cap = 500L, k = 5)

  /** Parameterized k-NN graph — (bands, r) is the corpus-density
    * knob the Scale suite turns: bucket population ~ N/2^r per band,
    * so growing corpora hold candidate volume linear by widening r
    * (fewer, wider bands over the same 64-bit signature) instead of
    * letting buckets fatten quadratically. */
  def annKnnGraph(s: SparkSession, d: String, bands: Int, r: Int,
      cap: Long, k: Int): DataFrame = {
    import s.implicits._
    require(bands * r <= 64, "signature holds at most 64 plane bits")
    val planes = randomPlanes(bands * r, 64)
    val mask = (1L << r) - 1
    val e = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding",
        hyperplaneSignature($"embedding", planes).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val keys = (0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftrightunsigned($"sig", b * r).bitwiseAND(lit(mask)).as("bkey"))
      }
      val bk = e.select($"vec_id", explode(array(keys: _*)).as("bk"))
        .select($"vec_id", $"bk.band".as("band"), $"bk.bkey".as("bkey"))
      val okBuckets = bk.groupBy($"band", $"bkey")
        .agg(count(lit(1)).as("n")).filter($"n" <= cap)
        .select($"band", $"bkey")
      val capped = bk.join(okBuckets, Seq("band", "bkey"), "left_semi")
      // r19: enumerate each unordered pair ONCE (a < b — half the
      // self-join output, half the distinct, half the exact-cosine
      // work) and mirror AFTER scoring: cosine is symmetric, so the
      // mirrored rows carry identical scores and the per-node top-k
      // is unchanged. The half-volume scored set is persisted so the
      // mirror reads the cache instead of re-running the join lineage.
      val cand = capped.as("a").join(capped.as("b"),
          $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
            $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("nid"), $"b.vec_id".as("nbr")).distinct()
      val scoredHalf = graft.CacheRegistry.cache(cand
        .join(e.select($"vec_id".as("nid"), $"embedding".as("v1")), "nid")
        .join(e.select($"vec_id".as("nbr"), $"embedding".as("v2")), "nbr")
        .select($"nid", $"nbr",
          floor(cosine($"v1", $"v2") * 1e6).cast("long").as("cos_ppm")))
      try {
        val scored = scoredHalf.unionByName(
          scoredHalf.select($"nbr".as("nid"), $"nid".as("nbr"), $"cos_ppm"))
        val out = scored.withColumn("rank", row_number().over(
            Window.partitionBy($"nid").orderBy($"cos_ppm".desc, $"nbr")))
          .filter($"rank" <= k)
          .select($"nid", $"rank", $"nbr", $"cos_ppm")
        Superstep.output(out).orderBy($"nid", $"rank")
      } finally
        // r20 (r19 advice): scoredHalf is only needed until the output
        // is materialized — release it here instead of holding
        // MEMORY_AND_DISK until the harness's next releaseAll (the
        // registry's duplicate unpersist at release is a no-op)
        scoredHalf.unpersist(blocking = false)
    } finally e.unpersist(blocking = false)
  }

  /** ONE NN-DESCENT REFINEMENT ROUND over [[ann_knn_graph]] — the
    * standard public recipe (Dong, Moses & Li, WWW'11: "a neighbor of
    * a neighbor is likely a neighbor") for lifting a blocked k-NN
    * graph's recall past its blocking ceiling: take the LSH-blocked
    * top-5 graph, expand every node's candidate set with its
    * neighbors' neighbors (over the UNDIRECTED graph — NN-descent's
    * reverse-neighbor trick, since being someone's top-5 is as
    * informative as having them in yours), rescore the expanded set
    * exactly, and re-take the top-5. Candidates the LSH bands never
    * co-bucketed become reachable through one hop of graph structure.
    *
    * Scale shape: the expansion is ONE equi-join of the capped
    * undirected edge list with itself (the graph_pagerank superstep
    * idiom — each round of full NN-descent is exactly this join), and
    * the per-node fan is capped at the first 32 undirected neighbors
    * by id (the graph_jaccard_links discipline: out-degree is k=5 by
    * construction, but REVERSE degree is unbounded — a hub vector in
    * many top-5 lists would otherwise fan quadratically; the cap is
    * deterministic and replayed identically in the oracle), so
    * expansion volume is ≤ 32² rows per node — linear in the corpus.
    * Scoring stays floor-ppm integer cosine, so the whole composition
    * (blocked graph → undirected cap → expansion join → distinct →
    * rescore → rank) replays in DuckDB and hash-verifies; recall
    * dominance over the blocking-only graph is gated in
    * SimilaritySpec (the refined candidate set contains the current
    * top-5 edges, so per-node selections can only improve).
    *
    * The input graph is PERSISTED (the [[ann_lsh_index]] lifecycle —
    * built once per dir as an nid-bucketed table): NN-descent is by
    * nature an UPDATE pass over an existing graph, and a production
    * run applies rounds to the stored artifact rather than re-deriving
    * the blocked graph per round — the registered query times the
    * refinement round, which is what repeats. */
  private val knnGraphBuilt = new java.util.HashSet[String]()
  private def knnGraphTable(s: SparkSession, d: String): String = {
    val tbl = s"knng_${dirTag(d)}"
    knnGraphBuilt.synchronized { if (!knnGraphBuilt.contains(d)) {
      dropIndexTable(s, tbl)
      annKnnGraph(s, d, bands = 16, r = 4, cap = 500L, k = 5)
        .write.mode("overwrite")
        .bucketBy(8, "nid").sortBy("nid")
        .format("parquet").saveAsTable(tbl)
      knnGraphBuilt.add(d)
    } }
    tbl
  }

  def ann_knn_graph_refine(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    knnRefineRound(s, d, s.table(knnGraphTable(s, d)).select($"nid", $"nbr"))
  }

  /** The NN-descent expansion round over an arbitrary blocked top-k
    * graph — [[ann_knn_graph_refine]]'s body, graph-parameterized so
    * the Scale harness can refine a graph blocked at its per-factor
    * banding instead of the registered 16×4 config. */
  private[graft] def knnRefineRound(s: SparkSession, d: String,
      g0: DataFrame): DataFrame = {
    import s.implicits._
    val e = Tables.embeddings(s, d).select($"vec_id", $"embedding")
    val u = g0.unionByName(g0.select($"nbr".as("nid"), $"nid".as("nbr")))
      .distinct()
    val capped = u.withColumn("rn", row_number().over(
        Window.partitionBy($"nid").orderBy($"nbr")))
      .filter($"rn" <= 32).drop("rn")
    val cand2 = capped.as("a").join(capped.as("b"),
        $"a.nbr" === $"b.nid" && $"a.nid" =!= $"b.nbr")
      .select($"a.nid".as("nid"), $"b.nbr".as("nbr"))
    val cand = g0.unionByName(cand2).distinct()
    val scored = cand
      .join(e.select($"vec_id".as("nid"), $"embedding".as("v1")), "nid")
      .join(e.select($"vec_id".as("nbr"), $"embedding".as("v2")), "nbr")
      .select($"nid", $"nbr",
        floor(cosine($"v1", $"v2") * 1e6).cast("long").as("cos_ppm"))
    val out = scored.withColumn("rank", row_number().over(
        Window.partitionBy($"nid").orderBy($"cos_ppm".desc, $"nbr")))
      .filter($"rank" <= 5)
      .select($"nid", $"rank", $"nbr", $"cos_ppm")
    Superstep.output(out).orderBy($"nid", $"rank")
  }

  /** LSH BANDING CAPACITY PLANNER — the report an operator runs
    * BEFORE committing a band width at a new corpus scale (the
    * decision the ann_knn_graph 30×-inflation run showed is
    * load-bearing: a too-narrow r left 117 vectors per bucket and
    * OOM'd the pair join; one step wider ran in 9 s). From ONE
    * signature pass over the same 64 seed-42 hyperplanes every LSH
    * operator here shares, report for each candidate width r ∈ {4, 8,
    * 16} (bands = 64/r): non-empty bucket count, the hottest bucket,
    * and the exact candidate-pair volume Σ C(|bucket|, 2) a
    * self-join at that banding would generate — the number that must
    * stay ~linear in the corpus. Three aggregate sweeps over the one
    * persisted signature (no pair is ever materialized — the planner
    * costs O(N·bands), not O(pairs)); all-integer output with a
    * literal-plane DuckDB replay. */
  def ann_lsh_tuning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val planes = randomPlanes(64, 64)
    val e = Tables.embeddings(s, d)
      .select(hyperplaneSignature($"embedding", planes).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val reports = Seq(4, 8, 16).map { r =>
        val bands = 64 / r
        val mask = (1L << r) - 1
        val keys = (0 until bands).map { b =>
          struct(lit(b).as("band"),
            shiftrightunsigned($"sig", b * r).bitwiseAND(lit(mask)).as("bkey"))
        }
        e.select(explode(array(keys: _*)).as("bk"))
          .groupBy($"bk.band".as("band"), $"bk.bkey".as("bkey"))
          .agg(count(lit(1)).as("n"))
          .agg(count(lit(1)).as("n_buckets"), max($"n").as("max_bucket"),
            sum(expr("n * (n - 1) div 2")).as("cand_pairs"))
          .select(lit(r.toLong).as("r"), lit(bands.toLong).as("bands"),
            $"n_buckets", $"max_bucket", $"cand_pairs")
      }
      Superstep.output(reports.reduce(_.unionByName(_))).orderBy($"r")
    } finally e.unpersist(blocking = false)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_lsh_tuning" -> ann_lsh_tuning _,
    "ann_knn_graph" -> ann_knn_graph _,
    "ann_knn_graph_refine" -> ann_knn_graph_refine _,
    "ann_hybrid_rrf" -> ann_hybrid_rrf _,
    "ann_topk_filtered" -> ann_topk_filtered _,
    "ann_topk_brute" -> ann_topk_brute _,
    "ann_cos_range" -> ann_cos_range _,
    "ann_quantize" -> ann_quantize _,
    "ann_lsh" -> ann_lsh _,
    "ann_lsh_index" -> ann_lsh_index _,
    "ann_lsh_index_probed" -> ann_lsh_index_probed _,
    "ann_ivf_index" -> ann_ivf_index _,
    "ann_hybrid_rrf_index" -> ann_hybrid_rrf_index _,
    "ann_ivf_index_probed" -> ann_ivf_index_probed _,
    "ann_ivf_index_delta" -> ann_ivf_index_delta _,
    "ann_ivf_index_merge" -> ann_ivf_index_merge _,
    "ann_ivfpq_index" -> ann_ivfpq_index _,
    "ann_ivf" -> ann_ivf _,
    "ann_pq" -> ann_pq _,
    "ann_ivfpq" -> ann_ivfpq _)

  /** DuckDB re-derivation of [[ann_lsh_tuning]]: literal planes, one
    * keys CTE per candidate width, bucket rollup + exact pair
    * arithmetic per width, UNION ALL. */
  private def annLshTuningOracleSql: String = {
    val planes = randomPlanes(64, 64)
    val pl = planes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    // two aggregation levels per block: per-vector band key first,
    // then per-(band, key) bucket sizes, then the width rollup
    val blocks = Seq(4, 8, 16).map { r =>
      val bands = 64 / r
      s"""SELECT CAST($r AS BIGINT) AS r, CAST($bands AS BIGINT) AS bands,
         |  CAST(count(*) AS BIGINT) AS n_buckets,
         |  max(n) AS max_bucket,
         |  CAST(sum(n * (n - 1) // 2) AS BIGINT) AS cand_pairs
         |FROM (
         |  SELECT band, bkey, CAST(count(*) AS BIGINT) AS n FROM (
         |    SELECT vec_id, b.band,
         |      CAST(sum(CASE WHEN list_inner_product(vd,
         |            planes[CAST(b.band * $r + j.j + 1 AS BIGINT)]) >= 0
         |          THEN (1 << j.j) ELSE 0 END) AS BIGINT) AS bkey
         |    FROM v, pl, unnest(range($bands)) AS b(band), unnest(range($r)) AS j(j)
         |    GROUP BY vec_id, b.band)
         |  GROUP BY 1, 2)""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |pl AS (SELECT CAST($pl AS DOUBLE[][]) AS planes)
       |$blocks
       |ORDER BY r""".stripMargin
  }

  /** DuckDB re-derivation of [[ann_knn_graph]]: same literal-plane
    * replay as [[annLshOracleSql]], but the band-key table self-joins
    * (capped buckets first) and the rescore ranks on floor-ppm
    * integer cosine per node. */
  /** The shared WITH-chain of the k-NN-graph oracles: literal planes
    * → band keys → capped buckets → self-join candidates → floor-ppm
    * rescore with the per-node rank (CTE `ranked`). */
  private def annKnnGraphChainSql: String = {
    val planes = randomPlanes(16 * 4, 64)
    val pl = planes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |pl AS (SELECT CAST($pl AS DOUBLE[][]) AS planes),
       |keys AS (
       |  SELECT vec_id, b.band,
       |    CAST(sum(CASE WHEN list_inner_product(vd,
       |          planes[CAST(b.band * 4 + j.j + 1 AS BIGINT)]) >= 0
       |        THEN (1 << j.j) ELSE 0 END) AS BIGINT) AS bkey
       |  FROM v, pl, unnest(range(16)) AS b(band), unnest(range(4)) AS j(j)
       |  GROUP BY vec_id, b.band),
       |ok AS (SELECT band, bkey FROM keys GROUP BY 1, 2 HAVING count(*) <= 500),
       |ck AS (SELECT k.* FROM keys k JOIN ok USING (band, bkey)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS nid, b.vec_id AS nbr
       |  FROM ck a JOIN ck b
       |    ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT cand.nid, cand.nbr,
       |    CAST(floor(list_cosine_similarity(x.vd, y.vd) * 1e6) AS BIGINT) AS cos_ppm,
       |    row_number() OVER (PARTITION BY cand.nid
       |      ORDER BY CAST(floor(list_cosine_similarity(x.vd, y.vd) * 1e6) AS BIGINT) DESC,
       |        cand.nbr) AS rank
       |  FROM cand
       |  JOIN v x ON x.vec_id = cand.nid
       |  JOIN v y ON y.vec_id = cand.nbr)""".stripMargin
  }

  private def annKnnGraphOracleSql: String =
    annKnnGraphChainSql + """
       |SELECT nid, CAST(rank AS INTEGER) AS rank, nbr, cos_ppm
       |FROM ranked WHERE rank <= 5 ORDER BY nid, rank""".stripMargin

  /** [[annKnnGraphOracleSql]] extended one NN-descent round: the
    * blocked top-5 graph (g0), its undirected form capped at the
    * first 32 neighbors by id, the neighbor-of-neighbor expansion
    * join, distinct union with g0, exact floor-ppm rescore, re-top-5 —
    * each stage the literal SQL twin of the Spark derivation. */
  private def annKnnGraphRefineOracleSql: String =
    annKnnGraphChainSql + """,
       |g0 AS (SELECT nid, nbr FROM ranked WHERE rank <= 5),
       |uu AS (
       |  SELECT DISTINCT nid, nbr FROM (
       |    SELECT nid, nbr FROM g0 UNION ALL SELECT nbr, nid FROM g0)),
       |uc AS (
       |  SELECT nid, nbr FROM (
       |    SELECT nid, nbr,
       |      row_number() OVER (PARTITION BY nid ORDER BY nbr) AS rn
       |    FROM uu)
       |  WHERE rn <= 32),
       |exp2 AS (
       |  SELECT a.nid, b.nbr
       |  FROM uc a JOIN uc b ON a.nbr = b.nid AND a.nid <> b.nbr),
       |ca AS (
       |  SELECT DISTINCT nid, nbr FROM (
       |    SELECT nid, nbr FROM g0 UNION ALL SELECT nid, nbr FROM exp2)),
       |rr AS (
       |  SELECT ca.nid, ca.nbr,
       |    CAST(floor(list_cosine_similarity(x.vd, y.vd) * 1e6) AS BIGINT) AS cos_ppm,
       |    row_number() OVER (PARTITION BY ca.nid
       |      ORDER BY CAST(floor(list_cosine_similarity(x.vd, y.vd) * 1e6) AS BIGINT) DESC,
       |        ca.nbr) AS rank
       |  FROM ca
       |  JOIN v x ON x.vec_id = ca.nid
       |  JOIN v y ON y.vec_id = ca.nbr)
       |SELECT nid, CAST(rank AS INTEGER) AS rank, nbr, cos_ppm
       |FROM rr WHERE rank <= 5 ORDER BY nid, rank""".stripMargin

  /** DuckDB re-derivation of [[ann_lsh]] — the hyperplane-LSH
    * candidate generation itself verified on a second engine (the
    * embedding analogue of the r11 minhash-LSH oracle): the 64
    * seed-42 Gaussian hyperplanes are inlined as a DOUBLE[][] literal
    * (Double.toString round-trips exactly, so both engines hold
    * bit-identical planes), each signature bit is the sign of
    * `list_inner_product(vec, plane)` — the same left-to-right
    * widened-float accumulation as the codegen'd HyperplaneSigExpr, so
    * doubles match bit for bit exactly as the list_cosine_similarity
    * oracles already rely on — 4-bit band keys re-assembled per
    * (band, key), candidates via the band equi-join + DISTINCT, exact
    * cosine rescoring and the (cos DESC, nid) top-5 window, identical
    * on both engines. A single sign flip anywhere in the 64 × corpus
    * dot products would change the candidate set and fail the hash —
    * this is the strongest available check that the LSH blocking is
    * deterministic and engine-independent. */
  /** [[annLshOracleSql]] with MULTI-PROBE query keys: each query band
    * key fans out to itself plus its 4 single-bit flips via xor()
    * (flip masks 0/1/2/4/8 — 0 is the exact key), re-deriving exactly
    * the probe set the Spark side's bitwiseXOR explode builds. The
    * corpus keys stay exact — probing is query-side only, matching the
    * persisted-index contract. */
  private def annLshProbedOracleSql: String = {
    val planes = randomPlanes(16 * 4, 64)
    val pl = planes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |pl AS (SELECT CAST($pl AS DOUBLE[][]) AS planes),
       |keys AS (
       |  SELECT vec_id, b.band,
       |    CAST(sum(CASE WHEN list_inner_product(vd,
       |          planes[CAST(b.band * 4 + j.j + 1 AS BIGINT)]) >= 0
       |        THEN (1 << j.j) ELSE 0 END) AS BIGINT) AS bkey
       |  FROM v, pl, unnest(range(16)) AS b(band), unnest(range(4)) AS j(j)
       |  GROUP BY vec_id, b.band),
       |qkeys AS (
       |  SELECT vec_id, band,
       |    CAST(xor(bkey, CAST(f.f AS BIGINT)) AS BIGINT) AS bkey
       |  FROM keys, unnest([0, 1, 2, 4, 8]) AS f(f)
       |  WHERE vec_id < 16),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM qkeys q JOIN keys c ON q.band = c.band AND q.bkey = c.bkey
       |  WHERE c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT cand.qid, cand.nid,
       |    list_cosine_similarity(a.vd, b2.vd) AS cos,
       |    row_number() OVER (PARTITION BY cand.qid
       |      ORDER BY list_cosine_similarity(a.vd, b2.vd) DESC, cand.nid) AS rank
       |  FROM cand
       |  JOIN v a ON a.vec_id = cand.qid
       |  JOIN v b2 ON b2.vec_id = cand.nid)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  private def annLshOracleSql: String = {
    val planes = randomPlanes(16 * 4, 64)
    val pl = planes.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |pl AS (SELECT CAST($pl AS DOUBLE[][]) AS planes),
       |keys AS (
       |  SELECT vec_id, b.band,
       |    CAST(sum(CASE WHEN list_inner_product(vd,
       |          planes[CAST(b.band * 4 + j.j + 1 AS BIGINT)]) >= 0
       |        THEN (1 << j.j) ELSE 0 END) AS BIGINT) AS bkey
       |  FROM v, pl, unnest(range(16)) AS b(band), unnest(range(4)) AS j(j)
       |  GROUP BY vec_id, b.band),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS qid, c.vec_id AS nid
       |  FROM keys q JOIN keys c ON q.band = c.band AND q.bkey = c.bkey
       |  WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id),
       |ranked AS (
       |  SELECT cand.qid, cand.nid,
       |    list_cosine_similarity(a.vd, b2.vd) AS cos,
       |    row_number() OVER (PARTITION BY cand.qid
       |      ORDER BY list_cosine_similarity(a.vd, b2.vd) DESC, cand.nid) AS rank
       |  FROM cand
       |  JOIN v a ON a.vec_id = cand.qid
       |  JOIN v b2 ON b2.vec_id = cand.nid)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(cos, 6) AS cos_sim
       |FROM ranked WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB re-derivation of [[ann_hybrid_rrf]] end to end: both
    * legs' integer scores (floor-ppm cosine per the ann_cos_range
    * rule; distinct word-3-gram Jaccard in exact ppm over the SAME
    * hashed gram sets the Spark kernel computes — the dedup family's
    * [[Dedup.gramSql]] re-derivation, restricted to docs carrying
    * embeddings), both rank-≤ 50 windows with the (score DESC, nid)
    * tiebreak, and the integer Σ 1000000 div (60 + rank) fusion with
    * the final top-10 window. Every rank orders on an INTEGER, so a
    * 1-ULP cross-engine cosine wobble cannot flip adjacent ranks and
    * the whole composition hash-verifies — a single differing gram
    * hash anywhere would shift an inter count and fail the gate. */
  private def annHybridRrfOracleSql: String =
    Dedup.gramSql + "," + """
      |it AS (
      |  SELECT d.doc_id, CAST(e.embedding AS DOUBLE[]) AS vd
      |  FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id),
      |vec AS (
      |  SELECT q.doc_id AS qid, c.doc_id AS nid,
      |    CAST(floor(list_cosine_similarity(q.vd, c.vd) * 1e6) AS BIGINT)
      |      AS score
      |  FROM it q, it c WHERE q.doc_id < 16 AND c.doc_id <> q.doc_id),
      |vr AS (
      |  SELECT qid, nid, rank FROM (
      |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, nid) AS rank FROM vec)
      |  WHERE rank <= 50),
      |ug AS (
      |  SELECT u.doc_id, u.gram FROM u
      |  JOIN it ON it.doc_id = u.doc_id),
      |nn AS (SELECT doc_id, count(*) AS n FROM ug GROUP BY 1),
      |lx AS (
      |  SELECT qg.doc_id AS qid, dg.doc_id AS nid, count(*) AS inter
      |  FROM ug dg JOIN ug qg USING (gram)
      |  WHERE qg.doc_id < 16 AND dg.doc_id <> qg.doc_id
      |  GROUP BY 1, 2),
      |ls AS (
      |  SELECT qid, nid, inter * 1000000 // (qn.n + dn.n - inter) AS score
      |  FROM lx JOIN nn qn ON qn.doc_id = lx.qid
      |          JOIN nn dn ON dn.doc_id = lx.nid),
      |lr AS (
      |  SELECT qid, nid, rank FROM (
      |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
      |      ORDER BY score DESC, nid) AS rank FROM ls)
      |  WHERE rank <= 50),
      |legs AS (
      |  SELECT qid, nid, rank, 'vec' AS leg FROM vr
      |  UNION ALL
      |  SELECT qid, nid, rank, 'lex' AS leg FROM lr),
      |fused AS (
      |  SELECT qid, nid,
      |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_score,
      |    CAST(max(CASE WHEN leg = 'vec' THEN rank ELSE -1 END) AS BIGINT)
      |      AS vec_rank,
      |    CAST(max(CASE WHEN leg = 'lex' THEN rank ELSE -1 END) AS BIGINT)
      |      AS lex_rank
      |  FROM legs GROUP BY 1, 2)
      |SELECT qid, CAST(fused_rank AS INTEGER) AS fused_rank, nid,
      |  rrf_score, vec_rank, lex_rank
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY qid
      |    ORDER BY rrf_score DESC, nid) AS fused_rank FROM fused)
      |WHERE fused_rank <= 10 ORDER BY qid, fused_rank""".stripMargin

  /** DuckDB replay of [[ann_hybrid_rrf_index]]: the IVF leg re-derived
    * from the inlined trained centroids (the [[annIvfOracleSql]]
    * assignment/probe chain, scored floor-ppm, rank ≤ 50), the lexical
    * leg from a string_split re-derivation of the postings (the
    * text_search_index oracle's idf-ratio weighting, query terms =
    * each query doc's distinct terms), fused with the same integer
    * RRF tail as [[annHybridRrfOracleSql]]. */
  private def annHybridRrfIndexOracleSql(cents: Array[Array[Double]]): String = {
    val cl = cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |ce AS (SELECT CAST($cl AS DOUBLE[][]) AS cents),
       |ad AS (
       |  SELECT vec_id, vd, u.cid AS cid,
       |    1.0 - list_cosine_similarity(vd, cents[CAST(u.cid + 1 AS BIGINT)])
       |      AS dist
       |  FROM v, ce, unnest(range(${cents.length})) AS u(cid)),
       |rn AS (
       |  SELECT vec_id, vd, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM ad),
       |corpus AS (
       |  SELECT vec_id AS nid, vd AS nvd, cid AS cell FROM rn WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, vd AS qvd, cid AS cell FROM rn
       |  WHERE vec_id < 16 AND rn <= 8),
       |vsc AS (
       |  SELECT p.qid, c.nid,
       |    CAST(floor(list_cosine_similarity(p.qvd, c.nvd) * 1e6) AS BIGINT)
       |      AS score
       |  FROM corpus c JOIN probes p USING (cell) WHERE c.nid <> p.qid),
       |vr AS (
       |  SELECT qid, nid, rank FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, nid) AS rank FROM vsc)
       |  WHERE rank <= 50),
       |post AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
       |    SELECT doc_id,
       |      unnest(list_filter(string_split(lower(text), ' '), w -> w <> ''))
       |        AS term
       |    FROM documents)
       |  GROUP BY 1, 2),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
       |qt AS (SELECT DISTINCT doc_id AS qid, term FROM post WHERE doc_id < 16),
       |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
       |wq AS (
       |  SELECT qt.qid, qt.term,
       |    least(1000000000000,
       |      (nn.n // df) * 1000000 + ((nn.n % df) * 1000000) // df) AS w_ppm
       |  FROM qt JOIN dfreq USING (term) CROSS JOIN nn),
       |lsc AS (
       |  SELECT wq.qid, post.doc_id AS nid,
       |    CAST(sum(post.tf * wq.w_ppm) AS BIGINT) AS score
       |  FROM post JOIN wq USING (term)
       |  WHERE post.doc_id <> wq.qid
       |  GROUP BY 1, 2),
       |lr AS (
       |  SELECT qid, nid, rank FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |      ORDER BY score DESC, nid) AS rank FROM lsc)
       |  WHERE rank <= 50),
       |legs AS (
       |  SELECT qid, nid, rank, 'vec' AS leg FROM vr
       |  UNION ALL
       |  SELECT qid, nid, rank, 'lex' AS leg FROM lr),
       |fused AS (
       |  SELECT qid, nid,
       |    CAST(sum(1000000 // (60 + rank)) AS BIGINT) AS rrf_score,
       |    CAST(max(CASE WHEN leg = 'vec' THEN rank ELSE -1 END) AS BIGINT)
       |      AS vec_rank,
       |    CAST(max(CASE WHEN leg = 'lex' THEN rank ELSE -1 END) AS BIGINT)
       |      AS lex_rank
       |  FROM legs GROUP BY 1, 2)
       |SELECT qid, CAST(fused_rank AS INTEGER) AS fused_rank, nid,
       |  rrf_score, vec_rank, lex_rank
       |FROM (
       |  SELECT *, row_number() OVER (PARTITION BY qid
       |    ORDER BY rrf_score DESC, nid) AS fused_rank FROM fused)
       |WHERE fused_rank <= 10 ORDER BY qid, fused_rank""".stripMargin
  }

  /** DuckDB literal-replay oracle for [[ann_ivf]] — the ann_lsh
    * playbook extended to TRAINED parameters: the centroids this run's
    * Lloyd pass produced are inlined as a DOUBLE[][] literal
    * (Double.toString round-trips exactly), and every stage downstream
    * of training is re-derived on the second engine — corpus cell
    * assignment as the lexicographic (dist, cid) argmin over the 32
    * literal centroids (dist = 1.0 − list_cosine_similarity, the same
    * two IEEE ops as the codegen'd argmin), per-query probe choice as
    * the 8 smallest (dist, cid) cells, candidates via the cell
    * equi-join, exact cosine rescore, (cos DESC, nid) top-5 window.
    * A single flipped assignment or probe anywhere would change the
    * candidate set and fail the hash. Training itself is covered by
    * SimilaritySpec's recall + nprobe=k≡brute gates; its avg()
    * reduction order is why the oracle replays rather than re-trains. */
  private def annIvfOracleSql(cents: Array[Array[Double]], nprobe: Int): String = {
    val cl = cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |ce AS (SELECT CAST($cl AS DOUBLE[][]) AS cents),
       |ad AS (
       |  SELECT vec_id, vd, u.cid AS cid,
       |    1.0 - list_cosine_similarity(vd, cents[CAST(u.cid + 1 AS BIGINT)])
       |      AS dist
       |  FROM v, ce, unnest(range(${cents.length})) AS u(cid)),
       |rn AS (
       |  SELECT vec_id, vd, cid, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY dist, cid) AS rn FROM ad),
       |corpus AS (
       |  SELECT vec_id AS nid, vd AS nvd, cid AS cell FROM rn WHERE rn = 1),
       |probes AS (
       |  SELECT vec_id AS qid, vd AS qvd, cid AS cell FROM rn
       |  WHERE vec_id < 16 AND rn <= $nprobe),
       |scored AS (
       |  SELECT p.qid, c.nid, list_cosine_similarity(p.qvd, c.nvd) AS cos
       |  FROM corpus c JOIN probes p USING (cell) WHERE c.nid <> p.qid)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(cos, 6) AS cos_sim
       |FROM (
       |  SELECT qid, nid, cos, row_number() OVER (PARTITION BY qid
       |    ORDER BY cos DESC, nid) AS rank FROM scored)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB literal-replay oracle for [[ann_pq]]: the trained
    * codebooks AND the per-query ADC lookup tables are driver-held
    * constants baked into the Spark plan as literals, so both are
    * inlined verbatim (the |c|² argmin constants re-rendered with the
    * identical driver arithmetic) and the second engine re-derives
    * per-subspace encoding (lexicographic (dist, code) argmin over
    * |c|² − 2⟨sub,c⟩ — list_inner_product matches the fused dot
    * kernel bit for bit), the 8-term left-associated ADC sum, the
    * (adc DESC, nid) top-`rerank` window, and the exact-cosine top-5
    * rescore. One flipped code or ADC bit changes the rerank set and
    * fails the hash. */
  private def annPqOracleSql(books: Array[Array[Array[Double]]],
      qTabs: Seq[(Long, Seq[Double])], rerank: Int): String = {
    val m = books.length; val ks = books(0).length; val ds = books(0)(0).length
    val bl = books.map(_.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    // identical driver arithmetic to the plan's lit(c.map(x => x*x).sum)
    val csq = books.map(_.map(c => c.map(x => x * x).sum)
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val qv = qTabs.map { case (qid, tab) =>
      s"(CAST($qid AS BIGINT), CAST(${tab.mkString("[", ",", "]")} AS DOUBLE[]))"
    }.mkString(",")
    val adcChain = (0 until m).map(mi =>
      s"qt.tab[${mi * ks} + c.codes[${mi + 1}] + 1]").mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |bk AS (SELECT CAST($bl AS DOUBLE[][][]) AS books,
       |  CAST($csq AS DOUBLE[][]) AS csq),
       |sub AS (
       |  SELECT vec_id, mi.mi AS mi, kk.k AS k,
       |    csq[mi.mi + 1][kk.k + 1] - 2.0 * list_inner_product(
       |      vd[mi.mi * $ds + 1:mi.mi * $ds + $ds],
       |      books[mi.mi + 1][kk.k + 1]) AS dist
       |  FROM v, bk, unnest(range($m)) AS mi(mi), unnest(range($ks)) AS kk(k)),
       |codes AS (
       |  SELECT vec_id, list(k ORDER BY mi) AS codes FROM (
       |    SELECT vec_id, mi, k, row_number() OVER (PARTITION BY vec_id, mi
       |      ORDER BY dist, k) AS rn FROM sub)
       |  WHERE rn = 1 GROUP BY vec_id),
       |qt AS (SELECT * FROM (VALUES $qv) AS t(qid, tab)),
       |adc AS (
       |  SELECT qt.qid, c.vec_id AS nid, $adcChain AS adc
       |  FROM codes c, qt WHERE c.vec_id <> qt.qid),
       |cand AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc DESC, nid) AS rk FROM adc)
       |  WHERE rk <= $rerank)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(cos, 6) AS cos_sim
       |FROM (
       |  SELECT cand.qid, cand.nid, list_cosine_similarity(a.vd, b.vd) AS cos,
       |    row_number() OVER (PARTITION BY cand.qid
       |      ORDER BY list_cosine_similarity(a.vd, b.vd) DESC, cand.nid) AS rank
       |  FROM cand JOIN v a ON a.vec_id = cand.qid
       |            JOIN v b ON b.vec_id = cand.nid)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** DuckDB literal-replay oracle for [[ann_ivfpq]] — [[annPqOracleSql]]
    * composed with the coarse quantizer: coarse centroids, residual
    * codebooks AND the driver-computed probe rows (qid, probed cell,
    * ⟨q,c⟩ scalar, ADC table) all inlined; the second engine
    * re-derives cell assignment (the ann_ivf argmin), the elementwise
    * residual vec − centroid[cell], residual encoding, the
    * qcip + (8-term ADC chain) score over the probed-cell equi-join,
    * top-`rerank`, and the exact-cosine top-5 rescore. */
  private def annIvfPqOracleSql(cents: Array[Array[Double]],
      books: Array[Array[Array[Double]]],
      probeRows: Seq[(Long, Int, Double, Seq[Double])], rerank: Int): String = {
    val m = books.length; val ks = books(0).length; val ds = books(0)(0).length
    val dim = cents(0).length
    val cl = cents.map(_.mkString("[", ",", "]")).mkString("[", ",", "]")
    val bl = books.map(_.map(_.mkString("[", ",", "]"))
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val csq = books.map(_.map(c => c.map(x => x * x).sum)
      .mkString("[", ",", "]")).mkString("[", ",", "]")
    val pv = probeRows.map { case (qid, cell, qcip, tab) =>
      s"(CAST($qid AS BIGINT), $cell, CAST($qcip AS DOUBLE), " +
        s"CAST(${tab.mkString("[", ",", "]")} AS DOUBLE[]))"
    }.mkString(",")
    val adcChain = (0 until m).map(mi =>
      s"pr.tab[${mi * ks} + c.codes[${mi + 1}] + 1]").mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vd FROM embeddings),
       |ce AS (SELECT CAST($cl AS DOUBLE[][]) AS cents),
       |bk AS (SELECT CAST($bl AS DOUBLE[][][]) AS books,
       |  CAST($csq AS DOUBLE[][]) AS csq),
       |ad AS (
       |  SELECT vec_id, vd, u.cid AS cid,
       |    1.0 - list_cosine_similarity(vd, cents[u.cid + 1]) AS dist
       |  FROM v, ce, unnest(range(${cents.length})) AS u(cid)),
       |asg AS (
       |  SELECT vec_id, vd, cid AS cell FROM (
       |    SELECT *, row_number() OVER (PARTITION BY vec_id
       |      ORDER BY dist, cid) AS rn FROM ad)
       |  WHERE rn = 1),
       |res AS (
       |  SELECT vec_id, cell, list_transform(range(1, ${dim + 1}),
       |    j -> vd[j] - cents[cell + 1][j]) AS rs
       |  FROM asg, ce),
       |sub AS (
       |  SELECT vec_id, cell, mi.mi AS mi, kk.k AS k,
       |    csq[mi.mi + 1][kk.k + 1] - 2.0 * list_inner_product(
       |      rs[mi.mi * $ds + 1:mi.mi * $ds + $ds],
       |      books[mi.mi + 1][kk.k + 1]) AS dist
       |  FROM res, bk, unnest(range($m)) AS mi(mi), unnest(range($ks)) AS kk(k)),
       |codes AS (
       |  SELECT vec_id, cell, list(k ORDER BY mi) AS codes FROM (
       |    SELECT vec_id, cell, mi, k, row_number() OVER (
       |      PARTITION BY vec_id, mi ORDER BY dist, k) AS rn FROM sub)
       |  WHERE rn = 1 GROUP BY vec_id, cell),
       |pr AS (SELECT * FROM (VALUES $pv) AS t(qid, cell, qcip, tab)),
       |adc AS (
       |  SELECT pr.qid, c.vec_id AS nid, pr.qcip + ($adcChain) AS adc
       |  FROM codes c JOIN pr ON c.cell = pr.cell AND c.vec_id <> pr.qid),
       |cand AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, row_number() OVER (PARTITION BY qid
       |      ORDER BY adc DESC, nid) AS rk FROM adc)
       |  WHERE rk <= $rerank)
       |SELECT qid, CAST(rank AS INTEGER) AS rank, nid, round(cos, 6) AS cos_sim
       |FROM (
       |  SELECT cand.qid, cand.nid, list_cosine_similarity(a.vd, b.vd) AS cos,
       |    row_number() OVER (PARTITION BY cand.qid
       |      ORDER BY list_cosine_similarity(a.vd, b.vd) DESC, cand.nid) AS rank
       |  FROM cand JOIN v a ON a.vec_id = cand.qid
       |            JOIN v b ON b.vec_id = cand.nid)
       |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  }

  /** def, not val: the ann_ivf / ann_pq / ann_ivfpq entries replay
    * THIS run's trained parameters ([[lastIvfCents]],
    * [[lastPqTrained]], [[lastIvfPqTrained]]) and so can only be
    * rendered after the queries have executed — Verify/VerifySubset
    * run every query before dumping oracle SQL. Absent a prior run
    * each entry is omitted and the driver records the rows-only
    * check, never a stale or fabricated oracle. */
  def oracle: Map[String, String] = Option(lastIvfCents.get())
    .map(c => Map("ann_ivf" -> annIvfOracleSql(c, nprobe = 8)))
    .getOrElse(Map.empty) ++
    // same replay over the PERSISTED index's own trained centroids
    // (two trainings have no cross-run bit determinism, so each memo
    // feeds only its own oracle); per-dir memos looked up for the
    // LAST-SEARCHED dir — the dir Verify just ran every query on
    Option(lastIvfIndexDir.get()).flatMap(dd => Option(ivfIndexCents.get(dd)))
      .map(c => Map(
        "ann_ivf_index" -> annIvfOracleSql(c, nprobe = 8),
        // same index, same centroids, wider query-side probe set
        "ann_ivf_index_probed" -> annIvfOracleSql(c, nprobe = 16),
        // hybrid fusion served from the same IVF index + the
        // string_split postings re-derivation
        "ann_hybrid_rrf_index" -> annHybridRrfIndexOracleSql(c)))
      .getOrElse(Map.empty) ++
    // the full-corpus replay over the DELTA index's frozen centroids:
    // hash-match here IS the merge-equals-recompute theorem
    Option(lastIvfDeltaDir.get()).flatMap(dd => Option(ivfDeltaCents.get(dd)))
      .map(c => Map("ann_ivf_index_delta" -> annIvfOracleSql(c, nprobe = 8)))
      .getOrElse(Map.empty) ++
    // the full-corpus replay over the MERGE leg's frozen snapshot
    // centroids: the merged lists hold exactly assign(re-embedded
    // corpus, cents), so hash-match IS merge-equals-rebuild on the
    // vector tier (stale list entries deleted, moved cells rewritten)
    Option(lastIvfMergeDir.get()).flatMap(dd => Option(ivfMergeCents.get(dd)))
      .map(c => Map("ann_ivf_index_merge" -> annIvfOracleSql(c, nprobe = 8)))
      .getOrElse(Map.empty) ++
    Option(lastPqTrained.get())
      .map { case (b, t) => Map("ann_pq" -> annPqOracleSql(b, t, rerank = 64)) }
      .getOrElse(Map.empty) ++
    Option(lastIvfPqTrained.get())
      .map { case (c, b, p) =>
        Map("ann_ivfpq" -> annIvfPqOracleSql(c, b, p, rerank = 64)) }
      .getOrElse(Map.empty) ++
    Option(lastIvfPqIndexDir.get()).flatMap(dd => Option(ivfPqIndexTrained.get(dd)))
      .map { case (c, b, p) =>
        Map("ann_ivfpq_index" -> annIvfPqOracleSql(c, b, p, rerank = 64)) }
      .getOrElse(Map.empty) ++ Map(
    "ann_hybrid_rrf" -> annHybridRrfOracleSql,
    "ann_lsh_tuning" -> annLshTuningOracleSql,
    "ann_knn_graph" -> annKnnGraphOracleSql,
    "ann_knn_graph_refine" -> annKnnGraphRefineOracleSql,
    "ann_lsh" -> annLshOracleSql,
    // identical result by construction (same planes/banding/rescore),
    // so the identical replay oracle — same answer, different
    // physical path, both hash-verified
    "ann_lsh_index" -> annLshOracleSql,
    "ann_lsh_index_probed" -> annLshProbedOracleSql,
    "ann_topk_filtered" ->
      """SELECT qid, qlabel, rank, nid, round(cos, 6) AS cos_sim FROM (
        |  SELECT q.vec_id AS qid, q.label AS qlabel, c.vec_id AS nid,
        |   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |     CAST(c.embedding AS DOUBLE[])) AS cos,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |       CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id AND c.label = q.label)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "ann_topk_brute" ->
      """SELECT qid, rank, nid, round(cos, 6) AS cos_sim FROM (
        |  SELECT q.vec_id AS qid, c.vec_id AS nid,
        |   list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |     CAST(c.embedding AS DOUBLE[])) AS cos,
        |   row_number() OVER (PARTITION BY q.vec_id
        |     ORDER BY list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |       CAST(c.embedding AS DOUBLE[])) DESC, c.vec_id) AS rank
        |  FROM embeddings q, embeddings c
        |  WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id)
        |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "ann_quantize" ->
      """WITH t AS (
        | SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e,
        |  list_max(list_transform(CAST(embedding AS DOUBLE[]), x -> abs(x))) AS m
        | FROM embeddings)
        |SELECT vec_id,
        | CAST(floor(m * 1e6) AS BIGINT) AS maxabs_ppm,
        | array_to_string(list_transform(e,
        |   x -> CAST(round(x * 127.0 / (CASE WHEN m = 0 THEN 1.0 ELSE m END)) AS BIGINT)),
        |  ',') AS q8
        |FROM t ORDER BY vec_id""".stripMargin,
    "ann_cos_range" ->
      """SELECT qid, nid, cos_ppm FROM (
        | SELECT q.vec_id AS qid, c.vec_id AS nid,
        |  CAST(floor(list_cosine_similarity(CAST(q.embedding AS DOUBLE[]),
        |    CAST(c.embedding AS DOUBLE[])) * 1e6) AS BIGINT) AS cos_ppm
        | FROM embeddings q, embeddings c
        | WHERE q.vec_id < 16 AND c.vec_id <> q.vec_id)
        |WHERE cos_ppm >= 300000
        |ORDER BY qid, nid""".stripMargin)
}
