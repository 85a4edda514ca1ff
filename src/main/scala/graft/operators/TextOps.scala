package graft.operators

import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.{CdcChunksExpr, GraftExpressions, WinnowStatsExpr}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** §2.7 Text analysis for training-data curation: quality scoring,
  * token counting, language ID, fingerprinting. All per-row map work —
  * no shuffles — so these pipeline at scan speed over 100 TB.
  */
object TextOps {

  private val stopwords = Seq("the", "a", "an", "of", "and", "to", "in", "is", "it")

  /** Length / punctuation / stopword / uniqueness heuristics + a
    * composite quality score (C4/Gopher-style rule scoring). Ratios
    * and score are exact integer ppm (‰ for avg word length). */
  def text_quality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = tokens($"text")
    val nWords = size(t).cast("long")
    val nStop = size(filter(t, w => w.isInCollection(stopwords))).cast("long")
    val nUniq = size(array_distinct(t)).cast("long")
    val nPunct = (length($"text") -
      length(regexp_replace($"text", "[.!?,;:]", ""))).cast("long")
    // All ratios are EXACT INTEGER ppm (integral division — truncation
    // on both engines): the rounded-double form survived sf0.01 but at
    // sf0.1 hit the classic midpoint (0.5 × a 4-decimal ratio lands on
    // .xxxx5 exactly, which Spark's BigDecimal HALF_UP and DuckDB's
    // float round resolve differently — 20 hash-breaking rows). Same
    // rule as text_token_hist/text_tfidf/ev_anomaly.
    Tables.documents(s, d)
      .select($"doc_id", length($"text").cast("long").as("n_chars_m"),
        nWords.as("n_words"), nPunct.as("n_punct"),
        nStop.as("nstop_tmp"), nUniq.as("nuniq_tmp"),
        length(regexp_replace($"text", " ", "")).cast("long").as("nosp_tmp"))
      .withColumn("stopword_ppm",
        when($"n_words" === 0, 0L)
          .otherwise(expr("nstop_tmp * 1000000 div n_words")))
      .withColumn("uniq_ppm",
        when($"n_words" === 0, 0L)
          .otherwise(expr("nuniq_tmp * 1000000 div n_words")))
      .withColumn("avg_wlen_milli",
        when($"n_words" === 0, 0L)
          .otherwise(expr("nosp_tmp * 1000 div n_words")))
      .withColumn("quality_ppm",
        expr("""uniq_ppm * (CASE WHEN n_words >= 20 THEN 2 ELSE 1 END)
               | * (CASE WHEN stopword_ppm > 10000 THEN 5 ELSE 4 END) div 10""".stripMargin))
      .select($"doc_id", $"n_chars_m", $"n_words", $"stopword_ppm",
        $"uniq_ppm", $"n_punct", $"avg_wlen_milli", $"quality_ppm")
      .orderBy($"doc_id")
  }

  /** Whitespace + BPE-ish regex token counts per document. */
  def text_tokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id",
        size(tokens($"text")).cast("long").as("n_ws_tokens"),
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_bpe_tokens"),
        length($"text").cast("long").as("n_chars_m"))
      .orderBy($"doc_id")
  }

  /** N-gram-heuristic language ID: score each language's stopword/
    * marker profile against the token set, argmax wins. (The synthetic
    * corpus is English-vocabulary throughout, so this reports what the
    * heuristic actually sees — prediction + labeled lang.) */
  def text_langid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val profiles: Seq[(String, Seq[String])] = Seq(
      "en" -> Seq("the", "a", "of", "and", "is", "to", "in"),
      "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
      "es" -> Seq("el", "la", "y", "los", "las", "un", "una"),
      "de" -> Seq("der", "die", "und", "das", "ein", "eine", "ist"),
      "zh" -> Seq("de", "shi", "le", "zai", "you", "wo", "ta"))
    val t = tokens($"text")
    val scored = profiles.map { case (lang, words) =>
      struct(size(filter(t, w => w.isInCollection(words))).as("score"),
        lit(lang).as("lang"))
    }
    Tables.documents(s, d)
      .select($"doc_id", $"lang".as("labeled_lang"),
        greatest(scored: _*).getField("lang").as("pred_lang"),
        greatest(scored: _*).getField("score").cast("long").as("pred_score"))
      .orderBy($"doc_id")
  }

  /** Winnowing-style rolling-hash fingerprint: char-5-gram hashes,
    * window-8 minima, fingerprint = FNV fold of the distinct minima —
    * all in one codegen'd pass ([[WinnowStatsExpr]]; the column-level
    * slice/array_min formulation was O(grams²) interpreted and hung the
    * sf0.1 bench once the sink materialized it). */
  def text_fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stats = GraftExpressions.toColumn(
      WinnowStatsExpr(GraftExpressions.toExpr($"text"), 5, 8))
    Tables.documents(s, d)
      .select($"doc_id", stats.as("st"))
      .select($"doc_id", $"st".getItem(0).as("n_grams"),
        $"st".getItem(1).as("n_selected"), $"st".getItem(2).as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** CHUNK-LEVEL deduplication report via content-defined chunking —
    * the granularity between [[graft.operators.Dedup.dedup_exact]]
    * (whole-document) and shingle similarity: documents that share
    * long verbatim SPANS (boilerplate headers, quoted passages, the
    * planted near-dup prefixes in this corpus) deduplicate at the
    * chunk level even when no whole document matches. The boundary
    * scheme is LBFS/FastCDC-style Gear rolling hash
    * ([[graft.functions.ExprKernels.cdcChunks]] — codegen'd, one
    * sequential pass per row, mean chunk 64 B); chunks then dedupe on
    * their FNV64 content hash per source.
    *
    * Scale: chunking is a pure per-row map (boundaries are functions
    * of a 10-byte window — no cross-row or cross-chunk state), the
    * explode is bounded by chunks-per-doc, and both aggregations are
    * map-side-combined shuffles on (source, h, len) then (source). At
    * 100 TB this is the scan + one shuffle a chunk-store ingest does.
    * The full kernel — gear table from fmix64, lag-window boundary
    * recomputation, per-chunk FNV fold — is re-expressed in DuckDB,
    * so the hash oracle verifies every boundary and every chunk hash
    * on a second engine (KernelSpec additionally pins the incremental
    * kernel against a naive positional re-derivation). */
  def text_cdc_chunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val chunks = GraftExpressions.toColumn(
      CdcChunksExpr(GraftExpressions.toExpr($"text")))
    Tables.documents(s, d)
      .select($"source", chunks.as("c"))
      .filter(size($"c") > 0)
      // r20: index explode + subscript instead of an array-of-structs
      // transform — one InternalRow allocation per chunk removed (the
      // dedup_cdc gc_top fix; same rows)
      .select($"source", $"c",
        explode(expr("sequence(0, size(c) div 3 - 1)")).as("i"))
      .select($"source", expr("c[3*i+1]").as("len"), expr("c[3*i+2]").as("h"))
      .groupBy($"source", $"h", $"len")
      .agg(count(lit(1)).as("cnt"))
      .groupBy($"source")
      .agg(sum($"cnt").as("n_chunks"),
        count(lit(1)).as("uniq_chunks"),
        sum($"len" * $"cnt").as("n_bytes"),
        sum($"len" * ($"cnt" - 1L)).as("dup_bytes"),
        max($"len").as("max_chunk"))
      .withColumn("dup_ppm", expr("dup_bytes * 1000000 div n_bytes"))
      .orderBy($"source")
  }

  /** The quality-score + filter stage of the curation pipeline, shared
    * VERBATIM by [[text_pipeline]] (batch) and
    * [[graft.streaming.StreamingOps.curateStream]] (streaming): input
    * any relation with (doc_id, text), output the curated candidates
    * plus the content hash `h` the dedup stage keys on. Every column is
    * a stateless per-row map — legal in a streaming plan, scan-speed in
    * batch. An `ingest_ts` column, if present, passes through (the
    * streaming form watermarks on it). */
  /** [[curationScored]] WITHOUT the keep filter — every doc scored,
    * for consumers that account for the drops ([[text_curation_funnel]]). */
  def curationScoredAll(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val t = tokens($"text")
    val nWords = size(t).cast("long")
    val nStop = size(filter(t, w => w.isInCollection(stopwords))).cast("long")
    val nUniq = size(array_distinct(t)).cast("long")
    val passthrough =
      docs.columns.filter(c => c == "ingest_ts" || c == "source").map(col).toSeq
    docs
      .select(Seq($"doc_id", md5($"text".cast("binary")).as("h"),
        nWords.as("n_words"), nStop.as("nstop_tmp"),
        nUniq.as("nuniq_tmp")) ++ passthrough: _*)
      .withColumn("stopword_ppm", when($"n_words" === 0, 0L)
        .otherwise(expr("nstop_tmp * 1000000 div n_words")))
      .withColumn("uniq_ppm", when($"n_words" === 0, 0L)
        .otherwise(expr("nuniq_tmp * 1000000 div n_words")))
      .withColumn("quality_ppm",
        expr("""uniq_ppm * (CASE WHEN n_words >= 20 THEN 2 ELSE 1 END)
               | * (CASE WHEN stopword_ppm > 10000 THEN 5 ELSE 4 END) div 10""".stripMargin))
      .drop("nstop_tmp", "nuniq_tmp")
  }

  def curationScored(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    curationScoredAll(docs).filter($"n_words" >= 10 && $"quality_ppm" >= 500000L)
  }

  /** END-TO-END curation pipeline — the composition a training-data
    * run actually executes: score quality → drop short/low-quality
    * docs → drop exact-duplicate non-keepers → emit the curated set.
    * The quality stage is [[curationScored]] (scan-speed map, shared
    * verbatim with the streaming form); the dedup stage keeps each
    * content hash's min doc_id via a window min — ONE scan and ONE
    * shuffle on the content hash (a groupBy-keepers + join-back
    * self-join would recompute the scoring lineage once per join
    * side). Hash-oracled end to end — this is the one dedup-involving
    * query whose FULL composition the DuckDB oracle can verify. */
  def text_pipeline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val scored = curationScored(Tables.documents(s, d))
    scored
      .withColumn("keeper",
        min($"doc_id").over(org.apache.spark.sql.expressions.Window.partitionBy($"h")))
      .filter($"doc_id" === $"keeper")
      .select($"doc_id", $"n_words", $"quality_ppm")
      .orderBy($"doc_id")
  }

  /** The FULL near-dup curation path as ONE registered query — what a
    * training-data pipeline actually ships end to end:
    * [[text_pipeline]]'s quality gate (score → length/quality filters →
    * exact-dedup keeper) composed with NEAR-duplicate resolution:
    * [[Dedup.dedup_clusters]]' connected components (exact-hash ∪
    * minhash-LSH pairs) restricted to the curated survivors, keeping
    * the best-quality member per cluster ([[Dedup.dedup_resolve_best]]
    * keeper policy — max_by(doc, (quality, −doc_id)), ties to the
    * lower id). Docs in no near-dup cluster pass through untouched.
    *
    * Plan shape at 100 TB: the cluster table is small relative to the
    * corpus (only dup-involved docs appear), so the membership join is
    * an equi-join whose build side AQE broadcasts; the keeper choice is
    * one map-side-combined aggregate over that small table; and the
    * final removal is a left-anti join against the (even smaller) drop
    * list. Deliberately NOT a left join on a nullable cluster key —
    * the unclustered majority would all hash to the null partition.
    * Oracle: full hash match (r13) — [[Dedup.clusterCcSql]]'s
    * recursive-CTE cluster re-derivation composed with the
    * text_pipeline curated set and the same rank-1 keeper rule;
    * TextPipelineSpec additionally gates: subset-of-text_pipeline, ≤1
    * survivor per cluster, and no dropped doc out-scoring its
    * cluster's survivor. */
  def text_pipeline_near(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // referenced three times (cluster membership twice via `clustered`,
    // final anti-join); persisted so the quality-scoring scan of
    // `documents` runs once — the persisted rows are (doc_id, n_words,
    // quality_ppm), a fixed 24 B/row regardless of document size
    val curated = graft.CacheRegistry.cache(text_pipeline(s, d))
    val clusters = Dedup.dedup_clusters(s, d).select($"cluster_id", $"doc_id")
    val clustered = curated.join(clusters, "doc_id")
    val keepers = clustered.groupBy($"cluster_id")
      .agg(max_by($"doc_id", struct($"quality_ppm", -$"doc_id")).as("keeper"))
    val dropIds = clustered.join(keepers, "cluster_id")
      .filter($"doc_id" =!= $"keeper")
      .select($"doc_id")
    curated.join(dropIds, Seq("doc_id"), "left_anti")
      .select($"doc_id", $"n_words", $"quality_ppm")
      .orderBy($"doc_id")
  }

  /** Corpus token accounting — the first question any training run
    * asks of a dataset: how many tokens, and how are they distributed
    * over documents? Output is a 50-token-wide histogram of per-doc
    * BPE-ish token counts carrying doc counts, bucket token totals,
    * and each bucket's share of the corpus total (via a broadcast
    * scalar, not an unpartitioned window). One scan + one tiny agg at
    * 100 TB; the tokenizer is the same codegen'd regex as
    * [[text_tokens]], so the histogram is hash-oracled. The share is
    * EXACT integer parts-per-million (decimal widening + integral
    * division — truncation on both engines), not `round(double, 6)`:
    * Spark rounds through BigDecimal HALF_UP while DuckDB computes
    * `round(x*1e6)/1e6` in floating point, and the two can differ by
    * one ULP — the r5 hash mismatch on this query. */
  def text_token_hist(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val perDoc = Tables.documents(s, d)
      .select(size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("n_tokens"))
    val hist = perDoc
      .groupBy(($"n_tokens" - pmod($"n_tokens", lit(50L))).as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("bucket_tokens"))
    hist
      .crossJoin(broadcast(hist.agg(sum($"bucket_tokens").as("corpus_tokens"))))
      .select($"bucket_lo", $"n_docs", $"bucket_tokens",
        expr("CAST((CAST(bucket_tokens AS DECIMAL(38,0)) * 1000000) DIV corpus_tokens AS BIGINT)")
          .as("share_ppm"))
      .orderBy($"bucket_lo")
  }

  /** Deterministic hash-based train/validation/test split — the
    * assignment step every training-data pipeline runs last. The
    * bucket is a pure function of doc_id (first 8 hex digits of
    * md5 → mod 100: train < 90, validation < 95, else test), so the
    * split is stable across runs, machines, and engines — no seeded
    * RNG whose draw order depends on partitioning. Per-row map work,
    * scan speed at 100 TB; the same expression is SQL-expressible in
    * DuckDB, so the assignment itself is hash-oracled. */
  def text_split(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select($"doc_id", $"lang",
        (conv(substring(md5($"doc_id".cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .withColumn("split",
        when($"bucket" < 90, "train")
          .when($"bucket" < 95, "validation")
          .otherwise("test"))
      .orderBy($"doc_id")
  }

  /** Whitespace/case normalization — the first transform of any text
    * pipeline. The raw form is constructed deterministically from the
    * doc (an upper-cased head, an injected tab, trailing space runs)
    * because the synthetic corpus arrives pre-normalized; the
    * normalize step itself — lowercase, collapse whitespace runs,
    * trim — is the production kernel and is hash-verified against
    * DuckDB applying the identical expression. Pure per-row map work:
    * scan speed at 100 TB, stays in whole-stage codegen. */
  def text_normalize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val messed = concat(upper(expr("substring(text, 1, 40)")), lit("\t "),
      expr("substring(text, 41)"), lit("   tail   "))
    Tables.documents(s, d)
      .select($"doc_id", messed.as("raw"))
      .select($"doc_id", length($"raw").as("raw_len"),
        trim(regexp_replace(lower($"raw"), "[ \\t]+", " ")).as("clean_text"))
      .select($"doc_id", $"raw_len", length($"clean_text").as("clean_len"),
        $"clean_text")
      .orderBy($"doc_id")
  }

  /** PII redaction — scrub emails / phone-shaped numbers / IPv4s and
    * count what was found, the compliance gate before any corpus
    * ships. The PII-bearing raw text is constructed deterministically
    * from doc_id (the corpus itself is PII-free), so the regex scrub
    * path — find, count, replace-all, in one pass over every byte —
    * is exercised with real matches and hash-verified against DuckDB
    * running the identical patterns. Conservative regex subset (no
    * lookaround, no \b) so Java and RE2 semantics agree. Per-row map
    * work at scan speed; patterns anchor on literal prefixes so the
    * regex engine skips fast. */
  def text_pii_scrub(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val email = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ip = "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"
    val phone = "[0-9]{3}-[0-9]{4}"
    val raw = concat($"text", lit(" contact user"), $"doc_id".cast("string"),
      lit("@mail.example.com or 555-"),
      lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
      lit(" from 10."), ($"doc_id" % 256).cast("string"),
      lit(".0."), ($"doc_id" % 100).cast("string"))
    // patterns go through lit()/String-API overloads, NOT expr(): a
    // SQL string literal would eat the single backslash in `\.`
    def nMatches(c: Column, p: String): Column =
      size(regexp_extract_all(c, lit(p), lit(0))).cast("long")
    Tables.documents(s, d)
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id",
        nMatches($"raw", email).as("n_emails"),
        nMatches($"raw", ip).as("n_ips"),
        nMatches($"raw", phone).as("n_phones"),
        regexp_replace(regexp_replace(regexp_replace($"raw",
          email, "<EMAIL>"), ip, "<IP>"), phone, "<PHONE>").as("scrubbed"))
      .orderBy($"doc_id")
  }

  /** Corpus bigram statistics — the n-gram frequency table behind
    * contamination checks and LM data audits. The bigram column is a
    * single-pass codegen'd kernel ([[graft.functions.WordNgramsExpr]]
    * — the HOF transform/slice formulation falls out of codegen);
    * counting is one map-side-combined aggregation on the bigram
    * string, and the top-k compiles to TakeOrderedAndProject. Ties
    * break on the bigram text so the cut is deterministic. */
  def text_bigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .select(explode(wordNgramsAll($"text", 2)).as("bigram"))
      .groupBy($"bigram")
      .agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram")
      .limit(25)
  }

  /** First-round BPE merge mining (Sennrich et al. 2016, "Neural
    * Machine Translation of Rare Words with Subword Units"): the
    * adjacent character-pair frequencies over the corpus — the
    * statistic each BPE training round maximizes — as the top-20
    * merge candidates. Computed the way real BPE trainers do: the
    * corpus collapses to its DISTINCT word VOCABULARY with counts
    * first (one map-side-combined shuffle over the token stream —
    * Zipf's law makes the vocabulary orders of magnitude smaller than
    * the corpus), and pair enumeration + weighting-by-frequency runs
    * over that small vocab, NOT the corpus. Subsequent training
    * rounds would re-run the same plan with the winning merge applied
    * to the vocab — each round's cost is vocab-sized, which is what
    * makes BPE training tractable at 100 TB. Deterministic
    * (count DESC, pair) tie-break; `substr` is character-based on
    * both engines so multibyte (zh) pairs count identically. */
  def text_bpe_pairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val vocab = Tables.documents(s, d)
      .select(explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 2)
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    vocab
      .select($"freq", explode(transform(
        sequence(lit(1), length($"w") - 1),
        i => $"w".substr(i, lit(2)))).as("pair"))
      .groupBy($"pair").agg(sum($"freq").as("n"))
      .orderBy($"n".desc, $"pair")
      .limit(20)
  }

  /** Apply ONE BPE merge rule (a,b)→ab to a token array, left-to-right
    * non-overlapping — the standard BPE application order ("aaa" under
    * (a,a) becomes [aa, a], and the new merged token only pairs again
    * in LATER rounds). Expressed as a codegen-free `aggregate` fold:
    * if the accumulator's last token is `a` and the current element is
    * `b`, replace the last token with the merged literal; otherwise
    * append. The `size(acc) > 0` guard short-circuits (Catalyst `And`)
    * so the ANSI `element_at` never sees an empty array. */
  private[operators] def applyBpeMerge(toks: Column, a: String, b: String): Column =
    aggregate(toks, array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 &&
             element_at(acc, size(acc)) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Adjacent token pairs of an array as (l, r) structs; empty for
    * arrays shorter than 2 (guards `sequence` against its descending
    * start>stop behavior). */
  private def adjacentTokenPairs(toks: Column): Column =
    when(size(toks) >= 2,
      transform(sequence(lit(1), size(toks) - 1),
        i => struct(element_at(toks, i).as("l"), element_at(toks, i + 1).as("r"))))
      .otherwise(array().cast("array<struct<l:string,r:string>>"))

  /** FULL iterative BPE merge training (Sennrich et al. 2016) — the
    * loop [[text_bpe_pairs]] mines one round of. The corpus collapses
    * ONCE to its distinct word vocabulary with counts (the only
    * corpus-sized shuffle; Zipf's law makes the vocab orders of
    * magnitude smaller), words become character-token arrays, and each
    * round then (1) counts adjacent token pairs weighted by word
    * frequency — one vocab-sized map-side-combined aggregation, (2)
    * collects the single argmax pair ((n DESC, l, r) deterministic
    * tie-break — one row to the driver, the ann_ivf Lloyd-loop
    * coordination shape), (3) rewrites the vocab's token arrays with
    * the winning merge applied (per-row fold, no shuffle) and drops
    * words reduced to one token (they can never pair again, so the
    * frontier only shrinks). Each round's frontier is persisted and
    * REBOUND to its materialized rows (the dedup_clusters LogicalRDD
    * rule) — 16 rounds of nested fold projections otherwise stack into
    * one plan tree whose analysis cost grows per round. At 100 TB:
    * round cost is vocab-sized (a ~10M-row cached table), which is
    * exactly why production BPE trainers run on the vocab, never the
    * corpus. Raw (case-preserving) tokens, same convention as
    * [[text_bpe_pairs]] — round 1's winner IS bpe_pairs' top row
    * (spec-gated cross-check). */
  private[graft] def bpeMerges(s: SparkSession, d: String,
                                   rounds: Int): Seq[(Int, String, String, Long)] = {
    import s.implicits._
    var cur: DataFrame = graft.CacheRegistry.cache(
      Tables.documents(s, d)
        .select(explode(split($"text", " ")).as("w"))
        .filter(length($"w") >= 2)
        .groupBy($"w").agg(count(lit(1)).as("freq"))
        .select(split($"w", "").as("toks"), $"freq"))
    // the round cache `cur` was built from; released once `cur` is filled
    var prev: Option[DataFrame] = None
    val out = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // the top-pair collect reads the persisted frame itself, so it
      // fills the cache: the rebind below then claims a loaded cache's
      // layout, and the predecessor is no longer needed
      val top = cur
        .select($"freq", explode(adjacentTokenPairs($"toks")).as("p"))
        .groupBy($"p.l".as("l"), $"p.r".as("r")).agg(sum($"freq").as("n"))
        .orderBy($"n".desc, $"l", $"r")
        .limit(1).collect()
      prev.foreach(_.unpersist(blocking = false))
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, n) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        out += ((r, a, b, n))
        prev = Some(cur)
        cur = graft.CacheRegistry.cache(
          org.apache.spark.sql.graft.Rebind.preserving(cur)
            .select(applyBpeMerge($"toks", a, b).as("toks"), $"freq")
            .filter(size($"toks") >= 2))
        r += 1
      }
    }
    out.toSeq
  }

  /** Registered form of [[bpeMerges]]: the 16-round merge table
    * (rank, lhs, rhs, merged, freq) — the artifact a tokenizer trainer
    * ships. The result rows are driver-held (16 of them — the merge
    * table IS small by construction); the WORK per round is the
    * distributed vocab aggregation above. HASH-ORACLED despite being
    * an iterative data-dependent fixpoint (the class that normally
    * rules an oracle out — ann_ivf's Lloyd, CC's pointer jumping):
    * BPE's per-round state is one argmax + a vocab-sized table, so
    * the oracle UNROLLS all 16 rounds as generated MATERIALIZED CTE
    * stages ([[bpeTrainOracleSql]]). The spec additionally gates
    * exact equality against an independently-coded in-memory trainer
    * and round 1 against text_bpe_pairs' top row. */
  def text_bpe_train(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = bpeMerges(s, d, rounds = 16)
    s.createDataFrame(merges).toDF("rank", "lhs", "rhs", "freq")
      .select($"rank", $"lhs", $"rhs", concat($"lhs", $"rhs").as("merged"), $"freq")
      .orderBy($"rank")
  }

  /** Tokenize a word column with a trained merge table: chars, then
    * each merge folded in RANK order (the canonical BPE encode — rank
    * order IS priority order). Shared by [[text_bpe_encode]] and the
    * spec's round-trip gate. */
  private[graft] def bpeEncodeTokens(w: Column,
                                         merges: Seq[(Int, String, String, Long)]): Column =
    merges.foldLeft(split(w, ""))((c, m) => applyBpeMerge(c, m._2, m._3))

  /** BPE ENCODING pass — the apply half of the tokenizer loop: train
    * the 16-round merge table ([[bpeMerges]], vocab-sized rounds),
    * then tokenize the WHOLE corpus with it and report per-doc token
    * counts and the chars-per-token compression ratio (integer ppm) —
    * the fertility statistic tokenizer teams actually monitor.
    *
    * Plan shape — the SAME vocab collapse that makes training
    * tractable makes encoding-for-stats cheap: a word's token count
    * depends only on the word, so the 16-merge fold chain (interpreted
    * HOFs — deliberately NOT run per occurrence) encodes each DISTINCT
    * word exactly once over the cached vocab, and the corpus sees only
    * a per-(doc, word) count + an equi-join back to the vocab's
    * (word → n_tokens) map + a map-side-combined per-doc rollup. At
    * 100 TB the vocab join is a plain shuffle equi-join on the word
    * (broadcast when the vocab fits); the fold never touches
    * corpus-sized data. A pipeline that needs the token STREAM (not
    * counts) applies [[bpeEncodeTokens]] per row at scan cost instead.
    * Round-trip (concat(tokens) = word), char/word bounds, and
    * compression-fired gates in TextPipelineSpec; hash-oracled via
    * the unrolled training chain + an unfiltered word-encode chain
    * ([[bpeEncodeOracleSql]]). */
  def text_bpe_encode(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val merges = bpeMerges(s, d, rounds = 16)
    val occ = Tables.documents(s, d)
      .select($"doc_id", explode(split($"text", " ")).as("w"))
      .filter(length($"w") >= 1)
      .groupBy($"doc_id", $"w").agg(count(lit(1)).as("tf"))
    val encoded = occ.select($"w").distinct()
      .select($"w", length($"w").cast("long").as("n_chars_w"),
        size(bpeEncodeTokens($"w", merges)).cast("long").as("n_toks"))
    occ.join(encoded, "w")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_words"),
        sum($"tf" * $"n_chars_w").as("n_chars_nosp"),
        sum($"tf" * $"n_toks").as("n_bpe_tokens"))
      .select($"doc_id", $"n_words", $"n_chars_nosp", $"n_bpe_tokens",
        expr("n_chars_nosp * 1000000 div n_bpe_tokens").as("chars_per_token_ppm"))
      .orderBy($"doc_id")
  }

  /** Bigram-LM quality score (the CCNet/KenLM-class signal one rung up
    * from [[text_unigram_score]]'s unigram MLE, in the same
    * integer-exact form so it hash-verifies cross-engine with no
    * log/transcendental): per doc, the mean and min conditional bigram
    * probability in ppm, where p(w2|w1) = corpus bigram count over the
    * PREFIX mass (sum of all bigram counts starting with w1 — a proper
    * conditional: probabilities sum to 1 per prefix, no final-token
    * denominator mismatch). Low mean = ill-attested word sequences
    * (word salad, OCR noise — invisible to unigram frequency, which
    * only sees vocabulary); min is the weakest-link transition. Plan:
    * the corpus collapses to per-(doc, bigram) counts once (persisted
    * — three consumers), bigram totals and prefix masses are two
    * map-side-combined aggregations over THAT (already a fraction of
    * the corpus), scoring is two linear equi-joins + a per-doc rollup.
    * Zipf-skewed bigram keys ride AQE's skew handling like
    * text_unigram_score's. Docs with <2 tokens have no bigrams and are
    * absent by definition (both engines agree). */
  def text_bigram_lm(s: SparkSession, d: String): DataFrame =
    bigramLmStats(Tables.documents(s, d))

  /** Core of [[text_bigram_lm]], parameterized for the spec's planted
    * word-salad fixtures: input any relation with (doc_id, text). */
  def bigramLmStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val bi = graft.CacheRegistry.cache(
      docs
        .select($"doc_id", explode(wordNgramsAll($"text", 2)).as("g"))
        .groupBy($"doc_id", $"g").agg(count(lit(1)).as("tf")))
    val bgCnt = graft.CacheRegistry.cache(
      bi.groupBy($"g").agg(sum($"tf").as("bg")))
    val pref = bgCnt
      .groupBy(split($"g", " ").getItem(0).as("w1")).agg(sum($"bg").as("pref"))
    val cond = bgCnt.join(pref, split(bgCnt("g"), " ").getItem(0) === pref("w1"))
      .select($"g", expr("bg * 1000000 div pref").as("cond_ppm"))
    bi.join(cond, "g")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_bigrams"),
        sum($"tf" * $"cond_ppm").as("sum_cond"),
        min($"cond_ppm").as("min_cond_ppm"))
      .select($"doc_id", $"n_bigrams",
        expr("sum_cond div n_bigrams").as("mean_cond_ppm"),
        $"min_cond_ppm")
      .orderBy($"doc_id")
  }

  /** REPETITION quality signals (the Gopher/C4-class heuristic the
    * quality score doesn't capture: a doc can have fine length and
    * stopword ratios while being one phrase stamped 200 times — a
    * crawler trap or template page that poisons training loss): per
    * doc, the total bigram count, the count of its most frequent
    * bigram, and the share of bigram mass in REPEATED bigrams
    * (count ≥ 2), plus a `repetitive` flag at the top>10% ∨ dup>30%
    * thresholds. Shares are exact integer parts-per-million (integral
    * division — the text_token_hist rule: round(double) differs by
    * 1 ULP across engines and flips hashes).
    *
    * Plan shape: one codegen'd n-gram pass + count per (doc, bigram)
    * (map-side combined, one shuffle) + per-doc fold (second shuffle
    * carries one row per DISTINCT (doc, bigram) — already a fraction
    * of the corpus). Linear at 100 TB; no per-row HOF (the
    * `aggregate(map_from...)` formulation is CodegenFallback and
    * quadratic-ish per row). */
  def text_repetition(s: SparkSession, d: String): DataFrame =
    repetitionStats(Tables.documents(s, d))

  /** Core of [[text_repetition]], parameterized for the spec's
    * planted-repetition fixtures: input any relation with
    * (doc_id, text). */
  def repetitionStats(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    val counts = docs
      .select($"doc_id", explode(wordNgramsAll($"text", 2)).as("g"))
      .groupBy($"doc_id", $"g").agg(count(lit(1)).as("cnt"))
    counts.groupBy($"doc_id")
      .agg(sum($"cnt").as("n_bigrams"),
        max($"cnt").as("top_cnt"),
        sum(when($"cnt" >= 2, $"cnt").otherwise(0L)).as("dup_cnt"))
      .select($"doc_id", $"n_bigrams",
        expr("top_cnt * 1000000 div n_bigrams").as("top_ppm"),
        expr("dup_cnt * 1000000 div n_bigrams").as("dup_ppm"))
      .withColumn("repetitive",
        ($"top_ppm" > 100000L || $"dup_ppm" > 300000L).cast("long"))
      .orderBy($"doc_id")
  }

  /** Core of [[text_decontam]], parameterized for the spec's planted-
    * contamination fixtures: input any relation with (doc_id, text),
    * an eval-membership predicate column, and the gram width. Returns
    * (doc_id, shared_grams) for every NON-eval doc sharing ≥1 distinct
    * n-word-gram with the eval slice. */
  def decontamShared(docs: DataFrame, isEval: Column, n: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val grams = docs
      .select($"doc_id", isEval.as("is_eval"),
        explode(wordNgramsAll($"text", n)).as("g"))
      .distinct()
    val evalGrams = grams.filter($"is_eval").select($"g").distinct()
    grams.filter(!$"is_eval")
      .join(broadcast(evalGrams), "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("shared_grams"))
      .orderBy($"doc_id")
  }

  /** DECONTAMINATION — the check every training run owes its evals:
    * which training documents contain verbatim n-word runs from the
    * held-out benchmark slice? (A contaminated train set inflates eval
    * scores without the model being better — industry practice flags
    * 8-to-13-gram verbatim overlap.) Here the eval slice is the
    * deterministic 10% split `doc_id % 10 = 0` and the signal is
    * 8-word grams: for each train doc, the number of DISTINCT 8-grams
    * it shares with ANY eval doc.
    *
    * Plan shape at 100 TB: gram generation is the codegen'd
    * [[wordNgramsAll]] kernel (one pass per doc; the HOF formulation
    * is CodegenFallback); per-doc distinct is one shuffle on (doc,
    * gram); the eval side of a REAL decontam run is TINY by
    * construction (benchmarks are thousands of docs, not billions) so
    * the overlap join BROADCASTS the eval gram set — the train side
    * never shuffles on the gram string. NOTE the `doc_id % 10` eval
    * slice here is a TEST STAND-IN sized for the synthetic corpus: it
    * is 10% of the input, so the hard broadcast() hint is only valid
    * because the test corpora are small. At production scale the
    * broadcast plan requires an actually-small eval slice (the real
    * regime); a fat eval side must drop the hint and let AQE pick the
    * join. Oracle = the same grams as literal strings via DuckDB
    * list slicing (the text_bigrams convention), so the whole
    * composition is hash-verified. Planted-contamination gates
    * (8-word copy flagged with exact count, 7-word copy not) in
    * TextPipelineSpec. */
  def text_decontam(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decontamShared(Tables.documents(s, d), $"doc_id" % 10 === 0, 8)
      .withColumnRenamed("shared_grams", "shared_8grams")
  }

  /** Core of [[text_ccnet_buckets]], parameterized for the spec's
    * synthetic score fixtures: input any relation with (doc_id, lang,
    * mean_cond_ppm). Cutoffs c1/c2 are the largest scores whose
    * DESCENDING cumulative doc count reaches ceil(n/3) and ceil(2n/3)
    * per language; head = score ≥ c1, middle = score ≥ c2, tail =
    * rest. Value ties share a bucket by construction (cutoffs are
    * score thresholds, not ranks), so bucket sizes deviate from exact
    * terciles only by tie mass — deterministic on both engines with
    * no rank tie-break. */
  def ccnetBucketsFrom(scored: DataFrame): DataFrame = {
    import scored.sparkSession.implicits._
    val hist = scored.groupBy($"lang", $"mean_cond_ppm".as("sc"))
      .agg(count(lit(1)).as("c"))
    val cum = hist.withColumn("cum",
      sum($"c").over(Window.partitionBy($"lang").orderBy($"sc".desc)))
    val cuts = cum
      .join(hist.groupBy($"lang").agg(sum($"c").as("n")), "lang")
      .groupBy($"lang")
      .agg(max(when($"cum" >= expr("(n + 2) div 3"), $"sc")).as("c1"),
        max(when($"cum" >= expr("(2 * n + 2) div 3"), $"sc")).as("c2"))
    scored.join(broadcast(cuts), "lang")
      .select($"doc_id", $"lang", $"mean_cond_ppm",
        when($"mean_cond_ppm" >= $"c1", lit("head"))
          .when($"mean_cond_ppm" >= $"c2", lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
      .orderBy($"doc_id")
  }

  /** CCNet-style per-language QUALITY BUCKETING (Wenzek et al. 2020:
    * split each language's corpus into head/middle/tail terciles by
    * LM score, then train on head+middle and drop or re-weight tail —
    * the curation step between scoring and sampling). Score =
    * [[text_bigram_lm]]'s mean conditional bigram probability in
    * integer ppm (higher = better-attested word sequences).
    *
    * The tercile cutoffs come from an exact integer score HISTOGRAM,
    * not a per-language sort: per-(lang, score) counts + one running
    * sum over that histogram yield the thresholds, and bucketing is a
    * broadcast join + two comparisons per doc. At 100 TB the obvious
    * ntile/row_number window would range-sort every language
    * partition — and a 3-language corpus hands that shuffle 3 keys
    * (maximal skew, unfixable by AQE splitting because ranking needs
    * the whole partition); the histogram form shuffles only DISTINCT
    * (lang, score) pairs, bounded by |langs|·10^6 rows regardless of
    * corpus size, and never sorts the corpus. Docs with <2 tokens
    * have no bigram score and are absent, as in text_bigram_lm.
    * Oracle extends the text_bigram_lm re-derivation with the same
    * histogram/threshold arithmetic; exact-tercile, tie-mass and
    * per-language-independence gates in TextPipelineSpec. */
  def text_ccnet_buckets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val scored = graft.CacheRegistry.cache(
      bigramLmStats(docs).select($"doc_id", $"mean_cond_ppm")
        .join(docs.select($"doc_id", $"lang"), "doc_id"))
    ccnetBucketsFrom(scored)
  }

  /** Core of [[text_dup_spans]], parameterized for the spec's planted-
    * duplication fixtures: input any relation with (doc_id, text) and
    * the gram width `k`. A token position is DUPLICATED when at least
    * one k-word gram covering it also occurs in ANOTHER document;
    * overlapping/adjacent duplicated gram windows merge into maximal
    * spans (gaps-and-islands over sorted gram start positions — a new
    * island starts when the gap to the previous duplicated gram
    * exceeds `k`, since every gram covers exactly `k` tokens). Output
    * one row per doc that has ≥1 duplicated span. */
  /** Gaps-and-islands merge shared by [[dupSpans]]/[[dupStrip]]:
    * input (doc_id, pos: long) gram starts, output one row per merged
    * maximal span (doc_id, span_id, st, en) where the span covers
    * token positions [st, en). Fixed gram width `k` makes the merge a
    * pure lag test: windows [p, p+k) and [p', p'+k) overlap or touch
    * exactly when p' - p <= k for sorted starts. Both windows are
    * partitioned BY DOC — bounded per-doc work, no global sort. */
  private def spanIslands(hits: DataFrame, k: Int): DataFrame = {
    import hits.sparkSession.implicits._
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    hits
      .withColumn("ns",
        when(lag($"pos", 1).over(w).isNull ||
          $"pos" - lag($"pos", 1).over(w) > k, 1L).otherwise(0L))
      .withColumn("span_id", sum($"ns").over(w))
      .groupBy($"doc_id", $"span_id")
      .agg(min($"pos").as("st"), (max($"pos") + k).as("en"))
  }

  def dupSpans(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // The gram pass feeds BOTH sides of the mark-back join (and the
    // token counts below) — self-joins recompute their lineage per
    // side, so persist it once (released by the consumer via
    // CacheRegistry, the dedup-signature convention).
    val grams = graft.CacheRegistry.cache(docs.select($"doc_id",
      posexplode(wordNgramsAll($"text", k)).as(Seq("pos", "g"))))
    // Grams seen in >= 2 DISTINCT docs (a gram repeated inside one doc
    // is text_repetition's business, not cross-doc duplication).
    val dup = grams.groupBy($"g")
      .agg(count_distinct($"doc_id").as("nd"))
      .filter($"nd" >= 2).select($"g")
    // posexplode positions are Int; promote once so every downstream
    // span stat (and the oracle's BIGINT schema) is uniformly long
    val hits = grams.join(dup, "g")
      .select($"doc_id", $"pos".cast("long").as("pos"))
    val perDoc = spanIslands(hits, k).groupBy($"doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum($"en" - $"st").as("dup_tokens"),
        max($"en" - $"st").as("longest_span"))
    // n_tokens from the SAME persisted gram pass, not a third scan of
    // docs: a doc with g grams of width k has g + k - 1 = max(pos) + k
    // tokens (0-based starts), and every doc in perDoc has >= 1 gram.
    val nTok = grams.groupBy($"doc_id")
      .agg((max($"pos") + k).cast("long").as("n_tokens"))
    perDoc.join(nTok, "doc_id")
      .select($"doc_id", $"n_spans", $"dup_tokens", $"longest_span",
        expr("dup_tokens * 1000000 div n_tokens").as("dup_ppm"))
      .orderBy($"doc_id")
  }

  /** EXACT SUBSTRING-level duplication — the SPAN form of dedup that
    * document-level minhash cannot see (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better": a
    * meaningful fraction of web-corpus tokens sit in verbatim runs
    * repeated across otherwise-distinct documents — boilerplate,
    * licenses, navigation chrome — and removing the SPANS, not whole
    * documents, is the effective treatment). Here the signal is
    * 8-word grams: for each doc, every maximal token span covered by
    * grams that also occur in another document, reported as span
    * count, duplicated-token total, longest span, and the duplicated
    * fraction of the doc (exact integer ppm).
    *
    * Plan shape at 100 TB: gram generation is the codegen'd
    * [[wordNgramsAll]] kernel with positions from `posexplode` (one
    * pass per doc); the duplicated-gram table is one map-side-combined
    * groupBy on the gram; the mark-back is a shuffle equi-join on the
    * gram (AQE broadcasts it when the dup set is small — the common
    * case); span merging is two windows partitioned BY DOC (bounded
    * per-doc work, no global window). The join key here is the raw
    * 8-word string because the DuckDB oracle re-derives literal grams
    * (the text_decontam convention); the production-scale variant
    * keys gram tables on `xxhash64(g)` instead, cutting shuffle width
    * ~5x at a vanishing 64-bit collision risk (a collision merely
    * flags one extra 8-gram as duplicated). Planted gates in
    * TextPipelineSpec: a shared 12-word run yields one 12-token span
    * on both sides; a 7-word shared run is invisible at width 8; two
    * disjoint shared runs yield n_spans=2.
    *
    * Reference analogue: hops-format corpus hygiene has no native
    * counterpart — this is the training-pipeline extension family
    * (SURVEY §2.7). */
  def text_dup_spans(s: SparkSession, d: String): DataFrame =
    dupSpans(Tables.documents(s, d), 8)

  /** Core of [[text_dup_strip]]: the REMOVAL counterpart of
    * [[dupSpans]]. Every duplicated gram gets one CANONICAL owner —
    * the smallest doc_id containing it — and a doc removes exactly
    * the token positions covered by duplicated grams it does NOT own.
    * The corpus keeps one copy of every duplicated run (in its owner
    * doc) and strips the rest — Lee et al. 2022's
    * keep-one-occurrence treatment made deterministic. Output one row
    * per doc that strips ≥1 token: total/removed/kept token counts
    * and the removed fraction (integer ppm); owner docs don't appear
    * (they keep their copy). */
  def dupStrip(docs: DataFrame, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    // Persisted once for the same three consumers as [[dupSpans]].
    val grams = graft.CacheRegistry.cache(docs.select($"doc_id",
      posexplode(wordNgramsAll($"text", k)).as(Seq("pos", "g"))))
    val owners = grams.groupBy($"g")
      .agg(count_distinct($"doc_id").as("nd"), min($"doc_id").as("owner"))
      .filter($"nd" >= 2).select($"g", $"owner")
    val hits = grams.join(owners, "g")
      .filter($"doc_id" =!= $"owner")
      .select($"doc_id", $"pos".cast("long").as("pos"))
    val perDoc = spanIslands(hits, k).groupBy($"doc_id")
      .agg(count(lit(1)).as("n_removed_spans"),
        sum($"en" - $"st").as("removed_tokens"))
    val nTok = grams.groupBy($"doc_id")
      .agg((max($"pos") + k).cast("long").as("n_tokens"))
    perDoc.join(nTok, "doc_id")
      .select($"doc_id", $"n_tokens", $"n_removed_spans", $"removed_tokens",
        ($"n_tokens" - $"removed_tokens").as("kept_tokens"),
        expr("removed_tokens * 1000000 div n_tokens").as("removed_ppm"))
      .orderBy($"doc_id")
  }

  /** DUPLICATE-SPAN STRIPPING — what a curation run actually DOES
    * with [[text_dup_spans]]' findings: keep ONE canonical occurrence
    * of every duplicated verbatim run (the smallest-doc_id holder of
    * each duplicated 8-word gram) and cut the repeats everywhere
    * else, reporting per affected doc the tokens stripped and kept.
    * min-doc_id ownership makes the keep-one choice deterministic and
    * engine-portable — no dependence on scan order or partitioning.
    *
    * Plan shape at 100 TB is [[dupSpans]]' (one positional codegen'd
    * gram pass, one map-side-combined gram groupBy now also carrying
    * `min(doc_id)`, equi-join mark-back, per-doc island windows) plus
    * one extra filter — ownership adds no shuffle. Oracle re-derives
    * owners as `min(doc_id) OVER` the literal gram groups in DuckDB;
    * owner-keeps-copy / repeat-strips-span / sub-width-invisible
    * gates in TextPipelineSpec. */
  def text_dup_strip(s: SparkSession, d: String): DataFrame =
    dupStrip(Tables.documents(s, d), 8)

  /** Core of [[text_decontam_spans]], parameterized like
    * [[decontamShared]]: input any relation with (doc_id, text), an
    * eval-membership predicate, and the gram width. For each NON-eval
    * doc, the maximal token spans covered by k-grams that appear in
    * the eval slice — the ranges an excision pass would cut. */
  def decontamSpans(docs: DataFrame, isEval: Column, k: Int): DataFrame = {
    import docs.sparkSession.implicits._
    val grams = graft.CacheRegistry.cache(docs.select($"doc_id",
      isEval.as("is_eval"),
      posexplode(wordNgramsAll($"text", k)).as(Seq("pos", "g"))))
    val evalGrams = grams.filter($"is_eval").select($"g").distinct()
    val hits = grams.filter(!$"is_eval")
      .join(broadcast(evalGrams), "g")
      .select($"doc_id", $"pos".cast("long").as("pos"))
    val perDoc = spanIslands(hits, k).groupBy($"doc_id")
      .agg(count(lit(1)).as("n_excised_spans"),
        sum($"en" - $"st").as("excised_tokens"))
    val nTok = grams.filter(!$"is_eval").groupBy($"doc_id")
      .agg((max($"pos") + k).cast("long").as("n_tokens"))
    perDoc.join(nTok, "doc_id")
      .select($"doc_id", $"n_tokens", $"n_excised_spans", $"excised_tokens",
        ($"n_tokens" - $"excised_tokens").as("kept_tokens"),
        expr("excised_tokens * 1000000 div n_tokens").as("excised_ppm"))
      .orderBy($"doc_id")
  }

  /** SPAN-LEVEL DECONTAMINATION — [[text_decontam]] tells you WHICH
    * train docs overlap the eval slice; this tells you WHERE, as
    * maximal token ranges, so a curation run can EXCISE the
    * contaminated spans instead of dropping whole documents (the
    * surgical treatment when the overlap is a quoted benchmark
    * question inside an otherwise-clean page). Same 8-word gram
    * signal and `doc_id % 10` eval stand-in as text_decontam; same
    * gaps-and-islands merge as [[text_dup_spans]].
    *
    * Plan shape at 100 TB: one positional codegen'd gram pass
    * (persisted once for the three consumers), the eval gram set
    * BROADCASTS (real eval slices are tiny — text_decontam's
    * caveat about the 10% stand-in applies verbatim), islands in
    * per-doc windows, token counts from gram positions. Oracle
    * re-derives eval grams and islands in DuckDB; planted
    * excised-run / sub-width / eval-absence gates in
    * TextPipelineSpec. */
  def text_decontam_spans(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    decontamSpans(Tables.documents(s, d), $"doc_id" % 10 === 0, 8)
  }

  /** Sequence PACKING — map each document onto its token offsets in
    * the concatenate-and-chunk layout every LM training run feeds its
    * dataloader (docs joined in doc_id order, the token stream cut
    * into fixed 2048-token contexts): per doc, the global token start
    * offset, its first/last context ids, and how many contexts it
    * spans.
    *
    * The global running sum is a DISTRIBUTED TWO-PHASE PREFIX SUM,
    * not one unpartitioned window (which would funnel the corpus
    * through a single task at 100 TB): docs are range-bucketed by
    * doc_id in `bucketWidth`-doc buckets (default 10⁶ — at 100 TB
    * (~10¹¹ docs) the subtotal table is ~10⁵ tiny rows, small enough
    * for its own single window AND the broadcast below; a narrower
    * width re-creates the very driver bottleneck this decomposition
    * avoids), each bucket computes its local prefix sums in a
    * partitioned window, bucket subtotals (one row per bucket) are
    * prefix-summed in a window of their own, and each doc's offset is
    * local_before + its bucket's offset via a broadcast equi-join.
    * The DuckDB oracle computes the same offsets as one flat global
    * cumsum, so the hash gate proves the decomposition exact for the
    * default width; TextPipelineSpec re-proves it at width 100, where
    * the test corpus genuinely spans multiple buckets. */
  def text_pack(s: SparkSession, d: String,
                bucketWidth: Long = 1000000L): DataFrame = {
    import s.implicits._
    val perDoc = Tables.documents(s, d)
      .select($"doc_id",
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_tokens"))
      .withColumn("bucket", expr(s"doc_id div ${bucketWidth}L"))
    val local = perDoc.withColumn("local_before",
      coalesce(sum($"n_tokens").over(
        Window.partitionBy($"bucket").orderBy($"doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    val offsets = perDoc.groupBy($"bucket").agg(sum($"n_tokens").as("btot"))
      .withColumn("bucket_off",
        coalesce(sum($"btot").over(
          Window.orderBy($"bucket").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select($"bucket", $"bucket_off")
    local.join(broadcast(offsets), "bucket")
      .withColumn("start_off", $"bucket_off" + $"local_before")
      .select($"doc_id", $"n_tokens", $"start_off",
        expr("start_off div 2048").as("start_ctx"),
        expr("(start_off + greatest(n_tokens, 1) - 1) div 2048").as("end_ctx"))
      .withColumn("n_ctx", $"end_ctx" - $"start_ctx" + lit(1L))
      .orderBy($"doc_id")
  }

  /** Deterministic MIXTURE SAMPLING — reweight the corpus by language
    * at fixed per-language keep rates (the source-mixing step between
    * curation and training: upsample/downsample each slice to the
    * target mixture). Membership is a pure function of doc_id through
    * a salted md5 bucket (salt "mix:" keeps the draw independent of
    * [[text_split]]'s buckets — the same doc must not correlate across
    * policies), so the sample is stable across runs, partitionings,
    * and engines — no seeded RNG. Per-row map work at scan speed;
    * hash-oracled because DuckDB computes the identical bucket. */
  def text_sample(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val rate = when($"lang" === "en", 900L)
      .when($"lang" === "fr" || $"lang" === "es", 500L)
      .when($"lang" === "de", 250L)
      .otherwise(100L)
    Tables.documents(s, d)
      .select($"doc_id", $"lang",
        (conv(substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 8),
          16, 10).cast("long") % 1000).as("bucket"),
        rate.as("rate_pm"))
      .filter($"bucket" < $"rate_pm")
      .orderBy($"doc_id")
  }

  /** EPOCH MIXTURE materialization — the step [[text_sample]] cannot
    * express: real training mixes need rates ABOVE 1 (a rare language
    * seen 2.25× per epoch, a dominant one 0.9×). Each doc emits
    * floor(rate) full copies plus one extra with probability
    * frac(rate), decided by the same salted-md5 bucket device as
    * text_split/text_sample (a pure function of doc_id — stable across
    * runs, partitionings, and engines; salt "epoch:" keeps the draw
    * independent of both). Output is (doc_id, lang, copy_idx) — the
    * materialized per-epoch read plan a dataloader consumes.
    *
    * Plan: per-row map + explode; output volume = Σ rates·docs, no
    * shuffle at all. The guarded `sequence` keeps rate < 1 drops legal
    * (Spark's sequence(1, 0) throws rather than returning empty). */
  def text_mixture_epochs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ratePm = when($"lang" === "en", 900L)
      .when($"lang" === "fr" || $"lang" === "es", 1500L)
      .when($"lang" === "de", 2250L)
      .otherwise(500L)
    Tables.documents(s, d)
      .select($"doc_id", $"lang", ratePm.as("rate_pm"),
        (conv(substring(md5(concat(lit("epoch:"), $"doc_id".cast("string"))), 1, 8),
          16, 10).cast("long") % 1000).as("bucket"))
      .withColumn("n_copies",
        expr("rate_pm div 1000") +
          when($"bucket" < $"rate_pm" % 1000, 1L).otherwise(0L))
      .select($"doc_id", $"lang",
        explode(when($"n_copies" >= 1L, sequence(lit(1L), $"n_copies"))
          .otherwise(array())).as("copy_idx"))
      .orderBy($"doc_id", $"copy_idx")
  }

  /** DETERMINISTIC EPOCH SHUFFLE ORDER — the last missing piece of
    * the data-loading story over [[text_mixture_epochs]]'s (doc,
    * copy) multiplicity: the engine-portable WITHIN-EPOCH read order
    * a dataloader consumes. Every (doc, epoch) instance gets a salted
    * md5 sort key (salt = "shuffle:" + epoch + ":" + doc_id — a new
    * permutation each epoch, the property "reshuffle every epoch"
    * actually means), plus the hash shard (key mod 8) a distributed
    * loader uses to deal instances to workers. The ORDER IS THE
    * DELIVERABLE: reading (epoch, shuffle_key, doc_id) ascending is
    * the training stream, realized at scale by Spark's
    * range-partitioned sort (the mr_sort TeraSort posture) — a dense
    * global position column is deliberately NOT emitted, because a
    * global row_number funnels the corpus through one task while the
    * sort key carries the same information. First-8-hex→60-bit-int
    * key (the mixture bucket device), so the whole composition —
    * mixture multiplicity, salted keys, shards, order — replays
    * bit-exactly in DuckDB. */
  def text_epoch_order(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    text_mixture_epochs(s, d)
      .select($"doc_id", $"lang", $"copy_idx".as("epoch"),
        conv(substring(md5(concat(lit("shuffle:"), $"copy_idx".cast("string"),
          lit(":"), $"doc_id".cast("string"))), 1, 15), 16, 10)
          .cast("long").as("shuffle_key"))
      .withColumn("shard", $"shuffle_key" % 8)
      .orderBy($"epoch", $"shuffle_key", $"doc_id")
  }

  /** Per-language SALIENT TERMS (tf-idf family) — the vocabulary
    * audit behind contamination and domain-shift checks: for each
    * language slice, the terms most over-represented relative to how
    * many slices share them. Weighting is the INTEGER
    * tf·1e6 div df (df = #slices containing the term) — a monotone
    * rational transform of tf·(N/df) computed entirely in int64, so
    * ranking and hashing are immune to the cross-engine log/double
    * ULP hazards this file documents elsewhere (a tf·ln(N/df) double
    * score can differ in the last bit and flip a rank-10 boundary).
    * Plan: one explode + map-side-combined (lang, word) count, a
    * word-keyed count for df, one linear equi-join on word, and a
    * per-lang window top-10 (WindowGroupLimit pushes the partial
    * top-k below the shuffle). All shuffles are on computed keys —
    * linear at 100 TB.
    *
    * Perf note (r11): the r10 bench recorded 2.20 s (3.64× the r9
    * 0.60 s) with no code change. That number does NOT reproduce in
    * isolation — pre-fix isolated min at sf0.1 is 0.87 s — so the
    * recorded regression was bench-context host noise that inflated
    * both measured passes. Independent of that, `tf` was referenced
    * twice unpersisted (df derivation + the join), recomputing the
    * explode and first shuffle; persisting it cuts the isolated time
    * 0.87 s → 0.69 s. */
  def text_tfidf(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select($"lang", explode(tokens($"text")).as("word"))
    // tf is referenced twice (df derives from it AND it feeds the
    // join), so persist it — otherwise the explode plus the first
    // (lang, word) shuffle run twice. The cached rows are just
    // (lang, word, tf): tiny relative to the exploded token stream.
    // (r10 bench showed exactly this twice-read lineage costing 2×;
    // same one-scan rule as Dedup.scala:517 / text_pipeline_near.)
    val tf = graft.CacheRegistry.cache(
      words.groupBy($"lang", $"word").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy($"word").agg(count(lit(1)).as("df"))
    // Split Euclidean form of tf·1e6 div df: the direct product
    // overflows i64 once a term's corpus tf passes ~9.2e12 (a top
    // stopword at 100 TB is ~1e12 — only 9× headroom, and ANSI mode
    // makes the overflow a runtime throw). (tf div df)·1e6 +
    // ((tf mod df)·1e6) div df is identical for non-negative tf/df
    // (write tf = q·df + r: both reduce to q·1e6 + r·1e6 div df).
    // The rewrite's largest intermediate is (tf div df)·1e6 ≈ the
    // score itself, so it overflows iff score_ppm cannot fit i64 —
    // safety extends from tf ≤ ~9.2e12 to tf ≤ ~9.2e12·df, i.e. the
    // df× headroom that matters for corpus-wide stopwords.
    tf.join(df, "word")
      .withColumn("score_ppm",
        expr("(tf div df) * 1000000 + ((tf % df) * 1000000) div df"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"lang").orderBy($"score_ppm".desc, $"word")))
      .filter($"rank" <= 10)
      .select($"lang", $"rank", $"word", $"tf", $"df", $"score_ppm")
      .orderBy($"lang", $"rank")
  }

  /** Corpus-frequency unigram scoring — the integer-exact analogue of
    * CCNet-style LM quality filtering (web pipelines filter text by
    * language-model perplexity; the unigram-MLE version of that signal
    * is the mean corpus frequency of a doc's tokens, which needs no
    * transcendental log and therefore hash-verifies cross-engine under
    * the house integer-ppm rule). Per document: `mean_freq_ppm` = sum
    * over token instances of that token's corpus-wide count, ×1e6 div
    * n_tokens (low = the doc is made of ill-attested vocabulary;
    * extremely high = stopword soup / boilerplate — threshold both
    * tails), and `rare_ppm` = the fraction of instances whose token
    * occurs ≤ 2 times corpus-wide (the hapax-legomena signal: high =
    * garbled text, OCR noise, random identifiers).
    *
    * Scale shape (100 TB): the exploded token stream collapses FIRST
    * to per-doc (doc_id, tok, tf) — map-side combine shrinks the
    * shuffle to distinct tokens per doc — and that stage is referenced
    * twice (it derives the corpus counts AND feeds the scoring join),
    * so it is persisted per the one-scan rule. The counts join on
    * `tok` is Zipf-skewed (a stopword's count row joins nearly every
    * doc) — fan-out skew on the probe side, which AQE skew-join
    * splitting handles; the final agg is per-doc, combine-friendly.
    * i64 bound: the Euclidean-split ppm's largest intermediate is
    * ≈ mean_freq·1e6, so the representation itself saturates only
    * once a doc's MEAN token corpus-count passes ~9.2e12 (a corpus of
    * ~10^13 token instances all spent on one token); past that emit
    * `sum_freq div n_tokens` without the ppm scale. */
  def text_unigram_score(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = graft.CacheRegistry.cache(
      Tables.documents(s, d)
        .select($"doc_id", explode(tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf")))
    val cnt = tf.groupBy($"tok").agg(sum($"tf").as("c"))
    tf.join(cnt, "tok")
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"),
        sum($"tf" * $"c").as("sum_freq"),
        sum(when($"c" <= 2, $"tf").otherwise(lit(0L))).as("rare"))
      .select($"doc_id", $"n_tokens",
        expr("(sum_freq div n_tokens) * 1000000 + ((sum_freq % n_tokens) * 1000000) div n_tokens")
          .as("mean_freq_ppm"),
        expr("rare * 1000000 div n_tokens").as("rare_ppm"))
      .orderBy($"doc_id")
  }

  /** [[text_decontam]] with a BLOOM-FILTER prefilter — the scale path
    * for the case its sibling's scaladoc flags: when the eval slice is
    * too large for its distinct-gram set to broadcast as rows, summarize
    * it as a Bloom filter instead (CONSTANT megabytes per executor
    * regardless of eval size; built here with the public
    * `df.stat.bloomFilter` over xxhash64(gram), probed by the codegen'd
    * [[graft.functions.BloomMightContainLongExpr]]). The filter
    * mass-kills non-matching train grams at scan speed; the surviving
    * ~fpp fraction then goes through the EXACT equi-join on the gram
    * string — a plain shuffle join over two now-small sides, no
    * broadcast anywhere — which removes the false positives, so the
    * result is IDENTICAL to text_decontam (same DuckDB oracle text;
    * equivalence also spec-gated). At 100 TB with fpp 1e-3: a 1e12-gram
    * train side leaks ~1e9 rows into the join instead of shuffling the
    * full gram stream — and the eval side never materializes on
    * executors at all during the scan.
    *
    * Lineage shape (r12 advice): each side derives from its OWN
    * filtered scan — the r11 form built one distinct over the union of
    * both sides and filtered it twice, recomputing the full
    * explode+distinct lineage per consumer. The Bloom probe now sits
    * BEFORE the train-side distinct, so the only full-gram-stream
    * shuffle is gone: the distinct dedupes the ~fpp survivors, not the
    * 1e12-gram stream (filter-on-g commutes with distinct-on-(doc,g),
    * so the result is unchanged — the spec equivalence gate proves
    * it). */
  def text_decontam_bloom(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val n = 8
    val docs = Tables.documents(s, d)
    val evalGrams = graft.CacheRegistry.cache(
      docs.filter($"doc_id" % 10 === 0)
        .select(explode(wordNgramsAll($"text", n)).as("g")).distinct())
    // a real pipeline sizes the filter from table stats; the count
    // here is one cheap aggregation over the (persisted) eval grams
    val bf = evalGrams.select(xxhash64($"g").as("h"))
      .stat.bloomFilter("h", math.max(evalGrams.count(), 1L), 0.001)
    val mightMatch = graft.functions.GraftExpressions.toColumn(
      graft.functions.BloomMightContainLongExpr(
        graft.functions.GraftExpressions.toExpr(xxhash64($"g")), bf))
    docs.filter($"doc_id" % 10 =!= 0)
      .select($"doc_id", explode(wordNgramsAll($"text", n)).as("g"))
      .filter(mightMatch)
      .distinct()
      .join(evalGrams, "g")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("shared_8grams"))
      .orderBy($"doc_id")
  }

  /** Per-DOMAIN document cap — the C4/RefinedWeb-style curation rule
    * that no single domain may dominate the training mix: within each
    * domain (`source` stands in for the registrable domain of a web
    * corpus), keep only the `cap` highest-quality documents, quality
    * being the same integer-ppm composite [[text_quality]] scores
    * (deterministic doc_id tie-break). Emits the kept docs with their
    * within-domain rank.
    *
    * Scale: quality is a per-row map; the ranking is ONE shuffle on
    * the domain key, and the `rank <= cap` filter is pushed below the
    * shuffle as a partial group-limit (WindowGroupLimit — each map
    * task forwards at most `cap` rows per domain, so a hot domain
    * ships cap·tasks rows, not its full document count). Fully
    * SQL-expressible → hash-oracled. */
  def text_domain_cap(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val cap = 10
    val t = tokens($"text")
    val nWords = size(t).cast("long")
    val nStop = size(filter(t, w => w.isInCollection(stopwords))).cast("long")
    val nUniq = size(array_distinct(t)).cast("long")
    Tables.documents(s, d)
      .select($"doc_id", $"source", $"lang", nWords.as("n_words"),
        nStop.as("nstop_tmp"), nUniq.as("nuniq_tmp"))
      .withColumn("stopword_ppm", when($"n_words" === 0, 0L)
        .otherwise(expr("nstop_tmp * 1000000 div n_words")))
      .withColumn("uniq_ppm", when($"n_words" === 0, 0L)
        .otherwise(expr("nuniq_tmp * 1000000 div n_words")))
      .withColumn("quality_ppm",
        expr("""uniq_ppm * (CASE WHEN n_words >= 20 THEN 2 ELSE 1 END)
               | * (CASE WHEN stopword_ppm > 10000 THEN 5 ELSE 4 END) div 10""".stripMargin))
      .withColumn("domain_rank", row_number().over(
        Window.partitionBy($"source").orderBy($"quality_ppm".desc, $"doc_id")))
      .filter($"domain_rank" <= cap)
      .select($"doc_id", $"source", $"lang", $"quality_ppm", $"domain_rank")
      .orderBy($"doc_id")
  }

  /** RAG-style OVERLAPPING CHUNK manifest — the chunking pass a
    * retrieval pipeline runs before embedding (fixed window, fixed
    * stride, tail kept): per doc, token spans [start, end) at width
    * 32 / stride 24 (sized to this corpus's 10–99-word docs; the
    * 256/192 production shape is the same arithmetic), the final
    * chunk truncated at the doc boundary and flagged. Distinct from
    * text_pack (which packs MANY docs into fixed context windows) and
    * text_split (doc-level routing): this subdivides WITHIN docs with
    * overlap so retrieval hits don't straddle chunk edges. Chunk
    * starts are a pure sequence() expansion off the token count — one
    * codegen'd per-row explode, no shuffle, scan-speed at 100 TB. */
  def text_window_chunks(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val width = 32L
    val stride = 24L
    Tables.documents(s, d)
      .select($"doc_id", size(tokens($"text")).cast("long").as("n_tokens"))
      .filter($"n_tokens" > 0)
      .withColumn("chunk_idx", explode(expr(
        s"sequence(bigint(0), greatest(bigint(0), (n_tokens - $width + $stride - 1) div $stride))")))
      .select($"doc_id", $"chunk_idx",
        ($"chunk_idx" * stride).as("tok_start"),
        least($"chunk_idx" * stride + width, $"n_tokens").as("tok_end"),
        (least($"chunk_idx" * stride + width, $"n_tokens") -
          $"chunk_idx" * stride).as("n_tokens_chunk"),
        ($"chunk_idx" * stride + width >= $"n_tokens").as("is_last"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** CURATION FUNNEL accounting — the per-stage drop report every
    * production data pipeline publishes next to its curated set (how
    * many documents each filter removed, in order): quality gate →
    * exact-dedup keeper → decontamination (the eval slice held out +
    * overlapping train docs dropped) → per-domain cap, each stage
    * applied SEQUENTIALLY to the previous stage's survivors with
    * docs_in/docs_dropped/docs_out and the drop rate in exact ppm.
    * Thresholds mirror the registered single-stage operators
    * (text_pipeline's n_words ≥ 10 ∧ quality ≥ 0.5, text_decontam's
    * 8-gram/`%10` eval slice, text_domain_cap's cap = 10) so the
    * funnel is the accounting view OF those stages, not a variant.
    *
    * Plan shape: one scored pass persisted (all flags derive from
    * it), dedup keeper = a conditional min window on the hash,
    * contamination = the decontam broadcast join reduced to a flag,
    * cap rank computed on the (small) stage-3 survivor set; the final
    * report is ONE map-side-combined aggregate emitting four rows. */
  def text_curation_funnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    val contaminated = decontamShared(docs, $"doc_id" % 10 === 0, 8)
      .select($"doc_id", lit(true).as("contam"))
    val base = graft.CacheRegistry.cache(
      curationScoredAll(docs)
        .withColumn("q_keep", $"n_words" >= 10 && $"quality_ppm" >= 500000L)
        .withColumn("k_keep", $"q_keep" &&
          $"doc_id" === min(when($"q_keep", $"doc_id"))
            .over(Window.partitionBy($"h")))
        .join(contaminated, Seq("doc_id"), "left")
        .withColumn("s3_keep",
          $"k_keep" && $"doc_id" % 10 =!= 0 && $"contam".isNull))
    val capped = base.filter($"s3_keep")
      .withColumn("rnk", row_number().over(
        Window.partitionBy($"source").orderBy($"quality_ppm".desc, $"doc_id")))
      .filter($"rnk" <= 10)
      .agg(count(lit(1)).as("n4"))
    val counts = base.agg(
        count(lit(1)).as("n0"),
        sum(when($"q_keep", 1L).otherwise(0L)).as("n1"),
        sum(when($"k_keep", 1L).otherwise(0L)).as("n2"),
        sum(when($"s3_keep", 1L).otherwise(0L)).as("n3"))
      .crossJoin(broadcast(capped))
    counts.select(explode(expr(
        """array(
          |  named_struct('stage_idx', bigint(1), 'stage', 'quality',    'docs_in', n0, 'docs_out', n1),
          |  named_struct('stage_idx', bigint(2), 'stage', 'exact_dedup','docs_in', n1, 'docs_out', n2),
          |  named_struct('stage_idx', bigint(3), 'stage', 'decontam',   'docs_in', n2, 'docs_out', n3),
          |  named_struct('stage_idx', bigint(4), 'stage', 'domain_cap', 'docs_in', n3, 'docs_out', n4))"""
          .stripMargin)).as("r"))
      .select($"r.stage_idx", $"r.stage", $"r.docs_in",
        ($"r.docs_in" - $"r.docs_out").as("docs_dropped"), $"r.docs_out")
      .withColumn("drop_ppm",
        expr("(docs_in - docs_out) * 1000000 div docs_in"))
      .orderBy($"stage_idx")
  }

  /** DSIR-inspired DISCRIMINATIVE DATA SELECTION (Xie et al. 2023,
    * arXiv:2302.03169 — importance resampling by hashed-n-gram
    * likelihood ratios between a target and a raw distribution).
    * DSIR's log-ratio needs transcendentals; the integer-exact form
    * scores each raw doc by the LINEAR surrogate
    * Σ_b c_b(doc) · (t_ppm(b) − r_ppm(b)) over 1024 hashed-bigram
    * buckets — per-bucket target-vs-raw prevalence difference in
    * exact ppm, the discriminant a hashed linear classifier
    * (fastText-class) learns in closed form — and selects docs with
    * positive target affinity. Target = the doc_id % 10 = 1 curated
    * reference slice; the raw pool (everything else) is what gets
    * scored, exactly DSIR's setup.
    *
    * Scale shape: ONE bigram explode (codegen'd wordNgrams kernel)
    * persisted for its two consumers; the weight table is ≤1024 rows
    * (a map-side-combined aggregate of the explode) and BROADCASTS
    * into the scoring join, so the corpus-sized side never shuffles
    * on the bucket key; per-doc scoring is one map-side-combined
    * rollup. Bucket hash = the engine-portable md5-prefix device
    * (text_split's rule). */
  def text_dsir_select(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val grams = graft.CacheRegistry.cache(
      Tables.documents(s, d)
        .select($"doc_id", $"lang", explode(wordNgramsAll($"text", 2)).as("g"))
        .withColumn("b", (conv(substring(md5($"g"), 1, 8), 16, 10)
          .cast("long") % 1024).as("b"))
        .select($"doc_id", $"lang", $"b"))
    // corpus totals come from the ≤1024-row bucket table (cached — its
    // two consumers must not each replay the gram explode), NOT from a
    // second pass over the corpus-sized gram stage
    val counts = graft.CacheRegistry.cache(grams
      .groupBy($"b")
      .agg(sum(when($"doc_id" % 10 === 1, 1L).otherwise(0L)).as("ct"),
        sum(when($"doc_id" % 10 =!= 1, 1L).otherwise(0L)).as("cr")))
    val weights = counts
      .crossJoin(broadcast(counts.agg(
        sum($"ct").as("tot_t"), sum($"cr").as("tot_r"))))
      .select($"b",
        (expr("ct * 1000000 div tot_t") - expr("cr * 1000000 div tot_r"))
          .as("wt"))
    grams.filter($"doc_id" % 10 =!= 1)
      .join(broadcast(weights), Seq("b"))
      .groupBy($"doc_id")
      .agg(first($"lang").as("lang"), sum($"wt").as("dsir_score"),
        count(lit(1)).as("n_bigrams"))
      .withColumn("selected", $"dsir_score" > 0L)
      .orderBy($"doc_id")
  }

  /** The Gopher rule battery over arbitrary (doc_id, lang, text) rows
    * — factored out so TextPipelineSpec can drive planted fixtures
    * (bulleted/ellipsis/symbol/numeric docs the corpus lacks) through
    * the exact production expressions. All ratios exact integer
    * ppm/milli; every rule is a per-row codegen'd expression. */
  def gopherScored(docs: DataFrame): DataFrame = {
    val t = tokens(col("text"))
    docs
      .withColumn("n_words", size(t).cast("long"))
      .withColumn("mean_wlen_milli", when(size(t) === 0, 0L).otherwise(
        expr("length(regexp_replace(text, '\\\\s', '')) * 1000 div size(filter(split(lower(text), ' '), w -> w != ''))")))
      .withColumn("symbol_ppm", when(size(t) === 0, 0L).otherwise(expr(
        """(length(text) - length(replace(text, '#', ''))
          |  + regexp_count(text, '\\.\\.\\.')) * 1000000
          | div size(filter(split(lower(text), ' '), w -> w != ''))""".stripMargin)))
      .withColumn("bullet_ppm", expr(
        """size(filter(split(text, '\n'), l -> ltrim(l) rlike '^[-*]'))
          | * 1000000 div greatest(1, size(split(text, '\n')))""".stripMargin).cast("long"))
      .withColumn("ellipsis_ppm", expr(
        """size(filter(split(text, '\n'), l -> rtrim(l) rlike '\\.\\.\\.$'))
          | * 1000000 div greatest(1, size(split(text, '\n')))""".stripMargin).cast("long"))
      .withColumn("alpha_ppm", when(size(t) === 0, 0L).otherwise(expr(
        """size(filter(filter(split(lower(text), ' '), w -> w != ''),
          |            w -> w rlike '[a-z]')) * 1000000
          | div size(filter(split(lower(text), ' '), w -> w != ''))""".stripMargin)))
      .withColumn("n_stop_hits", size(filter(
        array(gopherStops.map(lit): _*), sw => array_contains(t, sw))).cast("long"))
      .withColumn("r_words", col("n_words").between(30L, 100000L))
      .withColumn("r_wlen", col("mean_wlen_milli").between(3000L, 10000L))
      .withColumn("r_symbol", col("symbol_ppm") <= 100000L)
      .withColumn("r_bullet", col("bullet_ppm") <= 900000L)
      .withColumn("r_ellipsis", col("ellipsis_ppm") <= 300000L)
      .withColumn("r_alpha", col("alpha_ppm") >= 800000L)
      .withColumn("r_stop", col("n_stop_hits") >= 2L)
      .withColumn("keep", col("r_words") && col("r_wlen") && col("r_symbol") &&
        col("r_bullet") && col("r_ellipsis") && col("r_alpha") && col("r_stop"))
  }

  /** Gopher's own rule is "≥2 of its 8 English function words"; on
    * this synthetic corpus only 'the' from that list ever occurs, so
    * the faithful list would fail every document. The rule keeps its
    * meaning — attested function words ≥ 2 distinct — over the house
    * stopword lexicon (the one text_quality scores with). */
  private val gopherStops =
    Seq("the", "a", "an", "of", "and", "to", "in", "is", "it")

  /** Gopher-style quality-filter RULE BATTERY (Rae et al. 2021,
    * "Scaling Language Models: ... Gopher", Table A1 — the document
    * filters MassiveWeb applies before dedup): word-count bounds,
    * mean-word-length window, symbol-to-word ratio (# / ellipsis),
    * bullet-started and ellipsis-ended line fractions, fraction of
    * words with an alphabetic character, and the ≥2-distinct-stopword
    * test. Each rule surfaces as its own flag (the curation-debugging
    * view: WHY a doc fell out), plus the conjunctive keep.
    *
    * The corpus being synthetic single-line text, the line-shape
    * rules pass trivially here; planted bulleted/ellipsis/symbol
    * fixtures exercise their fail branches through the same
    * [[gopherScored]] expressions in TextPipelineSpec. Everything is
    * exact integer ppm/milli (the cross-engine rounding rule) and
    * per-row — the whole battery is one codegen'd projection, no
    * shuffle, scan-speed at 100 TB. */
  def text_gopher_rules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    gopherScored(Tables.documents(s, d).select($"doc_id", $"lang", $"text"))
      .drop("text")
      .orderBy($"doc_id")
  }

  /** CENTROID CLASSIFIER over hashed bag-of-bigrams features — the
    * learned-filter INFERENCE shape every curation pipeline ships (the
    * fastText-style quality/domain classifier of the GPT-3/CCNet/LLaMA
    * recipes: linear model over hashed n-gram features, broadcast to
    * every executor, one map-side pass per document). Training is the
    * Rocchio/centroid form — per-class bucket frequency minus global
    * bucket frequency, in exact integer ppm — because its aggregates
    * are order-independent counts, so unlike SGD the trained model is
    * bit-deterministic and the WHOLE train+infer composition carries a
    * DuckDB hash oracle. Same train/test convention as
    * [[text_dsir_select]] (doc_id % 10 == 1 held out), same 1024-way
    * md5 feature hashing. Unseen-at-train buckets contribute 0 (inner
    * join). Prediction = per-doc argmax over the ≤ |classes| unpivoted
    * scores via a (score DESC, class) window; margin = best − runner-up.
    *
    * Scale: one corpus gram explode (cached — two consumers), bucket
    * counts collapse to a ≤ 1024×|classes| grid before the totals are
    * read off it (no second corpus pass — the dsir rule), the weight
    * table broadcasts, scoring is a map-side join + one groupBy(doc).
    * Accuracy is a property of the corpus, not the plumbing: this
    * synthetic text is label-independent (the [[text_langid]] note),
    * so TextPipelineSpec drives planted class-vocabulary fixtures
    * through this exact code and gates held-out accuracy there. */
  def centroidClassify(docs: DataFrame, classes: Seq[String]): DataFrame = {
    val grams = graft.CacheRegistry.cache(docs
      .select(col("doc_id"), col("label"),
        explode(wordNgramsAll(col("text"), 2)).as("g"))
      .withColumn("b", conv(substring(md5(col("g")), 1, 8), 16, 10)
        .cast("long") % 1024)
      .select(col("doc_id"), col("label"), col("b")))
    val counts = grams.filter(col("doc_id") % 10 =!= 1)
      .groupBy(col("b"))
      .agg(count(lit(1)).as("cnt_all"),
        classes.map(c => sum(when(col("label") === c, 1L).otherwise(0L))
          .as(s"cnt_$c")): _*)
    val tot = counts.agg(sum(col("cnt_all")).as("tot_all"),
      classes.map(c => sum(col(s"cnt_$c")).as(s"tot_$c")): _*)
    val weights = counts.crossJoin(broadcast(tot))
      .select(col("b") +: classes.map(c =>
        (expr(s"cnt_$c * 1000000 div tot_$c") -
          expr("cnt_all * 1000000 div tot_all")).as(s"w_$c")): _*)
    val scored = grams.filter(col("doc_id") % 10 === 1)
      .join(broadcast(weights), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(first(col("label")).as("label"),
        classes.map(c => sum(col(s"w_$c")).as(s"s_$c")): _*)
    val unpivoted = scored.select(col("doc_id"), col("label"),
      explode(array(classes.map(c =>
        struct(lit(c).as("class"), col(s"s_$c").as("score"))): _*)).as("cs"))
      .select(col("doc_id"), col("label"),
        col("cs.class").as("class"), col("cs.score").as("score"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("class"))
    unpivoted
      .withColumn("rn", row_number().over(w))
      .withColumn("runner_up", lead(col("score"), 1).over(w))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("label"), col("class").as("pred"),
        col("score").as("pred_score"),
        (col("score") - col("runner_up")).as("margin"),
        (col("class") === col("label")).as("correct"))
      .orderBy(col("doc_id"))
  }

  /** [[centroidClassify]] registered over the documents table with
    * `lang` as the class label. */
  def text_classify_centroid(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    centroidClassify(
      Tables.documents(s, d).select($"doc_id", $"lang".as("label"), $"text"),
      Seq("de", "en", "es", "fr", "zh"))
  }

  /** One inverted-index table per source dir, built once per JVM —
    * the ann_lsh_index rule: the postings write is index CONSTRUCTION
    * (the amortized build a search tier pays once), the registered
    * query times the SEARCH path. Postings = (term, doc_id, tf),
    * persisted BUCKETED on term so term-keyed work over the index
    * (document frequencies, candidate fetch) reads pre-partitioned on
    * exactly its key. */
  private val searchIndexBuilt = new java.util.HashSet[String]()
  private[graft] def searchIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val tbl = s"text_idx_${IndexUtil.dirTag(d)}"
    searchIndexBuilt.synchronized { if (!searchIndexBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      writePostings(Tables.documents(s, d), tbl, mode = "overwrite")
      searchIndexBuilt.add(d)
    } }
    tbl
  }

  /** Ensure the postings index exists for `d` and expose it to the
    * SQL-text persona as a DIR-TAGGED temp-view name — [[SqlSurface]]
    * serves `sql_text_search_index` over it; the tag lets two dirs'
    * views coexist on one session (see
    * [[graft.operators.Dedup.mhIndexViews]]). */
  private[graft] def searchIndexView(s: SparkSession, d: String): String = {
    val view = s"text_search_idx_${IndexUtil.dirTag(d)}"
    s.table(searchIndexTable(s, d)).createOrReplaceTempView(view)
    view
  }

  /** Stream-owned copy of the postings index (base split indexed,
    * today's slice left for the stream to ingest) for
    * [[graft.streaming.StreamingOps.searchIndexStream]] — a continuous
    * ingest MUTATES its index (append per micro-batch), so it gets its
    * own tables rather than sharing the batch queries' pristine build;
    * rebuilt on every call (a stream run wants a fresh generation, not
    * a JVM memo). Returns the table name and the base document count —
    * the stream's running-N seed (idf weights need N of the INDEXED
    * corpus as of each refresh). */
  private[graft] def searchStreamIndexTable(s: SparkSession, d: String,
      tag: String): (String, Long) = {
    import s.implicits._
    val tbl = s"txs_idx_${IndexUtil.dirTag(d)}_$tag"
    IndexUtil.dropIndexTable(s, tbl)
    val base = Tables.documents(s, d).filter($"doc_id" % 10 =!= 0)
    writePostings(base, tbl, mode = "overwrite")
    (tbl, base.count())
  }

  /** Append one ingested micro-batch's postings (bucketed append —
    * each append job's files carry their bucket ids, so the df
    * aggregate stays pre-partitioned across generations). */
  private[graft] def appendPostings(docs: DataFrame, tbl: String): Unit =
    writePostings(docs, tbl, mode = "append")

  /** One bucketed postings write pass — shared by the full build and
    * the delta append. */
  private def writePostings(docs: DataFrame, tbl: String, mode: String): Unit =
    postingsOf(docs)
      .write.mode(mode).bucketBy(8, "term").sortBy("term")
      .format("parquet").saveAsTable(tbl)

  /** The (term, doc_id, tf) postings derivation shared by every index
    * generation writer — full build, delta append, and the keyed-merge
    * insert leg, which needs the FRAME (to union with the carry-over)
    * rather than a direct write. */
  private def postingsOf(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
  }

  private val searchDeltaBuilt = new java.util.HashSet[String]()
  /** Incrementally-grown postings index for [[text_search_index_delta]]:
    * the initial build indexes doc_id % 10 ≠ 0 and a second bucketed
    * write APPENDS the % 10 = 0 slice ("today's accepted batch") —
    * the [[graft.operators.Dedup]] band-index append play on the text
    * tier. A document's postings depend on nothing but the document
    * (term frequencies are per-doc), so append ≡ rebuild holds by
    * construction — EXCEPT for the idf weights, which shift with N
    * and df as the corpus grows: the search recomputes them from the
    * merged index at query time (one pre-partitioned aggregate), so a
    * grown index re-weights for free where a baked-weights design
    * would rebuild. The driver hash gate proves the merge: same
    * oracle as [[text_search_index]], one lost or doubled posting row
    * shifts a tf, df or N and fails the hash. */
  private def searchDeltaIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val tbl = s"text_idxd_${IndexUtil.dirTag(d)}"
    searchDeltaBuilt.synchronized { if (!searchDeltaBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      val docs = Tables.documents(s, d)
      writePostings(docs.filter($"doc_id" % 10 =!= 0), tbl, mode = "overwrite")
      writePostings(docs.filter($"doc_id" % 10 === 0), tbl, mode = "append")
      searchDeltaBuilt.add(d)
    } }
    tbl
  }

  /** KEYWORD SEARCH over the persisted inverted index — the full-text
    * retrieval tier ([[graft.operators.MapReduceOps.mr_inverted_index]]
    * builds the classic index as a REPORT; this is the index as a
    * SERVING STRUCTURE, the text twin of ann_lsh_index). Three fixed
    * disjunctive keyword queries rank documents by
    * Σ_t tf(t,d)·w(t) with w(t) = N·10^6 div df(t) — the
    * inverse-document-frequency RATIO weight, kept in integer ppm (no
    * logarithm: ln() would leave integer land and with it the
    * bit-exact cross-engine replay; at this corpus's df spread the
    * ratio orders terms identically).
    *
    * Scale shape: document frequencies aggregate on the term-BUCKETED
    * index (pre-partitioned on the groupBy key — no Exchange,
    * spec-gated); the tiny query×term weight table broadcasts into
    * the candidate fetch, so the only corpus-scale shuffle is the
    * (query, doc) score aggregate over candidate postings — postings
    * of non-query terms never leave the scan (bucket pruning aside,
    * the broadcast-join filter drops them map-side). w is computed by
    * the text_tfidf Euclidean split and capped at 10^12 (beyond
    * million-fold rarity the signal saturates; the cap keeps tf·w in
    * i64 at any corpus size). N comes from parquet footers — no count
    * scan. */
  def text_search_index(s: SparkSession, d: String): DataFrame =
    searchIndexQuery(s, d, searchIndexTable(s, d))

  /** The SAME search over the APPEND-GROWN postings index — identical
    * rows to [[text_search_index]] by the append ≡ rebuild argument on
    * [[searchDeltaIndexTable]], so it carries that oracle verbatim:
    * same answer, two-generation physical layout, both hash-verified
    * (each append job's files carry their bucket ids, so the scan
    * stays `Bucketed: true` and the df aggregate stays
    * pre-partitioned across generations — spec-gated). */
  def text_search_index_delta(s: SparkSession, d: String): DataFrame =
    searchIndexQuery(s, d, searchDeltaIndexTable(s, d))

  private val searchMergeBuilt = new java.util.HashSet[String]()
  /** KEYED-MERGE-GROWN postings index — the update case the append
    * legs cannot express, on the TEXT tier (the
    * [[graft.operators.Graph]] edge-index keyed-merge play, same
    * round): a RE-CRAWLED document whose content CHANGED invalidates
    * postings already written — rows must be deleted (terms the new
    * version dropped) and rewritten (tf shifts), which no append can
    * express. At 100 TB this is the COMMON case — a crawler re-visits
    * pages daily and boilerplate comes and goes; brand-new documents
    * (the append leg) are the rare one.
    *
    * The split models it: the base generation indexes every document,
    * but the touched slice (doc_id % 10 = 4) carries its FIRST-crawl
    * text — the true content plus a cookie-banner boilerplate suffix
    * the re-crawl later drops (so stale postings contain term rows the
    * final index must NOT have: a pure-append design can never remove
    * them). The merge is [[MetadataOps.fs_table_merge]]'s
    * read-modify-write applied to the touched doc GROUPS (reference:
    * DistCp `-update` copy-if-changed, hadoop-tools/hadoop-distcp/src/
    * main/java/org/apache/hadoop/tools/DistCp.java:1):
    *
    *   - untouched docs' postings CARRY OVER byte-identical (anti-join
    *     on the delta's distinct doc_ids — broadcast-sized: the
    *     touched key set is delta-shaped, never index-shaped);
    *   - each touched doc's postings are REBUILT from its re-crawled
    *     text ([[postingsOf]] — the exact build expression);
    *   - the result is written as the NEXT GENERATION of the same
    *     term-bucketed layout through [[IndexUtil
    *     .writeVerifiedGeneration]], and only then swapped in (drop
    *     the stale generation).
    *
    * Scale: copy-on-write — one bucketed rewrite whose Exchange is
    * delta-sized (carry-over rows never leave their term buckets; the
    * touched docs' postings re-shuffle); at 100 TB the postings table
    * is additionally range-partitioned on term so only touched
    * partitions rewrite (the Delta/Hudi CoW trade). Note the key
    * asymmetry this tier adds: the table is bucketed on TERM but the
    * delete key is DOC_ID, so a touched doc's stale rows live in many
    * buckets — exactly why the delete must ride a full-scan anti-join
    * (or tombstones + merge-on-read) rather than a bucket-local drop.
    *
    * The merged table holds the identical (term, doc_id, tf) set as a
    * full rebuild over the re-crawled corpus — spec-gated directly —
    * so the registered query carries [[text_search_index]]'s oracle
    * verbatim: the hash match IS merge ≡ rebuild. */
  private def searchMergeIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val base = s"text_idxk_${IndexUtil.dirTag(d)}"
    val merged = s"${base}_m"
    searchMergeBuilt.synchronized { if (!searchMergeBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, base)
      IndexUtil.dropIndexTable(s, merged)
      val docs = Tables.documents(s, d)
      // first-crawl snapshot: the touched slice carries boilerplate
      // the re-crawl removes (stale postings the merge must DELETE)
      val firstCrawl = docs.withColumn("text",
        when($"doc_id" % 10 === 4,
          concat($"text", lit(" accept all cookies to continue")))
          .otherwise($"text"))
      writePostings(firstCrawl, base, mode = "overwrite")
      val recrawled = docs.filter($"doc_id" % 10 === 4)
      val touched = recrawled.select($"doc_id").distinct()
      // re-select: the USING-column anti-join moves doc_id first;
      // the next generation must keep the base schema order
      val mergedRows = s.table(base).join(touched, Seq("doc_id"), "left_anti")
        .unionByName(postingsOf(recrawled))
        .select($"term", $"doc_id", $"tf")
      IndexUtil.writeVerifiedGeneration(mergedRows, merged, 8, Seq("term"),
        Seq("term"), "postings merge")
      IndexUtil.dropIndexTable(s, base) // commit point: merged is live
      searchMergeBuilt.add(d)
    } }
    merged
  }

  /** The SAME search over the KEYED-MERGE-GROWN postings index (see
    * [[searchMergeIndexTable]]) — registered so the driver's hash gate
    * proves stale-snapshot + keyed merge ≡ rebuild over the re-crawled
    * corpus: the changed-document update path, closing on the text
    * tier the boundary the graph tier's merge leg closed for
    * denormalized out-weights. */
  def text_search_index_merge(s: SparkSession, d: String): DataFrame =
    searchIndexQuery(s, d, searchMergeIndexTable(s, d))

  private val searchCompactBuilt = new java.util.HashSet[String]()
  /** COMPACTED postings index — the maintenance op that closes the
    * generation lifecycle: build → append (delta) → merge (update) →
    * COMPACT (fold the accreted generations back to one). The
    * fragmented history here is five bucketed write jobs (one per
    * doc_id % 5 arrival slice — a week of accepted batches), each
    * adding a file set per bucket; [[IndexUtil.compactTable]] folds
    * them into one generation with one Exchange-free job (see its
    * scaladoc for the mechanism and the FSDirConcatOp / Hadoop
    * Archives reference anchors), fingerprint-verifies, and swaps.
    * The search is [[searchIndexQuery]] verbatim over the compacted
    * table — identical rows to [[text_search_index]] because
    * compaction holds the contents fixed by construction (and by the
    * 64-bucket fingerprint gate), so it carries that oracle verbatim:
    * the hash match IS compaction-is-invisible. TextPipelineSpec
    * additionally gates the part the oracle cannot see: the file
    * count strictly shrinks and the compacted scan still serves
    * `Bucketed: true`, Exchange-free. */
  private def searchCompactIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val frag = s"text_idxf_${IndexUtil.dirTag(d)}"
    val compacted = s"${frag}_c"
    searchCompactBuilt.synchronized { if (!searchCompactBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, frag)
      IndexUtil.dropIndexTable(s, compacted)
      val docs = Tables.documents(s, d)
      writePostings(docs.filter($"doc_id" % 5 === 0), frag, mode = "overwrite")
      (1 to 4).foreach(i =>
        writePostings(docs.filter($"doc_id" % 5 === i), frag, mode = "append"))
      IndexUtil.compactTable(s, frag, compacted,
        buckets = 8, bucketCols = Seq("term"), sortCols = Seq("term"))
      searchCompactBuilt.add(d)
    } }
    compacted
  }

  /** The SAME search over the COMPACTED postings index (see
    * [[searchCompactIndexTable]]) — registered so the driver's hash
    * gate proves five fragmented generations folded to one serve
    * bit-identical results. */
  def text_search_index_compact(s: SparkSession, d: String): DataFrame =
    searchIndexQuery(s, d, searchCompactIndexTable(s, d))

  /** Stream-owned generation-0 postings index for
    * [[graft.streaming.StreamingOps.compactingIndexStream]] — the
    * generation-chain posture ([[MetadataOps.mergeStreamTarget]]'s
    * naming: `<base>_g<n>`, maintenance advances n) applied to the
    * postings tier: the stream appends into the CURRENT generation
    * and periodically compacts it forward. Rebuilt on every call (a
    * fresh chain), dropping any same-tag generations a previous run
    * of this JVM left and the chain's commit markers — a rebuilt
    * chain must never inherit append history. Returns the chain BASE
    * name and the indexed document count (the running-N seed). */
  private[graft] def searchCompactStreamTable(s: SparkSession, d: String,
      tag: String): (String, Long) = {
    import s.implicits._
    val base = s"txc_idx_${IndexUtil.dirTag(d)}_$tag"
    s.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith(s"${base}_g"))
      .foreach(IndexUtil.dropIndexTable(s, _))
    IndexUtil.dropIndexTable(s, s"${base}_g0")
    IndexUtil.clearCommitMarkers(s, base)
    val docs = Tables.documents(s, d).filter($"doc_id" % 10 =!= 0)
    writePostings(docs, s"${base}_g0", mode = "overwrite")
    (base, docs.count())
  }

  /** The search path, table-parameterized so the one-shot and
    * append-grown indexes share it verbatim. */
  private def searchIndexQuery(s: SparkSession, d: String, tbl: String): DataFrame =
    searchIndexQueryOver(s, tbl, Tables.parquetRowCount(s, d, "documents"))

  /** The search path over an explicit (table, corpus-N) — the
    * streaming twin refreshes standing queries per micro-batch with N
    * = documents indexed SO FAR (idf re-derives from the merged index
    * at every refresh; N arrives from the caller's running count, not
    * a table scan). N rides as a column of the query-term relation,
    * not as a literal in the weight expression, so the generated code
    * does not depend on it: a refresh with a new N reuses the classes
    * Spark compiled for the previous one (spec-gated). */
  private[graft] def searchIndexQueryOver(s: SparkSession, tbl: String,
      n: Long): DataFrame = {
    import s.implicits._
    val idx = s.table(tbl)
    val qTerms = Seq(
      (0L, "spark"), (0L, "join"),
      (1L, "window"), (1L, "stream"), (1L, "sort"),
      (2L, "customer"), (2L, "merge")).map { case (q, t) => (q, t, n) }
      .toDF("query_id", "term", "n")
    val dfreq = idx.groupBy($"term").agg(count(lit(1)).as("df"))
    val weights = qTerms.join(dfreq, "term")
      .withColumn("w_ppm", least(lit(1000000000000L),
        expr("(n div df) * 1000000 + ((n % df) * 1000000) div df")))
      .drop("n")
    val scored = idx.join(broadcast(weights), "term")
      .groupBy($"query_id", $"doc_id")
      .agg(sum(expr("tf * w_ppm")).as("score_ppm"),
        count(lit(1)).as("terms_hit"))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id").orderBy($"score_ppm".desc, $"doc_id")))
      .filter($"rank" <= 10)
      .select($"query_id", $"rank", $"doc_id", $"score_ppm", $"terms_hit")
      .orderBy($"query_id", $"rank")
  }

  /** MULTI-DESTINATION SINGLE-PASS WRITE — the reference's
    * MultipleOutputs (hadoop-mapreduce-project/hadoop-mapreduce-client/
    * hadoop-mapreduce-client-core/src/main/java/org/apache/hadoop/
    * mapreduce/lib/output/MultipleOutputs.java:1 — one job writing to
    * several NAMED outputs, a record free to land in more than one),
    * the posture a curation pass needs at 100 TB: emitting curated +
    * rejected + audit corpora by rescanning per destination triples
    * the read. Spark-first: route each document in one map (quality
    * gate → curated/rejected; every doc_id ≡ 0 mod 41 ALSO copies to
    * audit — the overlapping-outputs case partitionBy alone can't
    * fake), explode the per-row destination list, and write ONCE with
    * `partitionBy("dest")` — a single scan, a single job, each
    * destination its own directory subtree that downstream readers
    * consume independently (and partition-prune to). The registered
    * query reads the accounting BACK from the written splits, so the
    * oracle hash-verifies the materialized routing, not an in-memory
    * plan. Memoized setup (the exportOnce rule): the write is paid
    * once; Verify/Bench time the read-back.
    *
    * Scale: the destination fan here is 3; partitionBy's cost model is
    * one open writer per (task, live destination) — at wider fans sort
    * within partitions on the route column first (or cap via
    * maxRecordsPerFile) so each task streams one destination at a
    * time instead of holding |dests| writers. */
  private val multiRouteBuilt = new java.util.HashSet[String]()

  /** The routing map itself — one stateless per-row pass from a
    * documents-shaped frame to (doc_id, lang, source, n_chars, dest)
    * with one row per (doc, destination). Shared verbatim by the batch
    * write here and [[graft.streaming.StreamingOps.multiRouteStream]]
    * (the same transform is a legal streaming plan: no state, no
    * watermark — routing is append-only by nature). */
  private[graft] def routedDocs(docs: DataFrame): DataFrame =
    docs
      .withColumn("route",
        when(col("lang") === "en" && col("n_chars") >= 150, "curated")
          .otherwise("rejected"))
      .withColumn("dest", explode(
        when(pmod(col("doc_id"), lit(41)) === 0,
          array(col("route"), lit("audit"))).otherwise(array(col("route")))))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("dest"))

  def text_multi_route(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), s"graft_multiroute_$tag")
    multiRouteBuilt.synchronized { if (!multiRouteBuilt.contains(d)) {
      routedDocs(Tables.documents(s, d))
        .write.mode("overwrite").partitionBy("dest").parquet(dir.getPath)
      multiRouteBuilt.add(d)
    } }
    s.read.parquet(dir.getPath)
      .groupBy($"dest")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"))
      .orderBy($"dest")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_multi_route" -> text_multi_route _,
    "text_search_index" -> text_search_index _,
    "text_search_index_delta" -> text_search_index_delta _,
    "text_search_index_merge" -> text_search_index_merge _,
    "text_search_index_compact" -> text_search_index_compact _,
    "text_classify_centroid" -> text_classify_centroid _,
    "text_window_chunks" -> text_window_chunks _,
    "text_curation_funnel" -> text_curation_funnel _,
    "text_dsir_select" -> text_dsir_select _,
    "text_gopher_rules" -> text_gopher_rules _,
    "text_domain_cap" -> text_domain_cap _,
    "text_pack" -> ((s, d) => text_pack(s, d)),
    "text_sample" -> text_sample _,
    "text_mixture_epochs" -> text_mixture_epochs _,
    "text_epoch_order" -> text_epoch_order _,
    "text_tfidf" -> text_tfidf _,
    "text_unigram_score" -> text_unigram_score _,
    "text_normalize" -> text_normalize _,
    "text_pii_scrub" -> text_pii_scrub _,
    "text_bigrams" -> text_bigrams _,
    "text_bpe_pairs" -> text_bpe_pairs _,
    "text_bpe_train" -> text_bpe_train _,
    "text_bpe_encode" -> text_bpe_encode _,
    "text_bigram_lm" -> text_bigram_lm _,
    "text_ccnet_buckets" -> text_ccnet_buckets _,
    "text_quality" -> text_quality _,
    "text_tokens" -> text_tokens _,
    "text_langid" -> text_langid _,
    "text_fingerprint" -> text_fingerprint _,
    "text_cdc_chunks" -> text_cdc_chunks _,
    "text_pipeline" -> text_pipeline _,
    "text_pipeline_near" -> text_pipeline_near _,
    "text_decontam" -> text_decontam _,
    "text_decontam_bloom" -> text_decontam_bloom _,
    "text_decontam_spans" -> text_decontam_spans _,
    "text_dup_spans" -> text_dup_spans _,
    "text_dup_strip" -> text_dup_strip _,
    "text_repetition" -> text_repetition _,
    "text_split" -> text_split _,
    "text_token_hist" -> text_token_hist _)

  /** DuckDB re-derivation of the FULL iterative BPE training loop —
    * the "data-dependent fixpoint" class (ann_ivf's Lloyd, CC's
    * pointer jumping) is normally out of a SQL oracle's reach, but
    * BPE's per-round STATE is one (l, r) argmax plus a vocab-sized
    * token table, small enough to UNROLL: 16 generated CTE stages,
    * each = pair count over the previous vocab, a deterministic
    * (n DESC, l, r) argmax, and the same left-to-right
    * non-overlapping merge fold as [[applyBpeMerge]] expressed as a
    * `list_reduce` over singleton-wrapped tokens (DuckDB's fold takes
    * the first element as the seed accumulator, so wrapping each
    * token as a one-element list makes acc/element types line up;
    * `acc[:-2]` is the drop-last slice — negative slice bounds are
    * INCLUSIVE). Stages MUST be `AS MATERIALIZED`: each stage
    * references its predecessor twice, and DuckDB inlines plain CTEs,
    * which makes the expansion exponential (2^16 scans — measured as
    * "too many open files" before it even runs). */
  private def bpeStageSql(k: Int): String = {
    val p = k - 1
    s"""pairs_$k AS (
       |  SELECT toks[u.i] AS l, toks[u.i + 1] AS r, CAST(sum(freq) AS BIGINT) AS n
       |  FROM vocab_$p, LATERAL unnest(range(1, len(toks))) AS u(i)
       |  GROUP BY 1, 2),
       |best_$k AS MATERIALIZED (SELECT l, r, n FROM pairs_$k ORDER BY n DESC, l, r LIMIT 1),
       |vocab_$k AS MATERIALIZED (
       |  SELECT toks, freq FROM (
       |    SELECT list_reduce(list_transform(toks, x -> [x]),
       |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
       |                  THEN list_append(acc[:-2], b.l || b.r)
       |                  ELSE list_concat(acc, x) END) AS toks, freq
       |    FROM vocab_$p, best_$k b)
       |  WHERE len(toks) >= 2)""".stripMargin
  }

  private val bpeRounds = 16

  private def bpeTrainChainSql: String =
    ("""WITH vocab_0 AS MATERIALIZED (
       |  SELECT string_split(w, '') AS toks, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 2 GROUP BY w)""".stripMargin +:
      (1 to bpeRounds).map(bpeStageSql)).mkString(",\n")

  private def bpeTrainOracleSql: String = {
    val sel = (1 to bpeRounds).map(k =>
      s"SELECT $k AS rank, l AS lhs, r AS rhs, l || r AS merged, n AS freq FROM best_$k")
      .mkString(" UNION ALL ")
    s"$bpeTrainChainSql\nSELECT * FROM ($sel) ORDER BY rank"
  }

  /** The encode oracle rides the SAME generated training chain, then
    * applies each round's argmax to the UNFILTERED distinct-word
    * table (wt_k — no length-2 filter, no merged-away drop: encoding
    * must cover every word, mirroring the Spark side's vocab-collapse
    * encode), and joins per-(doc, word) occurrence counts back —
    * exactly [[text_bpe_encode]]'s plan re-expressed. LEFT JOIN ON
    * TRUE against the 1-row best_k keeps all words even if a late
    * round ran out of pairs (empty best_k would otherwise wipe the
    * vocab). */
  private def bpeEncodeOracleSql: String = {
    val wtStages = (1 to bpeRounds).map { k =>
      val p = k - 1
      s"""wt_$k AS MATERIALIZED (
         |  SELECT w, CASE WHEN len(toks) < 2 THEN toks ELSE
         |    list_reduce(list_transform(toks, x -> [x]),
         |      (acc, x) -> CASE WHEN len(acc) > 0 AND acc[-1] = b.l AND x[1] = b.r
         |                  THEN list_append(acc[:-2], b.l || b.r)
         |                  ELSE list_concat(acc, x) END) END AS toks
         |  FROM wt_$p LEFT JOIN best_$k b ON TRUE)""".stripMargin
    }
    val wt0 =
      """wt_0 AS MATERIALIZED (
        |  SELECT w, string_split(w, '') AS toks
        |  FROM (SELECT DISTINCT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 1)""".stripMargin
    s"""$bpeTrainChainSql,
       |$wt0,
       |${wtStages.mkString(",\n")},
       |occ AS (
       |  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
       |  WHERE length(w) >= 1 GROUP BY 1, 2),
       |enc AS (
       |  SELECT w, CAST(len(toks) AS BIGINT) AS n_toks,
       |         CAST(length(w) AS BIGINT) AS n_chars_w
       |  FROM wt_$bpeRounds),
       |agg AS (
       |  SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
       |    CAST(sum(tf * n_chars_w) AS BIGINT) AS n_chars_nosp,
       |    CAST(sum(tf * n_toks) AS BIGINT) AS n_bpe_tokens
       |  FROM occ JOIN enc USING (w) GROUP BY 1)
       |SELECT doc_id, n_words, n_chars_nosp, n_bpe_tokens,
       |  n_chars_nosp * 1000000 // n_bpe_tokens AS chars_per_token_ppm
       |FROM agg ORDER BY doc_id""".stripMargin
  }

  /** DuckDB re-derivation of the FULL [[centroidClassify]] train +
    * infer composition — generated over the same class list as the
    * Spark side so the per-class column set cannot drift: the dsir
    * gram/hash CTEs, per-class bucket counts, ppm centroid weights,
    * held-out scoring, the 5-way unpivot and the (score DESC, class)
    * argmax window, all integer-exact. */
  private val classifyCentroidOracleSql: String = {
    val cs = Seq("de", "en", "es", "fr", "zh")
    val cntCols = cs.map(c =>
      s"CAST(sum(CASE WHEN label = '$c' THEN 1 ELSE 0 END) AS BIGINT) AS cnt_$c")
      .mkString(",\n    ")
    val totCols = cs.map(c => s"CAST(sum(cnt_$c) AS BIGINT) AS tot_$c")
      .mkString(", ")
    val wCols = cs.map(c =>
      s"cnt_$c * 1000000 // tot_$c - cnt_all * 1000000 // tot_all AS w_$c")
      .mkString(",\n    ")
    val sCols = cs.map(c => s"CAST(sum(w_$c) AS BIGINT) AS s_$c")
      .mkString(", ")
    val unpiv = cs.map(c =>
      s"SELECT doc_id, label, '$c' AS class, s_$c AS score FROM sc")
      .mkString("\n  UNION ALL ")
    s"""WITH words AS (
       |  SELECT doc_id, lang AS label,
       |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
       |  FROM documents),
       |grams AS (
       |  SELECT doc_id, label,
       |    CAST(('0x' || substr(md5(t.g), 1, 8))::BIGINT % 1024 AS BIGINT) AS b
       |  FROM words,
       |    LATERAL unnest(list_transform(range(1, len(ws)),
       |      i -> ws[i] || ' ' || ws[i + 1])) AS t(g)),
       |cnt AS (
       |  SELECT b, CAST(count(*) AS BIGINT) AS cnt_all,
       |    $cntCols
       |  FROM grams WHERE doc_id % 10 <> 1 GROUP BY b),
       |tot AS (
       |  SELECT CAST(sum(cnt_all) AS BIGINT) AS tot_all, $totCols FROM cnt),
       |wt AS (
       |  SELECT b,
       |    $wCols
       |  FROM cnt, tot),
       |sc AS (
       |  SELECT g.doc_id, any_value(g.label) AS label, $sCols
       |  FROM grams g JOIN wt USING (b)
       |  WHERE g.doc_id % 10 = 1 GROUP BY g.doc_id),
       |up AS (
       |  $unpiv),
       |rk AS (
       |  SELECT doc_id, label, class, score,
       |    row_number() OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, class) AS rn,
       |    lead(score) OVER (PARTITION BY doc_id
       |      ORDER BY score DESC, class) AS runner_up
       |  FROM up)
       |SELECT doc_id, label, class AS pred, score AS pred_score,
       |  score - runner_up AS margin, class = label AS correct
       |FROM rk WHERE rn = 1 ORDER BY doc_id""".stripMargin
  }

  private def searchIndexOracleSql: String =
    """WITH q(query_id, term) AS (VALUES
        |  (0, 'spark'), (0, 'join'),
        |  (1, 'window'), (1, 'stream'), (1, 'sort'),
        |  (2, 'customer'), (2, 'merge')),
        |post AS (
        | SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS term
        |  FROM documents)
        | GROUP BY 1, 2),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY 1),
        |wq AS (
        | SELECT CAST(q.query_id AS BIGINT) AS query_id, q.term,
        |  least(1000000000000,
        |    (nn.n // df) * 1000000 + ((nn.n % df) * 1000000) // df) AS w_ppm
        | FROM q JOIN dfreq USING (term) CROSS JOIN nn),
        |sc AS (
        | SELECT wq.query_id, post.doc_id,
        |  CAST(sum(post.tf * wq.w_ppm) AS BIGINT) AS score_ppm,
        |  CAST(count(*) AS BIGINT) AS terms_hit
        | FROM post JOIN wq USING (term) GROUP BY 1, 2)
        |SELECT query_id, rank, doc_id, score_ppm, terms_hit FROM (
        | SELECT query_id, doc_id, score_ppm, terms_hit,
        |  row_number() OVER (PARTITION BY query_id
        |    ORDER BY score_ppm DESC, doc_id) AS rank
        | FROM sc)
        |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  val oracle: Map[String, String] = Map(
    "text_multi_route" ->
      """WITH routed AS (
        |  SELECT doc_id, n_chars,
        |    CASE WHEN lang = 'en' AND n_chars >= 150 THEN 'curated'
        |         ELSE 'rejected' END AS dest
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, n_chars, 'audit' FROM documents WHERE doc_id % 41 = 0)
        |SELECT dest, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
        |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM routed GROUP BY 1 ORDER BY 1""".stripMargin,
    "text_classify_centroid" -> classifyCentroidOracleSql,
    "text_bpe_train" -> bpeTrainOracleSql,
    "text_bpe_encode" -> bpeEncodeOracleSql,
    // The FULL winnowing kernel re-expressed in DuckDB: per-position
    // FNV char-5-gram hashes (hex-byte extraction — the corpus is
    // ASCII, where char ops = byte ops), the murmur fmix64 finalizer
    // with its 64x64-bit multiplies SPLIT 32/32 (a direct HUGEINT
    // product of two ~2^64 constants overflows INT128), signed window
    // minima via list slicing, first-occurrence dedup via
    // list_position, and the FNV mod-2^64 fold. Hash-matching this
    // against [[graft.functions.WinnowStatsExpr]]'s codegen'd output
    // verifies the whole kernel on a second engine (KernelSpec already
    // pins it against a naive Scala reference). Docs shorter than one
    // gram would be absent here vs (0,0,seed) on the Spark side; the
    // driver corpus's min length is ~44 chars at every SF.
    "text_fingerprint" ->
      """WITH b AS (
        |  SELECT doc_id, hex(encode(lower(text))) AS hx,
        |         greatest(0, length(text) - 4) AS ng
        |  FROM documents),
        |pos AS (
        |  SELECT doc_id, ng, i, ((xor(((xor(((xor(((xor(((xor(1469598103934665603::HUGEINT, ('0x' || substr(hx, CAST(2*(i+0)+1 AS BIGINT), 2))::BIGINT::HUGEINT)) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT, ('0x' || substr(hx, CAST(2*(i+1)+1 AS BIGINT), 2))::BIGINT::HUGEINT)) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT, ('0x' || substr(hx, CAST(2*(i+2)+1 AS BIGINT), 2))::BIGINT::HUGEINT)) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT, ('0x' || substr(hx, CAST(2*(i+3)+1 AS BIGINT), 2))::BIGINT::HUGEINT)) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT, ('0x' || substr(hx, CAST(2*(i+4)+1 AS BIGINT), 2))::BIGINT::HUGEINT)) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT AS hf
        |  FROM b, LATERAL unnest(range(ng)) AS t(i)),
        |f1 AS (SELECT doc_id, ng, i, xor(hf, hf // 8589934592::HUGEINT) AS a FROM pos),
        |f2 AS (SELECT doc_id, ng, i, (((a) % 4294967296::HUGEINT) * 18397679294719823053::HUGEINT % 18446744073709551616::HUGEINT + ((((a) // 4294967296::HUGEINT) * 3981806797::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS bb FROM f1),
        |f3 AS (SELECT doc_id, ng, i, xor(bb, bb // 8589934592::HUGEINT) AS c FROM f2),
        |f4 AS (SELECT doc_id, ng, i, (((c) % 4294967296::HUGEINT) * 14181476777654086739::HUGEINT % 18446744073709551616::HUGEINT + ((((c) // 4294967296::HUGEINT) * 444984403::HUGEINT) % 4294967296::HUGEINT) * 4294967296::HUGEINT) % 18446744073709551616::HUGEINT AS d FROM f3),
        |f5 AS (SELECT doc_id, ng, i,
        |  CAST(CASE WHEN xor(d, d // 8589934592::HUGEINT) >= 9223372036854775808::HUGEINT
        |       THEN xor(d, d // 8589934592::HUGEINT) - 18446744073709551616::HUGEINT ELSE xor(d, d // 8589934592::HUGEINT) END AS BIGINT) AS hsig
        |  FROM f4),
        |hs AS (
        |  SELECT doc_id, any_value(ng) AS ng, list(hsig ORDER BY i) AS hashes
        |  FROM f5 GROUP BY doc_id),
        |wins AS (
        |  SELECT doc_id, ng, hashes,
        |    greatest(1, ng - 8 + 1) AS nwins, least(8, ng) AS effw
        |  FROM hs),
        |minima AS (
        |  SELECT doc_id, ng,
        |    list_transform(range(nwins), p -> list_min(hashes[p + 1 : p + effw])) AS m
        |  FROM wins),
        |sel AS (
        |  SELECT doc_id, ng,
        |    list_filter(list_transform(range(len(m)), i ->
        |      CASE WHEN list_position(m, m[i + 1]) = i + 1 THEN m[i + 1] ELSE NULL END),
        |      v -> v IS NOT NULL) AS dm
        |  FROM minima),
        |fp AS (
        |  SELECT doc_id, ng, len(dm) AS selected,
        |    list_reduce(
        |      list_prepend(1469598103934665603::HUGEINT,
        |        list_transform(dm, v ->
        |          CASE WHEN v < 0 THEN v::HUGEINT + 18446744073709551616::HUGEINT ELSE v::HUGEINT END)),
        |      (acc, x) -> (xor(acc::HUGEINT, x::HUGEINT) * 1099511628211::HUGEINT) % 18446744073709551616::HUGEINT) AS hh
        |  FROM sel)
        |SELECT doc_id, CAST(ng AS BIGINT) AS n_grams, CAST(selected AS BIGINT) AS n_selected,
        |  CAST(CASE WHEN hh >= 9223372036854775808::HUGEINT
        |       THEN hh - 18446744073709551616::HUGEINT ELSE hh END AS BIGINT) AS fingerprint
        |FROM fp ORDER BY doc_id""".stripMargin,
    // The FULL CDC kernel re-expressed in DuckDB: the gear table is
    // REBUILT from the same five-line fmix64 (32/32-split HUGEINT
    // multiplies, the text_fingerprint technique) over range(256), the
    // incremental Gear recurrence is recomputed POSITIONALLY as a
    // 10-term lag() window sum mod 1024 (legal precisely because the
    // kernel's shifted terms self-expire at 2^10 — see
    // ExprKernels.cdcChunks), chunk spans come from lag() over the
    // boundary positions + a tail row, and each chunk's FNV64 is a
    // list_reduce over its byte slice. Hash-matching this verifies
    // every boundary decision and every chunk hash on a second engine.
    "text_cdc_chunks" ->
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
        |  SELECT doc_id, source, hex(encode(text)) AS hx, length(text) AS len
        |  FROM documents WHERE length(text) > 0),
        |pos AS (
        |  SELECT doc_id, source, len, i,
        |         ('0x' || substr(hx, CAST(2*i+1 AS BIGINT), 2))::BIGINT AS byte
        |  FROM b, LATERAL unnest(range(len)) AS t(i)),
        |gp AS (
        |  SELECT p.doc_id, p.source, p.len, p.i, p.byte, g.gm
        |  FROM pos p JOIN gear g ON p.byte = g.bv),
        |sv AS (
        |  SELECT doc_id, source, len, i,
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
        |bnd AS (SELECT doc_id, source, i FROM sv WHERE s < 16),
        |spans AS (
        |  SELECT doc_id, source,
        |         coalesce(lag(i) OVER (PARTITION BY doc_id ORDER BY i) + 1, 0) AS st,
        |         i AS fin
        |  FROM bnd
        |  UNION ALL
        |  SELECT b.doc_id, b.source, coalesce(m.mx + 1, 0) AS st, b.len - 1 AS fin
        |  FROM b LEFT JOIN (SELECT doc_id, max(i) AS mx FROM bnd GROUP BY doc_id) m
        |    ON b.doc_id = m.doc_id
        |  WHERE coalesce(m.mx + 1, 0) <= b.len - 1),
        |bl AS (SELECT doc_id, list(byte ORDER BY i) AS bs FROM pos GROUP BY doc_id),
        |hh AS (
        |  SELECT s.source, s.fin - s.st + 1 AS clen,
        |    list_reduce(
        |      list_prepend(1469598103934665603::HUGEINT,
        |        list_transform(bs[s.st + 1 : s.fin + 1], x -> x::HUGEINT)),
        |      (acc, x) -> (xor(acc, x) * 1099511628211::HUGEINT)
        |                  % 18446744073709551616::HUGEINT) AS hu
        |  FROM spans s JOIN bl ON s.doc_id = bl.doc_id),
        |hs AS (
        |  SELECT source, clen,
        |    CAST(CASE WHEN hu >= 9223372036854775808::HUGEINT
        |         THEN hu - 18446744073709551616::HUGEINT ELSE hu END AS BIGINT) AS h
        |  FROM hh),
        |per AS (
        |  SELECT source, h, clen, CAST(count(*) AS BIGINT) AS cnt
        |  FROM hs GROUP BY 1, 2, 3)
        |SELECT source,
        |  CAST(sum(cnt) AS BIGINT) AS n_chunks,
        |  CAST(count(*) AS BIGINT) AS uniq_chunks,
        |  CAST(sum(clen * cnt) AS BIGINT) AS n_bytes,
        |  CAST(sum(clen * (cnt - 1)) AS BIGINT) AS dup_bytes,
        |  CAST(max(clen) AS BIGINT) AS max_chunk,
        |  CAST(sum(clen * (cnt - 1)) AS BIGINT) * 1000000
        |    // CAST(sum(clen * cnt) AS BIGINT) AS dup_ppm
        |FROM per GROUP BY 1 ORDER BY 1""".stripMargin,
    // One flat global cumsum — deliberately NOT the two-phase
    // decomposition the Spark side runs; the hash gate proves the
    // distributed prefix sum exactly reproduces the sequential one.
    "text_pack" ->
      """WITH perdoc AS (
        | SELECT doc_id,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
        | FROM documents),
        |c AS (
        | SELECT doc_id, n_tokens,
        |  CAST(COALESCE(sum(n_tokens) OVER (ORDER BY doc_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        | FROM perdoc)
        |SELECT doc_id, n_tokens, start_off,
        | start_off // 2048 AS start_ctx,
        | (start_off + greatest(n_tokens, 1) - 1) // 2048 AS end_ctx,
        | (start_off + greatest(n_tokens, 1) - 1) // 2048
        |   - start_off // 2048 + 1 AS n_ctx
        |FROM c ORDER BY doc_id""".stripMargin,
    "text_epoch_order" ->
      """WITH b AS (
        | SELECT doc_id, lang,
        |  CAST(CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |    % 1000 AS BIGINT) AS bucket,
        |  CASE WHEN lang = 'en' THEN 900
        |       WHEN lang IN ('fr', 'es') THEN 1500
        |       WHEN lang = 'de' THEN 2250
        |       ELSE 500 END AS rate_pm
        | FROM documents),
        |n AS (
        | SELECT doc_id, lang,
        |  rate_pm // 1000 + CASE WHEN bucket < rate_pm % 1000 THEN 1 ELSE 0 END AS n_copies
        | FROM b),
        |m AS (
        | SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
        | FROM n WHERE n_copies >= 1),
        |k AS (
        | SELECT doc_id, lang, copy_idx AS epoch,
        |  CAST(CAST(('0x' || substr(md5('shuffle:' || CAST(copy_idx AS VARCHAR)
        |    || ':' || CAST(doc_id AS VARCHAR)), 1, 15)) AS UBIGINT) AS BIGINT) AS shuffle_key
        | FROM m)
        |SELECT doc_id, lang, epoch, shuffle_key, shuffle_key % 8 AS shard
        |FROM k ORDER BY epoch, shuffle_key, doc_id""".stripMargin,
    "text_mixture_epochs" ->
      """WITH b AS (
        | SELECT doc_id, lang,
        |  CAST(CAST(('0x' || substr(md5('epoch:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |    % 1000 AS BIGINT) AS bucket,
        |  CASE WHEN lang = 'en' THEN 900
        |       WHEN lang IN ('fr', 'es') THEN 1500
        |       WHEN lang = 'de' THEN 2250
        |       ELSE 500 END AS rate_pm
        | FROM documents),
        |n AS (
        | SELECT doc_id, lang,
        |  rate_pm // 1000 + CASE WHEN bucket < rate_pm % 1000 THEN 1 ELSE 0 END AS n_copies
        | FROM b)
        |SELECT doc_id, lang, CAST(unnest(range(1, n_copies + 1)) AS BIGINT) AS copy_idx
        |FROM n WHERE n_copies >= 1
        |ORDER BY doc_id, copy_idx""".stripMargin,
    "text_sample" ->
      """WITH b AS (
        | SELECT doc_id, lang,
        |  CAST(CAST(('0x' || substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |    % 1000 AS BIGINT) AS bucket,
        |  CASE WHEN lang = 'en' THEN 900
        |       WHEN lang IN ('fr', 'es') THEN 500
        |       WHEN lang = 'de' THEN 250
        |       ELSE 100 END AS rate_pm
        | FROM documents)
        |SELECT doc_id, lang, bucket, CAST(rate_pm AS BIGINT) AS rate_pm
        |FROM b WHERE bucket < rate_pm ORDER BY doc_id""".stripMargin,
    // logical re-derivation of the postings + the same ratio-weight
    // ranking — the physical bucketed-table round trip must be
    // invisible to the result. The append-grown index carries the
    // SAME replay: its hash match IS the append == rebuild theorem.
    "text_search_index_delta" -> searchIndexOracleSql,
    "text_search_index" -> searchIndexOracleSql,
    // the keyed-merge generation holds the identical postings set as
    // a rebuild over the re-crawled corpus, so the identical replay:
    // its hash match IS merge == rebuild (stale boilerplate postings
    // deleted, shifted tfs rewritten)
    "text_search_index_merge" -> searchIndexOracleSql,
    // compaction holds contents fixed (fingerprint-gated), so the
    // identical replay: hash match IS compaction-is-invisible
    "text_search_index_compact" -> searchIndexOracleSql,
    "text_tfidf" ->
      """WITH words AS (
        | SELECT lang, unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS word
        | FROM documents),
        |tf AS (SELECT lang, word, count(*) AS tf FROM words GROUP BY 1, 2),
        |df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1),
        |r AS (
        | SELECT lang, word, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST((tf // df) * 1000000 + ((tf % df) * 1000000) // df AS BIGINT) AS score_ppm,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY (tf // df) * 1000000 + ((tf % df) * 1000000) // df DESC, word) AS rank
        | FROM tf JOIN df USING (word))
        |SELECT lang, rank, word, tf, df, score_ppm
        |FROM r WHERE rank <= 10 ORDER BY lang, rank""".stripMargin,
    // Same whitespace tokenization as text_tfidf's oracle; all-integer
    // arithmetic (sums cast from HUGEINT before the Euclidean-split
    // ppm — non-negative operands, so DuckDB // equals Spark div).
    "text_unigram_score" ->
      """WITH tok AS (
        | SELECT doc_id,
        |   unnest(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS tok
        | FROM documents),
        |tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM tok GROUP BY 1, 2),
        |cnt AS (SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1),
        |agg AS (
        | SELECT tf.doc_id,
        |   CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |   CAST(sum(tf.tf * cnt.c) AS BIGINT) AS sum_freq,
        |   CAST(sum(CASE WHEN cnt.c <= 2 THEN tf.tf ELSE 0 END) AS BIGINT) AS rare
        | FROM tf JOIN cnt USING (tok) GROUP BY 1)
        |SELECT doc_id, n_tokens,
        |  (sum_freq // n_tokens) * 1000000
        |    + ((sum_freq % n_tokens) * 1000000) // n_tokens AS mean_freq_ppm,
        |  rare * 1000000 // n_tokens AS rare_ppm
        |FROM agg ORDER BY doc_id""".stripMargin,
    "text_normalize" ->
      """WITH raw AS (
        | SELECT doc_id,
        |  upper(substr(text, 1, 40)) || chr(9) || ' ' || substr(text, 41)
        |    || '   tail   ' AS raw
        | FROM documents),
        |clean AS (
        | SELECT doc_id, CAST(length(raw) AS BIGINT) AS raw_len,
        |  trim(regexp_replace(lower(raw), '[ \t]+', ' ', 'g')) AS clean_text
        | FROM raw)
        |SELECT doc_id, raw_len, CAST(length(clean_text) AS BIGINT) AS clean_len,
        | clean_text
        |FROM clean ORDER BY doc_id""".stripMargin,
    "text_pii_scrub" ->
      """WITH raw AS (
        | SELECT doc_id, text || ' contact user' || CAST(doc_id AS VARCHAR)
        |  || '@mail.example.com or 555-'
        |  || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |  || ' from 10.' || CAST(doc_id % 256 AS VARCHAR)
        |  || '.0.' || CAST(doc_id % 100 AS VARCHAR) AS raw
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(raw, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS BIGINT) AS n_emails,
        | CAST(len(regexp_extract_all(raw, '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}')) AS BIGINT) AS n_ips,
        | CAST(len(regexp_extract_all(raw, '[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        | regexp_replace(regexp_replace(regexp_replace(raw,
        |   '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g'),
        |   '[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}', '<IP>', 'g'),
        |   '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS scrubbed
        |FROM raw ORDER BY doc_id""".stripMargin,
    "text_repetition" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |u AS (
        | SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS i
        | FROM t),
        |b AS (
        | SELECT a.doc_id, a.word || ' ' || c.word AS g
        | FROM u a JOIN u c ON a.doc_id = c.doc_id AND c.i = a.i + 1),
        |cnts AS (SELECT doc_id, g, count(*) AS cnt FROM b GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
        |  CAST(max(cnt) AS BIGINT) AS top_cnt,
        |  CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) AS BIGINT) AS dup_cnt
        | FROM cnts GROUP BY 1)
        |SELECT doc_id, n_bigrams, top_ppm, dup_ppm,
        | CAST(top_ppm > 100000 OR dup_ppm > 300000 AS BIGINT) AS repetitive
        |FROM (SELECT doc_id, n_bigrams,
        |  top_cnt * 1000000 // n_bigrams AS top_ppm,
        |  dup_cnt * 1000000 // n_bigrams AS dup_ppm FROM agg)
        |ORDER BY doc_id""".stripMargin,
    // Grams as literal strings via list slicing — independent of the
    // Spark side's codegen'd kernel, same string_split(lower, ' ')
    // drop-empties tokenization as every text oracle.
    "text_decontam" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |g AS (
        | SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 6),
        |   i -> array_to_string(ws[i:i+7], ' '))) AS g
        | FROM t WHERE len(ws) >= 8),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0)
        |SELECT doc_id, count(*) AS shared_8grams
        |FROM g JOIN e USING (g)
        |WHERE doc_id % 10 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // Same oracle text as text_decontam: the Bloom prefilter + exact
    // join is RESULT-identical by construction (the join removes the
    // filter's false positives) — the hash match proves it.
    "text_decontam_bloom" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |g AS (
        | SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 6),
        |   i -> array_to_string(ws[i:i+7], ' '))) AS g
        | FROM t WHERE len(ws) >= 8),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0)
        |SELECT doc_id, count(*) AS shared_8grams
        |FROM g JOIN e USING (g)
        |WHERE doc_id % 10 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // dup_strip's island derivation against the EVAL gram set instead
    // of ownership: positions covered by grams the doc_id % 10 slice
    // also contains, merged to maximal spans.
    "text_decontam_spans" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, u.i AS pos, array_to_string(ws[u.i:u.i+7], ' ') AS g
        | FROM t, LATERAL unnest(range(1, len(ws) - 6)) AS u(i)
        | WHERE len(ws) >= 8),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
        |h AS (
        | SELECT doc_id, pos FROM g JOIN e USING (g)
        | WHERE doc_id % 10 <> 0),
        |isl AS (
        | SELECT doc_id, pos,
        |  CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
        |       THEN 1 ELSE 0 END AS ns
        | FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        | SELECT doc_id, span_id, min(pos) AS st, max(pos) + 8 AS en
        | FROM (SELECT doc_id, pos,
        |        sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |       FROM isl)
        | GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, count(*) AS n_excised_spans,
        |  CAST(sum(en - st) AS BIGINT) AS excised_tokens
        | FROM sp GROUP BY 1)
        |SELECT a.doc_id, n_tokens, n_excised_spans, excised_tokens,
        | n_tokens - excised_tokens AS kept_tokens,
        | excised_tokens * 1000000 // n_tokens AS excised_ppm
        |FROM agg a
        |JOIN (SELECT doc_id, len(ws) AS n_tokens FROM t) n USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    // Same literal-gram derivation, now POSITIONAL: gaps-and-islands
    // over duplicated gram starts (new island when the gap > 8), span
    // end = last start + 8. Positions are 1-based here vs Spark's
    // 0-based posexplode — only gaps and end-start differences reach
    // the output, so the base cancels.
    "text_dup_spans" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, u.i AS pos, array_to_string(ws[u.i:u.i+7], ' ') AS g
        | FROM t, LATERAL unnest(range(1, len(ws) - 6)) AS u(i)
        | WHERE len(ws) >= 8),
        |dup AS (
        | SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS nd FROM g GROUP BY 1)
        | WHERE nd >= 2),
        |h AS (SELECT doc_id, pos FROM g JOIN dup USING (g)),
        |isl AS (
        | SELECT doc_id, pos,
        |  CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
        |       THEN 1 ELSE 0 END AS ns
        | FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        | SELECT doc_id, span_id, min(pos) AS st, max(pos) + 8 AS en
        | FROM (SELECT doc_id, pos,
        |        sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |       FROM isl)
        | GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, count(*) AS n_spans,
        |  CAST(sum(en - st) AS BIGINT) AS dup_tokens,
        |  CAST(max(en - st) AS BIGINT) AS longest_span
        | FROM sp GROUP BY 1)
        |SELECT a.doc_id, n_spans, dup_tokens, longest_span,
        | dup_tokens * 1000000 // n_tokens AS dup_ppm
        |FROM agg a
        |JOIN (SELECT doc_id, len(ws) AS n_tokens FROM t) n USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    // dup_spans' derivation plus per-gram ownership: owner =
    // min(doc_id) over the gram group; only NON-owned hits feed the
    // island merge, so the owner doc keeps its copy.
    "text_dup_strip" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |g AS (
        | SELECT doc_id, u.i AS pos, array_to_string(ws[u.i:u.i+7], ' ') AS g
        | FROM t, LATERAL unnest(range(1, len(ws) - 6)) AS u(i)
        | WHERE len(ws) >= 8),
        |own AS (
        | SELECT g, min(doc_id) AS owner FROM g GROUP BY 1
        | HAVING count(DISTINCT doc_id) >= 2),
        |h AS (
        | SELECT doc_id, pos FROM g JOIN own USING (g)
        | WHERE doc_id <> owner),
        |isl AS (
        | SELECT doc_id, pos,
        |  CASE WHEN lag(pos) OVER w IS NULL OR pos - lag(pos) OVER w > 8
        |       THEN 1 ELSE 0 END AS ns
        | FROM h WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        |sp AS (
        | SELECT doc_id, span_id, min(pos) AS st, max(pos) + 8 AS en
        | FROM (SELECT doc_id, pos,
        |        sum(ns) OVER (PARTITION BY doc_id ORDER BY pos) AS span_id
        |       FROM isl)
        | GROUP BY 1, 2),
        |agg AS (
        | SELECT doc_id, count(*) AS n_removed_spans,
        |  CAST(sum(en - st) AS BIGINT) AS removed_tokens
        | FROM sp GROUP BY 1)
        |SELECT a.doc_id, n_tokens, n_removed_spans, removed_tokens,
        | n_tokens - removed_tokens AS kept_tokens,
        | removed_tokens * 1000000 // n_tokens AS removed_ppm
        |FROM agg a
        |JOIN (SELECT doc_id, len(ws) AS n_tokens FROM t) n USING (doc_id)
        |ORDER BY a.doc_id""".stripMargin,
    "text_bigrams" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |u AS (
        | SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS i
        | FROM t),
        |b AS (
        | SELECT a.word || ' ' || c.word AS bigram
        | FROM u a JOIN u c ON a.doc_id = c.doc_id AND c.i = a.i + 1)
        |SELECT bigram, count(*) AS n FROM b
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 25""".stripMargin,
    "text_bpe_pairs" ->
      """WITH vocab AS (
        |  SELECT w, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents)
        |  WHERE length(w) >= 2 GROUP BY w),
        |pairs AS (
        |  SELECT substr(w, CAST(t.i AS BIGINT), 2) AS pair, freq
        |  FROM vocab, LATERAL unnest(range(1, length(w))) AS t(i)),
        |agg AS (SELECT pair, CAST(sum(freq) AS BIGINT) AS n
        |        FROM pairs GROUP BY pair)
        |SELECT pair, n FROM agg ORDER BY n DESC, pair LIMIT 20""".stripMargin,
    // Same integer-exact discipline as text_unigram_score: conditional
    // probabilities as bg*1e6 // prefix-mass (integral division both
    // engines), bigrams re-derived via the text_bigrams subscript join.
    "text_bigram_lm" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |u AS (
        | SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS i
        | FROM t),
        |bi AS (
        | SELECT a.doc_id, a.word || ' ' || c.word AS g,
        |        count(*)::BIGINT AS tf
        | FROM u a JOIN u c ON a.doc_id = c.doc_id AND c.i = a.i + 1
        | GROUP BY 1, 2),
        |bg AS (SELECT g, CAST(sum(tf) AS BIGINT) AS bg FROM bi GROUP BY 1),
        |pref AS (
        | SELECT string_split(g, ' ')[1] AS w1, CAST(sum(bg) AS BIGINT) AS pref
        | FROM bg GROUP BY 1),
        |cond AS (
        | SELECT g, bg * 1000000 // pref AS cond_ppm
        | FROM bg JOIN pref ON string_split(bg.g, ' ')[1] = pref.w1),
        |agg AS (
        | SELECT bi.doc_id,
        |   CAST(sum(bi.tf) AS BIGINT) AS n_bigrams,
        |   CAST(sum(bi.tf * cond.cond_ppm) AS BIGINT) AS sum_cond,
        |   CAST(min(cond.cond_ppm) AS BIGINT) AS min_cond_ppm
        | FROM bi JOIN cond USING (g) GROUP BY 1)
        |SELECT doc_id, n_bigrams, sum_cond // n_bigrams AS mean_cond_ppm,
        |       min_cond_ppm
        |FROM agg ORDER BY doc_id""".stripMargin,
    // text_bigram_lm's re-derivation extended with the histogram
    // threshold arithmetic: c1/c2 = largest scores whose descending
    // cumulative count reaches ceil(n/3) / ceil(2n/3) per language.
    "text_ccnet_buckets" ->
      """WITH t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |u AS (
        | SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS i
        | FROM t),
        |bi AS (
        | SELECT a.doc_id, a.word || ' ' || c.word AS g,
        |        count(*)::BIGINT AS tf
        | FROM u a JOIN u c ON a.doc_id = c.doc_id AND c.i = a.i + 1
        | GROUP BY 1, 2),
        |bg AS (SELECT g, CAST(sum(tf) AS BIGINT) AS bg FROM bi GROUP BY 1),
        |pref AS (
        | SELECT string_split(g, ' ')[1] AS w1, CAST(sum(bg) AS BIGINT) AS pref
        | FROM bg GROUP BY 1),
        |cond AS (
        | SELECT g, bg * 1000000 // pref AS cond_ppm
        | FROM bg JOIN pref ON string_split(bg.g, ' ')[1] = pref.w1),
        |agg AS (
        | SELECT bi.doc_id,
        |   CAST(sum(bi.tf) AS BIGINT) AS n_bigrams,
        |   CAST(sum(bi.tf * cond.cond_ppm) AS BIGINT) AS sum_cond
        | FROM bi JOIN cond USING (g) GROUP BY 1),
        |scj AS (
        | SELECT a.doc_id, d.lang, a.sum_cond // a.n_bigrams AS mean_cond_ppm
        | FROM agg a JOIN documents d ON d.doc_id = a.doc_id),
        |hist AS (
        | SELECT lang, mean_cond_ppm AS sc, count(*)::BIGINT AS c
        | FROM scj GROUP BY 1, 2),
        |cum AS (
        | SELECT lang, sc, c,
        |  CAST(sum(c) OVER (PARTITION BY lang ORDER BY sc DESC) AS BIGINT) AS cum
        | FROM hist),
        |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n FROM hist GROUP BY 1),
        |cuts AS (
        | SELECT lang,
        |  max(CASE WHEN cum >= (n + 2) // 3 THEN sc END) AS c1,
        |  max(CASE WHEN cum >= (2 * n + 2) // 3 THEN sc END) AS c2
        | FROM cum JOIN tot USING (lang) GROUP BY lang)
        |SELECT doc_id, lang, mean_cond_ppm,
        | CASE WHEN mean_cond_ppm >= c1 THEN 'head'
        |      WHEN mean_cond_ppm >= c2 THEN 'middle'
        |      ELSE 'tail' END AS bucket
        |FROM scj JOIN cuts USING (lang) ORDER BY doc_id""".stripMargin,
    // Exact integer ppm mirror of the Spark side (integral division on
    // both engines) — the rounded-double form hash-broke at sf0.1 on
    // the 0.5 × .xxxx5 midpoint (HALF_UP vs float round).
    "text_domain_cap" ->
      """WITH q AS (
        | SELECT doc_id, source, lang,
        |  uniq_ppm * (CASE WHEN n_words >= 20 THEN 2 ELSE 1 END)
        |   * (CASE WHEN stopword_ppm > 10000 THEN 5 ELSE 4 END) // 10 AS quality_ppm
        | FROM (
        |  SELECT doc_id, source, lang, CAST(len(words) AS BIGINT) AS n_words,
        |   CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |     CAST(len(list_filter(words, w -> w IN ('the','a','an','of','and','to','in','is','it'))) AS BIGINT)
        |     * 1000000 // len(words) END AS stopword_ppm,
        |   CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |     CAST(len(list_distinct(words)) AS BIGINT) * 1000000 // len(words) END AS uniq_ppm
        |  FROM (SELECT doc_id, source, lang,
        |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS words
        |   FROM documents))),
        |r AS (
        | SELECT *, row_number() OVER (
        |   PARTITION BY source ORDER BY quality_ppm DESC, doc_id) AS domain_rank
        | FROM q)
        |SELECT doc_id, source, lang, quality_ppm,
        |  CAST(domain_rank AS INTEGER) AS domain_rank
        |FROM r WHERE domain_rank <= 10 ORDER BY doc_id""".stripMargin,
    "text_window_chunks" ->
      """WITH t AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
        |      AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n, CAST(t2.k AS BIGINT) AS chunk_idx
        |  FROM t, LATERAL unnest(range(greatest(0, (n - 32 + 23) // 24) + 1)) AS t2(k)
        |  WHERE n > 0)
        |SELECT doc_id, chunk_idx, chunk_idx * 24 AS tok_start,
        |  least(chunk_idx * 24 + 32, n) AS tok_end,
        |  least(chunk_idx * 24 + 32, n) - chunk_idx * 24 AS n_tokens_chunk,
        |  chunk_idx * 24 + 32 >= n AS is_last
        |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    // The funnel composes the text_pipeline scored/kept CTEs, the
    // text_decontam gram fragment, and text_domain_cap's rank rule;
    // each stage's count is re-derived from scratch in DuckDB so the
    // sequential accounting (not just the final survivor set) is
    // hash-verified.
    "text_curation_funnel" ->
      """WITH scored AS (
        | SELECT doc_id, md5(text) AS h,
        |  CAST(len(words) AS BIGINT) AS n_words, source,
        |  (CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(len(list_distinct(words)) AS BIGINT) * 1000000 // len(words) END)
        |   * (CASE WHEN len(words) >= 20 THEN 2 ELSE 1 END)
        |   * (CASE WHEN (CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |      CAST(len(list_filter(words, w -> w IN ('the','a','an','of','and','to','in','is','it'))) AS BIGINT)
        |      * 1000000 // len(words) END) > 10000 THEN 5 ELSE 4 END) // 10 AS quality_ppm
        | FROM (SELECT doc_id, text, source,
        |   list_filter(string_split(lower(text), ' '), w -> w <> '') AS words
        |  FROM documents)),
        |q AS (SELECT * FROM scored WHERE n_words >= 10 AND quality_ppm >= 500000),
        |k AS (
        | SELECT q.* FROM q
        | JOIN (SELECT h, min(doc_id) AS doc_id FROM q GROUP BY 1) m
        |  ON q.h = m.h AND q.doc_id = m.doc_id),
        |t AS (
        | SELECT doc_id,
        |  list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        | FROM documents),
        |g AS (
        | SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(ws) - 6),
        |   i -> array_to_string(ws[i:i+7], ' '))) AS g
        | FROM t WHERE len(ws) >= 8),
        |e AS (SELECT DISTINCT g FROM g WHERE doc_id % 10 = 0),
        |contam AS (
        | SELECT DISTINCT doc_id FROM g JOIN e USING (g) WHERE doc_id % 10 <> 0),
        |s3 AS (
        | SELECT * FROM k
        | WHERE doc_id % 10 <> 0 AND doc_id NOT IN (SELECT doc_id FROM contam)),
        |s4 AS (
        | SELECT * FROM (
        |  SELECT doc_id, row_number() OVER (PARTITION BY source
        |    ORDER BY quality_ppm DESC, doc_id) AS rnk FROM s3)
        | WHERE rnk <= 10),
        |c AS (
        | SELECT (SELECT count(*) FROM documents) AS n0,
        |   (SELECT count(*) FROM q) AS n1,
        |   (SELECT count(*) FROM k) AS n2,
        |   (SELECT count(*) FROM s3) AS n3,
        |   (SELECT count(*) FROM s4) AS n4),
        |f AS (
        | SELECT 1 AS stage_idx, 'quality' AS stage, n0 AS docs_in, n1 AS docs_out FROM c
        | UNION ALL SELECT 2, 'exact_dedup', n1, n2 FROM c
        | UNION ALL SELECT 3, 'decontam', n2, n3 FROM c
        | UNION ALL SELECT 4, 'domain_cap', n3, n4 FROM c)
        |SELECT CAST(stage_idx AS BIGINT) AS stage_idx, stage,
        |  docs_in, docs_in - docs_out AS docs_dropped, docs_out,
        |  CAST((docs_in - docs_out) * 1000000 // docs_in AS BIGINT) AS drop_ppm
        |FROM f ORDER BY stage_idx""".stripMargin,
    "text_dsir_select" ->
      """WITH words AS (
        |  SELECT doc_id, lang,
        |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS ws
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, lang,
        |    CAST(('0x' || substr(md5(t.g), 1, 8))::BIGINT % 1024 AS BIGINT) AS b
        |  FROM words,
        |    LATERAL unnest(list_transform(range(1, len(ws)),
        |      i -> ws[i] || ' ' || ws[i + 1])) AS t(g)),
        |w AS (
        |  SELECT b,
        |    CAST(sum(CASE WHEN doc_id % 10 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS ct,
        |    CAST(sum(CASE WHEN doc_id % 10 <> 1 THEN 1 ELSE 0 END) AS BIGINT) AS cr
        |  FROM grams GROUP BY b),
        |tot AS (
        |  SELECT CAST(sum(ct) AS BIGINT) AS tot_t,
        |    CAST(sum(cr) AS BIGINT) AS tot_r FROM w),
        |ww AS (
        |  SELECT b, ct * 1000000 // tot_t - cr * 1000000 // tot_r AS wt
        |  FROM w, tot)
        |SELECT g.doc_id, any_value(g.lang) AS lang,
        |  CAST(sum(ww.wt) AS BIGINT) AS dsir_score,
        |  count(*) AS n_bigrams,
        |  CAST(sum(ww.wt) AS BIGINT) > 0 AS selected
        |FROM grams g JOIN ww USING (b)
        |WHERE g.doc_id % 10 <> 1
        |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin,
    "text_gopher_rules" ->
      """WITH base AS (
        |  SELECT doc_id, lang, text,
        |    list_filter(string_split(lower(text), ' '), w -> w <> '') AS words,
        |    string_split(text, chr(10)) AS lines
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, lang,
        |    CAST(len(words) AS BIGINT) AS n_words,
        |    CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |      CAST(length(regexp_replace(text, '\s', '', 'g')) AS BIGINT) * 1000 // len(words) END AS mean_wlen_milli,
        |    CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |      CAST(length(text) - length(replace(text, '#', ''))
        |        + len(regexp_extract_all(text, '\.\.\.')) AS BIGINT) * 1000000 // len(words) END AS symbol_ppm,
        |    CAST(len(list_filter(lines, l -> regexp_matches(ltrim(l), '^[-*]'))) AS BIGINT)
        |      * 1000000 // greatest(1, len(lines)) AS bullet_ppm,
        |    CAST(len(list_filter(lines, l -> regexp_matches(rtrim(l), '\.\.\.$'))) AS BIGINT)
        |      * 1000000 // greatest(1, len(lines)) AS ellipsis_ppm,
        |    CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |      CAST(len(list_filter(words, w -> regexp_matches(w, '[a-z]'))) AS BIGINT)
        |        * 1000000 // len(words) END AS alpha_ppm,
        |    CAST(len(list_filter(['the','a','an','of','and','to','in','is','it'],
        |      sw -> list_contains(words, sw))) AS BIGINT) AS n_stop_hits
        |  FROM base)
        |SELECT doc_id, lang, n_words, mean_wlen_milli, symbol_ppm, bullet_ppm,
        |  ellipsis_ppm, alpha_ppm, n_stop_hits,
        |  n_words BETWEEN 30 AND 100000 AS r_words,
        |  mean_wlen_milli BETWEEN 3000 AND 10000 AS r_wlen,
        |  symbol_ppm <= 100000 AS r_symbol,
        |  bullet_ppm <= 900000 AS r_bullet,
        |  ellipsis_ppm <= 300000 AS r_ellipsis,
        |  alpha_ppm >= 800000 AS r_alpha,
        |  n_stop_hits >= 2 AS r_stop,
        |  (n_words BETWEEN 30 AND 100000) AND (mean_wlen_milli BETWEEN 3000 AND 10000)
        |    AND symbol_ppm <= 100000 AND bullet_ppm <= 900000
        |    AND ellipsis_ppm <= 300000 AND alpha_ppm >= 800000
        |    AND n_stop_hits >= 2 AS keep
        |FROM m ORDER BY doc_id""".stripMargin,
    "text_quality" ->
      """SELECT doc_id, n_chars_m, n_words, stopword_ppm, uniq_ppm, n_punct, avg_wlen_milli,
        | uniq_ppm * (CASE WHEN n_words >= 20 THEN 2 ELSE 1 END)
        |  * (CASE WHEN stopword_ppm > 10000 THEN 5 ELSE 4 END) // 10 AS quality_ppm
        |FROM (
        | SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_m,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(len(list_filter(words, w -> w IN ('the','a','an','of','and','to','in','is','it'))) AS BIGINT)
        |    * 1000000 // len(words) END AS stopword_ppm,
        |  CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(len(list_distinct(words)) AS BIGINT) * 1000000 // len(words) END AS uniq_ppm,
        |  CAST(length(text) - length(regexp_replace(text, '[.!?,;:]', '', 'g')) AS BIGINT) AS n_punct,
        |  CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) * 1000 // len(words) END AS avg_wlen_milli
        | FROM (SELECT doc_id, text,
        |   list_filter(string_split(lower(text), ' '), w -> w <> '') AS words
        |  FROM documents))
        |ORDER BY doc_id""".stripMargin,
    "text_tokens" ->
      """SELECT doc_id,
        | CAST(len(list_filter(string_split(lower(text), ' '), w -> w <> '')) AS BIGINT) AS n_ws_tokens,
        | CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe_tokens,
        | CAST(length(text) AS BIGINT) AS n_chars_m
        |FROM documents ORDER BY doc_id""".stripMargin,
    "text_pipeline" ->
      """WITH scored AS (
        | SELECT doc_id, md5(text) AS h,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  (CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(len(list_distinct(words)) AS BIGINT) * 1000000 // len(words) END)
        |   * (CASE WHEN len(words) >= 20 THEN 2 ELSE 1 END)
        |   * (CASE WHEN (CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |      CAST(len(list_filter(words, w -> w IN ('the','a','an','of','and','to','in','is','it'))) AS BIGINT)
        |      * 1000000 // len(words) END) > 10000 THEN 5 ELSE 4 END) // 10 AS quality_ppm
        | FROM (SELECT doc_id, text,
        |   list_filter(string_split(lower(text), ' '), w -> w <> '') AS words
        |  FROM documents)),
        |kept AS (SELECT * FROM scored WHERE n_words >= 10 AND quality_ppm >= 500000)
        |SELECT k.doc_id, k.n_words, k.quality_ppm
        |FROM kept k JOIN (SELECT h, min(doc_id) AS doc_id FROM kept GROUP BY 1) m
        | ON k.h = m.h AND k.doc_id = m.doc_id
        |ORDER BY k.doc_id""".stripMargin,
    // The curation composition, fully re-derived: Dedup.clusterCcSql's
    // recursive-CTE components (minhash-LSH ∪ md5-star pair graph) +
    // the text_pipeline curated set, membership join, rank-1 keeper
    // under (quality DESC, doc_id) per cluster, anti-join of the drop
    // list — the SQL mirror of curated ⋈ clusters → max_by keeper →
    // left_anti.
    "text_pipeline_near" -> (Dedup.clusterCcSql + """,
        |scored AS (
        | SELECT doc_id, md5(text) AS h,
        |  CAST(len(words) AS BIGINT) AS n_words,
        |  (CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |    CAST(len(list_distinct(words)) AS BIGINT) * 1000000 // len(words) END)
        |   * (CASE WHEN len(words) >= 20 THEN 2 ELSE 1 END)
        |   * (CASE WHEN (CASE WHEN len(words) = 0 THEN CAST(0 AS BIGINT) ELSE
        |      CAST(len(list_filter(words, w -> w IN ('the','a','an','of','and','to','in','is','it'))) AS BIGINT)
        |      * 1000000 // len(words) END) > 10000 THEN 5 ELSE 4 END) // 10 AS quality_ppm
        | FROM (SELECT doc_id, text,
        |   list_filter(string_split(lower(text), ' '), w -> w <> '') AS words
        |  FROM documents)),
        |kept AS (SELECT * FROM scored WHERE n_words >= 10 AND quality_ppm >= 500000),
        |curated AS (
        |  SELECT k.doc_id, k.n_words, k.quality_ppm
        |  FROM kept k JOIN (SELECT h, min(doc_id) AS doc_id FROM kept GROUP BY 1) mk
        |   ON k.h = mk.h AND k.doc_id = mk.doc_id),
        |clustered AS (
        |  SELECT cl.cluster_id, c.doc_id, c.quality_ppm
        |  FROM curated c JOIN cl ON c.doc_id = cl.doc_id),
        |surv AS (
        |  SELECT cluster_id, doc_id FROM (
        |    SELECT cluster_id, doc_id,
        |      row_number() OVER (PARTITION BY cluster_id
        |                         ORDER BY quality_ppm DESC, doc_id) AS rn
        |    FROM clustered) WHERE rn = 1),
        |dropped AS (
        |  SELECT doc_id FROM clustered
        |  WHERE doc_id NOT IN (SELECT doc_id FROM surv))
        |SELECT c.doc_id, c.n_words, c.quality_ppm
        |FROM curated c
        |WHERE c.doc_id NOT IN (SELECT doc_id FROM dropped)
        |ORDER BY c.doc_id""".stripMargin),
    "text_token_hist" ->
      """WITH perdoc AS (
        | SELECT CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_tokens
        | FROM documents),
        |hist AS (
        | SELECT n_tokens - (n_tokens % 50) AS bucket_lo,
        |  count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS bucket_tokens
        | FROM perdoc GROUP BY 1)
        |SELECT bucket_lo, n_docs, bucket_tokens,
        | CAST((CAST(bucket_tokens AS HUGEINT) * 1000000)
        |   // (SELECT sum(bucket_tokens) FROM hist) AS BIGINT) AS share_ppm
        |FROM hist ORDER BY bucket_lo""".stripMargin,
    "text_split" ->
      """WITH b AS (
        | SELECT doc_id, lang,
        |  CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)
        |    % 100 AS BIGINT) AS bucket
        | FROM documents)
        |SELECT doc_id, lang, bucket,
        | CASE WHEN bucket < 90 THEN 'train'
        |      WHEN bucket < 95 THEN 'validation'
        |      ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin,
    // list_sort(structs,'DESC')[1] = max by (score, lang) lexicographic,
    // the same tie-break as Spark's greatest(struct(score, lang))
    "text_langid" ->
      """SELECT doc_id, labeled_lang, best.lang AS pred_lang,
        | CAST(best.score AS BIGINT) AS pred_score
        |FROM (
        | SELECT doc_id, lang AS labeled_lang, list_sort([
        |  {'score': len(list_filter(words, w -> w IN ('the','a','of','and','is','to','in'))), 'lang': 'en'},
        |  {'score': len(list_filter(words, w -> w IN ('le','la','et','les','des','un','une'))), 'lang': 'fr'},
        |  {'score': len(list_filter(words, w -> w IN ('el','la','y','los','las','un','una'))), 'lang': 'es'},
        |  {'score': len(list_filter(words, w -> w IN ('der','die','und','das','ein','eine','ist'))), 'lang': 'de'},
        |  {'score': len(list_filter(words, w -> w IN ('de','shi','le','zai','you','wo','ta'))), 'lang': 'zh'}
        |  ], 'DESC')[1] AS best
        | FROM (SELECT doc_id, lang,
        |   list_filter(string_split(lower(text), ' '), w -> w <> '') AS words
        |  FROM documents))
        |ORDER BY doc_id""".stripMargin)
}
