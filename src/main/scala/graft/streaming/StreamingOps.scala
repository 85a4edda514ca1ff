package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** §2.4 Structured Streaming forms of the event analytics. Each
  * transform takes the (streaming or batch) events DataFrame and
  * declares the plan — `readStream` source and `writeStream` sink stay
  * with the caller, so the same code serves production streams and the
  * StreamingSpec equivalence tests (MemoryStream in, memory sink out,
  * asserted equal to the graft.operators.EventOps batch results).
  *
  * Scale posture: windowed aggregates are partial-aggregated per
  * micro-batch and keyed-state is partitioned by (window/user) key, so
  * state scales out with executors; watermarks bound state size.
  */
object StreamingOps extends Serializable {

  /** Event row as fed to the stateful operators. */
  final case class Ev(event_id: Long, ts: Timestamp, user_id: Long, value: Double)

  /** Emitted session — matches EventOps.ev_sessionize's output
    * (session_id is the per-user ordinal; session_value is the RAW
    * sum — callers apply presentation rounding). */
  final case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
      session_start: Timestamp, session_end: Timestamp, session_value: Double)

  /** Keyed session state (public: Spark's generated serializer code
    * must be able to resolve the accessors). */
  final case class SessState(sessionOrdinal: Long, startUs: Long,
      endUs: Long, nEvents: Long, value: Double)

  /** Tumbling 1-hour windowed count/sum per event type with a 2-hour
    * watermark (the streaming form of ev_window_agg). */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n_events"), col("total_value"))

  /** [[windowedAgg]] expressed as SQL TEXT over a streaming temp view —
    * the Hive-user surface (reference README.md:7) extended to the
    * streaming half: the watermark is attached at view registration
    * (OSS Spark SQL has no watermark clause; it is an ingest property,
    * like the source itself), and the window/group/agg live entirely
    * in the SQL string. The returned frame IS streaming
    * (`isStreaming`, asserted in StreamingSpec) and plans the same
    * stateful windowed aggregation as the DataFrame form — spec-gated
    * equal to batch ev_window_agg. */
  def windowedAggSql(events: DataFrame, view: String = "graft_stream_events"): DataFrame = {
    val s = events.sparkSession
    events.withWatermark("ts", "2 hours").createOrReplaceTempView(view)
    s.sql(
      s"""SELECT window.start AS hour, event_type,
         |  count(1) AS n_events, round(sum(value), 2) AS total_value
         |FROM $view
         |GROUP BY window(ts, '1 hour'), event_type""".stripMargin)
  }

  /** Watermarked daily approximate distinct users per event type — the
    * streaming form of the batch sketch estimator: HyperLogLog++
    * partials merge across micro-batches inside the aggregation state,
    * so per-(window, type) state is ONE fixed-size sketch rather than
    * a distinct user-id set that grows with cardinality. Register
    * merge is order-independent, so the streamed estimate equals the
    * batch estimate exactly (asserted in StreamingSpec). */
  def windowedApproxUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"))
      .select(col("window.start").as("day"), col("event_type"), col("approx_users"))

  /** Streaming SLO ERROR-BUDGET BURN RATE — the multi-window burn
    * alert ([[graft.operators.EventOps.ev_burn_rate]]) as the
    * continuous query it natively is: SRE practice pages on LIVE
    * telemetry, not a nightly batch. The batch form's trailing-6-hour
    * RANGE frame has no streaming equivalent (window functions over an
    * aggregated stream are unsupported), so the slow leg is
    * re-expressed as CONTRIBUTION SPREADING — each event is flat-mapped
    * to the 6 hour-buckets whose trailing window it feeds (offset 0 =
    * the hour itself, flagged `is_self` for the fast leg), and ONE
    * stateful windowed aggregation computes both legs: fast counts
    * over is_self rows, slow counts over all rows. Identical
    * arithmetic to the batch RANGE frame (bucket H sums events with
    * hour ∈ [H−5, H]); hours with no events of their own are filtered
    * (the batch hourly rollup never emits them).
    *
    * Watermark slack: the default lateness tolerance (2 h) is widened
    * by the 5-hour spread span — an event's furthest contribution
    * lands 5 h ahead of its own hour and advances the watermark
    * accordingly, so tolerating 2 h of source lateness needs
    * max(target_ts) − 7 h, not − 2 h. State is one row per open hour
    * bucket per leg — metadata-scale, watermark-bounded.
    *
    * Scale: the spread is a 6× map-side row duplication (no shuffle);
    * the aggregation is the same map-side-combined hourly rollup as
    * every windowed agg here, keyed on the hour bucket. */
  def burnRateStream(events: DataFrame, delay: String = "7 hours"): DataFrame =
    events
      .select(col("ts"), col("event_type"))
      .withColumn("k", explode(expr("sequence(0, 5)")))
      .select(
        expr("timestampadd(HOUR, k, date_trunc('HOUR', ts))").as("target_ts"),
        (col("k") === 0).as("is_self"),
        (col("event_type") === "error").as("is_err"))
      .withWatermark("target_ts", delay)
      .groupBy(window(col("target_ts"), "1 hour"))
      .agg(
        sum(when(col("is_self"), 1L).otherwise(0L)).as("n_events"),
        sum(when(col("is_self") && col("is_err"), 1L).otherwise(0L)).as("n_errors"),
        count(lit(1)).as("slow_events"),
        sum(when(col("is_err"), 1L).otherwise(0L)).as("slow_errors"))
      .filter(col("n_events") > 0)
      .select(col("window.start").as("hour"), col("n_events"), col("n_errors"),
        expr("(n_errors * 1000000 div n_events) * 1000000 div 250000")
          .as("burn_fast_ppm"),
        expr("(slow_errors * 1000000 div slow_events) * 1000000 div 250000")
          .as("burn_slow_ppm"))
      .withColumn("alert",
        col("burn_fast_ppm") >= 1000000L && col("burn_slow_ppm") >= 1000000L)

  /** Streaming COUNT-MIN SKETCH build — the 192-cell frequency sketch
    * ([[graft.operators.EventOps.ev_cms]]) as continuously-maintained
    * aggregation state, which is the deployment CMS was designed for
    * (bounded-memory frequency over an unbounded stream). The cell
    * keyspace is FIXED (3 × 64), so state is 192 rows forever — no
    * watermark, nothing to expire — and each micro-batch's partial
    * sketch merges cellwise through the same map-side combine the
    * batch build uses (cellwise SUM is the CMS merge operation;
    * order-independence is why the streamed sketch equals the batch
    * sketch exactly, asserted under reversed multi-chunk ingest in
    * StreamingSpec). The hash family is shared VERBATIM with the
    * batch operator via [[graft.operators.EventOps.cmsCells]], so the
    * two surfaces cannot drift. Complete-mode output IS the sketch
    * table; point estimates are min-of-3 lookups against it, exactly
    * as in batch. */
  def cmsStream(events: DataFrame): DataFrame =
    events
      .select(explode(array(
        graft.operators.EventOps.cmsCells("user_id"): _*)).as("rc"))
      .groupBy(col("rc.row").as("row"), col("rc.cell").as("cell"))
      .agg(count(lit(1)).as("n"))

  /** Streaming FIXED-WIDTH HISTOGRAM sketch — [[graft.operators
    * .EventOps.ev_quantile_sketch]]'s (event_type, bucket) count
    * table as continuously-maintained aggregation state, completing
    * the streaming sketch QUARTET (HLL partials, CMS cells, KMV
    * bottom-k, quantile histogram). The bucket keyspace is bounded by
    * the value range over the 64-centi width — state is
    * histogram-sized forever, no watermark, nothing to expire — and
    * each micro-batch's partial histogram merges cellwise through the
    * same map-side combine as batch (cellwise SUM is the histogram
    * merge; order-independence is why the streamed table equals the
    * batch table exactly, asserted under reversed split ingest in
    * StreamingSpec). The bucketing arithmetic is the batch operator's
    * verbatim (integer centi-values, truncating div on cv ≥ 0).
    * Complete-mode output IS the sketch; the p50/p90/p99 readout is
    * the same cumulative walk as batch, run downstream over the
    * (tiny) sketch — StreamingSpec derives it and matches
    * ev_quantile_sketch's rows exactly. */
  def quantileSketchStream(events: DataFrame): DataFrame =
    events
      .select(col("event_type"),
        expr("cast(round(value * 100) as long) div 64").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Streaming KMV DISTINCT-COUNT sketch — the bottom-k theta sketch
    * ([[graft.operators.EventOps.ev_kmv_uniques]]) as continuously-
    * maintained aggregation state, completing the streaming sketch
    * trio (HLL partials in [[windowedApproxUniques]], CMS cells in
    * [[cmsStream]], bottom-k here): per event type the state is one
    * ≤ 64-value sorted distinct buffer, each micro-batch's partial
    * folds in through [[graft.functions.KmvAggregator]]'s `merge` —
    * the textbook KMV sketch-union, order-independent, so the
    * streamed sketch equals the batch sketch exactly (asserted under
    * reversed split ingest in StreamingSpec). Complete-mode output =
    * (event_type, k_used, hk); estimates derive exactly as in batch. */
  def kmvStream(events: DataFrame): DataFrame = {
    val kmv = udaf(new graft.functions.KmvAggregator(64))
    events
      .select(col("event_type"),
        graft.operators.EventOps.kmvHash("user_id").as("h"))
      .groupBy(col("event_type"))
      .agg(kmv(col("h")).as("buf"))
      .select(col("event_type"),
        size(col("buf.hs")).cast("long").as("k_used"),
        element_at(col("buf.hs"), -1).as("hk"))
  }

  /** STREAM-STATIC enrichment join — the dimension-lookup every event
    * pipeline runs: each micro-batch joins against the static (batch)
    * dimension with no state at all (the static side re-resolves per
    * batch, so a dim refresh is picked up without restarting). Small
    * dims broadcast — per-batch map-side hash lookups, no shuffle of
    * the stream. The stream keeps its event-time column, so windowing/
    * watermarking compose downstream. */
  def enrichStream(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  /** Native STREAM-STREAM interval join (the streaming form of the
    * batch ev_range_join): purchases joined to the same user's clicks
    * within the preceding hour. Spark plans this as a symmetric hash
    * join whose buffered state is bounded by the two watermarks PLUS
    * the interval condition — a click can be dropped from state once
    * the watermark guarantees no qualifying purchase can still arrive
    * (purchase_ts ≤ click_ts + 1 h), which is exactly why the time
    * bound must be part of the JOIN condition, not a post-filter: an
    * unbounded equi-join on user_id would buffer both streams forever.
    * Emits matched pairs in append mode as the watermark seals them. */
  def rangeJoinStream(clicks: DataFrame, purchases: DataFrame,
      delay: String = "2 hours"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"),
        col("event_id").as("click_id"))
      .withWatermark("click_ts", delay)
    val p = purchases
      .select(col("user_id"), col("ts").as("purchase_ts"),
        col("event_id").as("purchase_id"))
      .withWatermark("purchase_ts", delay)
    p.join(c, expr(
        """c_user = user_id AND
          |click_ts <= purchase_ts AND
          |click_ts > purchase_ts - INTERVAL 1 HOUR""".stripMargin))
      .select(col("user_id"), col("purchase_id"), col("purchase_ts"),
        col("click_id"), col("click_ts"))
  }

  /** Streaming exact deduplication: drop replayed events by id, with
    * state BOUNDED by the watermark — an id is held only until the
    * watermark passes its event time plus the delay, so state size
    * tracks the lateness window, not the stream length (the standard
    * at-least-once-source → exactly-once-pipeline repair). Keyed state
    * partitions by event_id across executors. */
  def dedupStream(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events.withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming CURATION — the streaming form of
    * [[graft.operators.TextOps.text_pipeline]], for the ingest-time
    * regime where documents arrive continuously and curation must not
    * wait for a batch boundary. The quality-score + filter stage is
    * the SAME code as batch ([[graft.operators.TextOps
    * .curationScored]] — stateless per-row maps, so it runs at ingest
    * speed), and exact dedup becomes `dropDuplicatesWithinWatermark`
    * on the content hash: the first arrival of each content survives,
    * replays and later duplicates are dropped while their hash is
    * inside the watermark horizon, and state is bounded by that
    * horizon rather than the stream length. Batch keeps min-doc_id per
    * content; a stream keeps FIRST-ARRIVAL — identical when ingest
    * order follows doc_id, and in general the kept CONTENT set (and
    * every score) is identical, which is what StreamingSpec asserts
    * against the batch pipeline. Input: streaming (doc_id, text,
    * ingest_ts). */
  def curateStream(docs: DataFrame, delay: String = "2 hours"): DataFrame =
    graft.operators.TextOps.curationScored(docs)
      .withWatermark("ingest_ts", delay)
      .dropDuplicatesWithinWatermark("h")
      .select(col("doc_id"), col("h"), col("n_words"), col("quality_ppm"))

  /** Streaming twin of text_multi_route — MULTI-DESTINATION writes as
    * a CONTINUOUS pipeline: the same stateless routing map
    * ([[graft.operators.TextOps.routedDocs]] verbatim), run over a
    * document stream; downstream a parquet file sink with
    * `partitionBy("dest")` materializes every destination subtree
    * incrementally, micro-batch by micro-batch — curated, rejected and
    * audit corpora all grow from ONE pass over the stream, no
    * per-destination re-read (StreamingSpec drives the real file sink
    * and asserts the on-disk splits equal the batch layout). No state,
    * no watermark: routing is append-only, so this composes with any
    * upstream dedup/curation stage that is. */
  def multiRouteStream(docs: DataFrame): DataFrame =
    graft.operators.TextOps.routedDocs(docs)

  /** Gap-based sessionization via the built-in session_window (the
    * production streaming path for ev_sessionize): sessions close when
    * the watermark passes start-of-gap. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", "1 second")
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("session_value"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("n_events"), col("session_value"))

  /** Gap-based sessionization with explicit keyed state
    * (flatMapGroupsWithState) — the custom-state form: one open
    * session per user is held in state; an event past the gap closes
    * and emits the previous session; event-time timeout flushes the
    * final session once the watermark passes end+gap.
    *
    * Within a micro-batch, events are processed in event-time order.
    * Across batches the watermark bounds LATENESS, not ordering: an
    * event may arrive in a later batch with a timestamp inside (or
    * before) the open session's span, so the fold below extends the
    * session with min/max rather than assuming monotonic arrival —
    * otherwise an in-gap out-of-order event would move the session end
    * backwards and corrupt both the gap comparison and the event-time
    * timeout.
    */
  /** Timestamp <-> epoch micros without precision loss (the events
    * table carries microsecond timestamps; Timestamp.getTime alone
    * would truncate to millis). */
  private def tsToUs(ts: Timestamp): Long =
    ts.getTime / 1000 * 1000000 + ts.getNanos / 1000
  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000) * 1000)
    t.setNanos((Math.floorMod(us, 1000000) * 1000).toInt)
    t
  }

  /** Click/purchase row for the streaming as-of join. */
  final case class AsofEv(event_id: Long, ts: Timestamp, user_id: Long,
      is_purchase: Boolean)

  /** Attribution emitted once the watermark seals it. */
  final case class AsofOut(user_id: Long, purchase_id: Long,
      purchase_ts: Timestamp, click_id: Long, click_ts: Timestamp)

  /** Keyed as-of state: buffered (ts, id) clicks and not-yet-sealed
    * purchases. */
  final case class AsofState(clicks: Seq[(Long, Long)],
      pending: Seq[(Long, Long)])

  /** Streaming AS-OF join (the streaming form of ev_asof): attribute
    * each purchase to the user's most recent preceding-or-simultaneous
    * click, with custom keyed state per user.
    *
    * Correctness under out-of-order arrival is the whole problem: a
    * click CAN still arrive after the purchase it should win (anywhere
    * within the watermark delay), so attributing a purchase on arrival
    * would emit results a later batch invalidates — and Append-mode
    * emissions are final. Purchases are therefore BUFFERED and sealed
    * only once the watermark passes their event time (no click at or
    * before that instant can arrive anymore; Spark drops sub-watermark
    * rows before the stateful operator). Clicks at identical (user,
    * ts) dedup to the max event_id, matching the batch query and its
    * DuckDB ASOF-JOIN oracle.
    *
    * State is watermark-bounded on both sides: sealed purchases leave
    * the buffer when emitted, and of the clicks at or before the
    * watermark only the LATEST survives (every still-unsealed purchase
    * has ts above the watermark, so earlier clicks can never win
    * again). An event-time timeout flushes purchases that arrive with
    * no follow-on batch. Keyed state shards by user across executors —
    * the same one-shuffle shape as the batch window formulation.
    *
    * `clickRetentionHours` bounds the OTHER state dimension: a user who
    * clicks but never purchases would otherwise retain their latest
    * click forever (no purchase pending → no timeout registered → the
    * remove path unreachable), so keyed state grows with user
    * cardinality over a long-running stream. Clicks older than the
    * retention horizon behind the watermark are dropped and a timeout
    * reclaims the emptied state. This is a deliberate, bounded
    * divergence from the batch query (which attributes clicks of ANY
    * age): a purchase only loses its click if it trails it by more
    * than the retention window — size the horizon to the attribution
    * policy. Sealing happens BEFORE pruning in each invocation, so a
    * purchase never loses to pruning within its own batch. */
  def asofStateful(events: Dataset[AsofEv],
      clickRetentionHours: Int = 168): Dataset[AsofOut] = {
    require(clickRetentionHours >= 1, "clickRetentionHours must be >= 1")
    val retentionUs = clickRetentionHours.toLong * 3600L * 1000000L
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val stateEnc: org.apache.spark.sql.Encoder[AsofState] =
      org.apache.spark.sql.Encoders.product[AsofState]
    implicit val outEnc: org.apache.spark.sql.Encoder[AsofOut] =
      org.apache.spark.sql.Encoders.product[AsofOut]

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[AsofEv], state: GroupState[AsofState]) =>
          var st = state.getOption.getOrElse(AsofState(Nil, Nil))
          batch.foreach { e =>
            val us = tsToUs(e.ts)
            st =
              if (e.is_purchase) st.copy(pending = st.pending :+ (us, e.event_id))
              else st.clicks.indexWhere(_._1 == us) match {
                // same-(user, ts) click dedup: keep max event_id
                case -1 => st.copy(clicks = st.clicks :+ (us, e.event_id))
                case i if st.clicks(i)._2 < e.event_id =>
                  st.copy(clicks = st.clicks.updated(i, (us, e.event_id)))
                case _ => st
              }
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val (ripe, open) = st.pending.partition(_._1 <= wmUs)
          val out = ripe.sorted.flatMap { case (pUs, pId) =>
            val wins = st.clicks.filter(_._1 <= pUs)
            if (wins.isEmpty) Nil
            else {
              val (cUs, cId) = wins.maxBy(c => (c._1, c._2))
              List(AsofOut(userId, pId, usToTs(pUs), cId, usToTs(cUs)))
            }
          }
          // prune clicks: of those at/under the watermark only the
          // latest can still win a future (above-watermark) purchase,
          // and any click past the retention horizon is dropped
          // outright — state must not outlive the attribution window
          val (old, fresh) = st.clicks.partition(_._1 <= wmUs)
          val kept = ((if (old.isEmpty) Nil
                       else List(old.maxBy(c => (c._1, c._2)))) ++ fresh)
            .filter(_._1 > wmUs - retentionUs)
          if (open.isEmpty && kept.isEmpty) state.remove()
          else {
            state.update(AsofState(kept, open))
            if (open.nonEmpty)
              state.setTimeoutTimestamp(open.map(_._1).min / 1000 + 1)
            else
              // click-only state: wake when the horizon passes the
              // newest kept click so the remove path above is reached
              // (kept ts > wm - retention, so this is > the watermark)
              state.setTimeoutTimestamp(
                (kept.map(_._1).max + retentionUs) / 1000 + 1)
          }
          out.iterator
      }
  }

  /** Typed event row for the streaming transition operator. */
  final case class TypedEv(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String)

  /** One sealed clickstream transition (aggregate downstream into
    * ev_markov's (from, to) matrix). */
  final case class TransitionOut(user_id: Long, from_ts: Timestamp,
      from_type: String, to_type: String)

  /** Keyed transition state: the not-yet-sealed event buffer plus the
    * sealed prefix's tail event (its successor may still arrive). */
  final case class TransState(buffer: Seq[(Long, Long, String)],
      lastUs: Long, lastType: String)

  /** Streaming TRANSITIONS (the streaming twin of ev_markov's
    * first-order clickstream matrix): consecutive event pairs per
    * user emitted as individual transition rows once the watermark
    * seals their adjacency.
    *
    * Adjacency under out-of-order arrival is the whole problem: an
    * event can still arrive BETWEEN two already-seen events (anywhere
    * inside the watermark delay), so pairing on arrival would emit
    * adjacencies a later batch invalidates — and Append emissions are
    * final. Events are therefore buffered until the watermark passes
    * their event time; everything at or below the watermark is a
    * STABLE PREFIX of the final (ts, event_id)-ordered stream (Spark
    * drops sub-watermark arrivals before the operator), so its
    * internal adjacencies are final. The prefix's LAST event stays in
    * state as the sealed tail — its successor may still be in flight —
    * and pairs with the first event of the next sealed chunk.
    *
    * State is watermark-bounded: sealed events leave the buffer the
    * batch they seal, keeping one (ts, type) tail plus only
    * above-watermark arrivals; `tailRetentionHours` bounds the tail
    * dimension exactly like asofStateful's click retention (a user
    * who never returns would otherwise hold their tail forever) —
    * once the watermark passes the horizon a timeout sweep removes
    * the state, deliberately forgoing a transition whose successor
    * trails by more than the horizon. Keyed state shards by user —
    * the same one-exchange shape as the batch window. */
  def transitionsStream(events: Dataset[TypedEv],
      tailRetentionHours: Int = 168): Dataset[TransitionOut] = {
    require(tailRetentionHours >= 1, "tailRetentionHours must be >= 1")
    val retentionUs = tailRetentionHours.toLong * 3600L * 1000000L
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val stateEnc: org.apache.spark.sql.Encoder[TransState] =
      org.apache.spark.sql.Encoders.product[TransState]
    implicit val outEnc: org.apache.spark.sql.Encoder[TransitionOut] =
      org.apache.spark.sql.Encoders.product[TransitionOut]

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[TransState, TransitionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[TypedEv], state: GroupState[TransState]) =>
          var st = state.getOption.getOrElse(TransState(Nil, Long.MinValue, ""))
          batch.foreach { e =>
            st = st.copy(buffer = st.buffer :+ ((tsToUs(e.ts), e.event_id, e.event_type)))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val (ripe, open) = st.buffer.partition(_._1 <= wmUs)
          val sealedRun = ripe.sortBy(e => (e._1, e._2))
          val chain =
            (if (st.lastUs == Long.MinValue) Nil
             else List((st.lastUs, Long.MinValue, st.lastType))) ++ sealedRun
          val out = chain.sliding(2).collect {
            case Seq((fUs, _, fTy), (_, _, tTy)) =>
              TransitionOut(userId, usToTs(fUs), fTy, tTy)
          }.toList
          val (tailUs, tailType) =
            if (sealedRun.nonEmpty) (sealedRun.last._1, sealedRun.last._3)
            else (st.lastUs, st.lastType)
          if (open.isEmpty &&
              (tailUs == Long.MinValue || tailUs <= wmUs - retentionUs)) {
            state.remove()
          } else {
            state.update(TransState(open, tailUs, tailType))
            if (open.nonEmpty)
              state.setTimeoutTimestamp(open.map(_._1).min / 1000 + 1)
            else
              // tail-only state: wake when the horizon passes the tail
              // so the remove path above is reached
              state.setTimeoutTimestamp((tailUs + retentionUs) / 1000 + 1)
          }
          out.iterator
      }
  }

  /** Typed event row for the streaming attribution operator (the
    * purchase's centi-value and the touch's page ride along). */
  final case class AttrEv(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, centi: Long, page: Long)

  /** One attributed touch (see [[attributionStream]]; aggregate
    * downstream into ev_attribution's (touch_type, page) matrix —
    * attributed_centi is already the batch form's per-touch
    * `cv * w_ppm div 1e6` integer). */
  final case class AttrOut(user_id: Long, purchase_id: Long,
      touch_type: String, page: Long, attributed_centi: Long)

  /** Keyed attribution state: sealed-but-unclaimed touches and
    * not-yet-sealed purchases, both (us, id, ...) tuples. */
  final case class AttrState(touches: Seq[(Long, Long, String, Long)],
      purchases: Seq[(Long, Long, Long)])

  /** Streaming MULTI-TOUCH ATTRIBUTION — the continuous form of
    * [[graft.operators.EventOps.ev_attribution]] (U-shaped position
    * weights over the clicks/views in the 7 days before each
    * purchase): per user, a purchase's conversion group is FINAL
    * exactly when the watermark passes the purchase's event time —
    * every touch at or before it is then sealed (Spark drops
    * sub-watermark arrivals), and group membership looks only
    * backward, so the U-weights can never be invalidated by later
    * data (the [[transitionsStream]] stable-prefix argument applied
    * to conversion windows). Each sealed purchase claims the buffered
    * touches in its trailing 7-day window under the batch total order
    * ((ts, event_id) — a touch at the purchase's exact timestamp with
    * a LARGER id belongs to the next purchase, matching the batch
    * descending-window tag), emits one [[AttrOut]] row per touch with
    * the batch form's exact integer weight arithmetic, and removes
    * every claimed-or-older touch (a touch attributes to its FIRST
    * following purchase only). Touches whose 7-day attribution
    * horizon passes with no purchase are dropped — state is bounded
    * by the horizon on the touch side and the watermark on the
    * purchase side; an event-time timeout flushes users whose stream
    * goes quiet. */
  def attributionStream(events: Dataset[AttrEv]): Dataset[AttrOut] = {
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val stateEnc: org.apache.spark.sql.Encoder[AttrState] =
      org.apache.spark.sql.Encoders.product[AttrState]
    implicit val outEnc: org.apache.spark.sql.Encoder[AttrOut] =
      org.apache.spark.sql.Encoders.product[AttrOut]
    val horizonUs = 7L * 86400L * 1000000L

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[AttrState, AttrOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[AttrEv], state: GroupState[AttrState]) =>
          var st = state.getOption.getOrElse(AttrState(Nil, Nil))
          batch.foreach { e =>
            val us = tsToUs(e.ts)
            if (e.event_type == "purchase")
              st = st.copy(purchases = st.purchases :+ ((us, e.event_id, e.centi)))
            else if (e.event_type == "click" || e.event_type == "view")
              st = st.copy(touches = st.touches :+ ((us, e.event_id, e.event_type, e.page)))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val (ripe, openP) = st.purchases.partition(_._1 <= wmUs)
          var touches = st.touches
          val out = scala.collection.mutable.ListBuffer.empty[AttrOut]
          // process sealed purchases in the batch total order: each
          // claims (and consumes) every touch at or before it
          ripe.sortBy(p => (p._1, p._2)).foreach { case (pUs, pId, cv) =>
            val (before, after) = touches.partition(t =>
              t._1 < pUs || (t._1 == pUs && t._2 < pId))
            val group = before.filter(_._1 >= pUs - horizonUs)
              .sortBy(t => (t._1, t._2))
            val n = group.size.toLong
            group.zipWithIndex.foreach { case ((_, _, ty, pg), i) =>
              val pos = i + 1L
              val wPpm =
                if (n == 1) 1000000L
                else if (n == 2) 500000L
                else if (pos == 1 || pos == n) 400000L
                else 200000L / (n - 2)
              out += AttrOut(userId, pId, ty, pg, cv * wPpm / 1000000L)
            }
            touches = after
          }
          // a touch whose horizon passed with no purchase can never be
          // claimed (any future purchase is above the watermark, hence
          // more than 7 days later)
          touches = touches.filter(_._1 + horizonUs > wmUs)
          if (touches.isEmpty && openP.isEmpty) state.remove()
          else {
            state.update(AttrState(touches, openP))
            val nextSeal = (openP.map(_._1) ++ touches.map(_._1 + horizonUs)).min
            state.setTimeoutTimestamp(nextSeal / 1000 + 1)
          }
          out.iterator
      }
  }

  /** One sealed (user, day) activity verdict (see [[retentionStream]];
    * aggregate downstream into ev_retention's per-day counts). */
  final case class RetentionOut(user_id: Long, day: Timestamp,
      retained: Boolean)

  /** Keyed retention state: the user's not-yet-sealed active days
    * (epoch days) — O(open days), watermark-bounded. */
  final case class RetentionState(days: Seq[Long])

  /** Streaming DAY-OVER-DAY RETENTION (the streaming twin of
    * ev_retention): per user and active day, did the user return the
    * NEXT day — emitted as one sealed verdict row per (user, day),
    * aggregated downstream into the batch query's per-day
    * (n_active, n_retained) counts exactly like [[transitionsStream]]
    * feeds ev_markov's matrix.
    *
    * Sealing is the whole problem: "returned on day d+1" is a
    * negative-evidence verdict — absence can only be final once no
    * day-(d+1) event can arrive anymore, i.e. once the watermark
    * passes the END of day d+1 (Spark drops sub-watermark arrivals
    * before the operator, so day-(d+1) membership in the state is
    * final exactly then — the [[anomalyStream]] sealed-bucket
    * argument applied to calendar days). Each pass: fold the batch
    * into the day set, emit a verdict for every day whose seal point
    * the watermark passed — evaluated against the FULL set (the
    * needed day d+1 seals strictly later, so it is still present) —
    * then drop only the sealed days. State is the open-day set alone
    * (two days' width under any delay), reclaimed by an event-time
    * timeout at the earliest unsealed day's seal point so verdicts
    * flush even when the user never returns. */
  def retentionStream(events: Dataset[TypedEv]): Dataset[RetentionOut] = {
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val stateEnc: org.apache.spark.sql.Encoder[RetentionState] =
      org.apache.spark.sql.Encoders.product[RetentionState]
    implicit val outEnc: org.apache.spark.sql.Encoder[RetentionOut] =
      org.apache.spark.sql.Encoders.product[RetentionOut]
    val dayUs = 86400L * 1000000L

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[RetentionState, RetentionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[TypedEv], state: GroupState[RetentionState]) =>
          val prev = state.getOption.getOrElse(RetentionState(Nil))
          val days = scala.collection.mutable.SortedSet.empty[Long] ++ prev.days
          batch.foreach { e => days += Math.floorDiv(tsToUs(e.ts), dayUs) }
          val wmUs = state.getCurrentWatermarkMs() * 1000
          // day d is sealed once the watermark passes the end of day
          // d+1 — no day-(d+1) event can be admitted anymore
          val (ripe, open) = days.toSeq.partition(d => (d + 2) * dayUs <= wmUs)
          val out = ripe.map(d =>
            RetentionOut(userId, usToTs(d * dayUs), days.contains(d + 1)))
          if (open.isEmpty) state.remove()
          else {
            state.update(RetentionState(open))
            state.setTimeoutTimestamp((open.min + 2) * dayUs / 1000 + 1)
          }
          out.iterator
      }
  }

  /** Per-user funnel status emitted by [[funnelStream]] whenever the
    * stage mins move; `rev` increases per emission so an upsert sink
    * (and the spec) can pick the latest row per user without relying
    * on sink ordering. */
  final case class FunnelOut(user_id: Long, t_signup: Option[Timestamp],
      t_click: Option[Timestamp], t_purchase: Option[Timestamp],
      qualified: Boolean, rev: Long)

  /** Keyed funnel state: running min event time per stage in micros
    * (Long.MaxValue = stage unseen) + the emission revision counter. */
  final case class FunnelState(sigUs: Long, clkUs: Long, purUs: Long,
      rev: Long)

  /** Streaming CONVERSION FUNNEL — the continuous form of
    * [[graft.operators.EventOps.ev_funnel]] (signup → click → purchase
    * per user, each stage's time the MIN over all its events): keyed
    * state is the running min event time per stage, and min is
    * commutative + associative, so the final state equals the batch
    * answer under ANY arrival order with NO watermark needed for
    * correctness — unlike the sealed-hour twins, a funnel dashboard
    * never has to wait; it can always show the truth of what has
    * arrived. What CAN change retroactively is the VERDICT: a late
    * EARLIER click can disqualify a user whose qualification was
    * already emitted (t_click must fall strictly between signup and
    * purchase), so emission is Update-mode per-user status with a
    * `qualified` flag that flips BOTH ways and a monotone `rev` stamp —
    * the sink contract is a keyed upsert (highest rev per user wins).
    * StreamingSpec gates a planted retraction and ≡-batch equality of
    * the final upsert image under reversed split ingest. Unchanged
    * users emit nothing; state is three longs + a counter per user —
    * the information-theoretic minimum for the exact any-age funnel
    * the batch query defines (an eviction horizon would bound state at
    * the cost of the any-age semantics — the same documented trade as
    * [[asofStateful]]'s clickRetentionHours). */
  def funnelStream(events: Dataset[TypedEv]): Dataset[FunnelOut] = {
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val stateEnc: org.apache.spark.sql.Encoder[FunnelState] =
      org.apache.spark.sql.Encoders.product[FunnelState]
    implicit val outEnc: org.apache.spark.sql.Encoder[FunnelOut] =
      org.apache.spark.sql.Encoders.product[FunnelOut]

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[TypedEv], state: GroupState[FunnelState]) =>
          val prev = state.getOption.getOrElse(
            FunnelState(Long.MaxValue, Long.MaxValue, Long.MaxValue, 0L))
          var st = prev
          batch.foreach { e =>
            val us = tsToUs(e.ts)
            e.event_type match {
              case "signup" if us < st.sigUs => st = st.copy(sigUs = us)
              case "click" if us < st.clkUs => st = st.copy(clkUs = us)
              case "purchase" if us < st.purUs => st = st.copy(purUs = us)
              case _ => ()
            }
          }
          if (st == prev) Iterator.empty
          else {
            st = st.copy(rev = prev.rev + 1)
            state.update(st)
            def opt(us: Long): Option[Timestamp] =
              if (us == Long.MaxValue) None else Some(usToTs(us))
            val qualified = st.sigUs != Long.MaxValue &&
              st.clkUs != Long.MaxValue && st.purUs != Long.MaxValue &&
              st.clkUs > st.sigUs && st.purUs > st.clkUs
            Iterator.single(FunnelOut(userId, opt(st.sigUs), opt(st.clkUs),
              opt(st.purUs), qualified, st.rev))
          }
      }
  }

  /** One sealed hourly lateness-audit row (see [[lateAuditStream]]). */
  final case class LateAuditOut(hour: Timestamp, event_type: String,
      n_events: Long, n_disordered: Long, total_disorder_s: Long,
      max_disorder_s: Long)

  /** Keyed late-audit state: buffered (event_id, shard, etsUs) per
    * open hour — O(open hours × their events), watermark-bounded. */
  final case class LateAuditState(pending: Seq[(Long, Seq[(Long, Long, Long)])])

  /** Streaming LATENESS AUDIT — the continuous query that CHOOSES a
    * watermark delay (the batch [[graft.operators.EventOps
    * .ev_late_audit]] posture made continuous): per event type and
    * sealed event-time hour, how disordered did this hour's data run,
    * reported while the pipeline is live so the delay can be retuned
    * before the next deploy. The delivery order is the SAME simulated
    * arrival key the batch audit orders by — (event_id div 100 micro-
    * batch, user_id mod 4 shard lane, event_id sequence) — so the
    * signal is a deterministic function of the DATA and identical
    * under any ingest order (the ≡-batch property every operator in
    * this file holds): within the sealed hour, walk events in
    * delivery order and charge each one that runs behind the running
    * event-time max (disorder_s = prefix_max_ets − ets, floored at
    * 0) — max_disorder_s IS the watermark delay this hour needed.
    *
    * Deliberately hour-LOCAL: the batch audit's global spine term
    * (lateness against ALL earlier-delivered data) is not finalizable
    * at hour seal under a finite watermark — an event beyond the
    * current watermark may still arrive carrying an earlier delivery
    * key, which would retroactively change a sealed answer. The
    * hour-local prefix is exactly the part of the audit a watermarked
    * pipeline CAN promise, which is itself the point of the report.
    * Hour buffers seal exactly like [[anomalyStream]] (the watermark
    * passing the hour's end makes the buffer final; Spark drops
    * sub-watermark arrivals), state is watermark-bounded, and keying
    * by event_type scales the audit out with the stream. */
  def lateAuditStream(events: Dataset[TypedEv]): Dataset[LateAuditOut] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    implicit val stateEnc: org.apache.spark.sql.Encoder[LateAuditState] =
      org.apache.spark.sql.Encoders.product[LateAuditState]
    implicit val outEnc: org.apache.spark.sql.Encoder[LateAuditOut] =
      org.apache.spark.sql.Encoders.product[LateAuditOut]
    val hourUs = 3600000000L

    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[LateAuditState, LateAuditOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, batch: Iterator[TypedEv],
         state: GroupState[LateAuditState]) =>
          val st = state.getOption.getOrElse(LateAuditState(Nil))
          val pend = scala.collection.mutable.Map(
            st.pending.map { case (h, evs) =>
              h -> scala.collection.mutable.ArrayBuffer(evs: _*) }: _*)
          batch.foreach { e =>
            val us = tsToUs(e.ts)
            pend.getOrElseUpdate(us / hourUs,
              scala.collection.mutable.ArrayBuffer.empty) +=
              ((e.event_id, e.user_id % 4, us))
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, open) = pend.toSeq.partition {
            case (h, _) => (h + 1) * hourUs <= wmUs
          }
          val out = ripe.sortBy(_._1).map { case (h, evs) =>
            // delivery order: (micro-batch, shard lane, sequence)
            val seq = evs.sortBy { case (id, shard, _) =>
              (id / 100, shard, id) }
            var prefMax = Long.MinValue
            var nDis = 0L; var total = 0L; var maxDis = 0L
            seq.foreach { case (_, _, us) =>
              if (prefMax > us) {
                val dis = (prefMax - us) / 1000000L
                nDis += 1; total += dis; if (dis > maxDis) maxDis = dis
              }
              if (us > prefMax) prefMax = us
            }
            LateAuditOut(usToTs(h * hourUs), etype, seq.length.toLong,
              nDis, total, maxDis)
          }
          state.update(LateAuditState(
            open.map { case (h, evs) => h -> evs.toSeq }))
          if (open.nonEmpty)
            state.setTimeoutTimestamp((open.map(_._1).min + 1) * 3600000L + 1)
          out.iterator
      }
  }

  /** One sealed hourly anomaly row —
    * [[graft.operators.EventOps.ev_anomaly]]'s schema, typed. */
  final case class AnomalyOut(hour: Timestamp, event_type: String,
      n_events: Long, trailing_total: Long, z_bp: Option[Long])

  /** Keyed anomaly state: not-yet-sealed hourly counts plus the
    * sealed-hour history the trailing windows read. */
  final case class AnomState(pending: Seq[(Long, Long)],
      sealedHist: Seq[(Long, Long)])

  /** Streaming ANOMALY DETECTION — the z-score alert
    * ([[graft.operators.EventOps.ev_anomaly]]) as the continuous
    * query an SRE pages on. The batch form's trailing-24-hour RANGE
    * frame needs each hour's count to be FINAL before it can be a
    * baseline, so (the transitionsStream sealing argument) hourly
    * counts accumulate in keyed state until the watermark passes the
    * hour's end — Spark drops sub-watermark arrivals, so a sealed
    * count can never change, and an unpopulated hour below the
    * watermark can never appear (matching the batch rollup, which
    * emits no empty hours). Sealed hours emit their z-row computed
    * from the retained history with the batch form's exact
    * arithmetic: integer (count, sum, sum-of-squares) moments over
    * the ≤ 24 populated trailing hours, the cnt ≥ 12 baseline
    * requirement, one closed-form double expression floored to basis
    * points.
    *
    * State per event type is the open hours plus ≤ ~26 sealed
    * (hour, count) pairs — the trailing horizon, NOT the stream: the
    * history older than watermark − 25 h can never feed a future
    * sealable hour and is evicted each batch. The state deliberately
    * survives quiet periods (no timeout removal): a type silent for a
    * day still needs its retained baseline when it speaks again,
    * exactly as the batch RANGE frame would see it. Keyed state
    * shards by event_type — the same partitioning as the batch
    * window. */
  def anomalyStream(events: Dataset[TypedEv]): Dataset[AnomalyOut] = {
    implicit val strEnc: org.apache.spark.sql.Encoder[String] =
      org.apache.spark.sql.Encoders.STRING
    implicit val stateEnc: org.apache.spark.sql.Encoder[AnomState] =
      org.apache.spark.sql.Encoders.product[AnomState]
    implicit val outEnc: org.apache.spark.sql.Encoder[AnomalyOut] =
      org.apache.spark.sql.Encoders.product[AnomalyOut]
    val hourUs = 3600000000L

    events.groupByKey(_.event_type)
      .flatMapGroupsWithState[AnomState, AnomalyOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, batch: Iterator[TypedEv], state: GroupState[AnomState]) =>
          val st = state.getOption.getOrElse(AnomState(Nil, Nil))
          val pend = scala.collection.mutable.Map(st.pending: _*)
          batch.foreach { e =>
            val h = tsToUs(e.ts) / hourUs
            pend(h) = pend.getOrElse(h, 0L) + 1L
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ripe, open) = pend.toSeq.partition {
            case (h, _) => (h + 1) * hourUs <= wmUs
          }
          val hist = scala.collection.mutable.Map(st.sealedHist: _*)
          // ascending seal order: an hour sealed earlier in this batch
          // is already baseline history for a later one
          val out = ripe.sortBy(_._1).flatMap { case (h, c) =>
            val win = (h - 24 until h).flatMap(hist.get)
            hist(h) = c
            if (win.length >= 12) {
              val cd = win.length.toDouble
              val s = win.sum
              val sd = s.toDouble
              val sq = win.map(x => x * x).sum
              val variance = (sq.toDouble - sd * sd / cd) / (cd - 1)
              val z = if (variance > 0)
                Some(math.floor((c.toDouble - sd / cd)
                  / math.sqrt(variance) * 10000).toLong)
              else None
              Some(AnomalyOut(usToTs(h * hourUs), etype, c, s, z))
            } else None
          }
          val wmHour = wmUs / hourUs
          state.update(AnomState(open,
            hist.toSeq.filter(_._1 >= wmHour - 25)))
          if (open.nonEmpty)
            state.setTimeoutTimestamp((open.map(_._1).min + 1) * 3600000L + 1)
          out.iterator
      }
  }

  def sessionizeStateful(events: Dataset[Ev], gapMinutes: Int = 30): Dataset[SessionOut] = {
    val gapUs = gapMinutes.toLong * 60 * 1000000
    implicit val longEnc: org.apache.spark.sql.Encoder[Long] =
      org.apache.spark.sql.Encoders.scalaLong
    implicit val stateEnc: org.apache.spark.sql.Encoder[SessState] =
      org.apache.spark.sql.Encoders.product[SessState]
    implicit val outEnc: org.apache.spark.sql.Encoder[SessionOut] =
      org.apache.spark.sql.Encoders.product[SessionOut]

    def toOut(userId: Long, st: SessState): SessionOut =
      SessionOut(userId, st.sessionOrdinal, st.nEvents,
        usToTs(st.startUs), usToTs(st.endUs), st.value)

    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Ev], state: GroupState[SessState]) =>
          if (batch.isEmpty && state.hasTimedOut) {
            // watermark passed the open session's end + gap: flush it
            val out = state.getOption.map(toOut(userId, _)).toList
            state.remove()
            out.iterator
          } else {
            val closed = List.newBuilder[SessionOut]
            var st = state.getOption.orNull
            batch.toSeq.sortBy(e => (tsToUs(e.ts), e.event_id)).foreach { e =>
              val us = tsToUs(e.ts)
              if (st == null) {
                st = SessState(1L, us, us, 1L, e.value)
              } else if (us - st.endUs > gapUs) {
                closed += toOut(userId, st)
                st = SessState(st.sessionOrdinal + 1, us, us, 1L, e.value)
              } else {
                st = st.copy(startUs = math.min(st.startUs, us),
                  endUs = math.max(st.endUs, us),
                  nEvents = st.nEvents + 1, value = st.value + e.value)
              }
            }
            state.update(st)
            state.setTimeoutTimestamp(st.endUs / 1000 + gapMinutes.toLong * 60 * 1000 + 1)
            closed.result().iterator
          }
      }
  }

  /** Band-exploded input row for the stateful near-dup bucket index. */
  final case class BandRow(doc_id: Long, ingest_ts: Timestamp,
      sig: Seq[Long], band: Int, bkey: Long)

  /** One doc held in a bucket: id, arrival micros, minhash signature. */
  final case class BucketDoc(docId: Long, tsUs: Long, sig: Seq[Long])
  final case class BucketState(docs: List[BucketDoc])

  /** Emitted near-dup pair, canonical doc_id < doc_id2; est_jaccard
    * carries the batch operator's 4-dp rounding (dyadic agree/32 —
    * exact). */
  final case class NearDupOut(doc_id: Long, doc_id2: Long,
      est_jaccard: Double, ingest_ts: Timestamp)

  /** Streaming NEAR-dup detection — the streaming twin of
    * [[graft.operators.Dedup.dedup_incremental]]: the keyed state IS
    * the materialized LSH band index that operator's scaladoc
    * promises, and every arriving document plays the delta. Same
    * pipeline constants as batch (32-perm minhash, 8 bands × 4 rows,
    * agreement ≥ 0.5): each doc explodes to its 8 band keys, each
    * (band, bkey) group holds the docs seen under that key, an
    * arrival probes the bucket (scores against stored signatures,
    * emits qualifying pairs immediately — detection latency is one
    * micro-batch, not one batch job) and inserts itself. Per-batch
    * work is O(arrivals × bucket occupancy), never O(corpus).
    *
    * Contracts and bounds:
    * - State is bounded two ways: the watermark-driven RETENTION
    *   horizon (entries older than `retentionHours` under the
    *   watermark are swept on event-time timeout — near-dup detection
    *   against a sliding corpus window, the streaming analogue of the
    *   base index being periodically rebuilt) and the per-bucket
    *   `maxBucket` cap. The cap keeps FIRST-ARRIVALS where batch
    *   drops oversize buckets retroactively — a documented divergence;
    *   the StreamingSpec ≡-batch gate runs on uncapped corpora.
    * - A pair colliding in several bands emits once per band: pair
    *   emission is per-bucket-local, and collapsing across bands
    *   would need a second stateful stage after
    *   flatMapGroupsWithState (unsupported chaining). The sink
    *   contract is the standard idempotent upsert keyed by
    *   (doc_id, doc_id2) — the spec normalizes with distinct and
    *   asserts set equality with batch, scores included. */
  def nearDupStream(docs: DataFrame, delay: String = "2 hours",
      retentionHours: Int = 168, maxBucket: Int = 1000): Dataset[NearDupOut] = {
    import graft.functions.TextFunctions.{bandKeys, minhashSignature, shingleHashes}
    require(retentionHours >= 1, "retentionHours must be >= 1")
    val s = docs.sparkSession
    import s.implicits._
    val retentionUs = retentionHours.toLong * 3600L * 1000000L
    val k = 32; val bands = 8; val r = 4

    val rows = docs
      .withWatermark("ingest_ts", delay)
      .select(col("doc_id"), col("ingest_ts"),
        minhashSignature(shingleHashes(col("text"), 3), k).as("sig"))
      .select(col("doc_id"), col("ingest_ts"), col("sig"),
        explode(bandKeys(col("sig"), bands, r)).as("bk"))
      .select(col("doc_id"), col("ingest_ts"), col("sig"),
        col("bk.band").as("band"), col("bk.bkey").as("bkey"))
      .as[BandRow]

    rows.groupByKey(b => (b.band, b.bkey))
      .flatMapGroupsWithState[BucketState, NearDupOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_, batch, state) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000
          def sweep(docs: List[BucketDoc]): Unit = {
            val kept = docs.filter(_.tsUs > wmUs - retentionUs)
            if (kept.isEmpty) state.remove()
            else {
              state.update(BucketState(kept))
              // kept ts > wm - retention, so this lands strictly past
              // the watermark (a timeout at/under it would throw)
              state.setTimeoutTimestamp((kept.map(_.tsUs).min + retentionUs) / 1000 + 1)
            }
          }
          if (state.hasTimedOut) {
            sweep(state.get.docs)
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(BucketState(Nil))
            val out = List.newBuilder[NearDupOut]
            batch.toSeq.sortBy(b => (tsToUs(b.ingest_ts), b.doc_id)).foreach { b =>
              val us = tsToUs(b.ingest_ts)
              st.docs.foreach { prior =>
                if (prior.docId != b.doc_id) {
                  val agree = (0 until k).count(i => prior.sig(i) == b.sig(i))
                  if (agree * 2 >= k)
                    out += NearDupOut(
                      math.min(prior.docId, b.doc_id),
                      math.max(prior.docId, b.doc_id),
                      math.round(agree.toDouble / k * 10000).toDouble / 10000,
                      b.ingest_ts)
                }
              }
              if (st.docs.size < maxBucket && !st.docs.exists(_.docId == b.doc_id))
                st = BucketState(st.docs :+ BucketDoc(b.doc_id, us, b.sig))
            }
            sweep(st.docs)
            out.result().iterator
          }
      }
  }
  /** CONTINUOUS-INGEST DEDUP AGAINST A PERSISTED BAND INDEX — the
    * streaming twin of [[graft.operators.Dedup.dedup_minhash_index]]
    * and the third point in the dedup design space: [[nearDupStream]]
    * keeps ALL candidate state inside the stream (keyed state, bounded
    * by watermark retention — right when there is no pre-existing
    * corpus), the batch delta probe re-runs per accepted batch; THIS
    * is the posture for continuous ingest against an
    * already-indexed corpus. Each micro-batch PROBES the bucketed
    * band + signature tables with the batch probe kernel verbatim
    * ([[graft.operators.Dedup.mhProbeCore]]) and then APPENDS its own
    * band keys + signatures (rows flagged `ingested` = 1), so every
    * later arrival dedups against the original corpus AND everything
    * ingested before it.
    *
    * Probe-BEFORE-append makes pair discovery EXACTLY-ONCE under any
    * split of the ingest into micro-batches: pair (x, y) with y
    * arriving last is emitted precisely in y's batch (x is then in
    * the index as flag 0/1 — or flag 2 if they share the batch), and
    * never again, because a pair with no current-batch member fails
    * the probe's max-flag-2 gate. StreamingSpec's gate is that
    * theorem mechanically: union of per-batch outputs ≡ the one-shot
    * probe's rows, under forward and reversed splits, planted
    * same-batch and cross-batch duplicate pairs included.
    *
    * foreachBatch rather than a pure streaming plan, deliberately:
    * the cycle reads AND appends the same bucketed tables per batch —
    * a stream∪static union is illegal inside one streaming plan, and
    * index mutation is exactly what foreachBatch exists for. Each
    * append job's files carry their bucket ids, so the probe's
    * merge-join scan stays `Bucketed: true` across all generations
    * (the delta-index append play, per micro-batch). `onBatch`
    * receives each batch's pair DataFrame and owns delivery; the
    * standard sink contract is an idempotent upsert keyed by
    * (probe_id, match_id) — on micro-batch REPLAY the probe re-emits
    * the same rows (deterministic), but the append is NOT idempotent
    * (a replayed batch would double its band rows), so an
    * exactly-once deployment checkpoints the sink and index move
    * together (e.g. both as one transactional table commit).
    *
    * Two contract caveats: (1) the pairs DataFrame is pinned
    * (persist + count) BEFORE the append so its rows are fixed at
    * probe time, but it is only valid DURING the onBatch call (the
    * standard foreachBatch dataset contract) — consume it
    * synchronously, don't store it; (2) the ≡-one-shot theorem holds
    * while the hot-bucket cap (graft.dedup.maxBucket) stays silent:
    * the cap applies to a bucket's membership AS OF each probe, so a
    * bucket that only later outgrows the cap emits its early pairs
    * where the one-shot probe drops the whole bucket — the same
    * documented first-arrival-vs-retroactive-drop divergence as
    * [[nearDupStream]]'s cap, observable via BucketCapMetrics.
    *
    * REPLAY guard (r16 advice): foreachBatch may re-deliver a batch
    * (sink failure, recovery), and the APPEND is the one non-idempotent
    * leg — a replayed batch would double its band/sig rows and every
    * later probe would emit its pairs twice. [[AppendGuard]] keys
    * the append on the batchId: a batch is appended at most once per
    * (table, id), replays re-probe and re-deliver (the sink contract
    * is an idempotent upsert, so that's harmless) but never re-append.
    * Since r19 the guard is DURABLE: each committed (leg, batchId) is
    * recorded in a rename-committed sidecar marker next to the table,
    * so a checkpoint RESTART in a fresh JVM seeds the guard from the
    * marker and skips the replayed batch's committed legs too — see
    * the [[AppendGuard]] scaladoc for the exact residual window. */
  def dedupIndexStream(docs: DataFrame, bandTbl: String, sigTbl: String,
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.functions.TextFunctions.{minhashSignature, shingleHashes}
    val guard = new AppendGuard(docs.sparkSession, bandTbl)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val sigs = batch
          .select(col("doc_id"),
            minhashSignature(shingleHashes(col("text"), 3), 32).as("sig"))
          .persist()
        val pairs = graft.operators.Dedup.mhProbeCore(s, (bandTbl, sigTbl), sigs)
          .persist()
        try {
          // pin the probe result BEFORE the append mutates the tables
          // it reads — lazy consumers inside onBatch would otherwise
          // see their own batch's (or a later batch's) appended rows
          pairs.count()
          onBatch(pairs)
          // two guarded LEGS, one per table: a retry after a partial
          // failure re-runs only the leg that didn't commit
          guard(batchId, "band") {
            graft.operators.Dedup.appendMhBands(sigs, bandTbl)
          }
          guard(batchId, "sig") {
            graft.operators.Dedup.appendMhSigs(sigs, sigTbl)
          }
        } finally {
          pairs.unpersist(blocking = false)
          sigs.unpersist(blocking = false)
        }
    }.start()
  }

  /** CONTINUOUS POSTINGS-INDEX GROWTH — the streaming twin of
    * [[graft.operators.TextOps.text_search_index_delta]] (r17), the
    * same probe-vs-mutate discipline as [[dedupIndexStream]] applied
    * to the text tier: each micro-batch APPENDS its documents'
    * postings to the term-bucketed index (bucketed append — the scan
    * stays `Bucketed: true` across generations) and then re-serves the
    * standing keyword queries from the MERGED index, with idf weights
    * recomputed at refresh time over the documents indexed so far
    * (running N rides a driver counter seeded with the base build's
    * count — a scalar, never a table scan). Append-THEN-refresh, the
    * opposite order from the dedup twin, because the semantics differ:
    * dedup pairs must be discovered exactly once (probe before the
    * batch joins the index), while a search refresh must REFLECT the
    * batch that just landed.
    *
    * ≡-batch theorem (StreamingSpec's gate): after the %10 slice has
    * fully streamed in — in any batch split, any order — the final
    * refresh equals [[graft.operators.TextOps.text_search_index_delta]]
    * row-for-row, because postings are per-document (append ≡ rebuild)
    * and idf is derived from the merged index, not baked at build.
    *
    * Same replay guard as the dedup twin: the append is the
    * non-idempotent leg, so it is keyed on the batchId; a replayed
    * batch re-refreshes (harmless — the refresh is a pure read) but
    * never re-appends. The running-N counter advances under the same
    * guard so a skipped append can't double-count its documents. */
  def searchIndexStream(docs: DataFrame, idxTbl: String, baseN: Long,
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val guard = new AppendGuard(docs.sparkSession, idxTbl)
    val indexedN = new java.util.concurrent.atomic.AtomicLong(baseN)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        postingsBatch(batch, batchId, guard, indexedN, () => idxTbl, onBatch)(())
    }.start()
  }

  /** One postings micro-batch, the body both postings streams share:
    *
    *   1. the guarded APPEND of the batch's postings into `live()`.
    *      The batch's document count is an `Observation` on the append
    *      job itself, so the batch is neither cached nor counted by a
    *      second job; a batch the guard skips as a replay creates and
    *      reads no observation and leaves `indexedN` as it was;
    *   2. `maintain` (compaction, for the compacting stream);
    *   3. ONE refresh of the standing queries from `live()`, collected
    *      (top 10 per query — at most 30 rows) and handed to `onBatch`
    *      as a local DataFrame, which stays valid after the call and
    *      costs no cache block and no further job to read. */
  private[graft] def postingsBatch(batch: DataFrame, batchId: Long,
      guard: AppendGuard, indexedN: java.util.concurrent.atomic.AtomicLong,
      live: () => String, onBatch: DataFrame => Unit)(maintain: => Unit): Unit = {
    import graft.operators.{IndexUtil, TextOps}
    val s = batch.sparkSession
    guard(batchId) {
      val tbl = live()
      val obs = org.apache.spark.sql.Observation()
      TextOps.appendPostings(batch.observe(obs, count(lit(1)).as("docs")), tbl)
      indexedN.addAndGet(IndexUtil.observed(obs, tbl).getLong(0))
    }
    maintain
    val res = TextOps.searchIndexQueryOver(s, live(), indexedN.get())
    onBatch(s.createDataFrame(java.util.Arrays.asList(res.collect(): _*), res.schema))
  }

  /** CONTINUOUS INGEST WITH PERIODIC COMPACTION — the LSM posture on
    * the postings tier, closing the maintenance loop UNDER the ingest
    * it maintains: [[searchIndexStream]] grows its index by one file
    * generation per micro-batch forever, which is exactly the
    * small-files accretion [[graft.operators.IndexUtil.compactTable]]
    * exists to undo — a real serving index runs both at once (ingest
    * appends, a maintenance tick folds), the way an LSM tree flushes
    * memtables AND compacts levels concurrently. Each micro-batch:
    *
    *   1. APPENDS its postings to the chain's CURRENT generation
    *      (`<base>_g<n>` — the tableMergeStream naming; durable
    *      per-batchId replay guard, the append is the non-idempotent
    *      leg; the batch's document count is observed in the append
    *      job — see [[postingsBatch]]);
    *   2. every `every` batches, COMPACTS the current generation
    *      forward: the zero-shuffle bucketed fold of compactTable,
    *      fingerprint-verified BEFORE the swap (the source side is
    *      observed inside the fold's own write job, so only the new
    *      generation is read back), then `n` advances and the
    *      fragmented predecessor drops (generation-swap commit
    *      discipline). The compact leg's guard is in-process only
    *      (`idempotent = true` — the dedupIndexStream carve-out):
    *      compaction is content-idempotent, so on any replay the
    *      always-correct answer is to re-run it, at worst burning one
    *      extra fold;
    *   3. re-serves the standing queries from the post-maintenance
    *      generation, collected once and delivered as a local
    *      DataFrame (append-then-refresh, the searchIndexStream
    *      order — a refresh must reflect the batch that landed, and
    *      must be INVISIBLE to maintenance: compaction holds contents
    *      fixed, so a refresh before or after the fold reads the same
    *      rows, which is precisely what the spec's mid-stream
    *      compaction gate proves).
    *
    * RESTART: the live generation is DISCOVERED from the catalog at
    * query start (highest `<base>_g<n>` — the tableMergeStream r18
    * device; same in-memory-catalog scope caveat). A fresh chain goes
    * through [[graft.operators.TextOps.searchCompactStreamTable]],
    * which rebuilds generation 0 and clears the chain's markers.
    *
    * ≡-batch theorem (StreamingSpec's gate): after the delta has
    * fully streamed in — any split, any order, any number of
    * mid-stream compactions — the final refresh equals
    * [[graft.operators.TextOps.text_search_index_delta]] row-for-row:
    * appends preserve contents by the per-document postings argument,
    * compactions preserve contents by the fingerprint gate, so the
    * chain's final generation holds exactly the one-shot index.
    *
    * Scale: the fold cost is ∝ current index size, paid every
    * `every` batches — at 100 TB the chain is partitioned and only
    * partitions past a generation-count threshold fold (incremental
    * compaction), and `every` trades read amplification (sorted runs
    * per bucket ≤ every) against write amplification (each row
    * rewritten once per fold) — the classic LSM dial. */
  def compactingIndexStream(docs: DataFrame, idxBase: String, baseN: Long,
      every: Int, onBatch: DataFrame => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(every >= 1, s"compaction period must be >= 1, got $every")
    val sess = docs.sparkSession
    val appendGuard = new AppendGuard(sess, idxBase)
    val compactGuard = new AppendGuard(sess, idxBase, idempotent = true)
    val startGen = sess.catalog.listTables().collect().iterator
      .map(_.name).filter(_.startsWith(s"${idxBase}_g"))
      .flatMap(n => n.stripPrefix(s"${idxBase}_g").toLongOption)
      .foldLeft(0L)(math.max)
    val curGen = new java.util.concurrent.atomic.AtomicLong(startGen)
    val indexedN = new java.util.concurrent.atomic.AtomicLong(baseN)
    docs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        postingsBatch(batch, batchId, appendGuard, indexedN,
            () => s"${idxBase}_g${curGen.get()}", onBatch) {
          if ((batchId + 1) % every == 0) compactGuard(batchId, "compact") {
            val gen = curGen.get()
            graft.operators.IndexUtil.compactTable(batch.sparkSession,
              s"${idxBase}_g$gen", s"${idxBase}_g${gen + 1}",
              buckets = 8, bucketCols = Seq("term"), sortCols = Seq("term"))
            curGen.set(gen + 1) // commit point: compactTable verified+swapped
          }
        }
    }.start()
  }

  /** CONTINUOUS MERGE INTO — the streaming twin of
    * [[graft.operators.MetadataOps.fs_table_merge]] (r18): each
    * micro-batch is a keyed delta (doc_id, source, n_chars, op ∈
    * {U, D, I}) MERGED into the current generation of a doc_id-
    * bucketed target table via the same
    * [[graft.operators.MetadataOps.mergeUpsert]] kernel, written as
    * the NEXT generation (`<base>_g<n>`) through [[graft.operators
    * .IndexUtil.writeVerifiedGeneration]], and only then swapped in —
    * DistCp `-update`'s copy-if-changed row
    * semantics made continuous (reference: hadoop-tools/hadoop-distcp/
    * src/main/java/org/apache/hadoop/tools/DistCp.java:1), i.e. the
    * canonical foreachBatch warehouse-maintenance sink.
    *
    * A generation that fails verification fails its batch before the
    * swap, so a bad write can never become the table (the generation
    * swap is the commit point; the half-written generation is dropped
    * and rebuilt on retry). The batch is not cached: the write reads
    * it once, a replay not at all, and only a failed verification's
    * diagnosis reads it again.
    *
    * REPLAY guard: the merge-write leg is guarded per batchId like
    * the index appends — a replayed batch re-delivers the current
    * table (harmless read) but never re-merges. Unlike the band/sig
    * appends the merge itself is semantically idempotent (U sets
    * values the delta carries, D on a gone key and I on a present
    * key are clause-gated no-ops), so the guard here saves the
    * rewrite work and generation churn rather than correctness.
    *
    * RESTART (r18 advice): the live generation is DISCOVERED from the
    * catalog at query start (highest existing `<base>_g<n>`), not
    * assumed to be 0 — a checkpoint-recovered stream over an existing
    * chain resumes against the generation its predecessor committed
    * (the previous run's swaps already dropped `_g0`). Starting a
    * genuinely FRESH chain goes through [[graft.operators.MetadataOps
    * .mergeStreamTarget]], which rebuilds generation 0 and clears the
    * chain's commit markers; a fresh QUERY continuing an EXISTING
    * chain (new checkpoint, ids restarted at 0) is also legal here
    * because the merge leg is idempotent — its guard is in-process
    * only (`idempotent = true`), so any cross-instance replay simply
    * re-runs the harmless merge (the non-idempotent index appends
    * use the durable marker and fail loud instead, see
    * [[AppendGuard]]).
    *
    * ≡-batch theorem (StreamingSpec's gate): a keyed delta carrying
    * AT MOST ONE ROW PER KEY, split into micro-batches any way at
    * all, converges to the one-shot [[graft.operators.MetadataOps
    * .mergeUpsert]] of the union — per-key clauses touch disjoint
    * rows, so sequential merges commute across keys (forward and
    * reversed splits asserted).
    *
    * Scale: copy-on-write per batch — each generation rewrite scans
    * the table once, bucketed on the merge key, so the join moves
    * only the delta (the Delta/Hudi CoW trade: batch cost ∝ table
    * size, read cost zero). At 100 TB the same code runs with the
    * target additionally partitioned (e.g. by date) so a batch
    * rewrites only delta-touched partitions; the generation-swap +
    * verify discipline is unchanged. `onBatch` receives the new
    * generation read back (pinned for the duration of the call). */
  def tableMergeStream(deltas: DataFrame, tgtBase: String,
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.operators.{IndexUtil, MetadataOps}
    val sess = deltas.sparkSession
    val guard = new AppendGuard(sess, tgtBase, idempotent = true)
    // Discover the live generation from the catalog at start (r18
    // advice): a RESTARTED stream over an existing chain must resume
    // from the highest committed generation — assuming _g0 reads a
    // table the previous run's swaps already dropped and the first
    // batch dies on a missing table. Catalog-scoped honestly: the
    // session catalog here is in-memory, so this covers an in-process
    // restart (new query instance, same session — the checkpoint
    // recovery the replay guard exists for); a cross-JVM resume needs
    // a persistent metastore to re-resolve the generation tables at
    // all, at which point the same listing works against it.
    val startGen = sess.catalog.listTables().collect().iterator
      .map(_.name).filter(_.startsWith(s"${tgtBase}_g"))
      .flatMap(n => n.stripPrefix(s"${tgtBase}_g").toLongOption)
      .foldLeft(0L)(math.max)
    val curGen = new java.util.concurrent.atomic.AtomicLong(startGen)
    deltas.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        guard(batchId, "merge") {
          val gen = curGen.get()
          val cur = s"${tgtBase}_g$gen"
          IndexUtil.writeVerifiedGeneration(
            MetadataOps.mergeUpsert(s.table(cur), batch), s"${tgtBase}_g${gen + 1}",
            32, Seq("doc_id"), Seq("doc_id"), s"batch $batchId merge")
          curGen.set(gen + 1) // commit point: the new generation is live
          IndexUtil.dropIndexTable(s, cur)
        }
        val res = s.table(s"${tgtBase}_g${curGen.get()}").persist()
        try {
          res.count()
          onBatch(res)
        } finally res.unpersist(blocking = false)
    }.start()
  }

  /** CONTINUOUS IVF-LIST GROWTH — the streaming twin of
    * [[graft.operators.Similarity.ann_ivf_index_delta]] (r18),
    * completing streaming ingest across all four index tiers (dedup
    * bands, text postings, merge table, and now the vector lists):
    * each micro-batch of (vec_id, vec) is assigned under the FROZEN
    * coarse quantizer (trained at base build — the production vector
    * store's update path: re-training per batch is exactly the cost
    * persisting the model avoids), APPENDED to the cell-bucketed
    * lists (bucketed append — the probe scan stays `Bucketed: true`
    * across generations), and then the standing query set re-serves
    * from the grown lists. Append-THEN-refresh, the searchIndexStream
    * order, because a search refresh must REFLECT the batch that just
    * landed.
    *
    * ≡-batch theorem (StreamingSpec's gate): assignment is per-vector
    * under a FIXED model, so after the delta has fully streamed in —
    * any split, any order — the final refresh equals the one-shot
    * rebuild under the SAME centroids row-for-row
    * ([[graft.operators.Similarity.ivfRebuildWith]]; the centroids
    * must be shared BY VALUE — two trainings have no cross-run bit
    * determinism, which is why the builder returns them).
    *
    * Same replay guard as the other twins: the append is the one
    * non-idempotent leg, keyed on batchId; a replayed batch
    * re-refreshes (a pure read) but never re-appends. */
  def annIndexStream(vecs: DataFrame, d: String, tbl: String,
      cents: Array[Array[Double]],
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val guard = new AppendGuard(vecs.sparkSession, tbl)
    vecs.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.persist()
        try {
          guard(batchId, "lists") {
            graft.operators.Similarity.appendIvfLists(b, tbl, cents)
          }
          val res = graft.operators.Similarity
            .ivfSearchOver(s, d, tbl, cents).persist()
          try {
            res.count()
            onBatch(res)
          } finally res.unpersist(blocking = false)
        } finally b.unpersist(blocking = false)
    }.start()
  }

  /** CONTINUOUS EDGE-INDEX GROWTH — the streaming twin of
    * [[graft.operators.Graph.graph_pagerank_index_delta]] (r18),
    * closing streaming ingest on the FIFTH and last index surface
    * (dedup bands, text postings, merge table, vector lists, and now
    * the graph's edge index): each micro-batch of WHOLE-SRC edge
    * groups (a crawler emits a page's complete out-links as one
    * record — the append unit the denormalized out_w requires, see
    * [[graft.operators.Graph.appendEdgeGroups]]) is APPENDED to the
    * src-bucketed edge index with its out-weights computed within the
    * batch (exact globally under the whole-src contract), and the
    * standing pagerank analytic re-serves from the grown index —
    * append-THEN-refresh, the searchIndexStream order, because ranks
    * must reflect the pages that just landed.
    *
    * ≡-batch theorem (StreamingSpec's gate): the edge derivation is
    * deterministic and src groups are disjoint across batches, so
    * after the delta has fully streamed in — any whole-group split,
    * any order — the final refresh equals the batch index query
    * row-for-row (append ≡ rebuild on the graph tier, continuously).
    *
    * Same per-leg batchId replay guard as the other twins on the
    * non-idempotent append. Cache contract: each refresh is
    * materialized and CacheRegistry-tracked by the pagerank loop; the
    * stream unpersists exactly the frames its own refresh tracked
    * ([[graft.CacheRegistry.scoped]], r18 advice — previously it
    * released ALL of the session's tracked intermediates, clobbering
    * any batch consumer sharing the session). */
  def edgeIndexStream(edges: DataFrame, tbl: String,
      onBatch: DataFrame => Unit): org.apache.spark.sql.streaming.StreamingQuery = {
    val guard = new AppendGuard(edges.sparkSession, tbl)
    edges.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        val b = batch.persist()
        try {
          guard(batchId, "edges") {
            graft.operators.Graph.appendEdgeGroups(b, tbl)
          }
          // scoped, not releaseAll (r18 advice): unpersist exactly the
          // frames THIS refresh tracked, so a batch consumer sharing
          // the session doesn't lose its own caches mid-flight
          graft.CacheRegistry.scoped(s) {
            onBatch(graft.operators.Graph.pagerankOverGrownIndex(s, tbl))
          }
        } finally b.unpersist(blocking = false)
    }.start()
  }

  /** At-most-once-per-batchId append guard for index-mutating
    * foreachBatch bodies — see the [[dedupIndexStream]] replay note.
    * PER-STREAM-INSTANCE (one guard per started query, not a JVM-wide
    * table map): batchIds are monotonic within a stream's lifetime,
    * and a fresh stream over a rebuilt table legitimately restarts
    * its ids at 0 — the durable seed below respects that because
    * every index (re)builder goes through
    * [[graft.operators.IndexUtil.dropIndexTable]], which clears the
    * table's markers (table gone ⇒ append history gone).
    *
    * PER-LEG (r17 advice): a batch whose append mutates TWO tables
    * (dedupIndexStream's band + sig) guards each table as its own
    * leg, because the failure that matters is the PARTIAL one — band
    * append commits, sig append throws, foreachBatch retries the
    * whole batchId. A single whole-block guard re-runs the
    * already-committed band leg on that retry (batchId > last still
    * holds) and duplicates its rows — the exact double-pair emission
    * the guard exists to prevent. With per-leg memory the retry skips
    * the committed band leg and runs only the failed sig leg, making
    * the two-table append effectively atomic under in-process
    * retries.
    *
    * DURABLE ACROSS JVM RESTARTS (r18 verdict #2): each committed
    * (leg, batchId) is recorded in a sidecar marker file next to the
    * table (`<warehouse>/_graft_commits/<tbl>.<leg>`), written tmp +
    * ATOMIC_MOVE — the rename-commit discipline of hadoop-mapreduce's
    * FileOutputCommitter (hadoop-mapreduce-client-core/src/main/java/
    * org/apache/hadoop/mapreduce/lib/output/FileOutputCommitter.java:1)
    * applied per append leg. A checkpoint restart after a crash
    * constructs a fresh guard, which seeds each leg from its marker
    * on first use and therefore skips the replayed batch's
    * already-committed legs instead of double-appending (previously
    * the guard's memory died with the JVM and ANY crash-restart
    * replay duplicated its batch). Residual window, stated exactly: a
    * crash BETWEEN an append's table commit and its marker rename
    * (microseconds apart, no Spark job in between) still replays that
    * one leg — closing it needs the append and its batchId in ONE
    * atomic commit, i.e. a transactional table format; the marker
    * shrinks the exposure from "every replayed batch" to that sliver
    * and is exact for every crash point outside it. A corrupt marker
    * (torn disk, not a torn write — the move is atomic) degrades to
    * the pre-r19 behavior (seed absent, replay vulnerable) with a
    * loud warning, never to blocking live appends.
    *
    * `idempotent = true` (the merge stream): re-running the leg is
    * semantically harmless (clause-gated upsert), so the guard is
    * deliberately IN-PROCESS ONLY — no marker is read or written.
    * Rationale: a durable seed cannot distinguish "checkpoint resume
    * replaying the last committed batch" (skip would be fine) from "a
    * fresh query continuing the chain with ids restarted at 0" (skip
    * LOSES its first batches — measured directly by the restart spec
    * before this carve-out), and for an idempotent leg the cheap,
    * always-correct answer is to re-run; the in-process memory still
    * saves the rewrite on same-instance retries. The durable marker +
    * strict fail-fast below exist for non-idempotent appends only,
    * where re-running duplicates rows and skipping loses data. */
  private[graft] final class AppendGuard(spark: SparkSession, tbl: String,
      idempotent: Boolean = false) {
    import graft.operators.IndexUtil
    private val last = scala.collection.mutable.HashMap.empty[String, Long]
    private def seed(leg: String): Long = {
      val p = IndexUtil.commitMarkerPath(spark, tbl, leg)
      if (!java.nio.file.Files.isRegularFile(p)) Long.MinValue
      else try {
        val id = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").trim.toLong
        System.err.println(
          s"[graft-stream] seeded replay guard for $tbl${
            if (leg.isEmpty) "" else s" leg=$leg"} from marker: last committed batch $id")
        id
      } catch { case _: NumberFormatException =>
        System.err.println(
          s"[graft-stream] WARNING unreadable commit marker $p — treating as " +
            "absent (replay protection degrades to in-process only for this leg)")
        Long.MinValue
      }
    }
    def apply(batchId: Long, leg: String = "")(append: => Unit): Unit =
      synchronized {
        val prev = last.getOrElseUpdate(leg,
          if (idempotent) Long.MinValue else seed(leg))
        if (batchId <= prev && idempotent) {
          // same-instance retry of a committed batch: skip to save the
          // rewrite (the in-process r18 semantics — see the class doc
          // for why idempotent legs never consult the durable marker)
          System.err.println(
            s"[graft-stream] replayed batch $batchId on $tbl${
              if (leg.isEmpty) "" else s" leg=$leg"} (last committed $prev) — " +
              "skipping the idempotent leg's rewrite")
        } else if (batchId < prev) {
          // Strictly older than the committed history ⇒ this is NOT a
          // checkpoint resume (a resume replays exactly `prev` or
          // continues past it; within one query batchIds are
          // monotonic) — it is a FRESH query started over a table
          // with committed markers. Silently skipping would drop its
          // genuinely-new batches, so fail loud with the remedy.
          throw new IllegalStateException(
            s"batch $batchId on $tbl${
              if (leg.isEmpty) "" else s" leg=$leg"} is older than the " +
              s"durably committed batch $prev — a fresh stream over a table " +
              "with committed history would silently lose appends. Rebuild " +
              "the stream target (its builder clears the commit markers) or " +
              "resume the original checkpoint instead.")
        } else if (batchId == prev) {
          System.err.println(
            s"[graft-stream] replayed batch $batchId on $tbl${
              if (leg.isEmpty) "" else s" leg=$leg"} (last appended $prev) — " +
              "skipping the non-idempotent index append")
        } else {
          append
          if (!idempotent) writeMarker(leg, batchId)
          last(leg) = batchId
        }
      }
    private def writeMarker(leg: String, batchId: Long): Unit = {
      val p = IndexUtil.commitMarkerPath(spark, tbl, leg)
      java.nio.file.Files.createDirectories(p.getParent)
      val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
      java.nio.file.Files.write(tmp, batchId.toString.getBytes("UTF-8"))
      java.nio.file.Files.move(tmp, p,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    }
  }
}
