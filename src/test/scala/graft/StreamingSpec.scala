package graft

import graft.operators.EventOps
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.{Ev, SessionOut}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.sql.Timestamp

/** Top-level so Spark can derive an encoder (inner classes need their
  * defining scope at deserialization time). */
case class EvFull(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** Streaming-curation input row (top-level for encoder derivation). */
case class DocIn(doc_id: Long, text: String, ingest_ts: Timestamp)
case class MultiDocIn(doc_id: Long, lang: String, source: String, n_chars: Long)

/** Structured Streaming ≡ batch: the §2.4 streaming forms fed from a
  * MemoryStream must reproduce the batch EventOps results on the same
  * events (sf0.001). */
class StreamingSpec extends SparkSpec {

  private def loadEvents(): Seq[EvFull] = {
    import spark.implicits._
    Tables.events(spark, sf0001)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[EvFull].collect().toSeq
  }

  private def drain(q: StreamingQuery): Unit = q.processAllAvailable()

  test("streaming transitions equal batch ev_markov under out-of-order batched ingest") {
    import graft.streaming.StreamingOps.{TypedEv, TransitionOut}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents().map(e => TypedEv(e.event_id, e.ts, e.user_id, e.event_type))
    val ms = MemoryStream[TypedEv]
    val withWm = ms.toDS().withWatermark("ts", "2 hours").as[TypedEv]
    val q = StreamingOps.transitionsStream(withWm, tailRetentionHours = 24 * 365)
      .writeStream.format("memory").queryName("t_trans")
      .outputMode("append").start()
    try {
      // three batches, REVERSED within each chunk — every in-chunk
      // adjacency arrives out of order; chunk boundaries land mid-day
      // so cross-batch sealing is exercised too
      val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.grouped((sorted.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk.reverse); drain(q)
      }
      val maxTs = sorted.last.ts.getTime
      val sentinel = TypedEv(-1L, new Timestamp(maxTs + 86400000L * 2), -1L, "view")
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_trans").as[TransitionOut].collect()
        .filter(_.user_id >= 0)
        .groupBy(t => (t.from_type, t.to_type))
        .view.mapValues(_.length.toLong).toMap
      val exp = EventOps.ev_markov(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == exp, s"streamed transition counts diverge from batch")
    } finally q.stop()
  }

  test("stateful streaming resumes from checkpoint across a query RESTART") {
    // The production property the ≡-batch gates don't cover: a
    // stateful query stopped mid-stream and restarted from its
    // checkpoint must carry its keyed state (sealed tails, open
    // buffers, source offsets) across the process boundary — emissions
    // from both incarnations together must still equal batch.
    import graft.streaming.StreamingOps.{TypedEv, TransitionOut}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // the memory sink refuses checkpoint recovery, so the restart
    // test writes through the fault-tolerant FILE sink and reads the
    // output directory back
    val nonce = System.nanoTime()
    val ckpt = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ckpt_$nonce").getPath
    val outDir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_ckpt_out_$nonce").getPath
    val events = loadEvents().map(e =>
      TypedEv(e.event_id, e.ts, e.user_id, e.event_type))
      .sortBy(e => (e.ts.getTime, e.event_id))
    val (chunk1, chunk2) = events.splitAt(events.size / 2)
    val ms = MemoryStream[TypedEv]
    def start() = StreamingOps.transitionsStream(
        ms.toDS().withWatermark("ts", "2 hours").as[TypedEv],
        tailRetentionHours = 24 * 365)
      .writeStream.format("parquet").option("path", outDir)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    val part1 = try {
      ms.addData(chunk1); drain(q1)
      spark.read.parquet(outDir).count()
    } finally q1.stop()
    // data arriving while the query is DOWN, then restart from the
    // same checkpoint: offsets, watermark and keyed state (sealed
    // tails, open buffers) must all come back
    ms.addData(chunk2)
    val q2 = start()
    try {
      drain(q2)
      val maxTs = events.last.ts.getTime
      val sentinel = TypedEv(-1L, new Timestamp(maxTs + 86400000L * 2), -1L, "view")
      ms.addData(Seq(sentinel)); drain(q2)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q2)
    } finally q2.stop()
    val all = spark.read.parquet(outDir).as[TransitionOut].collect().toSeq
    val got = all.filter(_.user_id >= 0)
      .groupBy(t => (t.from_type, t.to_type))
      .view.mapValues(_.length.toLong).toMap
    val exp = EventOps.ev_markov(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(part1 > 0 && all.length > part1,
      "both query incarnations must emit for the restart to be exercised")
    assert(got == exp, "state did not survive the checkpoint restart")
  }

  test("streaming anomaly z-scores equal batch ev_anomaly under reversed batched ingest") {
    import graft.streaming.StreamingOps.TypedEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // sf0.01: the cnt >= 12 baseline requirement leaves only 2 rows at
    // sf0.001 — too thin to prove the window arithmetic
    val events = Tables.events(spark, sf001)
      .select($"event_id", $"ts", $"user_id", $"event_type")
      .as[TypedEv].collect().toSeq
    val ms = MemoryStream[TypedEv]
    val withWm = ms.toDS().withWatermark("ts", "2 hours").as[TypedEv]
    val q = StreamingOps.anomalyStream(withWm)
      .writeStream.format("memory").queryName("t_anom")
      .outputMode("append").start()
    try {
      // four batches, reversed within each chunk: sealing must wait
      // out in-chunk disorder, and trailing baselines must bridge
      // chunk boundaries
      val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.grouped((sorted.size + 3) / 4).foreach { chunk =>
        ms.addData(chunk.reverse); drain(q)
      }
      val maxTs = sorted.last.ts.getTime
      val sentinel = TypedEv(-1L,
        new Timestamp(maxTs + 86400000L * 3), -1L, "zz_sentinel")
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      def key(r: org.apache.spark.sql.Row) =
        (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getLong(3),
          if (r.isNullAt(4)) None else Some(r.getLong(4)))
      val got = spark.table("t_anom").collect()
        .filter(_.getString(1) != "zz_sentinel").map(key).toMap
      val exp = EventOps.ev_anomaly(spark, sf001).collect().map(key).toMap
      assert(exp.size > 1000, s"batch baseline unexpectedly thin: ${exp.size}")
      assert(got == exp)
    } finally q.stop()
  }

  test("streaming transitions: a mid-gap event arriving LATE re-threads the chain") {
    // The case that breaks pair-on-arrival: A(t0) and C(t2) arrive
    // first, B(t1) arrives in the next batch (inside the watermark).
    // The final chain must read A->B, B->C — never A->C.
    import graft.streaming.StreamingOps.{TypedEv, TransitionOut}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600_000L * 24 + min * 60_000L)
    val ms = MemoryStream[TypedEv]
    val withWm = ms.toDS().withWatermark("ts", "1 hour").as[TypedEv]
    val q = StreamingOps.transitionsStream(withWm)
      .writeStream.format("memory").queryName("t_trans_ooo")
      .outputMode("append").start()
    try {
      ms.addData(Seq(TypedEv(1L, ts(0), 7L, "signup"),
        TypedEv(3L, ts(20), 7L, "purchase")))
      drain(q)
      ms.addData(Seq(TypedEv(2L, ts(10), 7L, "click")))
      drain(q)
      val sentinel = TypedEv(-1L, ts(60 * 48), -1L, "view")
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_trans_ooo").as[TransitionOut].collect()
        .filter(_.user_id == 7L)
        .sortBy(_.from_ts.getTime)
        .map(t => (t.from_type, t.to_type)).toSeq
      assert(got == Seq(("signup", "click"), ("click", "purchase")),
        s"late mid-gap event must re-thread the chain, got $got")
    } finally q.stop()
  }

  test("windowed aggregate with watermark matches batch ev_window_agg") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.windowedAgg(ms.toDF())
      .writeStream.format("memory").queryName("t_wagg")
      .outputMode("complete").start()
    try {
      ms.addData(loadEvents())
      drain(q)
      val got = spark.table("t_wagg")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val exp = EventOps.ev_window_agg(spark, sf0001)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got.keySet == exp.keySet)
      exp.foreach { case (k, (n, v)) =>
        assert(got(k)._1 == n, s"$k count")
        assert(math.abs(got(k)._2 - v) < 1e-6, s"$k sum")
      }
    } finally q.stop()
  }

  test("streaming CMS sketch equals the batch sketch under reversed split ingest; estimates match ev_cms") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.cmsStream(ms.toDF())
      .writeStream.format("memory").queryName("t_cms")
      .outputMode("complete").start()
    try {
      // reversed split ingest: cellwise-sum merge must be
      // order-independent across micro-batches
      val evs = loadEvents()
      val (a, b) = evs.splitAt(evs.length / 2)
      ms.addData(b.reverse)
      drain(q)
      ms.addData(a.reverse)
      drain(q)
      val got = spark.table("t_cms").collect()
        .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // batch sketch replayed sequentially with the shared hash family
      val p = 2147483647L
      val as = Seq(92821L, 48271L, 16807L); val bs = Seq(30269L, 49297L, 69621L)
      def h(j: Int, k: Long): Long = ((as(j) * (k % p) + bs(j)) % p) % 64
      val exp = evs.flatMap(e => (0 until 3).map(j => (j.toLong, h(j, e.user_id))))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == exp, "streamed CMS cells diverged from the sequential sketch")
      // the streamed sketch answers point queries exactly like ev_cms
      val cmsN = EventOps.ev_cms(spark, sf0001).collect()
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      cmsN.foreach { case (k, est) =>
        val streamed = (0 until 3).map(j => got((j.toLong, h(j, k)))).min
        assert(streamed == est, s"estimate for key $k: streamed $streamed vs batch $est")
      }
    } finally q.stop()
  }

  test("streaming KMV bottom-k sketch equals the batch sketch under reversed split ingest") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.kmvStream(ms.toDF())
      .writeStream.format("memory").queryName("t_kmv")
      .outputMode("complete").start()
    try {
      val evs = loadEvents()
      val (a, b) = evs.splitAt(evs.length / 2)
      ms.addData(b.reverse)
      drain(q)
      ms.addData(a.reverse)
      drain(q)
      val got = spark.table("t_kmv").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      // sequential bottom-k replay with the shared hash
      val p = 2147483647L
      def h(k: Long): Long =
        (1103515245L * ((k % p) * (k % p) % p) + 1013904223L * (k % p) + 12345L) % p + 1L
      val exp = evs.groupBy(_.event_type).map { case (t, rs) =>
        val hs = rs.map(r => h(r.user_id)).distinct.sorted.take(64)
        t -> (hs.length.toLong, hs.last)
      }
      assert(got == exp, "streamed KMV state diverged from the sequential bottom-k")
      // and the batch operator derives the same (k_used, hk) pairs
      val batch = EventOps.ev_kmv_uniques(spark, sf0001).collect()
        .map(r => r.getString(0) -> r.getLong(2)).toMap
      got.foreach { case (t, (kUsed, _)) =>
        assert(batch(t) == kUsed, s"$t k_used: batch ${batch(t)} vs streamed $kUsed") }
    } finally q.stop()
  }

  test("streaming burn-rate alerts equal batch ev_burn_rate under split ingest") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.burnRateStream(ms.toDF())
      .writeStream.format("memory").queryName("t_burn")
      .outputMode("complete").start()
    try {
      // split ingest: both legs must accumulate correctly ACROSS
      // micro-batches (the slow leg's spread rows for one hour arrive
      // in different batches)
      val evs = loadEvents()
      val (a, b) = evs.splitAt(evs.length / 2)
      ms.addData(a)
      drain(q)
      ms.addData(b)
      drain(q)
      def key(r: org.apache.spark.sql.Row) =
        r.getTimestamp(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5))
      val got = spark.table("t_burn").collect().map(key).toMap
      val exp = EventOps.ev_burn_rate(spark, sf0001).collect().map(key).toMap
      assert(got == exp)
      assert(exp.nonEmpty)
    } finally q.stop()
  }

  test("SQL-text streaming windowed aggregate matches batch ev_window_agg") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val df = StreamingOps.windowedAggSql(ms.toDF(), "t_wagg_sql_view")
    // the SQL text must have planned a STREAMING stateful agg, not a
    // batch query over a snapshot
    assert(df.isStreaming)
    val q = df.writeStream.format("memory").queryName("t_wagg_sql")
      .outputMode("complete").start()
    try {
      ms.addData(loadEvents())
      drain(q)
      val got = spark.table("t_wagg_sql")
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      val exp = EventOps.ev_window_agg(spark, sf0001)
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      assert(got == exp)
    } finally q.stop()
  }

  test("streaming windowed approx-uniques equals the batch sketch estimate") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.windowedApproxUniques(ms.toDF())
      .writeStream.format("memory").queryName("t_approx")
      .outputMode("complete").start()
    try {
      // two batches: HLL partials must merge across micro-batches to
      // the same registers one batch pass produces
      val (a, b) = loadEvents().partition(_.event_id % 2 == 0)
      ms.addData(a); drain(q)
      ms.addData(b); drain(q)
      val got = spark.table("t_approx").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      val exp = Tables.events(spark, sf0001)
        .groupBy(date_trunc("day", $"ts").as("day"), $"event_type")
        .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"))
        .collect()
        .map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == exp, s"sketch estimates diverged: ${
        (exp.toSet -- got.toSet).take(3)} vs ${(got.toSet -- exp.toSet).take(3)}")
    } finally q.stop()
  }

  test("session_window streaming sessionization matches batch sessions") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents()
    val maxTs = events.map(_.ts.getTime).max
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.sessionWindowAgg(ms.toDF())
      .writeStream.format("memory").queryName("t_sesswin")
      .outputMode("append").start()
    try {
      ms.addData(events)
      drain(q)
      // two sentinel batches push the watermark past every real session
      // (watermark advances at end-of-batch, emission happens next batch)
      val sentinel = EvFull(-1L, new Timestamp(maxTs + 86400000L * 2), -1L, "view", 0.0)
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_sesswin")
        .filter($"user_id" >= 0)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1)) -> (r.getLong(2), r.getDouble(3)))
        .toMap
      // batch columns: user_id, session_id, n_events, session_start,
      // session_end, session_value
      val exp = EventOps.ev_sessionize(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(3)) -> (r.getLong(2), r.getDouble(5)))
        .toMap
      assert(got.keySet == exp.keySet,
        s"sessions differ: missing=${(exp.keySet -- got.keySet).take(3)} extra=${(got.keySet -- exp.keySet).take(3)}")
      exp.foreach { case (k, (n, v)) =>
        assert(got(k)._1 == n, s"$k n_events")
        assert(math.abs(got(k)._2 - v) < 0.011, s"$k session_value")
      }
    } finally q.stop()
  }

  test("streaming dedup drops cross-batch replays within the watermark") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    // time-ordered feed; a generous delay keeps every replay inside
    // the watermark so the test exercises the dedup state, not the
    // late-drop path
    val events = loadEvents().sortBy(_.ts.getTime).take(500)
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.dedupStream(ms.toDF(), delay = "30 days")
      .writeStream.format("memory").queryName("t_dedup")
      .outputMode("append").start()
    try {
      val (b1, b2) = events.splitAt(250)
      ms.addData(b1); drain(q)
      // replay a slice of batch 1 alongside batch 2 — an at-least-once
      // source redelivering after a failure
      ms.addData(b2 ++ b1.takeRight(50)); drain(q)
      ms.addData(b2.take(25)); drain(q)
      val got = spark.table("t_dedup").select($"event_id").collect().map(_.getLong(0))
      assert(got.length == got.distinct.length, "duplicates survived the stream")
      assert(got.toSet == events.map(_.event_id).toSet,
        s"expected ${events.size} unique events, got ${got.length}")
    } finally q.stop()
  }

  test("stateful sessionization tolerates out-of-order in-gap events across batches") {
    // The watermark bounds LATENESS, not ordering: an event from a
    // later micro-batch may land inside the open session's span. The
    // state fold must extend with min/max — the regression here is a
    // session end moving BACKWARD (end 00:05 instead of 00:10).
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600_000L * 24 + min * 60_000L)
    val ms = MemoryStream[Ev]
    val withWm = ms.toDS().withWatermark("ts", "1 hour").as[Ev]
    val q = StreamingOps.sessionizeStateful(withWm)
      .writeStream.format("memory").queryName("t_ooo")
      .outputMode("append").start()
    try {
      ms.addData(Seq(Ev(1, ts(0), 7L, 1.0), Ev(2, ts(10), 7L, 1.0)))
      drain(q)
      // out-of-order arrival INSIDE the open session (allowed by the
      // 1 h watermark delay)
      ms.addData(Seq(Ev(3, ts(5), 7L, 1.0)))
      drain(q)
      val sentinel = Ev(-1L, ts(60 * 48), -1L, 0.0)
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_ooo").filter($"user_id" === 7L)
        .as[SessionOut].collect()
      assert(got.length == 1, s"expected one session, got ${got.toSeq}")
      assert(got(0).n_events == 3L)
      assert(got(0).session_start == ts(0), s"start ${got(0).session_start}")
      assert(got(0).session_end == ts(10),
        s"session end moved backwards: ${got(0).session_end}")
    } finally q.stop()
  }

  test("stream-static enrichment join equals the batch join per micro-batch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents()
    // static dim: user_id -> a nation name via the driver's nation table
    val dim = Tables.nation(spark, sf0001)
      .select(($"n_nationkey" % 25).as("user_mod"), $"n_name")
    val ms = MemoryStream[EvFull]
    val enriched = StreamingOps.enrichStream(
      ms.toDF().withColumn("user_mod", $"user_id" % 25), dim, "user_mod")
    val q = enriched.writeStream.format("memory").queryName("t_enrich")
      .outputMode("append").start()
    try {
      val (a, b) = events.partition(_.event_id % 2 == 0)
      ms.addData(a); drain(q)
      ms.addData(b); drain(q)
      val got = spark.table("t_enrich")
        .select($"event_id", $"n_name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      val exp = Tables.events(spark, sf0001)
        .withColumn("user_mod", $"user_id" % 25)
        .join(dim, Seq("user_mod"), "left")
        .select($"event_id", $"n_name").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(exp.nonEmpty && got == exp)
    } finally q.stop()
  }

  test("stream-stream interval join emits exactly the batch join's pairs") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents()
    val maxTs = events.map(_.ts.getTime).max
    val msC = MemoryStream[EvFull]
    val msP = MemoryStream[EvFull]
    val q = StreamingOps.rangeJoinStream(msC.toDF(), msP.toDF())
      .writeStream.format("memory").queryName("t_ssj")
      .outputMode("append").start()
    try {
      val expRows = Tables.events(spark, sf0001).filter($"event_type" === "purchase")
        .select($"user_id", $"event_id".as("purchase_id"), $"ts".as("purchase_ts"))
        .join(Tables.events(spark, sf0001).filter($"event_type" === "click")
            .select($"user_id".as("c_user"), $"event_id".as("click_id"), $"ts".as("click_ts")),
          $"c_user" === $"user_id" && $"click_ts" <= $"purchase_ts" &&
            $"click_ts" > $"purchase_ts" - expr("INTERVAL 1 HOUR"))
        .select($"purchase_id", $"click_id", $"purchase_ts", $"click_ts")
        .collect()
      val exp = expRows.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exp.nonEmpty, "test premise: the batch interval join matches pairs")
      // Split the two batches along the TIMELINE, not by id parity:
      // watermarks advance with event time, so a batch-2 row older than
      // batch 1's max ts minus the delay is LATE and a watermark-correct
      // join must drop it. Cut at a matched pair's purchase ts so that
      // pair's click arrives a batch before its purchase — the match
      // must cross buffered state.
      val cut = expRows.map(_.getTimestamp(2).getTime).max
      assert(expRows.exists(r =>
          r.getTimestamp(3).getTime < cut && r.getTimestamp(2).getTime >= cut),
        "test premise: at least one pair straddles the batch boundary")
      val clicks = events.filter(_.event_type == "click")
      val purchases = events.filter(_.event_type == "purchase")
      msC.addData(clicks.filter(_.ts.getTime < cut))
      msP.addData(purchases.filter(_.ts.getTime < cut))
      drain(q)
      msC.addData(clicks.filter(_.ts.getTime >= cut))
      msP.addData(purchases.filter(_.ts.getTime >= cut))
      drain(q)
      val sentinel = EvFull(-1L, new Timestamp(maxTs + 86400000L * 2), -1L, "click", 0.0)
      msC.addData(Seq(sentinel)); msP.addData(Seq(sentinel.copy(event_type = "purchase")))
      drain(q)
      msC.addData(Seq(sentinel.copy(event_id = -2L)))
      msP.addData(Seq(sentinel.copy(event_id = -2L, event_type = "purchase")))
      drain(q)
      val got = spark.table("t_ssj").filter($"user_id" >= 0)
        .select($"purchase_id", $"click_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exp, s"pair sets differ: missing=${(exp -- got).take(3)} extra=${(got -- exp).take(3)}")
    } finally q.stop()
  }

  test("streaming as-of attributes a purchase to a click arriving in a LATER batch") {
    // The case that breaks attribute-on-arrival implementations: the
    // purchase shows up first; its winning click arrives out-of-order
    // in the next micro-batch (inside the watermark delay). Sealing on
    // watermark must credit the late click.
    import graft.streaming.StreamingOps.{AsofEv, AsofOut}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600_000L * 24 + min * 60_000L)
    val ms = MemoryStream[AsofEv]
    val withWm = ms.toDS().withWatermark("ts", "1 hour").as[AsofEv]
    val q = StreamingOps.asofStateful(withWm)
      .writeStream.format("memory").queryName("t_asof_ooo")
      .outputMode("append").start()
    try {
      // batch 1: an early click and the purchase at minute 10
      ms.addData(Seq(AsofEv(1L, ts(0), 7L, is_purchase = false),
        AsofEv(9L, ts(10), 7L, is_purchase = true)))
      drain(q)
      // batch 2: the out-of-order click at minute 5 — must win
      ms.addData(Seq(AsofEv(2L, ts(5), 7L, is_purchase = false)))
      drain(q)
      val sentinel = AsofEv(-1L, ts(60 * 48), -1L, is_purchase = false)
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_asof_ooo").filter($"user_id" === 7L)
        .as[AsofOut].collect()
      assert(got.length == 1, s"expected one attribution, got ${got.toSeq}")
      assert(got(0).click_id == 2L && got(0).click_ts == ts(5),
        s"late out-of-order click must win: ${got(0)}")
    } finally q.stop()
  }

  test("as-of click retention drops attributions past the horizon (state stays bounded)") {
    // A user who clicks but never purchases must not hold state
    // forever; the retention horizon trades that for a bounded
    // attribution window. Semantics check: with a 1-hour horizon, a
    // purchase trailing the only click by 3 hours (click already
    // 1h+ behind the watermark when the purchase seals) gets NO
    // attribution, while the same stream under the default horizon
    // attributes it.
    import graft.streaming.StreamingOps.{AsofEv, AsofOut}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new Timestamp(3600_000L * 24 + min * 60_000L)
    def run(name: String, retentionHours: Int): Seq[AsofOut] = {
      val ms = MemoryStream[AsofEv]
      val withWm = ms.toDS().withWatermark("ts", "0 seconds").as[AsofEv]
      val q = StreamingOps.asofStateful(withWm, retentionHours)
        .writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      try {
        // click at t=0; batch boundary advances the watermark past it
        ms.addData(Seq(AsofEv(1L, ts(0), 7L, is_purchase = false)))
        drain(q)
        // watermark moves to t=120 via another user, aging the click
        ms.addData(Seq(AsofEv(2L, ts(120), 99L, is_purchase = false)))
        drain(q)
        // purchase at t=180, then a sentinel to seal it
        ms.addData(Seq(AsofEv(3L, ts(180), 7L, is_purchase = true)))
        drain(q)
        ms.addData(Seq(AsofEv(-1L, ts(600), -1L, is_purchase = false)))
        drain(q)
        ms.addData(Seq(AsofEv(-2L, ts(660), -1L, is_purchase = false)))
        drain(q)
        spark.table(name).filter($"user_id" === 7L).as[AsofOut].collect().toSeq
      } finally q.stop()
    }
    val bounded = run("t_asof_ret1", retentionHours = 1)
    assert(bounded.isEmpty,
      s"click aged past a 1h horizon must not attribute: $bounded")
    val unbounded = run("t_asof_ret168", retentionHours = 168)
    assert(unbounded.map(a => (a.purchase_id, a.click_id)) == Seq((3L, 1L)),
      s"default horizon must attribute the click: $unbounded")
  }

  test("streaming as-of equals batch ev_asof on the full event log") {
    import graft.streaming.StreamingOps.{AsofEv, AsofOut}
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents().filter(e => e.event_type == "click" || e.event_type == "purchase")
    val maxTs = events.map(_.ts.getTime).max
    val ms = MemoryStream[AsofEv]
    val withWm = ms.toDS().withWatermark("ts", "0 seconds").as[AsofEv]
    val q = StreamingOps.asofStateful(withWm)
      .writeStream.format("memory").queryName("t_asof")
      .outputMode("append").start()
    try {
      ms.addData(events.map(e =>
        AsofEv(e.event_id, e.ts, e.user_id, e.event_type == "purchase")))
      drain(q)
      val sentinel = AsofEv(-1L, new Timestamp(maxTs + 86400000L * 2), -1L, is_purchase = false)
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_asof").filter($"user_id" >= 0)
        .as[AsofOut].collect()
        .map(a => a.purchase_id -> (a.user_id, a.purchase_ts, a.click_id, a.click_ts))
        .toMap
      // batch columns: user_id, purchase_id, purchase_ts, click_id, click_ts
      val exp = EventOps.ev_asof(spark, sf0001)
        .collect()
        .map(r => r.getLong(1) -> (r.getLong(0), r.getTimestamp(2), r.getLong(3), r.getTimestamp(4)))
        .toMap
      assert(got.keySet == exp.keySet,
        s"attributions differ: missing=${(exp.keySet -- got.keySet).take(3)} extra=${(got.keySet -- exp.keySet).take(3)}")
      exp.foreach { case (k, v) => assert(got(k) == v, s"purchase $k: ${got(k)} vs $v") }
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionization equals batch ev_sessionize") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents()
    val maxTs = events.map(_.ts.getTime).max
    val ms = MemoryStream[Ev]
    val withWm = ms.toDS().withWatermark("ts", "0 seconds").as[Ev]
    val q = StreamingOps.sessionizeStateful(withWm)
      .writeStream.format("memory").queryName("t_fmgws")
      .outputMode("append").start()
    try {
      ms.addData(events.map(e => Ev(e.event_id, e.ts, e.user_id, e.value)))
      drain(q)
      val sentinel = Ev(-1L, new Timestamp(maxTs + 86400000L * 2), -1L, 0.0)
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_fmgws")
        .filter($"user_id" >= 0)
        .withColumn("session_value", round($"session_value", 2))
        .as[SessionOut].collect()
        .map(s => (s.user_id, s.session_id) ->
          (s.n_events, s.session_start, s.session_end, s.session_value))
        .toMap
      val exp = EventOps.ev_sessionize(spark, sf0001)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          (r.getLong(2), r.getTimestamp(3), r.getTimestamp(4), r.getDouble(5)))
        .toMap
      assert(got.keySet == exp.keySet,
        s"sessions differ: missing=${(exp.keySet -- got.keySet).take(3)} extra=${(got.keySet -- exp.keySet).take(3)}")
      exp.foreach { case (k, (n, st, en, v)) =>
        val (gn, gst, gen, gv) = got(k)
        assert(gn == n, s"$k n_events")
        assert(gst == st, s"$k start")
        assert(gen == en, s"$k end")
        assert(math.abs(gv - v) < 0.011, s"$k value $gv vs $v")
      }
    } finally q.stop()
  }

  test("streaming curation equals batch text_pipeline and drops cross-batch replays") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    def ts(i: Int) = new Timestamp(86400000L + i * 1000L)
    val rows = docs.zipWithIndex.map { case ((id, tx), i) => DocIn(id, tx, ts(i)) }
    val ms = MemoryStream[DocIn]
    val q = StreamingOps.curateStream(ms.toDF())
      .writeStream.format("memory").queryName("t_curate")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      ms.addData(b1); drain(q)
      val afterB1 = spark.table("t_curate").count()
      // batch 2: the rest of the corpus PLUS a replay of 30 batch-1
      // docs at later ingest times (at-least-once source) — every
      // replayed content hash is still inside the watermark horizon,
      // so all 30 must be dropped
      ms.addData(b2 ++ b1.take(30).map(d => d.copy(ingest_ts = ts(rows.length + 1))))
      drain(q)
      val got = spark.table("t_curate")
        .select($"doc_id", $"h", $"n_words", $"quality_ppm").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      assert(got.length > afterB1, "batch 2 contributed no new content")
      val batch = graft.operators.TextOps.text_pipeline(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      // one survivor per content, and exactly the batch pipeline's
      // content set (kept doc_id may differ only when duplicates share
      // a micro-batch — partition order picks the survivor there; the
      // batch window picks min doc_id)
      assert(got.length == batch.length,
        s"streaming kept ${got.length} docs, batch kept ${batch.length}")
      assert(got.map(_._2).distinct.length == got.length, "duplicate content kept")
      val scoredByDoc = graft.operators.TextOps
        .curationScored(Tables.documents(spark, sf0001))
        .select($"doc_id", $"h", $"n_words", $"quality_ppm").collect()
        .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getLong(3))).toMap
      val batchHashes = batch.map { case (id, _, _) => scoredByDoc(id)._1 }.toSet
      got.foreach { case (id, h, nw, qs) =>
        val (eh, enw, eqs) = scoredByDoc.getOrElse(id,
          fail(s"streaming kept doc $id that the quality gate rejects"))
        assert(h == eh && nw == enw && qs == eqs, s"doc $id scores diverged")
        assert(batchHashes.contains(h), s"doc $id content not in batch keeper set")
      }
    } finally q.stop()
  }

  test("streaming curation holds the content-set contract under out-of-order ingest") {
    // The scaladoc's general claim: with arbitrary arrival order the
    // KEPT CONTENT SET (one survivor per content hash, batch keeper
    // hash set) still matches batch — only which duplicate survives may
    // differ (first-arrival vs min-doc_id). Feed the corpus REVERSED.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(-_._1)
    def ts(i: Int) = new Timestamp(86400000L + i * 1000L)
    val rows = docs.zipWithIndex.map { case ((id, tx), i) => DocIn(id, tx, ts(i)) }
    val ms = MemoryStream[DocIn]
    val q = StreamingOps.curateStream(ms.toDF())
      .writeStream.format("memory").queryName("t_curate_ooo")
      .outputMode("append").start()
    try {
      ms.addData(rows); drain(q)
      val got = spark.table("t_curate_ooo")
        .select($"doc_id", $"h").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      val batch = graft.operators.TextOps.text_pipeline(spark, sf0001).collect()
        .map(r => r.getLong(0))
      val scoredByDoc = graft.operators.TextOps
        .curationScored(Tables.documents(spark, sf0001))
        .select($"doc_id", $"h").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.length == batch.length,
        s"kept ${got.length} vs batch ${batch.length}")
      assert(got.map(_._2).toSet == batch.map(scoredByDoc).toSet,
        "content hash sets diverged under out-of-order ingest")
      got.foreach { case (id, h) =>
        assert(scoredByDoc.get(id).contains(h), s"doc $id not a valid survivor")
      }
    } finally q.stop()
  }

  // ---- streaming near-dup (stateful LSH band index) ----

  /** sf0.001 corpus + a planted NEAR dup (2-word mutation, exercises
    * the 0.5 <= est < 1 path) + a planted EXACT dup, written to a tmp
    * dir so the batch operator sees the identical corpus. */
  private lazy val (nearDir, nearRows) = {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1)
    val (baseId, baseText) = docs.head
    val words = baseText.split(" ")
    if (words.length > 7) { words(3) = "plantx"; words(7) = "planty" }
    val all = docs.toSeq ++ Seq((900001L, words.mkString(" ")), (900002L, baseText))
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_streamneardup")
    all.map { case (id, text) => (id, text, "en", "test", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.getPath + "/documents.parquet")
    assert(baseId < 900001L)
    (dir.getPath, all)
  }

  private def batchNearPairs(): Set[(Long, Long, Double)] =
    graft.operators.Dedup.dedup_minhash_lsh(spark, nearDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  private def streamNearPairs(table: String): Set[(Long, Long, Double)] = {
    import spark.implicits._
    spark.table(table)
      .select($"doc_id", $"doc_id2", $"est_jaccard").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
  }

  test("streaming near-dup equals batch minhash pairs, scores included") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(i: Int) = new Timestamp(86400000L + i * 1000L)
    val rows = nearRows.zipWithIndex.map { case ((id, tx), i) => DocIn(id, tx, ts(i)) }
    val ms = MemoryStream[DocIn]
    val q = StreamingOps.nearDupStream(ms.toDF())
      .writeStream.format("memory").queryName("t_neardup")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 2)
      ms.addData(b1); drain(q)
      ms.addData(b2); drain(q)
      val got = streamNearPairs("t_neardup")
      val exp = batchNearPairs()
      assert(exp.nonEmpty, "fixture produced no batch pairs")
      assert(exp.exists(p => p._3 < 1.0 && p._3 >= 0.5),
        "fixture has no NEAR (non-exact) pair — the mutation plant failed")
      assert(got == exp,
        s"stream != batch: extra=${got -- exp} missing=${exp -- got}")
    } finally q.stop()
  }

  test("streaming near-dup holds the pair set under out-of-order ingest") {
    // Pair emission is arrival-order independent (whichever member
    // arrives second finds the first in the bucket), so reversed
    // ingest must produce the identical pair set and scores.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(i: Int) = new Timestamp(86400000L + i * 1000L)
    // reversed doc order, but ts still increasing per arrival inside
    // the watermark delay — cross-batch arrivals interleave doc ids
    val rows = nearRows.reverse.zipWithIndex.map { case ((id, tx), i) => DocIn(id, tx, ts(i)) }
    val ms = MemoryStream[DocIn]
    val q = StreamingOps.nearDupStream(ms.toDF())
      .writeStream.format("memory").queryName("t_neardup_ooo")
      .outputMode("append").start()
    try {
      val (b1, b2) = rows.splitAt(rows.length / 3)
      ms.addData(b1); drain(q)
      ms.addData(b2); drain(q)
      assert(streamNearPairs("t_neardup_ooo") == batchNearPairs(),
        "pair set diverged under reversed ingest order")
    } finally q.stop()
  }

  test("streaming multi-route through a real partitionBy file sink equals the batch splits") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .as[MultiDocIn].collect().sortBy(_.doc_id)
    val base = java.nio.file.Files
      .createTempDirectory("graft_mroute_stream").toFile
    val out = new java.io.File(base, "out"); val ck = new java.io.File(base, "ck")
    val ms = MemoryStream[MultiDocIn]
    val q = StreamingOps.multiRouteStream(ms.toDF())
      .writeStream.format("parquet")
      .option("path", out.getPath)
      .option("checkpointLocation", ck.getPath)
      .partitionBy("dest")
      .outputMode("append").start()
    try {
      // two micro-batches — every destination subtree must GROW
      // incrementally, not be rewritten
      val (b1, b2) = docs.splitAt(docs.length / 2)
      ms.addData(b1); drain(q)
      val afterB1 = spark.read.parquet(out.getPath).count()
      ms.addData(b2); drain(q)
      assert(spark.read.parquet(out.getPath).count() > afterB1)
      // one pass materialized ALL destinations as independent subtrees
      Seq("curated", "rejected", "audit").foreach { dest =>
        assert(new java.io.File(out, s"dest=$dest").isDirectory, s"missing split $dest")
      }
      // and the on-disk (dest, doc_id) set equals the batch layout's
      val streamed = spark.read.parquet(out.getPath)
        .select($"dest", $"doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      graft.operators.TextOps.text_multi_route(spark, sf0001).collect() // builds batch layout
      val tag = java.security.MessageDigest.getInstance("SHA-256")
        .digest(sf0001.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
      val batchDir = new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_multiroute_$tag")
      val batch = spark.read.parquet(batchDir.getPath)
        .select($"dest", $"doc_id").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      assert(streamed == batch, "streaming splits diverge from the batch layout")
    } finally q.stop()
  }

  test("streaming late audit equals a sequential sealed-hour replay under reversed batched ingest") {
    import graft.streaming.StreamingOps.TypedEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents().map(e => TypedEv(e.event_id, e.ts, e.user_id, e.event_type))
    val ms = MemoryStream[TypedEv]
    val withWm = ms.toDS().withWatermark("ts", "2 hours").as[TypedEv]
    val q = StreamingOps.lateAuditStream(withWm)
      .writeStream.format("memory").queryName("t_lateaudit")
      .outputMode("append").start()
    try {
      // four chunks, each reversed: sealing must wait out in-chunk
      // disorder before an hour's delivery walk is final
      val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.grouped((sorted.size + 3) / 4).foreach { chunk =>
        ms.addData(chunk.reverse); drain(q)
      }
      val maxTs = sorted.last.ts.getTime
      val sentinel = TypedEv(-1L, new java.sql.Timestamp(maxTs + 86400000L * 2), -1L, "zz_s")
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_lateaudit").collect()
        .filter(_.getString(1) != "zz_s")
        .map(r => (r.getTimestamp(0).getTime, r.getString(1)) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toMap
      // sequential replay: per (type, hour), the (micro-batch, shard
      // lane, sequence) delivery walk with its running event-time max
      val exp = events.groupBy(_.event_type).flatMap { case (t, evs) =>
        evs.groupBy(e => e.ts.getTime / 3600000L).toSeq.map {
          case (h, hourEvs) =>
            val seq = hourEvs
              .sortBy(e => (e.event_id / 100, e.user_id % 4, e.event_id))
              .map(e => e.ts.getTime * 1000L)
            var prefMax = Long.MinValue
            var nDis = 0L; var tot = 0L; var mx = 0L
            seq.foreach { us =>
              if (prefMax > us) {
                val d = (prefMax - us) / 1000000L
                nDis += 1; tot += d; if (d > mx) mx = d
              }
              if (us > prefMax) prefMax = us
            }
            (h * 3600000L, t) -> (seq.length.toLong, nDis, tot, mx)
        }
      }.toMap
      assert(got == exp, "streaming late audit diverged from the sequential replay")
      // non-degenerate: the shard-lane delivery order actually runs
      // events behind their hour's event-time frontier at this SF
      assert(got.values.exists(_._2 > 0), "premise: no intra-hour disorder at this SF")
    } finally q.stop()
  }

  test("streaming late audit: a planted straggler is charged its exact disorder") {
    import graft.streaming.StreamingOps.TypedEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(86400000L + min * 60000L)
    // one user (one shard lane), ids in one micro-batch -> delivery
    // order is plain event_id order. Hour 0: id 3 runs 10 min behind
    // id 2 (600 s). Hour 1: id 5 runs 5 min behind id 4 (300 s).
    val evs = Seq(
      TypedEv(1L, ts(10), 1L, "view"),
      TypedEv(2L, ts(50), 1L, "view"),
      TypedEv(3L, ts(40), 1L, "view"),
      TypedEv(4L, ts(70), 1L, "view"),
      TypedEv(5L, ts(65), 1L, "view"))
    val ms = MemoryStream[TypedEv]
    val withWm = ms.toDS().withWatermark("ts", "1 hour").as[TypedEv]
    val q = StreamingOps.lateAuditStream(withWm)
      .writeStream.format("memory").queryName("t_lateaudit_fix")
      .outputMode("append").start()
    try {
      ms.addData(evs); drain(q)
      val sentinel = TypedEv(-9L, ts(60 * 24 * 3), -1L, "zz_s")
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -10L))); drain(q)
      val got = spark.table("t_lateaudit_fix").collect()
        .filter(_.getString(1) == "view")
        .map(r => r.getTimestamp(0).getTime -> (r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
      assert(got(86400000L) == ((3L, 1L, 600L, 600L)),
        s"hour 0 wrong: ${got.get(86400000L)}")
      assert(got(86400000L + 3600000L) == ((2L, 1L, 300L, 300L)),
        s"hour 1 wrong: ${got.get(86400000L + 3600000L)}")
    } finally q.stop()
  }

  test("streaming attribution aggregates to batch ev_attribution under reversed split ingest") {
    import graft.streaming.StreamingOps.AttrEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = Tables.events(spark, sf0001)
      .selectExpr("event_id", "ts", "user_id", "event_type",
        "cast(round(value * 100) as long) as centi",
        "coalesce(cast(get_json_object(props, '$.k') as long), -1L) as page")
      .as[AttrEv].collect().toSeq
    val ms = MemoryStream[AttrEv]
    val withWm = ms.toDS().withWatermark("ts", "2 hours").as[AttrEv]
    val q = StreamingOps.attributionStream(withWm)
      .writeStream.format("memory").queryName("t_attr")
      .outputMode("append").start()
    try {
      val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.grouped((sorted.size + 3) / 4).foreach { chunk =>
        ms.addData(chunk.reverse); drain(q)
      }
      val maxTs = sorted.last.ts.getTime
      val sentinel = AttrEv(-1L, new java.sql.Timestamp(maxTs + 86400000L * 9), -1L, "zz", 0L, -1L)
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_attr").collect()
        .map(r => (r.getString(2), r.getLong(3)) -> (1L, r.getLong(4)))
        .groupBy(_._1)
        .map { case (k, vs) => k -> (vs.length.toLong, vs.map(_._2._2).sum) }
      val batch = graft.operators.EventOps.ev_attribution(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      assert(batch.nonEmpty && got == batch,
        s"streaming attribution diverged: ${got.size} keys vs batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming attribution: equal-timestamp tie-break and the 7-day horizon match batch semantics") {
    import graft.streaming.StreamingOps.AttrEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(h: Int) = new java.sql.Timestamp(86400000L * 30 + h * 3600000L)
    val ms = MemoryStream[AttrEv]
    val withWm = ms.toDS().withWatermark("ts", "1 hour").as[AttrEv]
    val q = StreamingOps.attributionStream(withWm)
      .writeStream.format("memory").queryName("t_attr_fix")
      .outputMode("append").start()
    try {
      ms.addData(Seq(
        // user 1: click(id 1) → purchase(id 5, SAME ts as click id 9):
        // id 1 attributes to purchase 5; id 9 (same ts, HIGHER id than
        // the purchase) belongs to the NEXT purchase (id 20)
        AttrEv(1L, ts(1), 1L, "click", 0L, 100L),
        AttrEv(5L, ts(2), 1L, "purchase", 250L, -1L),
        AttrEv(9L, ts(2), 1L, "click", 0L, 101L),
        AttrEv(20L, ts(3), 1L, "purchase", 100L, -1L),
        // user 2: a view 8 days before its purchase — outside the
        // 7-day horizon, never attributed
        AttrEv(30L, ts(0), 2L, "view", 0L, 200L),
        AttrEv(31L, ts(8 * 24), 2L, "purchase", 500L, -1L))); drain(q)
      val sentinel = AttrEv(-1L, ts(24 * 40), -9L, "zz", 0L, -1L)
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_attr_fix").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getLong(4)))
        .toSet
      // purchase 5 claims click 1 alone (full weight); purchase 20
      // claims click 9 alone; user 2's stale view attributes nowhere
      assert(got == Set(
        (1L, 5L, "click", 100L, 250L),
        (1L, 20L, "click", 101L, 100L)), s"attribution rows wrong: $got")
    } finally q.stop()
  }

  test("streaming quantile histogram equals the batch sketch; p50/p90/p99 readout matches ev_quantile_sketch") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ms = MemoryStream[EvFull]
    val q = StreamingOps.quantileSketchStream(ms.toDF())
      .writeStream.format("memory").queryName("t_qsketch")
      .outputMode("complete").start()
    try {
      // reversed split ingest: cellwise-sum merge must be
      // order-independent across micro-batches
      val evs = loadEvents()
      val (a, b) = evs.splitAt(evs.length / 2)
      ms.addData(b.reverse); drain(q)
      ms.addData(a.reverse); drain(q)
      val got = spark.table("t_qsketch").collect()
        .map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
      // the batch histogram replayed sequentially (same centi/width math)
      val exp = evs.map(e => (e.event_type, Math.round(e.value * 100) / 64L))
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == exp, "streamed histogram diverged from the sequential sketch")
      // the cumulative quantile walk over the STREAMED sketch must
      // reproduce ev_quantile_sketch's rows exactly
      val batch = EventOps.ev_quantile_sketch(spark, sf0001).collect()
        .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      val derived = got.keys.map(_._1).toSeq.distinct.flatMap { t =>
        val hist = got.collect { case ((`t`, bkt), n) => (bkt, n) }.toSeq.sortBy(_._1)
        val total = hist.map(_._2).sum
        Seq(50L, 90L, 99L).map { p =>
          val rank = (total * p + 99) / 100
          var cum = 0L
          val bkt = hist.collectFirst {
            case (bk, n) if { cum += n; cum >= rank } => bk }.get
          (t, p) -> (total, bkt * 64 + 64)
        }
      }.toMap
      assert(derived == batch, "quantile readout over the streamed sketch diverged from batch")
    } finally q.stop()
  }

  test("streaming retention verdicts aggregate to batch ev_retention under reversed split ingest") {
    import graft.streaming.StreamingOps.TypedEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents().map(e => TypedEv(e.event_id, e.ts, e.user_id, e.event_type))
    val ms = MemoryStream[TypedEv]
    val withWm = ms.toDS().withWatermark("ts", "2 hours").as[TypedEv]
    val q = StreamingOps.retentionStream(withWm)
      .writeStream.format("memory").queryName("t_retention")
      .outputMode("append").start()
    try {
      val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.grouped((sorted.size + 3) / 4).foreach { chunk =>
        ms.addData(chunk.reverse); drain(q)
      }
      // sentinel 5 days past the max seals every real day (verdicts
      // need the watermark past the END of day+1)
      val maxTs = sorted.last.ts.getTime
      val sentinel = TypedEv(-1L, new java.sql.Timestamp(maxTs + 86400000L * 5), -1L, "zz_s")
      ms.addData(Seq(sentinel)); drain(q)
      ms.addData(Seq(sentinel.copy(event_id = -2L))); drain(q)
      val got = spark.table("t_retention").collect()
        .filter(_.getLong(0) != -1L)
        .map(r => (r.getTimestamp(1).getTime, r.getBoolean(2)))
        .groupBy(_._1)
        .map { case (day, rows) =>
          day -> (rows.length.toLong, rows.count(_._2).toLong) }
      val batch = graft.operators.EventOps.ev_retention(spark, sf0001).collect()
        .map(r => r.getTimestamp(0).getTime -> (r.getLong(1), r.getLong(2)))
        .toMap
      assert(batch.nonEmpty && got == batch,
        s"streaming retention diverged: got ${got.size} days, batch ${batch.size}")
      // premise: the corpus actually exercises both verdicts
      assert(got.values.exists(_._2 > 0) &&
        got.values.exists(v => v._2 < v._1), "degenerate retention fixture")
    } finally q.stop()
  }

  test("streaming retention: gap days get negative verdicts and state flushes by timeout") {
    import graft.streaming.StreamingOps.TypedEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(day: Int) = new java.sql.Timestamp(day * 86400000L + 3600000L)
    val ms = MemoryStream[TypedEv]
    val withWm = ms.toDS().withWatermark("ts", "1 hour").as[TypedEv]
    val q = StreamingOps.retentionStream(withWm)
      .writeStream.format("memory").queryName("t_retention_fix")
      .outputMode("append").start()
    try {
      // user 1: active day 1 and day 3 (gap at 2); user 2: days 1, 2
      ms.addData(Seq(
        TypedEv(1L, ts(1), 1L, "view"), TypedEv(2L, ts(3), 1L, "view"),
        TypedEv(3L, ts(1), 2L, "view"), TypedEv(4L, ts(2), 2L, "view"))); drain(q)
      // user 1 sends nothing further — its verdicts must flush by the
      // event-time TIMEOUT as the sentinel advances the watermark
      ms.addData(Seq(TypedEv(-1L, ts(30), -1L, "zz_s"))); drain(q)
      ms.addData(Seq(TypedEv(-2L, ts(31), -1L, "zz_s"))); drain(q)
      val got = spark.table("t_retention_fix").collect()
        .filter(_.getLong(0) > 0)
        .map(r => (r.getLong(0), r.getTimestamp(1).getTime / 86400000L, r.getBoolean(2)))
        .toSet
      assert(got == Set((1L, 1L, false), (1L, 3L, false),
        (2L, 1L, true), (2L, 2L, false)), s"verdicts wrong: $got")
    } finally q.stop()
  }

  test("streaming funnel: final upsert image equals batch ev_funnel under reversed split ingest") {
    import graft.streaming.StreamingOps.TypedEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val events = loadEvents().map(e => TypedEv(e.event_id, e.ts, e.user_id, e.event_type))
    val ms = MemoryStream[TypedEv]
    val q = StreamingOps.funnelStream(ms.toDS())
      .writeStream.format("memory").queryName("t_funnel")
      .outputMode("update").start()
    try {
      // three chunks, each reversed: the min-fold is order-independent,
      // so the FINAL per-user image must not care
      val sorted = events.sortBy(e => (e.ts.getTime, e.event_id))
      sorted.grouped((sorted.size + 2) / 3).foreach { chunk =>
        ms.addData(chunk.reverse); drain(q)
      }
      // keyed-upsert contract: highest rev per user wins
      val img = spark.table("t_funnel").collect()
        .groupBy(_.getLong(0))
        .map { case (u, rows) => u -> rows.maxBy(_.getLong(5)) }
      val streamed = img.values.filter(_.getBoolean(4))
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getTimestamp(3))).toSet
      val batch = graft.operators.EventOps.ev_funnel(spark, sf0001).collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
          r.getTimestamp(3))).toSet
      assert(batch.nonEmpty, "premise: batch funnel is empty at this SF")
      assert(streamed == batch, "streaming funnel image diverged from batch")
    } finally q.stop()
  }

  test("streaming funnel: a late earlier click retracts an emitted qualification") {
    import graft.streaming.StreamingOps.TypedEv
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(min: Int) = new java.sql.Timestamp(86400000L + min * 60000L)
    val ms = MemoryStream[TypedEv]
    val q = StreamingOps.funnelStream(ms.toDS())
      .writeStream.format("memory").queryName("t_funnel_fix")
      .outputMode("update").start()
    try {
      // batch 1: a clean signup → click → purchase ordering qualifies
      ms.addData(Seq(
        TypedEv(1L, ts(10), 7L, "signup"),
        TypedEv(2L, ts(20), 7L, "click"),
        TypedEv(3L, ts(30), 7L, "purchase"))); drain(q)
      // batch 2: an EARLIER click arrives late — min(t_click) drops
      // below t_signup, so the verdict must flip to false
      ms.addData(Seq(TypedEv(4L, ts(5), 7L, "click"))); drain(q)
      val rows = spark.table("t_funnel_fix").collect()
        .filter(_.getLong(0) == 7L).sortBy(_.getLong(5))
      assert(rows.length == 2, s"expected 2 emissions, got ${rows.length}")
      assert(rows.head.getBoolean(4), "first emission should qualify")
      assert(!rows.last.getBoolean(4), "retraction emission should disqualify")
      assert(rows.last.getTimestamp(2).getTime == ts(5).getTime,
        "retraction should carry the new min click time")
    } finally q.stop()
  }
  test("streaming index probe: per-batch probes against the mutating band index union to the one-shot probe") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Dedup
    type Pair = (Long, Long, String, Double)
    def collectPairs(df: org.apache.spark.sql.DataFrame): Set[Pair] =
      df.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet

    // gate A (natural fixture): streaming the %10 delta equals the
    // registered batch query bit-for-bit
    val expectedA = collectPairs(Dedup.dedup_minhash_index(spark, sf0001))
    CacheRegistry.releaseAll()
    assert(expectedA.nonEmpty, "fixture produced no batch pairs")
    val naturalDelta = Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq

    // gate B (planted): add ingest-only duplicate pairs so the
    // delta-delta paths are exercised — X1/X2 share a text and are
    // ingested in DIFFERENT batches (cross-batch, found via the
    // appended flag-1 rows), Y1/Y2 share a text inside ONE batch
    // (found via the probe's own-rows path)
    val donor = naturalDelta.head._2
    val donor2 = naturalDelta(1)._2
    val planted = Seq((900000L, donor), (900010L, donor),
      (900020L, donor2), (900030L, donor2))

    def sigsOf(docs: Seq[(Long, String)]) = {
      import graft.functions.TextFunctions.{minhashSignature, shingleHashes}
      docs.toDF("doc_id", "text").select($"doc_id",
        minhashSignature(shingleHashes($"text", 3), 32).as("sig"))
    }

    def runStream(batches: Seq[Seq[(Long, String)]], tag: String): Set[Pair] = {
      val (tbl, sigTbl) = Dedup.mhStreamIndexTables(spark, sf0001, tag)
      val buf = scala.collection.mutable.Set.empty[Pair]
      val ms = MemoryStream[(Long, String)]
      val q = StreamingOps.dedupIndexStream(
        ms.toDF().toDF("doc_id", "text"), tbl, sigTbl,
        pairs => buf.synchronized { buf ++= collectPairs(pairs) })
      try batches.foreach { b => ms.addData(b); drain(q) }
      finally q.stop()
      buf.toSet
    }

    // A: three forward splits of the natural delta
    val a = runStream(naturalDelta.grouped(
      math.max(1, naturalDelta.size / 3 + 1)).toSeq, "a")
    assert(a == expectedA,
      s"stream != batch on the natural delta: extra=${a -- expectedA} missing=${expectedA -- a}")

    // B: natural delta + planted pairs, one-shot probe as the truth
    val fullB = naturalDelta ++ planted
    val (tblB, sigB) = Dedup.mhStreamIndexTables(spark, sf0001, "b_truth")
    val expectedB = collectPairs(
      Dedup.mhProbeCore(spark, (tblB, sigB), sigsOf(fullB)))
    assert(expectedB.exists(_._3 == "delta"),
      "planted docs produced no delta-delta pair — the plant failed")
    assert(expectedB.contains((900000L, 900010L, "delta", 1.0)) &&
      expectedB.contains((900020L, 900030L, "delta", 1.0)),
      s"expected planted exact pairs in ${expectedB.filter(_._3 == "delta")}")
    val half = naturalDelta.size / 2
    val batchesB = Seq(
      naturalDelta.take(half) :+ planted(0),                  // X1
      (naturalDelta.drop(half) :+ planted(1)) ++ planted.drop(2)) // X2 + Y1,Y2
    val b = runStream(batchesB, "b")
    assert(b == expectedB,
      s"stream != one-shot probe with plants: extra=${b -- expectedB} missing=${expectedB -- b}")

    // reversed ingest: same union (exactly-once under any split)
    val bRev = runStream(batchesB.reverse.map(_.reverse), "brev")
    assert(bRev == expectedB, "pair set diverged under reversed ingest")
  }

  test("streaming postings append: per-batch refresh over the growing index converges to the batch delta query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.TextOps
    type Hit = (Long, Int, Long, Long, Long)
    def collectHits(df: org.apache.spark.sql.DataFrame): Seq[Hit] =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq

    // the batch truth: the append-grown index query (same oracle as
    // text_search_index — append ≡ rebuild)
    val expected = collectHits(TextOps.text_search_index_delta(spark, sf0001))
    CacheRegistry.releaseAll()
    assert(expected.nonEmpty, "batch delta query produced no hits")
    val delta = Tables.documents(spark, sf0001).filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(delta.nonEmpty)

    def runStream(batches: Seq[Seq[(Long, String)]], tag: String): Seq[Hit] = {
      val (tbl, baseN) = TextOps.searchStreamIndexTable(spark, sf0001, tag)
      @volatile var last: Seq[Hit] = Nil
      var refreshes = 0
      val ms = MemoryStream[(Long, String)]
      val q = StreamingOps.searchIndexStream(
        ms.toDF().toDF("doc_id", "text"), tbl, baseN,
        res => { last = collectHits(res); refreshes += 1 })
      try batches.foreach { b => ms.addData(b); drain(q) }
      finally q.stop()
      assert(refreshes == batches.size,
        s"expected ${batches.size} refreshes, saw $refreshes")
      last
    }

    // forward three-way split and reversed ingest must BOTH land on the
    // batch answer: postings are per-document (append ≡ rebuild) and
    // idf re-derives from the merged index at each refresh
    val fwd = runStream(delta.grouped(math.max(1, delta.size / 3 + 1)).toSeq, "f")
    assert(fwd == expected,
      s"final refresh != batch delta query (forward): got ${fwd.take(5)}… want ${expected.take(5)}…")
    val rev = runStream(delta.reverse.grouped(
      math.max(1, delta.size / 2 + 1)).toSeq, "r")
    assert(rev == expected, "final refresh diverged under reversed ingest")
  }

  test("compacting postings stream: mid-stream compactions are invisible, generations advance, final gen is one file per bucket") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.TextOps
    type Hit = (Long, Int, Long, Long, Long)
    def collectHits(df: org.apache.spark.sql.DataFrame): Seq[Hit] =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq

    // the batch truth: contents must match the append-grown index
    // query regardless of how many folds happened along the way
    val expected = collectHits(TextOps.text_search_index_delta(spark, sf0001))
    CacheRegistry.releaseAll()
    assert(expected.nonEmpty, "batch delta query produced no hits")
    val delta = Tables.documents(spark, sf0001).filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(delta.size >= 4, "need >= 4 delta docs for a 4-batch split")

    def runStream(batches: Seq[Seq[(Long, String)]], tag: String): (Seq[Hit], String) = {
      val (base, baseN) = TextOps.searchCompactStreamTable(spark, sf0001, tag)
      @volatile var last: Seq[Hit] = Nil
      val ms = MemoryStream[(Long, String)]
      // every = 2: with 4 batches the fold fires TWICE mid-stream
      val q = StreamingOps.compactingIndexStream(
        ms.toDF().toDF("doc_id", "text"), base, baseN, every = 2,
        res => last = collectHits(res))
      try batches.foreach { b => ms.addData(b); drain(q) }
      finally q.stop()
      (last, base)
    }

    val batches = delta.grouped(math.max(1, delta.size / 4 + 1)).toSeq
    val (fwd, base) = runStream(batches, "cf")
    assert(fwd == expected,
      s"final refresh != batch delta query: got ${fwd.take(5)}… want ${expected.take(5)}…")
    // two folds ran: the chain advanced to g2 and dropped g0/g1
    assert(spark.catalog.tableExists(s"${base}_g2"),
      "chain did not reach generation 2 after two folds")
    assert(!spark.catalog.tableExists(s"${base}_g0") &&
      !spark.catalog.tableExists(s"${base}_g1"),
      "superseded generations survived their swaps")
    // the last batch's append folded too (append-then-compact order),
    // so the live generation is fully compacted: one file per bucket
    val files = graft.operators.IndexUtil.dataFileCount(spark, s"${base}_g2")
    assert(files > 0 && files <= 8,
      s"final generation holds $files data files — expected <= 8 after the fold")

    // reversed ingest: same final contents under any split order
    val (rev, _) = runStream(
      delta.reverse.grouped(math.max(1, delta.size / 4 + 1)).toSeq, "cr")
    assert(rev == expected, "final refresh diverged under reversed ingest")
  }

  test("AppendGuard: a retry after a partial two-leg failure re-runs only the failed leg") {
    // the r17-advice gap, gated directly: band append commits, sig
    // append throws, foreachBatch retries the whole batchId — the
    // committed leg must be skipped, the failed leg must run, and a
    // fully-replayed later delivery of the same batch must skip both
    // markers persist in the warehouse since r19 — clear so a rerun
    // of this suite in the same warehouse starts from a clean history
    graft.operators.IndexUtil.clearCommitMarkers(spark, "t")
    val g = new StreamingOps.AppendGuard(spark, "t")
    var bandCommits = 0
    var sigAttempts = 0
    var sigCommits = 0
    g(0, "band") { bandCommits += 1 }
    intercept[RuntimeException] {
      g(0, "sig") { sigAttempts += 1; throw new RuntimeException("boom") }
    }
    // in-process retry of batch 0
    g(0, "band") { bandCommits += 1 } // must skip: already committed
    g(0, "sig") { sigAttempts += 1; sigCommits += 1 } // must run
    assert(bandCommits == 1, s"committed band leg re-ran ($bandCommits)")
    assert(sigAttempts == 2 && sigCommits == 1,
      s"sig leg should fail once then commit once ($sigAttempts/$sigCommits)")
    // full replay of batch 0: both legs skip
    g(0, "band") { bandCommits += 1 }
    g(0, "sig") { sigCommits += 1 }
    assert(bandCommits == 1 && sigCommits == 1, "replayed batch re-appended")
    // the next batch runs both legs normally
    g(1, "band") { bandCommits += 1 }
    g(1, "sig") { sigCommits += 1 }
    assert(bandCommits == 2 && sigCommits == 2)
    // legs are independent: a single-leg guard (default leg) is
    // unaffected by the named legs' progress
    var merges = 0
    g(1) { merges += 1 }
    g(1) { merges += 1 }
    assert(merges == 1, "default-leg guard did not dedupe its batch")
  }

  test("AppendGuard is durable: a fresh guard (simulated JVM restart) skips the replayed batch") {
    // the r18 verdict #2 gap, gated directly: the guard's in-memory
    // batchId map used to die with the JVM, so a checkpoint restart
    // after a crash replayed the last batch INTO an index that had
    // already taken its append. Each committed (leg, batchId) is now
    // recorded in a rename-committed sidecar marker; a brand-new
    // guard instance over the same table — exactly what a restarted
    // JVM constructs — must seed from it.
    val tbl = "t_durable"
    graft.operators.IndexUtil.clearCommitMarkers(spark, tbl)
    var appends = 0
    val g1 = new StreamingOps.AppendGuard(spark, tbl)
    g1(0, "band") { appends += 1 }
    g1(1, "band") { appends += 1 }
    // "restart": fresh guard, empty in-memory state, same table
    val g2 = new StreamingOps.AppendGuard(spark, tbl)
    g2(1, "band") { appends += 1 } // checkpoint replay of the last batch
    assert(appends == 2, "restart replay double-appended the committed leg")
    g2(2, "band") { appends += 1 } // genuinely new batch: must run
    assert(appends == 3)
    // legs seed independently: a leg with no marker is unconstrained
    g2(0, "sig") { appends += 1 }
    assert(appends == 4, "marker for one leg wrongly constrained another")
    // a FRESH query (batchIds restarting at 0) over a table with
    // committed history is NOT a resume — silently skipping would
    // lose its genuinely-new batches, so the guard fails loud
    val gFresh = new StreamingOps.AppendGuard(spark, tbl)
    intercept[IllegalStateException] { gFresh(0, "band") { appends += 1 } }
    assert(appends == 4, "fresh-query batch was wrongly treated as a replay")
    // a table REBUILD clears the history: a fresh stream over the
    // rebuilt table legitimately restarts its batchIds at 0
    graft.operators.IndexUtil.dropIndexTable(spark, tbl)
    val g3 = new StreamingOps.AppendGuard(spark, tbl)
    g3(0, "band") { appends += 1 }
    assert(appends == 5, "stale marker blocked a rebuilt table's fresh stream")
  }

  test("postings batch: a replay the AppendGuard skips reads no observation and leaves the running N unchanged") {
    import spark.implicits._
    import graft.operators.TextOps
    def hits(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSeq
    val (tbl, baseN) = TextOps.searchStreamIndexTable(spark, sf0001, "rp")
    val batch = Tables.documents(spark, sf0001).filter($"doc_id" % 10 === 0)
      .select($"doc_id", $"text").limit(3)
    val indexedN = new java.util.concurrent.atomic.AtomicLong(baseN)
    val guard = new StreamingOps.AppendGuard(spark, tbl)
    var refreshes = Seq.empty[Seq[(Long, Int, Long, Long)]]
    StreamingOps.postingsBatch(batch, 0L, guard, indexedN, () => tbl,
      df => refreshes :+= hits(df))(())
    assert(indexedN.get() == baseN + 3, s"first delivery counted ${indexedN.get() - baseN} docs")
    val rows = spark.table(tbl).count()
    // the replay's batch fails if it is ever executed: only the append
    // runs it, and an observation read without its append would time
    // out and throw
    val poisoned = spark.range(1).select(lit(0L).as("doc_id"),
      raise_error(lit("replayed batch was executed")).cast("string").as("text"))
    StreamingOps.postingsBatch(poisoned, 0L, new StreamingOps.AppendGuard(spark, tbl),
      indexedN, () => tbl, df => refreshes :+= hits(df))(())
    assert(indexedN.get() == baseN + 3, "a skipped replay moved the running N")
    assert(spark.table(tbl).count() == rows, "a skipped replay appended postings")
    assert(refreshes.size == 2 && refreshes(1) == refreshes(0),
      "the replay's refresh differs from the committed batch's")
  }

  test("streaming IVF ingest: per-batch refresh over the growing lists converges to the one-shot frozen-centroid build") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Similarity
    import graft.functions.VectorFunctions.asDouble
    type Hit = (Long, Int, Long, Double)
    def collectHits(df: org.apache.spark.sql.DataFrame): Seq[Hit] =
      df.collect().map(r =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq

    val delta = Tables.embeddings(spark, sf0001)
      .filter(pmod($"vec_id", lit(10)) === 0)
      .select($"vec_id", asDouble($"embedding").as("vec"))
      .as[(Long, Seq[Double])].collect().sortBy(_._1).toSeq
    assert(delta.nonEmpty)

    def runStream(batches: Seq[Seq[(Long, Seq[Double])]],
        tag: String): (Seq[Hit], Seq[Hit], Int) = {
      // fresh stream-owned index; the FROZEN centroids come back so
      // the one-shot truth can be rebuilt under the SAME model
      val (tbl, cents) = Similarity.ivfStreamIndexTable(spark, sf0001, tag)
      val truth = Similarity.ivfRebuildWith(spark, sf0001, tag, cents)
      val expected = collectHits(
        Similarity.ivfSearchOver(spark, sf0001, truth, cents))
      assert(expected.nonEmpty, "one-shot truth produced no hits")
      @volatile var last: Seq[Hit] = Nil
      var refreshes = 0
      val ms = MemoryStream[(Long, Seq[Double])]
      val q = StreamingOps.annIndexStream(
        ms.toDF().toDF("vec_id", "vec"), sf0001, tbl, cents,
        res => { last = collectHits(res); refreshes += 1 })
      try batches.foreach { b => ms.addData(b); drain(q) }
      finally q.stop()
      assert(refreshes == batches.size,
        s"expected ${batches.size} refreshes, saw $refreshes")
      (last, expected, refreshes)
    }

    val (fwd, expF, _) = runStream(
      delta.grouped(math.max(1, delta.size / 3 + 1)).toSeq, "f")
    assert(fwd == expF,
      s"final refresh != one-shot rebuild (forward): got ${fwd.take(3)}… want ${expF.take(3)}…")
    val (rev, expR, _) = runStream(
      delta.reverse.grouped(math.max(1, delta.size / 2 + 1)).toSeq, "r")
    assert(rev == expR, "final refresh diverged under reversed ingest")
  }

  test("streaming edge ingest: pagerank over the growing edge index converges to the batch index query") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.Graph
    type Rk = (Long, Long)
    def collectRanks(df: org.apache.spark.sql.DataFrame): Seq[Rk] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

    // the batch truth: deterministic edge derivation, so the grown
    // stream index must reproduce the build-once index query exactly
    val expected = collectRanks(Graph.graph_pagerank_index(spark, sf0001))
    CacheRegistry.releaseAll()
    assert(expected.nonEmpty)
    // delta = whole src groups (the append unit out_w requires)
    val deltaGroups: Seq[Seq[(Long, Long, Long)]] =
      Graph.pagerankStreamDelta(spark, sf0001)
        .as[(Long, Long, Long)].collect().toSeq
        .groupBy(_._1).toSeq.sortBy(_._1).map(_._2.sortBy(_._2))
    assert(deltaGroups.nonEmpty, "no delta src groups to stream")
    CacheRegistry.releaseAll()

    def runStream(groupBatches: Seq[Seq[Seq[(Long, Long, Long)]]],
        tag: String): (Seq[Rk], Int) = {
      val tbl = Graph.pagerankStreamIndexTable(spark, sf0001, tag)
      @volatile var last: Seq[Rk] = Nil
      var refreshes = 0
      val ms = MemoryStream[(Long, Long, Long)]
      val q = StreamingOps.edgeIndexStream(
        ms.toDF().toDF("src", "dst", "w"), tbl,
        res => { last = collectRanks(res); refreshes += 1 })
      try groupBatches.foreach { gb => ms.addData(gb.flatten); drain(q) }
      finally q.stop()
      (last, refreshes)
    }

    val fwdBatches = deltaGroups.grouped(
      math.max(1, deltaGroups.size / 3 + 1)).toSeq
    val (fwd, nFwd) = runStream(fwdBatches, "f")
    assert(nFwd == fwdBatches.size)
    assert(fwd == expected,
      s"final refresh != batch index query (forward): got ${fwd.take(3)}… want ${expected.take(3)}…")
    val (rev, _) = runStream(deltaGroups.reverse.grouped(
      math.max(1, deltaGroups.size / 2 + 1)).toSeq, "r")
    assert(rev == expected, "ranks diverged under reversed group ingest")
  }

  test("streaming merge: micro-batched keyed deltas converge to the one-shot MERGE, generations stay bucketed") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.MetadataOps
    type Row3 = (Long, String, Long)
    def collectTbl(df: org.apache.spark.sql.DataFrame): Set[Row3] =
      df.select($"doc_id", $"source", $"n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"n_chars")
    val delta = MetadataOps.mergeDelta(Tables.documents(spark, sf0001))
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    assert(delta.nonEmpty)
    // ≡-batch precondition AND the three-clause coverage the theorem
    // needs: one row per key, all of U/D/I present
    assert(delta.map(_._1).distinct.size == delta.size,
      "mergeDelta must carry one row per key")
    assert(Set("U", "D", "I").subsetOf(delta.map(_._4).toSet))
    val expected = collectTbl(MetadataOps.mergeUpsert(
      docs, delta.toDF("doc_id", "source", "n_chars", "op")))

    def runStream(batches: Seq[Seq[(Long, String, Long, String)]],
        tag: String): (Set[Row3], Int, String) = {
      val base = MetadataOps.mergeStreamTarget(spark, sf0001, tag)
      @volatile var last: Set[Row3] = Set.empty
      var commits = 0
      val ms = MemoryStream[(Long, String, Long, String)]
      val q = StreamingOps.tableMergeStream(
        ms.toDF().toDF("doc_id", "source", "n_chars", "op"), base,
        res => { last = collectTbl(res); commits += 1 })
      try batches.foreach { b => ms.addData(b); drain(q) }
      finally q.stop()
      (last, commits, s"${base}_g${batches.size}")
    }

    val fwdBatches = delta.grouped(math.max(1, delta.size / 3 + 1)).toSeq
    val (fwd, nFwd, finalTbl) = runStream(fwdBatches, "f")
    assert(nFwd == fwdBatches.size, s"expected ${fwdBatches.size} commits, saw $nFwd")
    assert(fwd == expected,
      s"stream != one-shot merge (forward): extra=${(fwd -- expected).take(5)} " +
        s"missing=${(expected -- fwd).take(5)}")
    // the final generation must still read back bucketed on the merge
    // key — the maintenance loop is closed under its own layout (the
    // next merge's join is Exchange-free on the table side)
    val plan = MetadataOps.mergeUpsert(spark.table(finalTbl),
        delta.take(3).toDF("doc_id", "source", "n_chars", "op"))
      .queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("Bucketed: true"),
      s"final merge generation lost its bucketing:\n${plan.take(1500)}")

    val (rev, _, _) = runStream(
      delta.reverse.grouped(math.max(1, delta.size / 2 + 1)).toSeq, "r")
    assert(rev == expected, "merged table diverged under reversed ingest")
  }

  test("streaming merge restart: a second query continues the DISCOVERED generation chain") {
    // the r18-advice gap, gated directly: a restarted merge stream
    // used to assume generation 0 — which its predecessor's swaps had
    // already dropped — and die on a missing table. The live
    // generation is now discovered from the catalog at query start,
    // and because the merge leg is idempotent the guard accepts the
    // new query's restarted batchIds (a new id chain, logged) instead
    // of refusing the continuation.
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.operators.MetadataOps
    type Row3 = (Long, String, Long)
    def collectTbl(df: org.apache.spark.sql.DataFrame): Set[Row3] =
      df.select($"doc_id", $"source", $"n_chars").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet

    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"n_chars")
    val delta = MetadataOps.mergeDelta(Tables.documents(spark, sf0001))
      .as[(Long, String, Long, String)].collect().sortBy(_._1).toSeq
    val (firstHalf, secondHalf) = delta.splitAt(delta.size / 2)
    assert(firstHalf.nonEmpty && secondHalf.nonEmpty)
    val expected = collectTbl(MetadataOps.mergeUpsert(
      docs, delta.toDF("doc_id", "source", "n_chars", "op")))

    val base = MetadataOps.mergeStreamTarget(spark, sf0001, "restart")
    def runOnce(batch: Seq[(Long, String, Long, String)]): Set[Row3] = {
      @volatile var last: Set[Row3] = Set.empty
      val ms = MemoryStream[(Long, String, Long, String)]
      val q = StreamingOps.tableMergeStream(
        ms.toDF().toDF("doc_id", "source", "n_chars", "op"), base,
        res => { last = collectTbl(res) })
      try { ms.addData(batch); drain(q) } finally q.stop()
      last
    }
    runOnce(firstHalf) // predecessor run: g0 -> g1, g0 dropped
    assert(!spark.catalog.tableExists(s"${base}_g0"),
      "predecessor's swap should have dropped generation 0")
    // "restart": a brand-new query over the same base, NO rebuild —
    // must resume against g1 and commit g2 with the full merge
    val resumed = runOnce(secondHalf)
    assert(resumed == expected,
      s"restarted chain != one-shot merge: extra=${(resumed -- expected).take(5)} " +
        s"missing=${(expected -- resumed).take(5)}")
    assert(spark.catalog.tableExists(s"${base}_g2"),
      "restart did not continue the generation chain from the discovered g1")
  }

  test("writeVerifiedGeneration refuses a lost, duplicated or changed row and leaves the source generation untouched") {
    // the one failure path every index generation write shares, in the
    // merge stream's layout (32 buckets on doc_id) and fed through a
    // repartition (the graph merge's shape), so the observation sits
    // above an Exchange
    import spark.implicits._
    import graft.operators.{IndexUtil, MetadataOps}
    val base = MetadataOps.mergeStreamTarget(spark, sf0001, "vgate")
    val (src, next) = (s"${base}_g0", s"${base}_g1")
    def rows(tbl: String = src) = spark.table(tbl).as[(Long, String, Long)].collect().toSeq.sorted
    val before = rows()
    val victim = before.minBy(_._1)
    val isVictim = $"doc_id" === victim._1
    val faults = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "lost row" -> (_.filter(!isVictim)),
      "duplicated row" -> (df => df.unionByName(
        Seq(victim).toDF("doc_id", "source", "n_chars"))),
      "changed n_chars" -> (_.withColumn("n_chars",
        when(isVictim, $"n_chars" + 1).otherwise($"n_chars"))))
    val msg = """batch 7 merge generation (\S+) failed fingerprint verification in (\d+)/64 buckets — not swapped in""".r
    for ((fault, rewrite) <- faults) {
      val e = intercept[IllegalStateException] {
        IndexUtil.writeVerifiedGeneration(spark.table(src).repartition(32, $"doc_id"),
          next, 32, Seq("doc_id"), Seq("doc_id"), "batch 7 merge", rewrite)
      }
      e.getMessage match {
        case msg(tbl, bad) =>
          assert(tbl == next && bad.toInt >= 1, s"$fault: ${e.getMessage}")
        case other => fail(s"$fault: unexpected failure message: $other")
      }
      assert(spark.catalog.tableExists(src) && rows() == before,
        s"$fault: the source generation did not survive the refused write")
    }
    // control: the same write without a fault verifies, one file per bucket
    IndexUtil.writeVerifiedGeneration(spark.table(src).repartition(32, $"doc_id"),
      next, 32, Seq("doc_id"), Seq("doc_id"), "batch 7 merge")
    assert(rows(next) == before)
    assert(IndexUtil.dataFileCount(spark, next) <= 32)
    Seq(src, next).foreach(IndexUtil.dropIndexTable(spark, _))
  }
}
