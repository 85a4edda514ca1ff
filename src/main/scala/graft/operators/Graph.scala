package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

/** §2.9 Graph analytics over tables the warehouse already holds — the
  * iterative-join workloads (rank propagation, triangle enumeration)
  * that MapReduce-era stacks ran as dedicated Giraph/Pregel jobs and a
  * Spark-first engine expresses as plain DataFrame loops: every round
  * is an edge⋈rank equi-join plus a map-side-combined aggregate, AQE
  * re-plans each materialized round, and the driver never holds
  * graph-sized state (the only driver scalars are the node count and
  * the loop index — metadata, not data).
  *
  * All arithmetic is scaled-integer (i64) so results are independent
  * of partitioning and aggregation order and the whole composition
  * hash-verifies against a DuckDB re-derivation (the ev_markov /
  * ev_quantile_sketch discipline): floor the division at each edge,
  * sum exact integers, never average doubles.
  */
object Graph {

  /** PAGERANK over the page-transition graph the event log implies —
    * the graph-centrality quality signal web-scale curation pipelines
    * compute over the link graph (the posture popularized for
    * training-data curation by CommonCrawl-derived corpora: rank the
    * node, use the rank as a keep/weight signal).
    *
    * Graph: nodes are pages (`props.$.k`), directed edges are
    * consecutive page visits within a user's time-ordered stream
    * (the ev_markov adjacency, on pages instead of event types),
    * weighted by transition count, self-loops dropped.
    *
    * Iteration (fixed `iters` rounds, damping 85/100) in SCALED
    * INTEGERS — rank starts at 10^9 per node and every round computes
    *
    *   rank'(v) = 15·10^9/100  +  85·(inflow(v) + dangling/N)/100
    *   inflow(v) = Σ_{(u,v,w)} rank(u)·w div outW(u)
    *
    * with every division floored (i64 `div`): each edge contribution
    * is floored independently, so the sums are order-independent and
    * the 8-round composition replays bit-exactly in DuckDB's unrolled
    * CTE chain. (Floored division leaks ≤1 unit per edge per round —
    * a deliberate, documented trade of mass conservation for exact
    * reproducibility; ranking order is unaffected at 10^9 scale.)
    *
    * Scale shape: edges build from ONE user-keyed window (the same
    * exchange ev_sessionize/ev_markov run) + a map-side-combined
    * count; each round is edges⋈ranks on src (both hash-partitioned
    * on the join key; edges persisted once and reused all rounds) +
    * one aggregate on dst; the dangling term is a 1-row aggregate
    * cross-joined back (broadcast, no collect); the node count is the
    * single driver scalar, computed once (the Pregel superstep
    * constant). Rank state is O(nodes) and never touches the driver.
    * At web scale nodes ≫ memory — everything stays a DataFrame; the
    * per-round LogicalRDD rebind keeps plans constant-size over any
    * iteration count. */
  def graph_pagerank(s: SparkSession, d: String, iters: Int = 8): DataFrame = {
    import s.implicits._
    // r19: the superstep join key is src, but the groupBy of the edge
    // derivation leaves the edges hash-partitioned on (src, dst) —
    // which does NOT satisfy a join on src, so every one of the 8
    // rounds re-Exchanged (and re-sorted) the corpus-scale edge table.
    // One repartition + sortWithinPartitions on src at build time makes
    // the cached partitioning/ordering exactly what the per-round
    // SortMergeJoin needs: the edge side joins Exchange-free and
    // sort-free all 8 rounds, only the node-sized rank state moves
    // (guide §2.4 — "two operations keyed the same way share one
    // exchange"; the same layout the bucketed index twin gets at
    // write time).
    val edges = pageEdges(s, d)
      .repartition($"src").sortWithinPartitions($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // outW inherits hash(src) from its groupBy — co-partitioned with
      // the repartitioned edges, so the per-round 3-way join needs no
      // corpus-side Exchange at all; sorted so SMJ skips its sort too.
      val outW = edges.groupBy($"src").agg(sum($"w").as("out_w"))
        .sortWithinPartitions($"src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val nodes = pageNodes(edges).persist(StorageLevel.MEMORY_AND_DISK)
      try pagerankLoop(nodes, outW.select($"src".as("node")), iters) { ranks =>
        edges
          .join(ranks, edges("src") === ranks("node"))
          .join(outW, Seq("src"))
          .select($"dst", expr("rank * w div out_w").as("contrib"))
          .groupBy($"dst").agg(sum($"contrib").as("inflow"))
      } finally {
        outW.unpersist(blocking = false)
        nodes.unpersist(blocking = false)
      }
    } finally edges.unpersist(blocking = false)
  }

  /** Every endpoint of a (src, dst) edge frame, as one `node` column. */
  private def pageNodes(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()

  /** The pagerank superstep loop, shared by [[graph_pagerank]] and
    * [[pagerankOverIndex]]: they differ only in where the node set, the
    * nodes with out-edges (`srcs`, one `node` column) and each round's
    * `inflow` (rank state → (dst, inflow)) come from. The node count
    * is the one driver scalar (the teleport term's N).
    *
    * r17 superstep fold: the round's LEFT side is the previous rank
    * state itself (same node set — a loop invariant), so the old rank
    * rides the round for free and the materializing action doubles as
    * a FIXPOINT check (integer pagerank is a deterministic function of
    * the rank table, so round i ≡ round i−1 implies every remaining
    * round is identical — the lpaLoop argument; the oracle still
    * unrolls all `iters` rounds and agreement proves any skip was
    * sound). */
  private def pagerankLoop(nodes: DataFrame, srcs: DataFrame, iters: Int)(
      inflow: DataFrame => DataFrame): DataFrame = {
    import nodes.sparkSession.implicits._
    val n = nodes.count()
    Superstep.iterate(pagerankInit(nodes, srcs), count(lit(1)), iters) { (ranks, _) =>
      (rankRound(ranks, inflow(ranks), n),
        sum(when($"rank" =!= $"old", lit(1L)).otherwise(lit(0L))))
    }.state.select($"node".as("page"), $"rank")
      .orderBy($"rank".desc, $"page")
  }

  /** Round-0 rank state (node, rank, has_out): every node at 10^9.
    * r19: the DANGLING SET (nodes with no out-edges) is a loop
    * invariant — only its rank MASS changes per round. Flag it once on
    * the state; each round's dangling term is then a filter + 1-row
    * aggregate over the state instead of a ranks-vs-srcs anti-join (at
    * scale: one fewer Exchange+sort of the node-sized state per
    * round). */
  private def pagerankInit(nodes: DataFrame, srcs: DataFrame): DataFrame = {
    import nodes.sparkSession.implicits._
    nodes.withColumn("rank", lit(1000000000L))
      .join(srcs.select($"node", lit(true).as("has_out")), Seq("node"), "left")
      .select($"node", $"rank", coalesce($"has_out", lit(false)).as("has_out"))
  }

  /** One pagerank update over the rank state and the round's inflow:
    * the teleport term plus the damped inflow and the dangling mass
    * spread over all `n` nodes. The previous rank rides along as
    * `old`, so the materializing action doubles as the fixpoint
    * count. */
  private def rankRound(ranks: DataFrame, inflow: DataFrame, n: Long): DataFrame = {
    import ranks.sparkSession.implicits._
    val dangling = ranks.filter(!$"has_out")
      .agg(coalesce(sum($"rank"), lit(0L)).as("dang"))
    val old = ranks.select($"node", $"rank".as("old"), $"has_out")
    old.join(inflow, old("node") === inflow("dst"), "left")
      .crossJoin(broadcast(dangling))
      .select(old("node"),
        (lit(150000000L) +
          expr(s"85 * (coalesce(inflow, 0L) + dang div ${n}L) div 100")
        ).as("rank"), $"old", $"has_out")
  }

  /** TRIANGLE COUNTING on the co-supplier graph (suppliers that
    * jointly served ≥ `minSupport` orders — lineitem's co-occurrence
    * projection), per node: the clustering/community signal of the
    * supply network, and THE canonical skew-prone distributed graph
    * workload.
    *
    * Algorithm: degree-ordered wedge join (the MapReduce triangle
    * count of Suri & Vassilvitskii, WWW'11 — public literature).
    * Orient every undirected edge from its lower (degree, id) endpoint
    * to the higher; enumerate wedges only at each edge's SOURCE
    * (so a node generates C(outdeg,2) wedges, and orientation bounds
    * outdeg — the max outdeg of any node is O(√E) regardless of raw
    * degree skew: a celebrity node of raw degree 10^6 generates ZERO
    * wedges from its high side); close each wedge with one equi-join
    * back to the oriented edge list. Total wedge volume is O(E^{3/2})
    * worst-case instead of Σdeg² — the difference between feasible
    * and not on a skewed 100 TB graph.
    *
    * The `minSupport` (≥2 joint orders) edge filter is the scale
    * posture: at tiny SF the co-occurrence graph is dense by birthday
    * collision (few suppliers, many orders), while at production scale
    * the same threshold keeps exactly the statistically meaningful
    * relationships; the degree-ordering keeps the wedge volume bounded
    * in both regimes.
    *
    * Everything is exact integer counting — wedges close or don't —
    * so the whole derivation (distinct → co-pairs → degrees → tuple-
    * ordered orientation → wedge join → closure join → per-node
    * explode) replays verbatim in DuckDB. */
  def graph_triangles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ed = orientedCoSupplierEdges(s, d)
      // r19: hash(src) at build — both wedge self-join legs read the
      // cache co-partitioned on the join key, dropping two Exchanges
      // of the oriented edge list (the src-bucketed layout the index
      // twin persists, applied to the in-flight cache).
      .repartition($"src")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // r20 (r19 verdict #1a): MATERIALIZE the cache before composing
      // the wedge join. Planned against an unmaterialized cache, the
      // cached plan is still AQE-wrapped and its partitioning invisible
      // — the r19 after-plan still showed ENSURE_REQUIREMENTS Exchanges
      // above both wedge IMTS legs. Planning after this count() sees
      // hash(src, n) and both SHJ legs read the cache Exchange-free
      // (the same reason the superstep loops' round ≥1 plans already
      // did — they always plan post-materialization).
      ed.count()
      Superstep.output(trianglesBody(ed)).orderBy($"s_suppkey")
    } finally ed.unpersist(blocking = false)
  }

  /** The degree-ordered oriented edge list (src, dst, ddeg) — the
    * expensive derivation stage of [[graph_triangles]] (also built
    * once at index time by [[triIndexTables]]): orient each edge
    * low→high by (deg, id); carry the dst's order key so the wedge
    * join can order its two legs without another degree lookup. */
  private[graft] def orientedCoSupplierEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = coSupplierEdges(s, d)
    val deg = e0.select(explode(array($"u", $"v")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    e0
      .join(deg.withColumnRenamed("node", "u").withColumnRenamed("deg", "du"), Seq("u"))
      .join(deg.withColumnRenamed("node", "v").withColumnRenamed("deg", "dv"), Seq("v"))
      // (deg, id) tuple order as the expanded boolean — allocation-free
      // (see trianglesBody), and evaluated once per edge instead of
      // once per output column
      .withColumn("fwd",
        $"du" < $"dv" || ($"du" === $"dv" && $"u" < $"v"))
      .select(
        when($"fwd", $"u").otherwise($"v").as("src"),
        when($"fwd", $"v").otherwise($"u").as("dst"),
        when($"fwd", $"dv").otherwise($"du").as("ddeg"))
  }

  /** Wedge enumeration + closure + per-node readout over a caller-
    * managed oriented edge frame — the back half of
    * [[graph_triangles]].
    *
    * SHUFFLE_HASH pins on both joins (r19 — the trianglesIndexPlan
    * lesson applied to the in-flight form, which had been left on
    * planner defaults): an unhinted plan sort-merges the closure
    * probe, and SMJ must SORT its streamed side — here the
    * O(E^{3/2}) wedge stream, the one operand strictly bigger than
    * the graph. Hashing the edge-sized build side instead bounds
    * per-task state at E/partitions rows and never materializes an
    * ordering of the wedge stream (measured on the index twin:
    * 7.7 → 4.0 s; this form: 11.9 → 7.4 s with the hash(src) cache
    * layout above, OPTIMIZATION_r19.md). */
  private def trianglesBody(ed: DataFrame): DataFrame = {
    import ed.sparkSession.implicits._
    // r19: the (ddeg, dst) tuple order is spelled as the expanded
    // boolean, not struct(...) < struct(...) — codegen materializes a
    // named_struct PER COMPARISON, i.e. two InternalRow allocations
    // per candidate pair at O(E^{3/2}) volume; the expanded form is
    // allocation-free and identical for these non-null ints.
    // r20 (r19 verdict #1b — guide §2.3, shuffle fewer bytes): the
    // closure probe key (x, y) packs into ONE long — suppkeys are
    // non-negative and < 2^31 at any TPC-H scale (s_suppkey ≤ 10^4·SF;
    // SF 10^5 ≈ 100 TB gives 10^9 < 2^31), so shiftleft(x,32)|y is
    // injective and exactly invertible (top bit stays 0, so the
    // sign-propagating >> 32 returns x; & 0xffffffff returns y).
    // The O(E^{3/2}) wedge stream — the one operand strictly bigger
    // than the graph — shuffles (a, xy) = 16 bytes/row instead of
    // (a, x, y) = 24, and the SHJ hashes/compares ONE key column
    // instead of two. x/y are unpacked only per TRIANGLE (closure
    // output, far smaller than the wedge stream). Row-for-row
    // equality with the unpacked form is spec-gated (GraphSpec r20).
    val wedges = ed.as("e1").hint("shuffle_hash").join(ed.as("e2"),
        $"e1.src" === $"e2.src" &&
          ($"e1.ddeg" < $"e2.ddeg" ||
            ($"e1.ddeg" === $"e2.ddeg" && $"e1.dst" < $"e2.dst")))
      .select($"e1.src".as("a"),
        shiftleft($"e1.dst", 32).bitwiseOR($"e2.dst").as("xy"))
    // closure probe under a fresh projection — ed appears three times
    // in this plan and unaliased references would be ambiguous
    val closing = ed.select(
      shiftleft($"src", 32).bitwiseOR($"dst").as("cxy"))
    val tri = closing.hint("shuffle_hash")
      .join(wedges, $"xy" === $"cxy")
      .select($"a", shiftright($"xy", 32).as("x"),
        $"xy".bitwiseAND(lit(0xFFFFFFFFL)).as("y"))
    tri.select(explode(array($"a", $"x", $"y")).as("s_suppkey"))
      .groupBy($"s_suppkey").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"s_suppkey")
  }

  /** The co-supplier support-≥2 edge list (u < v) — the shared
    * substrate of [[graph_label_prop]], [[graph_modularity]],
    * [[graph_triangles]] and [[graph_bfs_layers]]. Caller manages
    * persistence. */
  private[graft] def coSupplierEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19: per-order pair enumeration replaces the os self-join. The
    // self-join recomputed its whole lineage per leg (two lineitem
    // scans, two distincts) and paid a third Exchange for the join
    // itself; collect_set(sk) per order is the same distinct,
    // delivered in ONE scan + ONE Exchange, and its u < v pairs
    // ([[arrayPairs]]) are exactly the a.sk < b.sk join output.
    // Unlike the triangles wedge-array dead end (uncapped fans), the
    // fan here is the ORDER'S line count — bounded at 7 by the data
    // model — so each order yields ≤ 7² candidate pairs: no GC hazard
    // at any scale. Identical e0 rows ⇒ every downstream oracle
    // unchanged.
    arrayPairs(Tables.lineitem(s, d)
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk"))
      .groupBy($"ok").agg(collect_set($"sk").as("ss")), "ss")
      .groupBy($"u", $"v")
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 2)
      .select($"u", $"v")
  }

  /** Every pair (u, v), u < v, of two elements of the array column
    * `arr` — the pair enumeration behind [[coSupplierEdges]],
    * [[partEdges]] and [[jaccardScore]]. The elements must be
    * distinct (a collect_set, or one node's neighbors); their order
    * does not matter. Two explodes and a filter compile into the
    * stage's generated code, where the flatten(transform(slice(…)))
    * lambdas this replaced ran interpreted; every caller bounds the
    * array size (≤ 7 lines per order, ≤ 32 per jaccard fan), so the
    * |arr|² candidates before the filter, against C(|arr|, 2) for the
    * lambdas, stay small. Against the lambda form at sf0.01 on 4
    * vCPUs, where most jaccard fans reach the cap (warm CPU per
    * query, median of 10 alternating runs): graph_jaccard_index 3.23
    * → 2.89 s (lower in 9/10), graph_label_prop 2.59 → 2.33 s (lower
    * in 7/10), graph_jaccard_links level (4.15 → 4.18 s). */
  private def arrayPairs(df: DataFrame, arr: String): DataFrame =
    df.select(explode(col(arr)).as("u"), col(arr))
      .select(col("u"), explode(col(arr)).as("v"))
      .filter(col("u") < col("v"))

  /** The LPA superstep loop over a caller-persisted adjacency:
    * returns the last round's rebound, cache-tracked label state
    * (node, label, …). Shared by [[graph_label_prop]],
    * [[graph_lpa_index]] and [[graph_modularity]] so the modularity
    * report doesn't pay the edge derivation twice. */
  private def lpaLoop(adj: DataFrame, iters: Int,
      mergeHint: Boolean = false): DataFrame = {
    import adj.sparkSession.implicits._
    // hint scoped to the join side only — hinting the whole frame
    // would warn on the non-join uses (the initial distinct). SMJ, not
    // SHJ, is the right pin for THESE supersteps (measured r16:
    // shuffle_hash on the state side ran 3.5 vs 3.1 s steady at
    // sf0.1): the per-round sort of the EDGE-sized adjacency is cheap
    // next to rebuilding a hash table per round, unlike the triangles
    // closure whose streamed side is the O(E^1.5) wedge INTERMEDIATE —
    // there the sort dominates and shuffle_hash wins 2x (see
    // trianglesIndexPlan).
    val joinSide = if (mergeHint) adj.hint("merge") else adj
    Superstep.iterate(lpaInit(adj), count(lit(1)), iters) { (state, _) =>
      val labels = state.select($"node", $"label")
      // argmax under the total order (cnt DESC, label ASC) as a
      // max_by over struct(cnt, -label) — same winner as the
      // row_number window (the order is total, so argmax is unique)
      // but an AGGREGATE: map-side partials, no per-node sort.
      // The previous round's label rides along so the materializing
      // action doubles as the fixpoint check — synchronous LPA is a
      // deterministic function of the label table, so round i ≡ round
      // i−1 implies every remaining round is identical. The oracle
      // still unrolls all `iters` rounds — agreement proves the skip
      // was sound.
      val next = lpaVotes(joinSide, labels)
        .groupBy($"node")
        .agg(max_by($"label", struct($"cnt", -$"label")).as("label"))
        .join(labels.withColumnRenamed("label", "old"), Seq("node"))
      (next, sum(when($"label" =!= $"old", 1L).otherwise(0L)))
    }.state
  }

  /** Round-0 LPA state: every adjacency node labeled with its own id. */
  private def lpaInit(adj: DataFrame): DataFrame =
    adj.select(col("node")).distinct().withColumn("label", col("node"))

  /** One round's vote counts (node, label, cnt): each node's neighbors'
    * labels, counted — one adjacency ⋈ labels equi-join on the
    * neighbor plus a count aggregate. */
  private def lpaVotes(adj: DataFrame, labels: DataFrame): DataFrame =
    adj.join(labels.select(col("node").as("nbr"), col("label")), "nbr")
      .groupBy(col("node"), col("label")).agg(count(lit(1)).as("cnt"))

  /** The (s_suppkey, community, community_size) readout of an LPA
    * label state. */
  private def communities(labels: DataFrame): DataFrame = {
    import labels.sparkSession.implicits._
    labels.select($"node".as("s_suppkey"), $"label".as("community"),
        count(lit(1)).over(Window.partitionBy($"label")).as("community_size"))
      .orderBy($"s_suppkey")
  }

  /** LABEL-PROPAGATION COMMUNITIES (synchronous LPA, Raghavan et al.
    * 2007 — public literature) on the co-supplier graph
    * [[graph_triangles]] builds: every node starts labeled with its
    * own id, and each round adopts the most frequent label among its
    * neighbors (ties → smallest label). A FIXED round count with a
    * deterministic tie-break replaces LPA's usual
    * random-order/async convergence — synchronous sweeps can
    * oscillate on bipartite structure, but determinism is what a
    * verifiable engine needs, and k rounds bound label diameter at k
    * hops, which is the communities' working definition here.
    *
    * Spark-first shape: the adjacency (both directions of the
    * oriented edge list) persists once and every round is ONE
    * equi-join (adj ⋈ labels on the neighbor) + a count aggregate +
    * a per-node argmax window — the same join-per-superstep shape as
    * [[graph_pagerank]], with the same LogicalRDD rebind keeping the
    * plan constant-size. Votes are exact integer counts and the
    * argmax ordering is total ((cnt DESC, label ASC)), so all 6
    * rounds replay bit-exactly in DuckDB's unrolled materialized CTE
    * chain. Driver state: the loop index only — labels never leave
    * the cluster. */
  def graph_label_prop(s: SparkSession, d: String, iters: Int = 6): DataFrame = {
    import s.implicits._
    val e0 = coSupplierEdges(s, d)
    // r19: partition + sort the cached adjacency on nbr — the vote
    // join's key — so all 6 rounds read it Exchange-free and
    // sort-free; the union otherwise left it unpartitioned and every
    // round re-shuffled the corpus-scale side (guide §2.4; the layout
    // graph_lpa_index gets from its bucketed write, for free here).
    val adj = e0.select($"u".as("node"), $"v".as("nbr"))
      .union(e0.select($"v".as("node"), $"u".as("nbr")))
      .repartition($"nbr").sortWithinPartitions($"nbr")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try communities(lpaLoop(adj, iters))
    finally adj.unpersist(blocking = false)
  }

  /** MULTI-SOURCE BFS with seed attribution — the hub-assignment
    * workload (every node labeled with its NEAREST seed and the hop
    * distance; seeds = suppliers with key % 10 == 0, the
    * deterministic stand-in for a curated hub set), completing the
    * canonical Pregel set alongside rank propagation
    * ([[graph_pagerank]]), community labels ([[graph_label_prop]])
    * and triangle closure ([[graph_triangles]]) on the same
    * co-supplier graph.
    *
    * Each of the 6 fixed rounds relaxes the frontier by one hop: a
    * node's state is the lexicographic MIN over (dist, seed) of its
    * own state and every neighbor's state + 1 hop — a total order, so
    * ties (two seeds at equal distance) resolve to the smaller seed
    * id on both engines and the whole 6-round composition replays
    * bit-exactly in DuckDB's unrolled materialized CTE chain. Fixed
    * rounds bound the reported radius at 6 hops (unreached nodes are
    * absent — at 100 TB the frontier loop would watch the observe-
    * metric convergence counter the dedup_clusters CC loop uses).
    * Same superstep shape as the siblings: one adjacency⋈state
    * equi-join + a per-node argmin aggregate per round, adjacency
    * persisted once, LogicalRDD rebind per round, no driver-side
    * graph state. */
  def graph_bfs_layers(s: SparkSession, d: String, iters: Int = 6): DataFrame = {
    import s.implicits._
    val e0 = coSupplierEdges(s, d)
    // r19: same nbr-keyed layout as graph_label_prop — the relaxation
    // join reads the cached adjacency Exchange-free every round.
    val adj = e0.select($"u".as("node"), $"v".as("nbr"))
      .union(e0.select($"v".as("node"), $"u".as("nbr")))
      .repartition($"nbr").sortWithinPartitions($"nbr")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try bfsLoop(adj, iters)
    finally adj.unpersist(blocking = false)
  }

  /** The BFS relaxation loop over a caller-provided adjacency —
    * shared by [[graph_bfs_layers]] (in-flight derivation) and
    * [[graph_bfs_index]] (persisted adjacency index), the lpaLoop
    * factoring applied to BFS. Returns the (s_suppkey, dist, seed)
    * projection of the last, cache-tracked state. */
  private def bfsLoop(adj: DataFrame, iters: Int,
      mergeHint: Boolean = false): DataFrame = {
    import adj.sparkSession.implicits._
    val joinSide = if (mergeHint) adj.hint("merge") else adj
    val seeds = adj.select($"node").distinct()
      .filter($"node" % 10 === 0)
      .select($"node", lit(0L).as("dist"), $"node".as("seed"))
    Superstep.iterate(seeds, count(lit(1)), iters) { (st, _) =>
      val state = st.select($"node", $"dist", $"seed")
      // the node's own prior state rides the union with a marker, so
      // ONE argmin aggregate yields both the relaxed state and the
      // fixpoint delta (old = min over own rows — at most one per
      // node; null = newly reached): no convergence join, and the
      // materializing action IS the changed-count job.
      val relaxed = joinSide
        .join(state.select($"node".as("nbr"), ($"dist" + 1L).as("dist"),
          $"seed"), "nbr")
        .select($"node", $"dist", $"seed", lit(false).as("own"))
        .union(state.withColumn("own", lit(true)))
      val next = relaxed
        .groupBy($"node")
        .agg(min(struct($"dist", $"seed")).as("m"),
          min(when($"own", struct($"dist", $"seed"))).as("old"))
        .select($"node", $"m.dist".as("dist"), $"m.seed".as("seed"),
          ($"old".isNull || $"m" =!= $"old").as("moved"))
      // fixpoint short-circuit — the relaxation is a deterministic
      // function of the state table (the lexicographic min can only
      // move down), so an unchanged round implies all remaining
      // rounds are identical; the oracle still unrolls all rounds
      (next, sum(when($"moved", 1L).otherwise(0L)))
    }.state.select($"node".as("s_suppkey"), $"dist", $"seed")
      .orderBy($"s_suppkey")
  }

  /** MULTI-SOURCE BFS over the PERSISTED adjacency index — the SAME
    * index table [[graph_lpa_index]] searches (one materialized edge
    * list amortizing across ANALYTICS, not just across runs: LPA's
    * vote join and BFS's relaxation join share the nbr key, so one
    * bucketed layout serves both). Identical layers to
    * [[graph_bfs_layers]] → carries bfsOracle(6) verbatim; every
    * relaxation round reads the corpus-scale adjacency Exchange-free,
    * only the node-sized frontier state shuffles. */
  def graph_bfs_index(s: SparkSession, d: String, iters: Int = 6): DataFrame =
    bfsLoop(s.table(adjIndexTable(s, d)), iters, mergeHint = true)

  /** COMMUNITY MODULARITY REPORT — the quality measurement for the
    * [[graph_label_prop]] partition (Newman modularity, the standard
    * "are these communities real" score): per community c, node
    * count, intra-community edge count, total degree d_c, and the
    * EXACT modularity contribution as a scaled integer —
    *
    *   Q = Σ_c [ intra_c/E − (d_c/2E)² ]  =  Σ_c q_num_c / (4E²),
    *   q_num_c = 4·E·intra_c − d_c²
    *
    * (common denominator 4E², every term an exact i64 — no doubles,
    * so the report hash-verifies; overflow headroom: d_c ≤ 2E keeps
    * q_num within i64 up to E ≈ 10^9 edges — beyond that the scaled
    * form moves to DECIMAL(38), documented not implemented). A
    * positive q_num means community c beats the random-graph
    * expectation — the per-community verdict a curation pipeline
    * acts on.
    *
    * Shape: the labels come from the shared [[lpaLoop]] run over the
    * SAME persisted edge list (the co-occurrence derivation is paid
    * once, not once per sub-result); intra
    * edges are ONE e0 ⋈ labels ⋈ labels equi-join pair + filter;
    * degree mass is the adjacency rollup joined to labels; the edge
    * count E is a 1-row aggregate broadcast back (the pagerank
    * dangling-term pattern — no driver scalar). Oracle = the
    * label-prop 6-round unrolled chain extended with the same three
    * rollups. */
  def graph_modularity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val e0 = coSupplierEdges(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    val adj = e0.select($"u".as("node"), $"v".as("nbr"))
      .union(e0.select($"v".as("node"), $"u".as("nbr")))
      // r19: the adjacency was REBUILT (union + Exchange) from the
      // cached e0 inside every LPA round here — label_prop persists
      // it, modularity didn't. Persist it once, nbr-keyed and sorted
      // like the siblings, so the 6 vote rounds are Exchange-free on
      // the corpus-scale side; the degree rollup below reads the same
      // cache.
      .repartition($"nbr").sortWithinPartitions($"nbr")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // labels over the SAME persisted edge list — the report doesn't
      // pay the co-occurrence derivation twice
      val lab = lpaLoop(adj, 6)
        .select($"node", $"label".as("community"))
      val eCount = e0.agg(count(lit(1)).as("m"))
      val intra = e0
        .join(lab.select($"node".as("u"), $"community".as("cu")), Seq("u"))
        .join(lab.select($"node".as("v"), $"community".as("cv")), Seq("v"))
        .filter($"cu" === $"cv")
        .groupBy($"cu".as("community")).agg(count(lit(1)).as("intra_edges"))
      val degC = adj.groupBy($"node").agg(count(lit(1)).as("deg"))
        .join(lab, Seq("node"))
        .groupBy($"community")
        .agg(count(lit(1)).as("n_nodes"), sum($"deg").as("total_degree"))
      val out = degC.join(intra, Seq("community"), "left")
        .crossJoin(broadcast(eCount))
        .select($"community", $"n_nodes",
          coalesce($"intra_edges", lit(0L)).as("intra_edges"),
          $"total_degree",
          expr("4 * m * coalesce(intra_edges, 0L) - total_degree * total_degree")
            .as("q_num"))
      Superstep.output(out).orderBy($"community")
    } finally {
      adj.unpersist(blocking = false)
      e0.unpersist(blocking = false)
    }
  }

  /** K-CORE PEELING (k=65) on the part CO-PURCHASE graph (parts
    * appearing in the same order — the market-basket projection; the
    * co-supplier graph the sibling operators use is a clique at
    * small SF, which peels trivially, while the part graph keeps a
    * natural degree spread at every SF) — the canonical
    * coreness/robustness decomposition (Seidman 1983; the distributed
    * synchronous peel is the standard Pregel formulation): each round
    * simultaneously deletes every node whose degree among SURVIVORS
    * is < k, and a node's `peel_round` is the round that deleted it
    * (0 = survived all rounds = member of the k-core). Synchronous
    * rounds make the decomposition deterministic — no peel order to
    * disagree on — and the round index itself is the "onion layer"
    * signal (early-peeled ⇒ peripheral).
    *
    * Superstep shape — DELTA PEELING (the standard distributed
    * k-core formulation): degrees are counted ONCE (one
    * map-side-combined aggregate over the persisted adjacency), and
    * every round after that touches only the DELTA — the nodes
    * removed this round. The node state (node, deg, peel_round)
    * covers every node: `peel_round` is 0 while the node is alive and
    * the round that removes it once it is flagged, so the state
    * itself is the decomposition and the result is a projection of
    * the last state. Round r: the nodes flagged r (a filter, no join)
    * probe the adjacency through one map-side broadcast join (the
    * removed set is round-sized, not graph-sized), alive neighbors
    * decrement, and those falling below k are flagged r + 1. Each
    * round is ONE materializing action ([[Superstep.iterate]]): the
    * state is persisted and filled by a noop write that also observes
    * the count flagged for the next round, and the state comes back
    * rebound with its hash(node) layout, so the next round's
    * decrement aggregate and state join stay Exchange-free.
    * Decrement-from-initial is exactly restrict-and-recount (each
    * removed neighbor subtracts its one edge), so the peel is
    * bit-identical to the naive form at a fraction of the round cost
    * — the naive two-semi-join round re-scanned the full adjacency
    * twice per round (measured 15.5 s at sf0.1; delta form replaces
    * that with one broadcast probe). Fixed 6 rounds bound the
    * superstep count (measured fixpoint: 3 rounds at sf0.001, 2 at
    * sf0.1 — 2x margin) with a FREE fixpoint short-circuit (a state
    * that flags nobody is final, so remaining rounds are provable
    * no-ops — the oracle still unrolls all 6, and agreement proves
    * the skip was sound); GraphSpec asserts the fixpoint lands within
    * the bound, and that a peel cut off early matches the sequential
    * peel cut off at the same round. Edge generation is the per-order
    * C(items, 2) pair enumeration — bounded per order, embarrassingly
    * parallel. Exact integer counting throughout → the whole peel
    * replays as 6 unrolled MATERIALIZED CTE rounds in DuckDB. */
  def graph_kcore(s: SparkSession, d: String, k: Int = 65, iters: Int = 6): DataFrame = {
    import s.implicits._
    val e0 = partEdges(s, d)
    // r19: node-keyed cache layout — the initial degree count and
    // every peel round's decrement aggregate group on node, and the
    // broadcast probe join preserves partitioning, so hash(node) at
    // build time makes each round's groupBy Exchange-free AND
    // co-partitions it with the cached deg state it joins.
    val adj = e0.select($"u".as("node"), $"v".as("nbr"))
      .union(e0.select($"v".as("node"), $"u".as("nbr")))
      .repartition($"node")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try kcorePeel(adj, adj.groupBy($"node").agg(count(lit(1)).as("deg")), k, iters)
    finally adj.unpersist(blocking = false)
  }

  /** The part co-purchase edge list (u < v, distinct) — the shared
    * substrate of [[graph_kcore]] and [[graph_jaccard_links]] (the
    * co-supplier graph the other operators use is a clique at small
    * SF). Caller manages persistence. */
  private[graft] def partEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // r19: same per-order array-pair derivation as [[coSupplierEdges]]
    // (one scan + one Exchange replaces the two-scan self-join; fan
    // bounded by the order's ≤7 lines); the trailing distinct merges
    // the pairs that several orders share. Identical edge set ⇒
    // downstream oracles unchanged.
    arrayPairs(Tables.lineitem(s, d)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk"))
      .groupBy($"ok").agg(collect_set($"pk").as("ps")), "ps")
      .distinct()
  }

  /** The synchronous delta-peel loop over a caller-managed adjacency
    * and initial degree table — shared by [[graph_kcore]] (in-flight
    * derivation) and [[graph_kcore_index]] (persisted part-graph
    * index, degrees precomputed at build). The state covers every
    * node, alive or peeled, so the result is a projection of the last
    * round's state: no per-round removal frames to union and no
    * output copy to persist. The last state stays CacheRegistry-
    * tracked; every earlier one is released as soon as its successor
    * materializes. */
  private def kcorePeel(adj: DataFrame, deg0: DataFrame,
      k: Int, iters: Int): DataFrame = {
    import adj.sparkSession.implicits._
    // state r-1 flags the nodes round r removes; round `iters` is the
    // last that may remove anything, so state iters - 1 is the last
    // one needed (nodes a round iters + 1 would remove stay 0)
    Superstep.iterate(kcoreInit(deg0, k), kcoreFlagged(1), iters - 1) { (state, r) =>
      (kcoreStep(adj, state, k, r), kcoreFlagged(r + 1))
    }.state.select($"node".as("p_partkey"), $"peel_round")
      .orderBy($"p_partkey")
  }

  /** Round-0 k-core state (node, deg, peel_round): `peel_round` is the
    * round that removes the node, 0 while it is alive — so the nodes
    * with degree < k are flagged for round 1 up front. */
  private[graft] def kcoreInit(deg0: DataFrame, k: Int): DataFrame = {
    import deg0.sparkSession.implicits._
    deg0.select($"node", $"deg",
      when($"deg" < k, lit(1L)).otherwise(lit(0L)).as("peel_round"))
  }

  /** Round `r` of the delta peel over state r-1: the nodes flagged
    * `peel_round = r` leave, each alive neighbor's degree drops by the
    * removed neighbors it had (one adjacency ⋈ broadcast(removed)
    * probe, which keeps the adjacency's hash(node) layout, so the
    * decrement aggregate and the state join need no Exchange), and
    * alive nodes whose degree falls below k are flagged for round
    * r + 1. A removed node keeps its degree and its round. */
  private[graft] def kcoreStep(adj: DataFrame, state: DataFrame,
      k: Int, r: Int): DataFrame = {
    import adj.sparkSession.implicits._
    val drops = adj
      .join(broadcast(state.filter($"peel_round" === r).select($"node".as("nbr"))),
        Seq("nbr"))
      .groupBy($"node").agg(count(lit(1)).as("dropped"))
    state.join(drops, Seq("node"), "left")
      .select($"node",
        when($"peel_round" === 0, $"deg" - coalesce($"dropped", lit(0L)))
          .otherwise($"deg").as("deg"),
        $"peel_round")
      .withColumn("peel_round",
        when($"peel_round" === 0 && $"deg" < k, lit(r + 1L))
          .otherwise($"peel_round"))
  }

  /** The convergence figure of a k-core state: how many nodes it
    * flags for round `r` (0 ⇒ the peel reached its fixpoint). */
  private[graft] def kcoreFlagged(r: Int): Column =
    sum(when(col("peel_round") === r, lit(1L)).otherwise(lit(0L)))

  /** LINK PREDICTION by common-neighbor Jaccard (Liben-Nowell &
    * Kleinberg 2003 — the classic structural-similarity score) on the
    * part co-purchase graph ([[graph_kcore]]'s substrate — the
    * co-supplier graph is a clique at small SF and has no non-edges
    * to predict): for every NON-edge pair (u, v) at distance 2,
    * score = |N(u)∩N(v)| / |N(u)∪N(v)| in exact ppm (floored), and
    * report the global top-100 candidates — "parts most likely to be
    * co-purchased next", the market-basket recommendation primitive.
    *
    * Shape: common-neighbor counts come from ONE wedge self-join at
    * the shared neighbor (adj ⋈ adj on the center node, nbr < nbr
    * canonicalizing the pair) + a map-side-combined count; existing
    * edges leave via one anti-join; union size is du + dv − common
    * (degrees joined, never re-scanned).
    *
    * The scale law: exact all-pairs common-neighbor counting is
    * inherently Σ_w C(deg(w), 2) wedge enumeration — no orientation
    * trick removes it (unlike triangles, a wedge must be charged to
    * its CENTER, whose fan-out is unbounded). Measured before the
    * cap: 140M wedges / 77 s at sf0.1 — a number that only grows with
    * degree. So each center enumerates wedges over at most
    * `fanCap`=32 of its neighbors — the FIRST 32 by id, a
    * deterministic variant of the neighbor sampling every production
    * link-prediction / GNN pipeline ships — bounding wedges at
    * C(32,2)·|V| (linear in nodes) while degrees (the denominators)
    * stay exact, making the reported score a LOWER bound on true
    * Jaccard that converges to it on all ≤32-degree graphs. The cap
    * is applied identically in the DuckDB oracle and the GraphSpec
    * replay — one documented knob, three engines agreeing.
    * Top-100 by the TOTAL order (score DESC, common DESC, u, v) →
    * Spark plans TakeOrderedAndProject (per-partition heaps, no
    * global sort). Integer-exact throughout → full DuckDB hash
    * oracle. */
  def graph_jaccard_links(s: SparkSession, d: String, topN: Int = 100): DataFrame = {
    import s.implicits._
    val e0 = partEdges(s, d).persist(StorageLevel.MEMORY_AND_DISK)
    // r19: the adjacency feeds TWO node-keyed consumers (the fan-cap
    // window and the degree rollup), and was re-derived (union +
    // Exchange + sort) for each. Persist it once, hash(node)-
    // partitioned and (node, nbr)-sorted: the window's Exchange AND
    // Sort both elide (its required ordering is exactly the cached
    // layout), the degree aggregate reads the same cache Exchange-
    // free, and the anti-join gets the index twin's shuffle_hash pin
    // (hash-build the edge set; never sort the wedge-aggregate
    // stream).
    val adj = e0.select($"u".as("node"), $"v".as("nbr"))
      .union(e0.select($"v".as("node"), $"u".as("nbr")))
      .repartition($"node").sortWithinPartitions($"node", $"nbr")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // r20 (the graph_triangles materialize-before-compose fix): the
      // single action otherwise plans against the unmaterialized cache
      // and cannot see its hash(node) layout — the fan-cap window and
      // degree rollup re-Exchange. One cheap count makes the plan read
      // both consumers Exchange-free off the cache.
      adj.count()
      val deg = adj.groupBy($"node").agg(count(lit(1)).as("deg"))
      Superstep.output(jaccardScore(adj, e0, deg, topN, edgeHint = true))
        .orderBy($"jaccard_ppm".desc, $"common".desc, $"u", $"v")
    } finally {
      adj.unpersist(blocking = false)
      e0.unpersist(blocking = false)
    }
  }

  /** The fan-capped wedge/score plan over caller-provided adjacency,
    * edge-set and degree frames — shared by [[graph_jaccard_links]]
    * (in-flight derivation) and [[graph_jaccard_index]] (persisted
    * part-graph index). `edgeHint` pins SHJ on the anti-join's edge
    * side when it reads the (u,v)-bucketed index layout (hash-build
    * the edge set per bucket; never sort the wedge-aggregate stream —
    * the triangles-closure lesson). */
  private[graft] def jaccardScore(adj: DataFrame, e0: DataFrame, deg: DataFrame,
      topN: Int, edgeHint: Boolean = false): DataFrame = {
    val s = adj.sparkSession
    import s.implicits._
    val fanCap = 32
    val centers = adj
      .withColumn("rn", row_number().over(
        Window.partitionBy($"node").orderBy($"nbr")))
      .filter($"rn" <= fanCap).drop("rn")
    val edges = if (edgeHint) e0.hint("shuffle_hash") else e0
    // Wedge enumeration WITHOUT the centers self-join (r18 — the GC
    // lean the r17 verdict asked for): a self-join recomputes its
    // lineage per leg, so the old shape paid the fan-cap window's
    // full partition sort TWICE plus the join itself. Instead the
    // capped fan collects into one ≤fanCap array per center (bounded
    // per-group state — the window cap stays FIRST, so a power-law
    // hub never materializes its raw degree; groupBy(node) rides the
    // window's partitioning, no new Exchange) and its u < v pairs
    // ([[arrayPairs]]; a node's neighbors are distinct) are the join's
    // a.nbr < b.nbr. Against the self-join, the array form (measured
    // with the nested-lambda pair explode [[arrayPairs]] replaced) took
    // 2.3–2.6 s against 3.1–3.8 s at sf0.1/32t, identical top-100; the
    // persist-the-centers variant was SLOWER (the cache write costs
    // more than the second window it saves).
    val fans = centers.groupBy($"node").agg(collect_list($"nbr").as("ns"))
    val common = arrayPairs(fans, "ns")
      .groupBy($"u", $"v")
      .agg(count(lit(1)).as("common"))
      .join(edges, Seq("u", "v"), "left_anti")
    common
      .join(deg.select($"node".as("u"), $"deg".as("du")), Seq("u"))
      .join(deg.select($"node".as("v"), $"deg".as("dv")), Seq("v"))
      .select($"u", $"v", $"common",
        expr("1000000 * common div (du + dv - common)").as("jaccard_ppm"))
      .orderBy($"jaccard_ppm".desc, $"common".desc, $"u", $"v")
      .limit(topN)
  }

  // ──────────────────────────────────────────────────────────────────
  // Persisted-index lifecycle for the graph family — the ANN family's
  // vector-store posture ([[Similarity.ann_ivf_index]]) applied to
  // iterative graph analytics: real deployments don't re-derive the
  // edge list per run, they materialize it ONCE (a write-time cost
  // amortized over every later analytic) and every superstep joins
  // against the prebuilt structure. The index is bucketed+sorted on
  // the superstep join key, so each round's corpus-scale side (the
  // EDGES — at 100 TB, edges ≫ node state) reads pre-partitioned with
  // ZERO Exchange: only the node-sized rank/label state ever shuffles.
  // GraphSpec gates the bucketed-scan/no-Exchange shape mechanically,
  // and the results are IDENTICAL to the in-flight derivations by
  // construction, so both queries carry the siblings' DuckDB oracles
  // verbatim — same answer, different physical path, both
  // hash-verified.
  //
  // BUCKET COUNT IS A CLUSTER-SIZING KNOB, not a constant: a bucketed
  // join's parallelism is capped at the bucket count, and graph
  // supersteps (the wedge join above all) are compute-heavy per
  // bucket — measured: the triangles wedge join over an 8-bucket
  // index ran at 8-way parallelism on a 16-core session and gave the
  // whole derivation saving back (22.4 s steady vs 21.9 in-flight);
  // 32 buckets restores it. At 1000 executors the same rule says
  // thousands of buckets. The ANN indexes keep 8 — their per-bucket
  // search work is trivial, so parallelism never binds.
  // ──────────────────────────────────────────────────────────────────

  private val prIndexBuilt = new java.util.HashSet[String]()
  /** Build-once page-transition edge index for
    * [[graph_pagerank_index]]: (src, dst, w, out_w) bucketed+sorted on
    * src — the superstep join key — with each src's total out-weight
    * DENORMALIZED onto its edge rows (the IVF store-the-vectors-in-
    * the-lists play: the per-round outW join disappears because the
    * index row already carries the divisor). Built once per (JVM, dir)
    * — the setup-not-query rule the ANN index builders follow. */
  private def pagerankIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val tbl = s"pr_edges_${IndexUtil.dirTag(d)}"
    prIndexBuilt.synchronized { if (!prIndexBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      val edges = pageEdges(s, d)
      edges.join(edges.groupBy($"src").agg(sum($"w").as("out_w")), "src")
        .write.mode("overwrite").bucketBy(32, "src").sortBy("src")
        .format("parquet").saveAsTable(tbl)
      prIndexBuilt.add(d)
    } }
    tbl
  }

  /** The weighted page-transition edge list (src, dst, w) — the shared
    * substrate of [[pagerankIndexTable]] and the delta builder below
    * (and the same derivation [[graph_pagerank]] computes in-flight). */
  private[graft] def pageEdges(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val ev = Tables.events(s, d)
      .select($"user_id", $"ts", $"event_id",
        get_json_object($"props", "$.k").cast("long").as("page"))
    ev.withColumn("next_page", lead($"page", 1).over(w))
      .filter($"next_page".isNotNull && $"next_page" =!= $"page")
      .groupBy($"page".as("src"), $"next_page".as("dst"))
      .agg(count(lit(1)).as("w"))
  }

  private val prDeltaBuilt = new java.util.HashSet[String]()
  /** APPEND-GROWN page-transition edge index — the update path the
    * dedup/text/ANN indexes already have, closing the last lifecycle
    * asymmetry (r18): the event log grows daily, and rebuilding the
    * edge index per arrival is exactly the cost persisting it was
    * meant to avoid. The base generation carries the edges of ~90% of
    * source pages (src % 10 ≠ 0); the remaining sources arrive later
    * as a DELTA generation APPENDED as a second bucketed write job
    * into the same table — each job's files carry their bucket ids,
    * so every superstep's scan stays `Bucketed: true` and Exchange-
    * free across both file generations (spec-gated in GraphSpec).
    *
    * out_w MAINTENANCE — the denormalized divisor is the crux: the
    * append unit is a SOURCE PAGE'S WHOLE OUT-EDGE LIST, so each
    * src's out_w is computed entirely within its own generation and
    * the baked values stay exact under append (src-disjoint slices ⇒
    * per-slice sum(w) = global per-src sum(w)). That is the honest
    * append-friendly growth pattern (a crawl discovers NEW pages); an
    * EXISTING page gaining out-edges changes out_w on rows already
    * written, which no append can express — that case is a keyed
    * read-modify-write of the touched src groups, i.e. the
    * [[MetadataOps.fs_table_merge]] /
    * [[graft.streaming.StreamingOps.tableMergeStream]] play, not this
    * one (documented boundary, same as every denormalizing store).
    *
    * Hash match = append ≡ rebuild: the grown index holds the
    * identical (src, dst, w, out_w) set, so the registered query
    * carries [[graph_pagerank_index]]'s unrolled oracle verbatim. */
  private def pagerankDeltaIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val tbl = s"pr_edges_d_${IndexUtil.dirTag(d)}"
    prDeltaBuilt.synchronized { if (!prDeltaBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      val edges = pageEdges(s, d)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        def gen(g: Int, pred: org.apache.spark.sql.Column): DataFrame = {
          val e = edges.filter(pred)
          e.join(e.groupBy($"src").agg(sum($"w").as("out_w")), "src")
            .withColumn("gen", lit(g))
            // r19: one file per bucket per generation (repartition on
            // the bucket mapping — see pagerankMergeIndexTable); the
            // un-aligned write emitted ~150 files/gen that every
            // superstep re-opened
            .repartition(32, $"src")
        }
        gen(0, pmod($"src", lit(10L)) =!= 0).write.mode("overwrite")
          .bucketBy(32, "src").sortBy("src")
          .format("parquet").saveAsTable(tbl)
        gen(1, pmod($"src", lit(10L)) === 0).write.mode("append")
          .bucketBy(32, "src").sortBy("src")
          .format("parquet").saveAsTable(tbl)
      } finally edges.unpersist(blocking = false)
      prDeltaBuilt.add(d)
    } }
    tbl
  }

  /** PAGERANK over the APPEND-GROWN edge index (see
    * [[pagerankDeltaIndexTable]]) — registered so the driver's hash
    * gate proves base-build + delta-append ≡ full recompute on the
    * graph tier. */
  def graph_pagerank_index_delta(s: SparkSession, d: String,
      iters: Int = 8): DataFrame =
    pagerankOverIndex(s, pagerankDeltaIndexTable(s, d), iters)

  private val prMergeBuilt = new java.util.HashSet[String]()
  /** KEYED-MERGE-GROWN edge index — the update case
    * [[pagerankDeltaIndexTable]] explicitly defers (r18 verdict #3,
    * Graph.scala's documented boundary): an EXISTING source page
    * gaining out-edges invalidates the out_w denormalized onto rows
    * already written, which no append can express. At 100 TB this is
    * the COMMON case — a crawler re-visits pages daily; brand-new
    * pages (the append leg) are the rare one.
    *
    * The split models it: the base generation carries every page's
    * then-known out-links (the dst % 3 ≠ 0 slice — most srcs have a
    * PARTIAL out-list), with out_w exact FOR THAT SNAPSHOT; the
    * re-crawl delta carries the remaining links (dst % 3 = 0), almost
    * all of them for srcs the base already holds. The merge leg is
    * [[MetadataOps.fs_table_merge]]'s read-modify-write play applied
    * to the touched src GROUPS (reference: DistCp `-update`'s
    * copy-if-changed semantics, hadoop-tools/hadoop-distcp/src/main/
    * java/org/apache/hadoop/tools/DistCp.java:1):
    *
    *   - untouched srcs' rows CARRY OVER byte-identical (anti-join on
    *     the delta's distinct srcs — broadcast-sized: the touched key
    *     set is delta-shaped, never table-shaped);
    *   - each touched src's group is REBUILT from its base rows plus
    *     its delta rows, with out_w recomputed over the merged group
    *     (the Update leg — existing rows change value; the Insert leg
    *     — the delta's new rows join the group);
    *   - the result is written as the NEXT GENERATION of the same
    *     src-bucketed layout through [[IndexUtil
    *     .writeVerifiedGeneration]], and only then swapped in (drop old
    *     generation).
    *
    * Scale: copy-on-write — the generation rewrite scans the table
    * once (bucketed write, delta-sized Exchange only: the touched
    * groups re-shuffle, the carry-over does not leave its buckets,
    * and at 100 TB the table is additionally date/range-partitioned
    * so only touched partitions rewrite — the Delta/Hudi CoW trade,
    * same as the merge stream). The merged table holds the identical
    * (src, dst, w, out_w) set as a full rebuild — GraphSpec gates the
    * globally-correct out_w for srcs present in BOTH generations
    * directly — so the registered query carries
    * [[graph_pagerank_index]]'s unrolled oracle verbatim: the hash
    * match IS merge ≡ rebuild. */
  private def pagerankMergeIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val base = s"pr_edges_k_${IndexUtil.dirTag(d)}"
    val merged = s"${base}_m"
    prMergeBuilt.synchronized { if (!prMergeBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, base)
      IndexUtil.dropIndexTable(s, merged)
      val edges = pageEdges(s, d).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val snap = edges.filter(pmod($"dst", lit(3L)) =!= 0)
        snap.join(snap.groupBy($"src").agg(sum($"w").as("out_w")), "src")
          .select($"src", $"dst", $"w", $"out_w")
          .write.mode("overwrite").bucketBy(32, "src").sortBy("src")
          .format("parquet").saveAsTable(base)
        val delta = edges.filter(pmod($"dst", lit(3L)) === 0)
        val tgt = s.table(base)
        val touched = delta.select($"src").distinct()
        val carryOver = tgt.join(touched, Seq("src"), "left_anti")
        val grp = tgt.join(touched, Seq("src"), "left_semi")
          .select($"src", $"dst", $"w")
          .unionByName(delta.select($"src", $"dst", $"w"))
        val mergedRows = carryOver.unionByName(
          grp.join(grp.groupBy($"src").agg(sum($"w").as("out_w")), "src")
            .select($"src", $"dst", $"w", $"out_w"))
        // r19 (guide §6 — small files hurt twice): the merge plan's
        // union (carry-over ⋈ anti-join side + rebuilt groups) reaches
        // the bucketed write with ~60 upstream tasks, and a bucketed
        // write emits one file per (task, bucket) — 890 files for 32
        // buckets, which every one of the 8 pagerank rounds then
        // re-opens (measured 7.8 s vs 5.6 s for the 30-file base
        // index, same loop). repartition(32, src) IS the bucket-id
        // mapping (HashPartitioning = pmod(murmur3(src), 32), exactly
        // what bucketBy computes), so each task holds exactly one
        // bucket and the table lands as one file per bucket.
        IndexUtil.writeVerifiedGeneration(mergedRows.repartition(32, $"src"),
          merged, 32, Seq("src"), Seq("src"), "edge-index merge")
        IndexUtil.dropIndexTable(s, base) // commit point: merged is live
      } finally edges.unpersist(blocking = false)
      prMergeBuilt.add(d)
    } }
    merged
  }

  /** PAGERANK over the KEYED-MERGE-GROWN edge index (see
    * [[pagerankMergeIndexTable]]) — registered so the driver's hash
    * gate proves base-snapshot + keyed merge ≡ full recompute: the
    * re-crawled-page update path, closing the last denormalization
    * boundary the index lifecycle had left documented-but-unserved. */
  def graph_pagerank_index_merge(s: SparkSession, d: String,
      iters: Int = 8): DataFrame =
    pagerankOverIndex(s, pagerankMergeIndexTable(s, d), iters)

  /** Stream-owned generation-0 edge index for
    * [[graft.streaming.StreamingOps.edgeIndexStream]] — the
    * continuous ingest MUTATES its table, so it gets its own
    * per-(dir, tag) copy (the mhStreamIndexTables posture on the
    * graph tier); rebuilt on every call. Base = the edges of ~90% of
    * source pages (src % 10 ≠ 0), out_w computed within the slice
    * (exact globally — src-disjoint, the [[pagerankDeltaIndexTable]]
    * argument). */
  private[graft] def pagerankStreamIndexTable(s: SparkSession, d: String,
      tag: String): String = {
    import s.implicits._
    val tbl = s"pr_edges_s_${IndexUtil.dirTag(d)}_$tag"
    IndexUtil.dropIndexTable(s, tbl)
    val base = pageEdges(s, d).filter(pmod($"src", lit(10L)) =!= 0)
    base.join(base.groupBy($"src").agg(sum($"w").as("out_w")), "src")
      .withColumn("gen", lit(0))
      .repartition(32, $"src") // r19: one file per bucket (see above)
      .write.mode("overwrite").bucketBy(32, "src").sortBy("src")
      .format("parquet").saveAsTable(tbl)
    tbl
  }

  /** The delta edge slice a stream run ingests (whole src groups —
    * the append unit the denormalized out_w requires); exposed for
    * StreamingSpec's batch construction. */
  private[graft] def pagerankStreamDelta(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    pageEdges(s, d).filter(pmod($"src", lit(10L)) === 0)
  }

  /** Append one micro-batch of WHOLE-SRC edge groups into a
    * stream-owned edge index: out_w is computed within the batch,
    * which equals the global per-src total exactly when the batch
    * carries each arriving src's complete out-edge list — the
    * append-friendly growth unit (a crawler emits a page's out-links
    * as one record). A src split across batches would bake a stale
    * out_w; that case is the keyed-merge play, not an append
    * (the [[pagerankDeltaIndexTable]] boundary, unchanged). */
  private[graft] def appendEdgeGroups(batch: DataFrame, tbl: String): Unit = {
    import batch.sparkSession.implicits._
    batch.join(batch.groupBy($"src").agg(sum($"w").as("out_w")), "src")
      .select($"src", $"dst", $"w", $"out_w", lit(1).as("gen"))
      // r19: one file per bucket per micro-batch (see
      // pagerankMergeIndexTable) — the standing pagerank refresh
      // re-opens every appended file each round
      .repartition(32, $"src")
      .write.mode("append").bucketBy(32, "src").sortBy("src")
      .format("parquet").saveAsTable(tbl)
  }

  /** The standing pagerank analytic over a (possibly mid-growth)
    * stream-owned edge index — [[pagerankOverIndex]] exposed for the
    * streaming refresh. Returns a materialized, CacheRegistry-tracked
    * frame; the streaming caller releases it after delivery. */
  private[graft] def pagerankOverGrownIndex(s: SparkSession, tbl: String,
      iters: Int = 8): DataFrame =
    pagerankOverIndex(s, tbl, iters)

  /** PAGERANK over the PERSISTED edge index — identical ranks to
    * [[graph_pagerank]] (same integer recurrence, same floored
    * divisions; the oracle is [[pagerankOracle]] verbatim) through the
    * index physical path: every one of the 8 rounds joins ranks to an
    * edge table read PRE-BUCKETED on src (no Exchange, no sort on the
    * corpus-scale side — at web scale the edge list is the 100 TB
    * operand) and the out-weight divisor rides the index row, so the
    * in-flight form's per-round outW join vanishes entirely. The
    * merge hint pins SMJ: rank state is node-sized but NOT broadcast —
    * the posture is a rank table too large to broadcast, where the
    * write-time bucketing is what saves the per-round edge shuffle
    * (an SHJ pin measured SLOWER on these node-sized-state
    * supersteps — see the triangles index for the wedge-stream case
    * where SHJ wins 2x).
    * Dangling mass uses the distinct-src table derived once before the
    * loop (node-sized, persisted — the same loop-invariant treatment
    * the in-flight form gives outW). */
  def graph_pagerank_index(s: SparkSession, d: String, iters: Int = 8): DataFrame =
    pagerankOverIndex(s, pagerankIndexTable(s, d), iters)

  /** The pagerank superstep loop over a persisted edge index, table-
    * parameterized so [[graph_pagerank_index]] and
    * [[graph_pagerank_index_delta]] share it verbatim (the
    * [[Similarity.ann_ivf_index]]/[[Similarity.ann_ivf_index_delta]]
    * sharing discipline on the graph tier). */
  private def pagerankOverIndex(s: SparkSession, tbl: String,
      iters: Int): DataFrame = {
    import s.implicits._
    // MEASURED DEAD END (r18, don't retry): persisting the index for
    // the loop (the kcore-adjacency play) read 9.9/10.4 s steady vs
    // 6.8/6.5 s re-scanning per round (r18 scratch probe, base/delta at
    // sf0.1/32t) — the cache write + InMemoryRelation scans cost more
    // than 8 page-cached bucketed parquet reads. kcore persists
    // because its probe side is JOINED against a broadcast per round
    // (tiny reads of a big frame); here each round consumes the WHOLE
    // edge table once, which parquet already serves at decode speed.
    val idx = s.table(tbl)
    val srcs = idx.select($"src").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = pageNodes(idx).persist(StorageLevel.MEMORY_AND_DISK)
    try pagerankLoop(nodes, srcs.select($"src".as("node")), iters)(indexInflow(idx))
    finally {
      srcs.unpersist(blocking = false)
      nodes.unpersist(blocking = false)
    }
  }

  /** One round's inflow over a persisted edge index: ranks join the
    * src-bucketed edge rows (merge-hinted, see [[graph_pagerank_index]])
    * and the out-weight divisor rides the index row. */
  private def indexInflow(idx: DataFrame)(ranks: DataFrame): DataFrame = {
    import idx.sparkSession.implicits._
    idx.hint("merge")
      .join(ranks, idx("src") === ranks("node"))
      .select($"dst", expr("rank * w div out_w").as("contrib"))
      .groupBy($"dst").agg(sum($"contrib").as("inflow"))
  }

  /** One rank-propagation round over the persisted edge index, as a
    * single inspectable plan — the loop's per-round LogicalRDD rebind
    * hides superstep plans from the final query, so GraphSpec gates
    * the zero-Exchange index-scan shape on this. */
  private[graft] def pagerankIndexRoundPlan(s: SparkSession, d: String): DataFrame =
    pagerankRoundPlanOver(s, pagerankIndexTable(s, d))

  /** Same inspectable round over the APPEND-GROWN index — GraphSpec
    * gates that BOTH file generations feed the superstep join through
    * one bucketed, Exchange-free scan. */
  private[graft] def pagerankDeltaIndexRoundPlan(s: SparkSession, d: String): DataFrame =
    pagerankRoundPlanOver(s, pagerankDeltaIndexTable(s, d))

  private[graft] def pagerankMergeIndexRoundPlan(s: SparkSession, d: String): DataFrame =
    pagerankRoundPlanOver(s, pagerankMergeIndexTable(s, d))

  /** The loop's first inflow over the loop's own round-0 state. */
  private def pagerankRoundPlanOver(s: SparkSession, tbl: String): DataFrame = {
    val idx = s.table(tbl)
    indexInflow(idx)(pagerankInit(pageNodes(idx),
      idx.select(col("src").as("node")).distinct()))
  }

  private val adjIndexBuilt = new java.util.HashSet[String]()
  /** Build-once co-supplier adjacency index for [[graph_lpa_index]]:
    * both directions of the support-≥2 edge list, bucketed+sorted on
    * nbr — the vote join's key. */
  private def adjIndexTable(s: SparkSession, d: String): String = {
    import s.implicits._
    val tbl = s"adj_cosupp_${IndexUtil.dirTag(d)}"
    adjIndexBuilt.synchronized { if (!adjIndexBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      val e0 = coSupplierEdges(s, d)
      e0.select($"u".as("node"), $"v".as("nbr"))
        .union(e0.select($"v".as("node"), $"u".as("nbr")))
        // r19: one file per bucket (the union reached the bucketed
        // write with 64 tasks -> 512 files that EVERY lpa/bfs round
        // re-opened; repartition on the bucket mapping — see
        // pagerankMergeIndexTable)
        .repartition(32, $"nbr")
        .write.mode("overwrite").bucketBy(32, "nbr").sortBy("nbr")
        .format("parquet").saveAsTable(tbl)
      adjIndexBuilt.add(d)
    } }
    tbl
  }

  /** LABEL PROPAGATION over the PERSISTED adjacency index — identical
    * communities to [[graph_label_prop]] (same [[lpaLoop]], same
    * unrolled-CTE oracle) with every vote round's corpus-scale side
    * (the adjacency) read pre-bucketed on the join key: no Exchange,
    * no sort on the edges, only the node-sized label state shuffles
    * per round. The merge hint pins SMJ for the same
    * too-big-to-broadcast reason as [[graph_pagerank_index]]. */
  def graph_lpa_index(s: SparkSession, d: String, iters: Int = 6): DataFrame =
    communities(lpaLoop(s.table(adjIndexTable(s, d)), iters, mergeHint = true))

  /** One LPA vote round over the persisted adjacency index — the
    * loop's own votes over its own round-0 labels; the spec's
    * zero-Exchange plan-gate handle (same rationale as
    * [[pagerankIndexRoundPlan]]). */
  private[graft] def lpaIndexRoundPlan(s: SparkSession, d: String): DataFrame = {
    val adj = s.table(adjIndexTable(s, d))
    lpaVotes(adj.hint("merge"), lpaInit(adj))
  }

  private val triIndexBuilt = new java.util.HashSet[String]()
  /** Build-once ORIENTED co-supplier edge index for
    * [[graph_triangles_index]] — TWO layouts of the degree-ordered
    * (src, dst, ddeg) orientation ([[graph_triangles]]'s `ed` stage,
    * the expensive part: co-occurrence self-join + two degree joins),
    * one per downstream join key set (the two-table play of the LSH
    * index, Similarity.lshIndexTables): bucketed on src for the wedge
    * SELF-join, and bucketed on (src, dst) for the closure probe —
    * Spark's co-partition rule requires ALL join keys in the
    * partitioning, so the src-only layout cannot also serve the
    * two-key closure join without re-shuffling. */
  private def triIndexTables(s: SparkSession, d: String): (String, String) = {
    import s.implicits._
    val tbl = s"tri_edges_${IndexUtil.dirTag(d)}"
    val tbl2 = s"tri_close_${IndexUtil.dirTag(d)}"
    triIndexBuilt.synchronized { if (!triIndexBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, tbl)
      IndexUtil.dropIndexTable(s, tbl2)
      val ed = orientedCoSupplierEdges(s, d)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        // r19: one file per bucket each (was 1024 per table — one
        // per (task, bucket); see pagerankMergeIndexTable)
        ed.repartition(32, $"src")
          .write.mode("overwrite").bucketBy(32, "src").sortBy("src")
          .format("parquet").saveAsTable(tbl)
        ed.select($"src", $"dst")
          .repartition(32, $"src", $"dst")
          .write.mode("overwrite").bucketBy(32, "src", "dst").sortBy("src", "dst")
          .format("parquet").saveAsTable(tbl2)
      } finally ed.unpersist(blocking = false)
      triIndexBuilt.add(d)
    } }
    (tbl, tbl2)
  }

  /** TRIANGLE COUNTING over the PERSISTED oriented edge index —
    * identical counts to [[graph_triangles]] (same degree-ordered
    * wedge algorithm; carries its DuckDB oracle verbatim) with the
    * derivation paid at build time and EVERY edge scan co-located
    * with its join: the wedge SELF-join reads the src-bucketed layout
    * on both legs and the closure probe reads the (src, dst)-bucketed
    * layout, so no Exchange ever touches the edge list — at 100 TB it
    * never moves. The one shuffle left is the wedge stream re-keying
    * onto (x, y) for closure (wedges are born at their source vertex
    * and must meet the edge set at their far pair — that movement IS
    * the algorithm).
    *
    * Join strategy is SHUFFLED HASH, not sort-merge — the measured
    * r16 lesson: an SMJ closure probe must SORT its streamed side,
    * and here the streamed side is the O(E^{3/2}) wedge stream (the
    * one operand strictly bigger than the graph); hashing the
    * EDGE-sized build side per bucket instead cut the steady-state
    * search 7.7 → 4.0 s at sf0.1/32 threads (the wedge self-join
    * drops its per-bucket sorts the same way: multi-file buckets
    * don't satisfy SMJ's sort requirement, so SMJ was re-sorting both
    * legs). The asymptotic argument matches the measurement: SHJ
    * buffers E/buckets rows per task — bounded by the bucket-count
    * sizing knob above — while SMJ buffers/sorts E^{3/2}. An unhinted
    * plan broadcasts the edge list (9.7 s at 32 threads, and
    * impossible at corpus scale).
    *
    * MEASURED DEAD END (r18, don't retry): replacing the wedge
    * SELF-join with per-src sorted arrays + nested-transform pair
    * explode — the exact change that won jaccard 25% (see
    * [[jaccardScore]]) — benched 7.0 vs 4.7 s steady (r18 scratch probe).
    * The difference is the cap: jaccard's fans are ≤32 so its pair
    * arrays are tiny, while the oriented out-degree here is uncapped
    * (√(2E)-bounded but large) and flatten(transform(…)) must
    * MATERIALIZE each src's whole O(out_deg²) pair array before
    * exploding it — more allocation than the streaming SHJ it
    * replaces, i.e. exactly the GC pressure it was meant to cut. */
  def graph_triangles_index(s: SparkSession, d: String): DataFrame =
    trianglesIndexPlan(s, d)

  /** Ensure the oriented-edge index exists for `d` and expose it to
    * the SQL-text persona as DIR-TAGGED temp-view names —
    * [[SqlSurface]] serves `sql_graph_triangles_index` over these
    * (createOrReplaceTempView is metadata-only, and the view resolves
    * to the catalog table's bucketed layout — the SQL plan gets the
    * same Exchange-free scans the DataFrame form does). Names carry
    * the backing tables' per-dir SHA tag so two dirs' views coexist
    * on one session (see [[graft.operators.Dedup.mhIndexViews]]). */
  private[graft] def triIndexViews(s: SparkSession, d: String): (String, String) = {
    val (wedgeTbl, closeTbl) = triIndexTables(s, d)
    val (wedgeView, closeView) =
      (s"tri_wedge_idx_${IndexUtil.dirTag(d)}", s"tri_close_idx_${IndexUtil.dirTag(d)}")
    s.table(wedgeTbl).createOrReplaceTempView(wedgeView)
    s.table(closeTbl).createOrReplaceTempView(closeView)
    (wedgeView, closeView)
  }

  /** The full indexed-triangles plan before materialization — the
    * spec's plan-gate handle: every scan of the edge index must feed
    * its ShuffledHashJoin Exchange-free. */
  private[graft] def trianglesIndexPlan(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (wedgeTbl, closeTbl) = triIndexTables(s, d)
    val ed = s.table(wedgeTbl)
    val wedges = ed.as("e1").hint("shuffle_hash").join(ed.as("e2"),
        $"e1.src" === $"e2.src" &&
          // expanded (ddeg, dst) tuple order — allocation-free per
          // candidate pair (see trianglesBody)
          ($"e1.ddeg" < $"e2.ddeg" ||
            ($"e1.ddeg" === $"e2.ddeg" && $"e1.dst" < $"e2.dst")))
      .select($"e1.src".as("a"), $"e1.dst".as("x"), $"e2.dst".as("y"))
    val closing = s.table(closeTbl)
      .select($"src".as("cs"), $"dst".as("cd"))
    val tri = closing.hint("shuffle_hash")
      .join(wedges, $"x" === $"cs" && $"y" === $"cd")
      .select($"a", $"x", $"y")
    tri.select(explode(array($"a", $"x", $"y")).as("s_suppkey"))
      .groupBy($"s_suppkey").agg(count(lit(1)).as("n_triangles"))
      .orderBy($"s_suppkey")
  }

  private val partIndexBuilt = new java.util.HashSet[String]()
  /** Build-once PART CO-PURCHASE graph index — ONE derivation (the
    * per-order C(items, 2) self-join + distinct, the expensive stage
    * of both consumers), THREE layouts, TWO analytics (the
    * cross-analytic amortization that justifies owning a graph index,
    * extended from the LPA/BFS shared adjacency):
    *
    *  - `pa_adj` (node, nbr), bucketed+sorted on node — jaccard's
    *    fan-cap window AND wedge self-join read it pre-partitioned on
    *    exactly their key (no Exchange before the window, both wedge
    *    legs co-located); kcore's decrement probe joins it against a
    *    broadcast removal set, which imposes no partitioning
    *    requirement, so the same layout serves it;
    *  - `pa_edges` (u, v), bucketed on (u, v) — jaccard's
    *    existing-edge anti-join hash-builds it per bucket
    *    (shuffle_hash: never sort the wedge-aggregate stream — the
    *    triangles-closure lesson);
    *  - `pa_deg` (node, deg), bucketed on node — round-0 peel state
    *    and jaccard's denominators read PRECOMPUTED (the
    *    out-weight/vectors-in-lists denormalization play: the build
    *    pays the degree aggregate once, Exchange-free on the
    *    node-bucketed adjacency). */
  private def partIndexTables(s: SparkSession, d: String): (String, String, String) = {
    import s.implicits._
    val adjTbl = s"pa_adj_${IndexUtil.dirTag(d)}"
    val edgeTbl = s"pa_edges_${IndexUtil.dirTag(d)}"
    val degTbl = s"pa_deg_${IndexUtil.dirTag(d)}"
    partIndexBuilt.synchronized { if (!partIndexBuilt.contains(d)) {
      IndexUtil.dropIndexTable(s, adjTbl)
      IndexUtil.dropIndexTable(s, edgeTbl)
      IndexUtil.dropIndexTable(s, degTbl)
      val e0 = partEdges(s, d).persist(StorageLevel.MEMORY_AND_DISK)
      try {
        e0.write.mode("overwrite").bucketBy(32, "u", "v").sortBy("u", "v")
          .format("parquet").saveAsTable(edgeTbl)
        e0.select($"u".as("node"), $"v".as("nbr"))
          .union(e0.select($"v".as("node"), $"u".as("nbr")))
          // r19: one file per bucket (was 2048; see
          // pagerankMergeIndexTable)
          .repartition(32, $"node")
          .write.mode("overwrite").bucketBy(32, "node").sortBy("node", "nbr")
          .format("parquet").saveAsTable(adjTbl)
        s.table(adjTbl).groupBy($"node").agg(count(lit(1)).as("deg"))
          .write.mode("overwrite").bucketBy(32, "node").sortBy("node")
          .format("parquet").saveAsTable(degTbl)
      } finally e0.unpersist(blocking = false)
      partIndexBuilt.add(d)
    } }
    (adjTbl, edgeTbl, degTbl)
  }

  /** K-CORE PEELING over the persisted part-graph index — identical
    * peel to [[graph_kcore]] (same [[kcorePeel]]; carries its oracle
    * verbatim) with the edge derivation paid at build time and the
    * round-0 degree state read PRECOMPUTED from `pa_deg` (the
    * in-flight form's first aggregate vanishes entirely); each
    * round's decrement probe reads the adjacency table against the
    * broadcast removal set. The loop persists the adjacency scan once
    * (loop-invariant), like the in-flight form persists its derived
    * adjacency. */
  def graph_kcore_index(s: SparkSession, d: String, k: Int = 65, iters: Int = 6): DataFrame = {
    import s.implicits._
    val (adjTbl, _, degTbl) = partIndexTables(s, d)
    // MEASURED DEAD END (r17, don't retry): dropping this persist and
    // reading the bucketed table per peel round — the candidate fix
    // for the r16 driver-run inflation — benched 5.3 vs 2.5 s at
    // 8g/32t and didn't even help at a squeezed 3g heap (4.1 vs
    // 2.7 s): six broadcast-join scans of the parquet cost more than
    // the cache churn they save at either heap size. The r16
    // inflation itself did not reproduce cold at 8g (2.5–3.6 s across
    // four runs vs the driver's 25.5); the bench's memory tail
    // (xmx_mb/gc_sec/drift_mem) now measures the axis the driver run
    // was missing.
    val adj = s.table(adjTbl).persist(StorageLevel.MEMORY_AND_DISK)
    try kcorePeel(adj, s.table(degTbl).select($"node", $"deg"), k, iters)
    finally adj.unpersist(blocking = false)
  }

  /** JACCARD LINK PREDICTION over the persisted part-graph index —
    * identical top-100 to [[graph_jaccard_links]] (same
    * [[jaccardScore]]; carries its oracle verbatim): the fan-cap
    * window and the wedge self-join read the node-bucketed adjacency
    * with ZERO Exchange (at 100 TB the adjacency is the corpus-scale
    * operand — the window's per-node sort is the only work left
    * before wedges), degrees come precomputed from `pa_deg`, and the
    * existing-edge anti-join hash-builds the (u,v)-bucketed edge
    * layout per bucket rather than sorting the wedge-aggregate
    * stream. */
  def graph_jaccard_index(s: SparkSession, d: String, topN: Int = 100): DataFrame =
    jaccardIndexPlan(s, d, topN)

  /** The full indexed-jaccard plan before materialization — the
    * spec's plan-gate handle (no Exchange between the adjacency scans
    * and the fan-cap window / wedge join). */
  private[graft] def jaccardIndexPlan(s: SparkSession, d: String, topN: Int = 100): DataFrame = {
    import s.implicits._
    val (adjTbl, edgeTbl, degTbl) = partIndexTables(s, d)
    jaccardScore(s.table(adjTbl), s.table(edgeTbl),
      s.table(degTbl).select($"node", $"deg"), topN, edgeHint = true)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_modularity" -> graph_modularity _,
    "graph_bfs_layers" -> ((s, d) => graph_bfs_layers(s, d)),
    "graph_bfs_index" -> ((s, d) => graph_bfs_index(s, d)),
    "graph_kcore" -> ((s, d) => graph_kcore(s, d)),
    "graph_kcore_index" -> ((s, d) => graph_kcore_index(s, d)),
    "graph_jaccard_links" -> ((s, d) => graph_jaccard_links(s, d)),
    "graph_jaccard_index" -> ((s, d) => graph_jaccard_index(s, d)),
    "graph_pagerank" -> ((s, d) => graph_pagerank(s, d)),
    "graph_pagerank_index" -> ((s, d) => graph_pagerank_index(s, d)),
    "graph_pagerank_index_delta" -> ((s, d) => graph_pagerank_index_delta(s, d)),
    "graph_pagerank_index_merge" -> ((s, d) => graph_pagerank_index_merge(s, d)),
    "graph_label_prop" -> ((s, d) => graph_label_prop(s, d)),
    "graph_lpa_index" -> ((s, d) => graph_lpa_index(s, d)),
    "graph_triangles" -> graph_triangles _,
    "graph_triangles_index" -> graph_triangles_index _)

  /** The 8 unrolled PageRank rounds, generated: each round's CTE is
    * the same integer formula over the previous round's table, so the
    * DuckDB replay is exact (floored i64 division both sides). Every
    * round MUST be MATERIALIZED: each references its predecessor twice
    * (inflow + dangling), and DuckDB inlines plain CTEs — an 8-round
    * chain would otherwise expand to 2^8 copies of the whole lineage
    * (observed as an OOM at sf0.1). */
  private def pagerankOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""r$i AS MATERIALIZED (
         |  SELECT nd.node,
         |    150000000 + (85 * (COALESCE(infl.s, 0) + dang.d // nn.n)) // 100 AS rank
         |  FROM nodes nd
         |  LEFT JOIN (
         |    SELECT e.dst AS node, SUM(r.rank * e.w // o.out_w) AS s
         |    FROM edges e
         |    JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outw o ON e.src = o.src
         |    GROUP BY 1) infl ON nd.node = infl.node
         |  CROSS JOIN (
         |    SELECT COALESCE(SUM(r.rank), 0) AS d
         |    FROM r${i - 1} r LEFT JOIN outw o ON r.node = o.src
         |    WHERE o.src IS NULL) dang
         |  CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""WITH ev AS (
       |  SELECT user_id, ts, event_id,
       |    CAST(json_extract_string(props, '$$.k') AS BIGINT) AS page
       |  FROM events),
       |pairs AS (
       |  SELECT page AS src,
       |    lead(page) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
       |  FROM ev),
       |edges AS MATERIALIZED (
       |  SELECT src, dst, CAST(count(*) AS BIGINT) AS w
       |  FROM pairs WHERE dst IS NOT NULL AND dst <> src GROUP BY 1, 2),
       |outw AS MATERIALIZED (SELECT src, SUM(w) AS out_w FROM edges GROUP BY 1),
       |nodes AS MATERIALIZED (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges UNION ALL SELECT dst FROM edges)),
       |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
       |$rounds
       |SELECT node AS page, CAST(rank AS BIGINT) AS rank
       |FROM r$iters ORDER BY rank DESC, node""".stripMargin
  }

  /** The unrolled LPA rounds: each is the vote-count + (cnt DESC,
    * label ASC) argmax over the previous round's labels — a total
    * order, so the replay is exact. MATERIALIZED for the same
    * CTE-inlining reason as the PageRank chain. */
  /** The shared LPA WITH-chain (co-supplier graph + `iters` unrolled
    * rounds), reused by [[graph_label_prop]]'s oracle and extended by
    * [[graph_modularity]]'s. */
  private def labelPropChain(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""l$i AS MATERIALIZED (
         |  SELECT node, label FROM (
         |    SELECT node, label,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY cnt DESC, label ASC) AS rn
         |    FROM (
         |      SELECT a.node, l.label, count(*) AS cnt
         |      FROM adj a JOIN l${i - 1} l ON a.nbr = l.node
         |      GROUP BY 1, 2))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""os AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
       |e0 AS MATERIALIZED (
       |  SELECT a.sk AS u, b.sk AS v
       |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |adj AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr FROM e0
       |  UNION ALL SELECT v, u FROM e0),
       |l0 AS (SELECT DISTINCT node, node AS label FROM adj),
       |$rounds""".stripMargin
  }

  private def labelPropOracle(iters: Int): String =
    s"""WITH ${labelPropChain(iters)}
       |SELECT node AS s_suppkey, label AS community,
       |  CAST(count(*) OVER (PARTITION BY label) AS BIGINT) AS community_size
       |FROM l$iters ORDER BY 1""".stripMargin

  /** [[graph_modularity]]'s oracle: the LPA chain + the three exact
    * rollups (intra edges, degree mass, the 4·E·intra − d² numerator). */
  private def modularityOracle(iters: Int): String =
    s"""WITH ${labelPropChain(iters)},
       |em AS (SELECT CAST(count(*) AS BIGINT) AS m FROM e0),
       |intra AS (
       |  SELECT lu.label AS community, CAST(count(*) AS BIGINT) AS intra_edges
       |  FROM e0
       |  JOIN l$iters lu ON e0.u = lu.node
       |  JOIN l$iters lv ON e0.v = lv.node
       |  WHERE lu.label = lv.label GROUP BY 1),
       |degc AS (
       |  SELECT l.label AS community, CAST(count(*) AS BIGINT) AS n_nodes,
       |    CAST(sum(d.deg) AS BIGINT) AS total_degree
       |  FROM (SELECT node, count(*) AS deg FROM adj GROUP BY 1) d
       |  JOIN l$iters l ON d.node = l.node GROUP BY 1)
       |SELECT degc.community, degc.n_nodes,
       |  COALESCE(intra.intra_edges, 0) AS intra_edges, degc.total_degree,
       |  4 * em.m * COALESCE(intra.intra_edges, 0)
       |    - degc.total_degree * degc.total_degree AS q_num
       |FROM degc LEFT JOIN intra USING (community) CROSS JOIN em
       |ORDER BY community""".stripMargin

  /** The unrolled BFS relaxation rounds: each is min(dist, seed) over
    * self ∪ (neighbors + 1 hop) — the lexicographic min is a total
    * order, so the replay is exact. MATERIALIZED for the same
    * CTE-inlining reason as the PageRank chain (each round is
    * referenced twice: relax + carry). */
  private def bfsOracle(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT node, dist, seed FROM (
         |    SELECT node, dist, seed,
         |      row_number() OVER (PARTITION BY node
         |        ORDER BY dist, seed) AS rn
         |    FROM (
         |      SELECT a.node, p.dist + 1 AS dist, p.seed
         |      FROM adj a JOIN b${i - 1} p ON a.nbr = p.node
         |      UNION ALL
         |      SELECT node, dist, seed FROM b${i - 1}))
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH os AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
       |e0 AS (
       |  SELECT a.sk AS u, b.sk AS v
       |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
       |  GROUP BY 1, 2 HAVING count(*) >= 2),
       |adj AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr FROM e0
       |  UNION ALL SELECT v, u FROM e0),
       |b0 AS (
       |  SELECT DISTINCT node, CAST(0 AS BIGINT) AS dist, node AS seed
       |  FROM adj WHERE node % 10 = 0),
       |$rounds
       |SELECT node AS s_suppkey, dist, seed
       |FROM b$iters ORDER BY 1""".stripMargin
  }

  /** The unrolled k-core peel rounds: each survivor set is the
    * HAVING count(*) >= k aggregate over the adjacency restricted to
    * the previous survivors on BOTH endpoints, and the removed set is
    * the set difference — nodes whose last neighbor died vanish from
    * the aggregate, which EXCEPT catches exactly like the Spark
    * anti-join. MATERIALIZED for the usual CTE-inlining reason (each
    * round is referenced three times: both join legs + the diff). */
  private def kcoreOracle(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT a.node FROM adj a
         |  JOIN a${i - 1} x ON a.node = x.node
         |  JOIN a${i - 1} y ON a.nbr = y.node
         |  GROUP BY 1 HAVING count(*) >= $k),
         |rm$i AS MATERIALIZED (
         |  SELECT node FROM a${i - 1} EXCEPT SELECT node FROM a$i)""".stripMargin
    }.mkString(",\n")
    val peeled = (1 to iters).map(i =>
      s"SELECT node, CAST($i AS BIGINT) AS peel_round FROM rm$i").mkString("\n  UNION ALL ")
    s"""WITH os AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
       |e0 AS (
       |  SELECT DISTINCT a.pk AS u, b.pk AS v
       |  FROM os a JOIN os b ON a.ok = b.ok AND a.pk < b.pk),
       |adj AS MATERIALIZED (
       |  SELECT u AS node, v AS nbr FROM e0
       |  UNION ALL SELECT v, u FROM e0),
       |a0 AS MATERIALIZED (SELECT DISTINCT node FROM adj),
       |$rounds
       |SELECT node AS p_partkey, peel_round FROM (
       |  $peeled
       |  UNION ALL SELECT node, CAST(0 AS BIGINT) FROM a$iters)
       |ORDER BY 1""".stripMargin
  }

  private def jaccardOracle: String =
    """WITH os AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT a.pk AS u, b.pk AS v
        |  FROM os a JOIN os b ON a.ok = b.ok AND a.pk < b.pk),
        |adj AS MATERIALIZED (
        |  SELECT u AS node, v AS nbr FROM e0
        |  UNION ALL SELECT v, u FROM e0),
        |deg AS MATERIALIZED (
        |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY 1),
        |centers AS MATERIALIZED (
        |  SELECT node, nbr FROM (
        |    SELECT node, nbr,
        |      row_number() OVER (PARTITION BY node ORDER BY nbr) AS rn
        |    FROM adj)
        |  WHERE rn <= 32),
        |common AS (
        |  SELECT a.nbr AS u, b.nbr AS v, CAST(count(*) AS BIGINT) AS common
        |  FROM centers a JOIN centers b
        |    ON a.node = b.node AND a.nbr < b.nbr
        |  GROUP BY 1, 2),
        |cand AS (
        |  SELECT c.u, c.v, c.common FROM common c
        |  LEFT JOIN e0 e ON c.u = e.u AND c.v = e.v
        |  WHERE e.u IS NULL)
        |SELECT c.u, c.v, c.common,
        |  1000000 * c.common // (du.deg + dv.deg - c.common) AS jaccard_ppm
        |FROM cand c
        |JOIN deg du ON c.u = du.node
        |JOIN deg dv ON c.v = dv.node
        |ORDER BY jaccard_ppm DESC, c.common DESC, c.u, c.v
        |LIMIT 100""".stripMargin

  val oracle: Map[String, String] = Map(
    "graph_modularity" -> modularityOracle(6),
    "graph_kcore" -> kcoreOracle(65, 6),
    "graph_kcore_index" -> kcoreOracle(65, 6),
    "graph_jaccard_links" -> jaccardOracle,
    // result-identical over the persisted part-graph index
    "graph_jaccard_index" -> jaccardOracle,
    "graph_bfs_layers" -> bfsOracle(6),
    "graph_bfs_index" -> bfsOracle(6),
    "graph_pagerank" -> pagerankOracle(8),
    // the index variants are result-identical by construction, so they
    // carry the in-flight siblings' oracles verbatim — same answer,
    // different physical path, both hash-verified
    "graph_pagerank_index" -> pagerankOracle(8),
    // the append-grown index holds the identical (src, dst, w, out_w)
    // set (src-disjoint generations), so the identical unrolled
    // replay — the hash match IS the append≡rebuild theorem
    "graph_pagerank_index_delta" -> pagerankOracle(8),
    // the keyed-merge-grown index rebuilds touched src groups with
    // globally-correct out_w and carries untouched rows over, so it
    // too holds the identical (src, dst, w, out_w) set — the hash
    // match IS merge ≡ rebuild
    "graph_pagerank_index_merge" -> pagerankOracle(8),
    "graph_label_prop" -> labelPropOracle(6),
    "graph_lpa_index" -> labelPropOracle(6),
    "graph_triangles" -> trianglesOracle,
    // the index variant is result-identical (same oriented-wedge
    // algorithm over the persisted edge table) — oracle verbatim
    "graph_triangles_index" -> trianglesOracle)

  private def trianglesOracle: String =
    """WITH os AS (
      |  SELECT DISTINCT l_orderkey AS ok, l_suppkey AS sk FROM lineitem),
      |e0 AS (
      |  SELECT a.sk AS u, b.sk AS v
      |  FROM os a JOIN os b ON a.ok = b.ok AND a.sk < b.sk
      |  GROUP BY 1, 2 HAVING count(*) >= 2),
      |deg AS (
      |  SELECT node, CAST(count(*) AS BIGINT) AS deg FROM (
      |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
      |  GROUP BY 1),
      |ed AS (
      |  SELECT
      |    CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN e0.u ELSE e0.v END AS src,
      |    CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN e0.v ELSE e0.u END AS dst,
      |    CASE WHEN (du.deg, e0.u) < (dv.deg, e0.v) THEN dv.deg ELSE du.deg END AS ddeg
      |  FROM e0
      |  JOIN deg du ON e0.u = du.node
      |  JOIN deg dv ON e0.v = dv.node),
      |wedges AS (
      |  SELECT e1.src AS a, e1.dst AS x, e2.dst AS y
      |  FROM ed e1 JOIN ed e2
      |    ON e1.src = e2.src AND (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)),
      |tri AS (
      |  SELECT w.a, w.x, w.y
      |  FROM wedges w JOIN ed e ON w.x = e.src AND w.y = e.dst)
      |SELECT node AS s_suppkey, CAST(count(*) AS BIGINT) AS n_triangles
      |FROM (SELECT a AS node FROM tri UNION ALL
      |      SELECT x FROM tri UNION ALL
      |      SELECT y FROM tri)
      |GROUP BY 1 ORDER BY 1""".stripMargin
}
