package graft

import graft.operators.Graph

/** §2.9 gates: each distributed graph operator is replayed by an
  * independent single-threaded reference implementation on the
  * collected sf0.001 graph and must match EXACTLY — the scaled-integer
  * design means there is no tolerance to hide behind. */
class GraphSpec extends SparkSpec {

  /** Spark jobs of one warm query at sf0.001, build and collect. For
    * graph_kcore: the edge and degree build, four peel states (each its
    * own shuffle stages, its cache stage and its noop write) and the
    * sorted readout of the last state. */
  private val PinnedJobs = Seq(
    "graph_kcore" -> 19,
    "graph_label_prop" -> 29,
    "graph_triangles" -> 18,
    "fs_path_resolve" -> 24,
    "dedup_clusters" -> 42)

  /** (src, dst, w) edge list the pagerank operator derives, rebuilt
    * driver-side from raw events. */
  private def pageEdges(): Map[(Long, Long), Long] = {
    val ev = Tables.events(spark, sf0001)
      .selectExpr("user_id", "ts", "event_id",
        "cast(get_json_object(props, '$.k') as long) as page")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getLong(3)))
    ev.groupBy(_._1).values.flatMap { rows =>
      val ordered = rows.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      ordered.zip(ordered.tail).filter(p => p._1 != p._2)
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
  }

  test("graph_pagerank equals the sequential integer recurrence exactly") {
    val edges = pageEdges()
    val outW = edges.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val nodes = (edges.keySet.map(_._1) ++ edges.keySet.map(_._2)).toSeq.sorted
    val n = nodes.size.toLong
    var rank = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 8) {
      val inflow = edges.toSeq
        .map { case ((u, v), w) => v -> (rank(u) * w / outW(u)) }
        .groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val dangling = nodes.filterNot(outW.contains).map(rank).sum
      rank = nodes.map(v =>
        v -> (150000000L + 85L * (inflow.getOrElse(v, 0L) + dangling / n) / 100L)).toMap
    }
    val got = Graph.graph_pagerank(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    assert(got == rank, "distributed pagerank diverged from the reference recurrence")
    // mass check: floored divisions leak, but less than 1 unit per
    // edge+node per round — the total stays within a whisker of N×10^9
    val total = rank.values.sum
    assert(total > (n * 1000000000L * 97) / 100 && total <= n * 1000000000L,
      s"rank mass off: $total vs ${n * 1000000000L}")
    assert(rank.values.toSet.size > 1, "degenerate: all ranks equal")
  }

  test("graph_triangles equals brute-force enumeration; orientation bounds outdeg by sqrt(2E)") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val support = byOrder.values.toSeq
      .flatMap(sks => for (i <- sks.indices; j <- i + 1 until sks.size
                           if sks(i) != sks(j)) yield (sks(i), sks(j)))
      .groupBy(identity).view.mapValues(_.size).toMap
    // NB: Map.collect yielding tuples would rebuild a MAP (pairs
    // sharing a first element collapse) — filter + keySet instead
    val edges: Set[(Long, Long)] = support.filter(_._2 >= 2).keySet
    assert(li.nonEmpty && support.nonEmpty && edges.nonEmpty,
      s"reference graph degenerate: li=${li.length} support=${support.size} edges=${edges.size}")
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // brute force: for every edge (u,v) u<v, common neighbors w>v
    val tris = for {
      (u, v) <- edges.toSeq
      w <- (adj(u) intersect adj(v)).toSeq
      if w > v
    } yield (u, v, w)
    val triCount = tris.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(x => x).view.mapValues(_.size.toLong).toMap
    val got = Graph.graph_triangles(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    assert(got == triCount,
      s"distributed triangle counts diverged from brute force " +
        s"(edges=${edges.size} tris=${tris.size})")
    assert(got.values.sum > 0, "degenerate: no triangles at sf0.001")
    // the Suri–Vassilvitskii property the whole scale posture rests
    // on: after (deg, id) orientation no node's out-neighborhood
    // (wedge fan-out source) exceeds sqrt(2E)
    val deg = adj.view.mapValues(_.size).toMap
    implicit val ord: Ordering[(Int, Long)] = Ordering.Tuple2[Int, Long]
    val outdeg = edges.toSeq
      .map { case (u, v) =>
        if (ord.lt((deg(u), u), (deg(v), v))) u else v }
      .groupBy(x => x).view.mapValues(_.size).toMap
    val bound = math.sqrt(2.0 * edges.size).toInt + 1
    assert(outdeg.values.max <= bound,
      s"oriented outdeg ${outdeg.values.max} exceeds sqrt(2E) bound $bound")
  }

  test("graph_bfs_layers equals a sequential multi-source BFS with (dist, seed) tie-break") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val support = byOrder.values.toSeq
      .flatMap(sks => for (i <- sks.indices; j <- i + 1 until sks.size
                           if sks(i) != sks(j)) yield (sks(i), sks(j)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val edges: Set[(Long, Long)] = support.filter(_._2 >= 2).keySet
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var state: Map[Long, (Long, Long)] =
      adj.keySet.filter(_ % 10 == 0).map(v => v -> (0L, v)).toMap
    for (_ <- 1 to 6) {
      val relaxed = state.toSeq.flatMap { case (v, (dist, seed)) =>
        (v, (dist, seed)) +: adj(v).map(n => (n, (dist + 1, seed)))
      }
      state = relaxed.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    }
    val got = Graph.graph_bfs_layers(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    CacheRegistry.releaseAll()
    assert(got == state, "distributed BFS diverged from sequential replay")
    // premise: the frontier actually expanded past the seeds
    assert(state.values.exists(_._1 >= 1), "premise: a non-seed was reached")
  }

  /** Undirected part co-purchase edges (u < v), rebuilt driver-side. */
  private def partEdges(): Set[(Long, Long)] = {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_orderkey", "l_partkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    li.groupBy(_._1).values.flatMap { rows =>
      val pks = rows.map(_._2).distinct.sorted
      for (i <- pks.indices; j <- i + 1 until pks.size) yield (pks(i), pks(j))
    }.toSet
  }

  /** The sequential synchronous peel cut off after `iters` rounds:
    * (node → round that removed it, 0 if still alive; survivors). */
  private def sequentialPeel(adj: Map[Long, Set[Long]], iters: Int)
      : (Map[Long, Long], Set[Long]) = {
    var alive = adj.keySet
    val peel = scala.collection.mutable.Map.empty[Long, Long]
    for (r <- 1 to iters) {
      val removed = alive.filter(v => (adj(v) intersect alive).size < 65)
      removed.foreach(v => peel(v) = r.toLong)
      alive = alive -- removed
    }
    alive.foreach(v => peel(v) = 0L)
    (peel.toMap, alive)
  }

  test("graph_kcore equals the sequential synchronous peel and reaches its fixpoint in 6 rounds") {
    val edges = partEdges()
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val (peel, alive) = sequentialPeel(adj, 6)
    val got = Graph.graph_kcore(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    CacheRegistry.releaseAll()
    assert(got == peel, "distributed k-core peel diverged from sequential replay")
    // the 6-round bound actually suffices at this SF: the surviving
    // set is a true 65-core (one more peel round removes nothing)
    assert(alive.forall(v => (adj(v) intersect alive).size >= 65),
      "peel did not reach its fixpoint within 6 rounds")
    // non-degenerate both ways: something peeled, something survived,
    // and the peel took more than one round (real onion layers)
    assert(peel.values.exists(_ > 1L), "degenerate: peel converged in one round")
    assert(alive.nonEmpty, "degenerate: empty 65-core")
  }

  test("graph_kcore cut off mid-peel equals the sequential peel cut off at the same round") {
    // with iters below the fixpoint the last state still flags nodes
    // that the next round would remove; the peel must label them 0,
    // exactly like the sequential peel stopped after `iters` rounds
    val edges = partEdges()
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for (iters <- Seq(1, 2)) {
      val (peel, alive) = sequentialPeel(adj, iters)
      // premise: the cut is really mid-peel — a survivor is still
      // below k among survivors, so round iters + 1 would remove it
      assert(alive.exists(v => (adj(v) intersect alive).size < 65),
        s"premise: the peel already reached its fixpoint after $iters rounds")
      val got = Graph.graph_kcore(spark, sf0001, iters = iters).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      CacheRegistry.releaseAll()
      assert(got == peel, s"k-core peel cut off after $iters rounds diverged")
    }
  }

  for ((query, pinned) <- PinnedJobs)
    test(s"a warm $query runs a pinned number of Spark jobs") {
      // one materializing job per superstep round or output: a change
      // that adds a job back to every round (or to the output) moves
      // this count
      val sc = spark.sparkContext
      val run = SparkEntry.queries(query)
      run(spark, sf0001).collect()
      CacheRegistry.releaseAll()
      val group = s"$query-job-gate"
      sc.setJobGroup(group, s"one warm $query")
      try run(spark, sf0001).collect()
      finally sc.clearJobGroup()
      CacheRegistry.releaseAll()
      org.apache.spark.ListenerBusDrain(sc)
      val jobs = sc.statusTracker.getJobIdsForGroup(group).length
      assert(jobs == pinned, s"a warm $query ran $jobs Spark jobs, pinned at $pinned")
    }

  test("graph_jaccard_links equals brute-force common-neighbor Jaccard on non-edges") {
    val edges = partEdges()
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val deg = adj.view.mapValues(_.size.toLong).toMap
    // the fan-out cap must actually engage at this SF (degrees run
    // 49–138 > 32) — the replay applies the identical first-32-by-id
    // rule, so agreement below proves the capped semantics, not just
    // the uncapped ones
    assert(deg.values.max > 32L, "premise: the fan cap should bite at sf0.001")
    val common = scala.collection.mutable.Map.empty[(Long, Long), Long]
    for ((_, nbrs) <- adj; s = nbrs.toSeq.sorted.take(32);
         i <- s.indices; j <- i + 1 until s.size) {
      val key = (s(i), s(j))
      common(key) = common.getOrElse(key, 0L) + 1L
    }
    val expected = common.toSeq
      .filterNot { case ((u, v), _) => edges.contains((u, v)) }
      .map { case ((u, v), c) =>
        (u, v, c, 1000000L * c / (deg(u) + deg(v) - c)) }
      .sortBy { case (u, v, c, j) => (-j, -c, u, v) }
      .take(100)
    val got = Graph.graph_jaccard_links(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    CacheRegistry.releaseAll()
    assert(got == expected, "distributed Jaccard link scores diverged from brute force")
    assert(expected.nonEmpty && expected.head._4 > 0L,
      "degenerate: no positive-score candidate pairs")
  }

  test("graph_modularity equals the sequential LPA + exact Newman decomposition") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val support = byOrder.values.toSeq
      .flatMap(sks => for (i <- sks.indices; j <- i + 1 until sks.size
                           if sks(i) != sks(j)) yield (sks(i), sks(j)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val edges: Set[(Long, Long)] = support.filter(_._2 >= 2).keySet
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var label = adj.keySet.map(v => v -> v).toMap
    for (_ <- 1 to 6) {
      label = adj.map { case (v, nbrs) =>
        val votes = nbrs.map(label).groupBy(identity).view.mapValues(_.size)
        v -> votes.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    val m = edges.size.toLong
    val deg = adj.view.mapValues(_.size.toLong).toMap
    val expected = label.values.toSet.toSeq.map { (c: Long) =>
      val members = label.filter(_._2 == c).keySet
      val intra = edges.count { case (u, v) => members(u) && members(v) }.toLong
      val dC = members.toSeq.map(deg).sum
      (c, members.size.toLong, intra, dC, 4L * m * intra - dC * dC)
    }.toSet
    val got = Graph.graph_modularity(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    CacheRegistry.releaseAll()
    assert(got == expected, "modularity decomposition diverged from sequential replay")
    // identity check: sum of intra_edges <= E, degrees sum to 2E
    assert(expected.toSeq.map(_._3).sum <= m)
    assert(expected.toSeq.map(_._4).sum == 2L * m, "degree mass must sum to 2E")
  }

  test("graph_label_prop equals the sequential synchronous-LPA replay exactly") {
    val li = spark.read.parquet(s"$sf0001/lineitem.parquet")
      .selectExpr("l_orderkey", "l_suppkey").distinct().collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val byOrder = li.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val support = byOrder.values.toSeq
      .flatMap(sks => for (i <- sks.indices; j <- i + 1 until sks.size
                           if sks(i) != sks(j)) yield (sks(i), sks(j)))
      .groupBy(identity).view.mapValues(_.size).toMap
    val edges: Set[(Long, Long)] = support.filter(_._2 >= 2).keySet
    val adj = (edges.toSeq ++ edges.toSeq.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var label = adj.keySet.map(v => v -> v).toMap
    for (_ <- 1 to 6) {
      label = adj.map { case (v, nbrs) =>
        val votes = nbrs.map(label).groupBy(identity).view.mapValues(_.size)
        // most frequent, tie -> smallest label: max by (cnt, -label)
        v -> votes.maxBy { case (l, c) => (c, -l) }._1
      }
    }
    val got = Graph.graph_label_prop(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    CacheRegistry.releaseAll()
    assert(got.map(g => g._1 -> g._2).toMap == label,
      "distributed LPA labels diverged from sequential replay")
    val sizes = label.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    assert(got.forall(g => g._3 == sizes(g._2)), "community_size wrong")
    // premise: propagation actually merged something (the sf0.001
    // co-supplier graph is dense by birthday collision, so full
    // collapse to one community is the CORRECT outcome there — the
    // non-degeneracy gate is that labels moved at all)
    val nComms = sizes.size
    assert(nComms < adj.size,
      s"degenerate communities: $nComms of ${adj.size} nodes")
  }

  /** Shared zero-Exchange gate for the persisted-index superstep
    * plans: the bucketed index scan must feed its SortMergeJoin with
    * no Exchange on the index branch — only the node-sized state side
    * shuffles. */
  private def assertIndexBranchExchangeFree(
      df: org.apache.spark.sql.DataFrame, tblPat: String): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"no SMJ:\n${plan.take(1200)}")
    assert(plan.contains("Bucketed: true"),
      s"index scan not bucketed:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toVector
    val idxLine = lines.indexWhere(_.contains(tblPat))
    val smjLine = lines.lastIndexWhere(_.contains("SortMergeJoin"), idxLine)
    assert(idxLine > smjLine && smjLine >= 0, s"plan shape unexpected at $tblPat")
    val between = lines.slice(smjLine + 1, idxLine)
    assert(!between.exists(_.contains("Exchange")),
      s"Exchange on the $tblPat branch:\n${between.mkString("\n")}")
  }

  test("graph_kcore_index / graph_jaccard_index equal their in-flight forms; part-graph index scans stay Exchange-free") {
    val kc = Graph.graph_kcore_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    val kcFlight = Graph.graph_kcore(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    assert(kc.nonEmpty && kc == kcFlight,
      "indexed k-core peel diverged from the in-flight derivation")
    val jc = Graph.graph_jaccard_index(spark, sf0001).collect().map(_.toSeq).toSeq
    CacheRegistry.releaseAll()
    val jcFlight = Graph.graph_jaccard_links(spark, sf0001).collect().map(_.toSeq).toSeq
    CacheRegistry.releaseAll()
    assert(jc.nonEmpty && jc == jcFlight,
      "indexed jaccard top-100 diverged from the in-flight derivation")
    // the lifecycle claims, held mechanically on the one inspectable
    // plan (the kcore loop's rounds rebind to LogicalRDDs): the
    // node-bucketed adjacency feeds the fan-cap window with no
    // Exchange, and the (u,v)-bucketed edge set hash-builds its
    // anti-join with no Exchange (and no SMJ sorting the wedge stream)
    val plan = Graph.jaccardIndexPlan(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"), s"no bucketed scan:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toVector
    val adjScans = lines.zipWithIndex.collect {
      case (l, i) if l.contains("default.pa_adj") => i }
    assert(adjScans.nonEmpty, "no pa_adj scan in the plan")
    adjScans.foreach { i =>
      val wLine = lines.lastIndexWhere(_.contains("Window"), i)
      assert(wLine >= 0, "no Window above the adjacency scan")
      assert(!lines.slice(wLine + 1, i).exists(_.contains("Exchange")),
        s"Exchange between the fan-cap window and the pa_adj scan:\n${lines.slice(wLine + 1, i).mkString("\n")}")
    }
    val edgeScan = lines.indexWhere(_.contains("default.pa_edges"))
    assert(edgeScan >= 0, "no pa_edges scan in the plan")
    // the scan's PARENT (nearest shallower node above — the streamed
    // side's subtree sits between them at deeper/equal indent) must be
    // the anti-join itself: the bucketed edge set feeds its SHJ with
    // no Exchange on its own branch
    def depth(l: String): Int = {
      val m = Seq(l.indexOf("+- "), l.indexOf(":- ")).filter(_ >= 0)
      if (m.isEmpty) -1 else m.min
    }
    val scanDepth = depth(lines(edgeScan))
    assert(scanDepth >= 0, "unparseable scan line")
    // walk ancestors (nearest shallower lines) through benign unary
    // nodes until the first join/exchange — it must be the SHJ
    var at = edgeScan
    var cur = depth(lines(edgeScan))
    var found = ""
    while (found.isEmpty && at > 0) {
      at = lines.lastIndexWhere(l => depth(l) >= 0 && depth(l) < cur, at)
      assert(at >= 0, "ran out of ancestors above the pa_edges scan")
      cur = depth(lines(at))
      val l = lines(at)
      if (l.contains("Join") || l.contains("Exchange")) found = l
    }
    assert(found.contains("ShuffledHashJoin"),
      s"pa_edges branch hits a non-SHJ boundary first: $found")
    assert(lines(edgeScan).contains("Bucketed: true"),
      "pa_edges scan not bucketed")
  }

  test("graph_pagerank_index equals graph_pagerank and joins the edge index without a corpus-side Exchange") {
    val viaIndex = Graph.graph_pagerank_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    val inFlight = Graph.graph_pagerank(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    assert(viaIndex.nonEmpty && viaIndex == inFlight,
      "indexed pagerank diverged from the in-flight derivation")
    // the lifecycle claim, held mechanically: a superstep joins ranks
    // to the PRE-BUCKETED edge table — no Exchange, no sort on the
    // corpus-scale side (the per-round plan is inspected directly;
    // the loop's LogicalRDD rebind hides it from the final query)
    assertIndexBranchExchangeFree(
      Graph.pagerankIndexRoundPlan(spark, sf0001), "default.pr_edges")
  }

  test("graph_pagerank_index_delta: append-grown generations stay bucketed, out_w exact, ranks identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod, lit, sum => fsum}
    val viaDelta = Graph.graph_pagerank_index_delta(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    val viaIndex = Graph.graph_pagerank_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    assert(viaDelta.nonEmpty && viaDelta == viaIndex,
      "append-grown index diverged from the build-once index (append != rebuild)")
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sf0001.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val grown = spark.table(s"pr_edges_d_$tag")
    val base = spark.table(s"pr_edges_$tag")
    // both generations really landed, and they partition the edge set
    assert(grown.filter($"gen" === 0).count() > 0, "base generation empty")
    assert(grown.filter($"gen" === 1).count() > 0, "delta generation empty")
    assert(grown.count() == base.count(),
      "grown index must hold exactly the rebuild's edge set")
    assert(grown.filter($"gen" === 1)
      .filter(pmod($"src", lit(10L)) =!= 0).count() == 0,
      "delta generation carries a base-slice src")
    // the denormalized divisor survived the append exactly: every
    // row's baked out_w equals the src's total weight across the
    // WHOLE grown table
    val badOutW = grown.groupBy($"src", $"out_w")
      .agg(fsum($"w").as("tot"))
      .filter($"out_w" =!= $"tot").count()
    assert(badOutW == 0, s"$badOutW src groups carry a stale out_w")
    // two write generations, one bucketed Exchange-free scan
    assertIndexBranchExchangeFree(
      Graph.pagerankDeltaIndexRoundPlan(spark, sf0001), "default.pr_edges_d")
  }

  test("graph_pagerank_index_merge: a src in BOTH generations ends with the globally-correct out_w, ranks identical") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{pmod, lit, sum => fsum, countDistinct}
    val viaMerge = Graph.graph_pagerank_index_merge(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    val viaIndex = Graph.graph_pagerank_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    assert(viaMerge.nonEmpty && viaMerge == viaIndex,
      "keyed-merge-grown index diverged from the build-once index (merge != rebuild)")
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sf0001.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val merged = spark.table(s"pr_edges_k_${tag}_m")
    val full = spark.table(s"pr_edges_$tag")
    // the merge models the RE-CRAWL case the append leg cannot: srcs
    // present in BOTH the base snapshot (dst % 3 != 0 out-links) and
    // the delta (dst % 3 = 0) — require the case to actually occur,
    // otherwise this test gates nothing
    val bothGens = merged.select($"src",
        (pmod($"dst", lit(3L)) === 0).cast("int").as("isDelta"))
      .groupBy($"src").agg(countDistinct($"isDelta").as("sides"))
      .filter($"sides" === 2).count()
    assert(bothGens > 0, "no src spans base and delta — the split gates nothing")
    // the commit point dropped the pre-merge snapshot generation
    assert(!spark.catalog.tableExists(s"pr_edges_k_$tag"),
      "pre-merge base generation survived the swap")
    // the merged table holds exactly the rebuild's edge set…
    assert(merged.count() == full.count(),
      "merged index must hold exactly the rebuild's edge set")
    // …and every row's baked out_w equals its src's total weight over
    // the WHOLE merged table — i.e. touched groups were recomputed,
    // not carried stale (the denormalization boundary this leg closes)
    val badOutW = merged.groupBy($"src", $"out_w")
      .agg(fsum($"w").as("tot"))
      .filter($"out_w" =!= $"tot").count()
    assert(badOutW == 0, s"$badOutW src groups carry a stale out_w after the merge")
    // the merged generation serves supersteps bucketed, Exchange-free
    assertIndexBranchExchangeFree(
      Graph.pagerankMergeIndexRoundPlan(spark, sf0001), "default.pr_edges_k")
  }

  test("graph_lpa_index equals graph_label_prop and joins the adjacency index without a corpus-side Exchange") {
    val viaIndex = Graph.graph_lpa_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    CacheRegistry.releaseAll()
    val inFlight = Graph.graph_label_prop(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    CacheRegistry.releaseAll()
    assert(viaIndex.nonEmpty && viaIndex == inFlight,
      "indexed LPA diverged from the in-flight derivation")
    assertIndexBranchExchangeFree(
      Graph.lpaIndexRoundPlan(spark, sf0001), "default.adj_cosupp")
  }

  test("graph_bfs_index equals graph_bfs_layers over the SAME adjacency index graph_lpa_index uses") {
    val viaIndex = Graph.graph_bfs_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    CacheRegistry.releaseAll()
    val inFlight = Graph.graph_bfs_layers(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    CacheRegistry.releaseAll()
    assert(viaIndex.nonEmpty && viaIndex == inFlight,
      "indexed BFS diverged from the in-flight derivation")
  }

  test("graph_triangles_index equals graph_triangles; every index scan feeds its join Exchange-free") {
    val viaIndex = Graph.graph_triangles_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    val inFlight = Graph.graph_triangles(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    CacheRegistry.releaseAll()
    assert(viaIndex.nonEmpty && viaIndex == inFlight,
      "indexed triangles diverged from the in-flight derivation")
    // each join reads the index layout bucketed on exactly its keys —
    // the wedge self-join the src layout (both legs), the closure
    // probe the (src, dst) layout: no Exchange above ANY of the three
    // index scans (the wedge stream's re-key onto (x, y) is the one
    // shuffle the algorithm genuinely needs)
    val plan = Graph.trianglesIndexPlan(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin") && plan.contains("Bucketed: true"),
      s"expected bucketed SHJs:\n${plan.take(1500)}")
    // no sort-merge anywhere: SMJ would sort the O(E^1.5) wedge
    // stream (the measured 2x regression the shuffle_hash hints fix)
    assert(!plan.contains("SortMergeJoin"),
      s"SMJ re-appeared in the indexed-triangles plan:\n${plan.take(1500)}")
    val lines = plan.linesIterator.toVector
    val scans = lines.zipWithIndex.collect {
      case (l, i) if l.contains("default.tri_edges") ||
        l.contains("default.tri_close") => i }
    assert(scans.size == 3, s"expected 3 index scans, got ${scans.size}")
    scans.foreach { idxLine =>
      val shjLine = lines.lastIndexWhere(_.contains("ShuffledHashJoin"), idxLine)
      assert(shjLine >= 0, "no SHJ above an index scan")
      val between = lines.slice(shjLine + 1, idxLine)
      assert(!between.exists(_.contains("Exchange")),
        s"Exchange above the index scan at line $idxLine:\n${between.mkString("\n")}")
    }
  }

  test("r19 array-pair edge derivations equal the os self-join they replaced") {
    // the r19 rewrite: per-order sorted-array pair enumeration must
    // produce EXACTLY the rows of the pre-r19 distinct self-join, for
    // both the co-supplier (support >= 2) and part (distinct) graphs
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val osS = Tables.lineitem(spark, sf0001)
      .select($"l_orderkey".as("ok"), $"l_suppkey".as("sk")).distinct()
    val oldSupp = osS.as("a").join(osS.as("b"),
        $"a.ok" === $"b.ok" && $"a.sk" < $"b.sk")
      .groupBy($"a.sk".as("u"), $"b.sk".as("v"))
      .agg(count(lit(1)).as("support"))
      .filter($"support" >= 2).select($"u", $"v")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val newSupp = Graph.coSupplierEdges(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(newSupp == oldSupp)
    val osP = Tables.lineitem(spark, sf0001)
      .select($"l_orderkey".as("ok"), $"l_partkey".as("pk")).distinct()
    val oldPart = osP.as("a").join(osP.as("b"),
        $"a.ok" === $"b.ok" && $"a.pk" < $"b.pk")
      .select($"a.pk".as("u"), $"b.pk".as("v")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val newPart = Graph.partEdges(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(newPart == oldPart)
  }

  test("r20 packed closure key: injective and exactly invertible on the edge domain") {
    // trianglesBody's closure probe packs (x, y) into one long via
    // shiftleft(x, 32) | y. Precondition: suppkeys non-negative and
    // < 2^31 (TPC-H: s_suppkey <= 10^4 * SF; SF 10^5 ~ 100 TB gives
    // 10^9 < 2^31). Gate the precondition on the actual data and the
    // round-trip/injectivity on every oriented pair, both directions —
    // a violation would silently merge distinct probe keys.
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val mm = Tables.lineitem(spark, sf0001)
      .agg(min($"l_suppkey"), max($"l_suppkey")).head()
    assert(mm.getLong(0) >= 0L && mm.getLong(1) < (1L << 31),
      s"suppkey domain [${mm.getLong(0)}, ${mm.getLong(1)}] breaks 31-bit packing")
    val e = Graph.coSupplierEdges(spark, sf0001)
    val pairs = e.select($"u", $"v").union(e.select($"v".as("u"), $"u".as("v")))
    val bad = pairs
      .select($"u", $"v", shiftleft($"u", 32).bitwiseOR($"v").as("p"))
      .filter(!(shiftright($"p", 32) === $"u" &&
        $"p".bitwiseAND(lit(0xFFFFFFFFL)) === $"v"))
      .count()
    assert(bad == 0L, s"$bad pairs fail the pack/unpack round-trip")
    assert(pairs.distinct().count() ===
      pairs.select(shiftleft($"u", 32).bitwiseOR($"v")).distinct().count(),
      "packing merged distinct pairs")
  }

  test("r20 partitioning-preserving rebind: identical rows, layout survives the rebind") {
    // the superstep loops rebind each round's materialized state to a
    // constant-size leaf; the r20 rebind (Rebind.preserving, the
    // localCheckpoint device) must return the same rows AND advertise
    // the cache's hash partitioning so the next round's node-keyed
    // aggregate/join stops re-Exchanging the state.
    import spark.implicits._
    val df = spark.range(0L, 1000L).selectExpr("id % 37 AS k", "id AS v")
      .repartition($"k")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      df.count()
      val rb = org.apache.spark.sql.graft.Rebind.preserving(df)
      assert(rb.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
        df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet)
      val plan = rb.groupBy($"k").count().queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"node-keyed aggregate over the rebound state still shuffles:\n$plan")
    } finally df.unpersist(blocking = true)

    // the claim needs a LOADED cache: a frame that has not run (here
    // with its Exchange still to execute), or a cache not yet filled,
    // degrades to UnknownPartitioning and its aggregate shuffles again
    import org.apache.spark.sql.functions.{count, lit}
    import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, UnknownPartitioning}
    import org.apache.spark.sql.execution.LogicalRDD
    def claimed(rebound: org.apache.spark.sql.DataFrame): Partitioning =
      rebound.queryExecution.analyzed.collectFirst { case l: LogicalRDD => l.outputPartitioning }.get
    val raw = spark.range(0L, 1000L).selectExpr("id % 37 AS k", "id AS v").repartition($"k")
    val unrun = org.apache.spark.sql.graft.Rebind.preserving(raw)
    assert(claimed(unrun).isInstanceOf[UnknownPartitioning])
    assert(unrun.groupBy($"k").count().queryExecution.executedPlan.toString.contains("Exchange"))
    val unfilled = raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try assert(claimed(org.apache.spark.sql.graft.Rebind.preserving(unfilled))
      .isInstanceOf[UnknownPartitioning])
    finally unfilled.unpersist(blocking = true)

    // the superstep driver's round hands back a rebound state that
    // keeps the round's hash(node) layout, and the next k-core round
    // over it (decrement aggregate + state join) runs with no shuffle
    val e0 = Graph.partEdges(spark, sf0001)
    val adj = e0.select($"u".as("node"), $"v".as("nbr"))
      .union(e0.select($"v".as("node"), $"u".as("nbr")))
      .repartition($"node")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      adj.count()
      val round = graft.operators.Superstep.materialize(
        Graph.kcoreInit(adj.groupBy($"node").agg(count(lit(1)).as("deg")), 65),
        Graph.kcoreFlagged(1))
      try {
        claimed(round.state) match {
          case h: HashPartitioning =>
            assert(h.expressions.map(_.sql) == Seq("node"), s"state partitioned by $h")
          case other => fail(s"round state lost its hash(node) layout: $other")
        }
        assert(round.n > 0, "premise: round 0 flags nodes for removal")
        val next = Graph.kcoreStep(adj, round.state, 65, 1)
        next.collect()
        val shuffles = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
          .collect(next.queryExecution.executedPlan) {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
          }
        assert(shuffles.isEmpty,
          s"the next k-core round shuffles:\n${next.queryExecution.executedPlan}")
      } finally round.cache.unpersist(blocking = true)
    } finally adj.unpersist(blocking = true)
  }

  test("r19 aligned bucketed writes land one file per bucket") {
    // the r19 small-files fix: builders repartition on the bucket
    // mapping before their bucketed writes, so each of the 32 buckets
    // gets at most ONE data file (was one per (task, bucket): 512-2048
    // files that every superstep scan re-opened)
    Graph.graph_triangles_index(spark, sf0001).count()
    graft.CacheRegistry.releaseAll(); spark.catalog.clearCache()
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sf0001.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    for (tbl <- Seq(s"tri_edges_$tag", s"tri_close_$tag")) {
      val loc = new java.io.File(new java.net.URI(
        spark.sql(s"DESCRIBE TABLE EXTENDED $tbl")
          .filter("col_name = 'Location'").head().getString(1)))
      val files = Option(loc.listFiles()).getOrElse(Array.empty)
        .count(_.getName.endsWith(".parquet"))
      assert(files <= 32, s"$tbl has $files data files for 32 buckets")
    }
  }
}
