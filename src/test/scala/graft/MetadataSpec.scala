package graft

import graft.operators.MetadataOps
import org.apache.spark.sql.functions._

/** Metadata-analytics guarantees beyond the SQL oracle: the
  * approx-percentile sketch (the unbounded-group scale path that
  * fs_size_percentiles' scaladoc promises) must land on the true
  * order statistic. */
class MetadataSpec extends SparkSpec {

  test("percentile_approx lands within one order-stat position of the true quantile") {
    import spark.implicits._
    // percentile_approx returns an actual data value, so the honest
    // gate is RANK-based (within one position of the true order
    // statistic), not distance to the interpolated exact percentile —
    // on small groups adjacent order stats can differ by >5% and the
    // interpolated value falls between them.
    val sorted = Tables.documents(spark, sf001)
      .select($"source", $"n_chars").as[(String, Long)].collect()
      .groupBy(_._1).map { case (s, rows) => s -> rows.map(_._2).sorted }
    val approx = Tables.documents(spark, sf001)
      .groupBy($"source")
      .agg(percentile_approx($"n_chars", lit(0.5), lit(10000)).as("p50"),
        percentile_approx($"n_chars", lit(0.9), lit(10000)).as("p90"),
        percentile_approx($"n_chars", lit(0.99), lit(10000)).as("p99"))
      .collect().map(r => r.getString(0) ->
        Seq(r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(approx.keySet == sorted.keySet)
    approx.foreach { case (src, got) =>
      val vals = sorted(src)
      got.zip(Seq(0.5, 0.9, 0.99)).foreach { case (a, q) =>
        val idx = math.ceil(q * vals.length).toInt - 1
        val allowed = (math.max(0, idx - 1) to math.min(vals.length - 1, idx + 1))
          .map(vals).toSet
        assert(allowed.contains(a),
          s"$src q=$q: sketch returned $a, true order stats around rank $idx: $allowed")
      }
    }
  }

  test("resolvePaths converges on a 3000-deep chain within the doubling bound") {
    import spark.implicits._
    // path chain 1 ← 2 ← … ← 3000 (root = 1): sequential resolution
    // needs 2999 rounds; pointer doubling must finish in
    // ceil(log2(2999)) = 12 — maxIter 13 fails loudly if the loop
    // ever degrades to linear stepping.
    val inodes = (1 to 3000).map(i =>
        (i.toLong, if (i == 1) None else Some(i - 1L), s"n$i"))
      .toDF("id", "parent_id", "name")
    val got = MetadataOps.resolvePaths(inodes, maxIter = 13)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    assert(got.length == 3000)
    assert(got.head == ((1L, "", 0L)))
    assert(got(1) == ((2L, "/n2", 1L)))
    val deepest = got.last
    assert(deepest._1 == 3000L && deepest._3 == 2999L)
    assert(deepest._2 == (2 to 3000).map(i => s"/n$i").mkString)
  }

  test("resolvePaths cut off before convergence fails loudly and leaves no cache entry") {
    import spark.implicits._
    val inodes = (1 to 3000).map(i =>
        (i.toLong, if (i == 1) None else Some(i - 1L), s"n$i"))
      .toDF("id", "parent_id", "name")
    val before = org.apache.spark.sql.CacheEntries(spark)
    val err = intercept[IllegalStateException](MetadataOps.resolvePaths(inodes, maxIter = 2))
    assert(err.getMessage.contains("did not converge in 2 rounds"), err.getMessage)
    assert(org.apache.spark.sql.CacheEntries(spark) == before,
      "a non-converged resolvePaths left a cache entry behind")
  }

  test("fs_path_resolve paths equal the direct source/lang reconstruction") {
    import spark.implicits._
    val got = MetadataOps.fs_path_resolve(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2),
        r.getBoolean(3), r.getLong(4))).toMap
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"lang", $"n_chars")
      .as[(Long, String, String, Long)].collect()
    // every file inode resolves to /source/lang/doc_<id>.txt at depth 3
    docs.foreach { case (id, src, lang, n) =>
      assert(got(id + 1000000L) == ((s"/$src/$lang/doc_$id.txt", 3L, false, n)))
    }
    // the directory set is exactly root ∪ sources ∪ (source, lang)s
    val dirs = got.filter(_._2._3).values.map(_._1).toSet
    val expectDirs = Set("/") ++ docs.map(d => s"/${d._2}").toSet ++
      docs.map(d => s"/${d._2}/${d._3}").toSet
    assert(dirs == expectDirs)
    assert(got(got.filter(_._2._3).keys.min) == (("/", 0L, true, 0L)))
  }

  test("fs_nearest_quota equals a naive longest-prefix resolution and covers all branches") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf001)
      .select($"doc_id", $"source", $"lang", $"n_chars")
      .as[(Long, String, String, Long)].collect()
    // driver-side re-synthesis: dense-rank ids over the sorted dir set
    val dirPaths = (Seq("") ++ docs.map(d => s"/${d._2}").distinct ++
      docs.map(d => s"/${d._2}/${d._3}").distinct).distinct.sorted
    val dirId = dirPaths.zipWithIndex.map { case (p, i) => p -> (i + 1L) }.toMap
    def directive(p: String): Boolean = {
      val parts = p.split("/")
      parts.length match {
        case 0 | 1 => p.isEmpty
        case 2 => parts(1).drop(3).toLong % 2 == 0
        case _ => Set("en", "es")(parts(2)) || parts(1).drop(3).toLong % 5 == 0
      }
    }
    val quota = dirPaths.filter(directive)
      .map(p => p -> (dirId(p) * 97 + 13) * (if (p.isEmpty) 192L else 256L))
      .toMap
    // naive per-file nearest-ancestor walk
    val governed = docs.map { case (_, src, lang, n) =>
      val anc = Seq(s"/$src/$lang", s"/$src", "").find(quota.contains).get
      anc -> n
    }
    val expect = quota.map { case (p, q) =>
      val mine = governed.filter(_._1 == p).map(_._2)
      val used = mine.sum
      (if (p.isEmpty) "/" else p) ->
        ((q, mine.size.toLong, used, used * 1000000L / q, used > q))
    }
    val got = MetadataOps.fs_nearest_quota(spark, sf001).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))).toMap
    assert(got == expect)
    // every branch the operator promises is actually exercised here
    assert(got.values.map(_._2).sum == docs.length, "files not conserved")
    assert(got.values.exists(_._5), "no over-quota directive")
    assert(got.values.exists(_._2 == 0), "no fully-masked directive")
    // masking: files under a directive'd lang dir never bill the source
    val src0Files = docs.filter(d => d._2 == "src0")
    assert(src0Files.nonEmpty && got("/src0")._2 == 0)
  }

  test("fs_zorder_layout tiles are aligned rectangles and prune where a sorted layout cannot") {
    import spark.implicits._
    val man = MetadataOps.fs_zorder_layout(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))
    // recompute (a, b) driver-side for conservation + the baseline
    val rows = Tables.events(spark, sf001)
      .select($"user_id", $"ts").as[(Long, java.sql.Timestamp)].collect()
      .map { case (u, t) => (u % 1024, (t.getTime / 1000 / 3600) % 1024) }
    assert(man.map(_._2).sum == rows.length, "rows not conserved")
    // the Z-property: every tile is a 32×32-ALIGNED rectangle in (a, b)
    man.foreach { case (_, _, amin, amax, bmin, bmax) =>
      assert(amin / 32 == amax / 32 && bmin / 32 == bmax / 32,
        s"tile not aligned: $amin..$amax × $bmin..$bmax")
    }
    // a b-only predicate over one populated 32-wide window: the
    // Z-ordered manifest skips all but (roughly) one tile row…
    val b0 = (man.map(_._5).min / 32 + 2) * 32
    val zSurv = man.count(t => t._6 >= b0 && t._5 <= b0 + 31)
    assert(zSurv > 0 && zSurv <= math.max(1, man.length / 8),
      s"z-order pruned only to $zSurv of ${man.length}")
    // …while a layout sorted on `a` alone has every file spanning the
    // full b range: the same predicate prunes (almost) nothing
    val aSorted = rows.groupBy(_._1 / 32).values
      .map(g => (g.map(_._2).min, g.map(_._2).max))
    val aSurv = aSorted.count(t => t._2 >= b0 && t._1 <= b0 + 31)
    assert(aSurv >= math.ceil(aSorted.size * 0.8).toInt,
      s"baseline unexpectedly prunable: $aSurv of ${aSorted.size}")
  }

  test("fs_chargeback: tier bytes conserve replicas and shares sum to ~1e6") {
    import spark.implicits._
    val got = MetadataOps.fs_chargeback(spark, sf0001).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(got.nonEmpty)
    // every replica is billed exactly once: disk + archive = 3 × logical
    val logical = Tables.documents(spark, sf0001).filter($"n_chars" >= 0)
      .groupBy($"source").agg(sum($"n_chars").as("b"))
      .as[(String, Long)].collect().toMap
    got.foreach { case (src, (_, disk, arch, cents, _)) =>
      assert(disk + arch == 3 * logical(src), s"$src replica bytes leak")
      assert(cents == (disk * 5 + arch * 2 + 1023) / 1024, s"$src bill formula")
    }
    // shares partition the bill (truncation deficit < |sources| ppm)
    val shares = got.map(_._2._5).sum
    assert(shares <= 1000000L && shares > 1000000L - got.length)
    // the placement model actually splits tiers (both nonzero somewhere)
    assert(got.exists(_._2._2 > 0) && got.exists(_._2._3 > 0))
  }

  test("fs_cache_plan: admission is a prefix per pool, stats reconcile, both branches populated") {
    import spark.implicits._
    val rows = MetadataOps.fs_cache_plan(spark, sf0001)
      .select($"pool", $"source", $"lang", $"bytes_needed", $"admitted",
        $"pool_needed", $"pool_limit", $"pool_overlimit_bytes")
      .collect()
    val byPool = rows.groupBy(_.getString(0))
    byPool.foreach { case (pool, dirs) =>
      // checkLimit admits a plan-time PREFIX of the directive order:
      // bytes_needed is strictly positive, so once the cumulative
      // demand crosses the limit no later directive re-admits.
      val ordered = dirs.sortBy(r => (r.getString(1), r.getString(2)))
      val admitted = ordered.map(_.getBoolean(4))
      assert(!admitted.dropWhile(identity).contains(true),
        s"$pool: admission not a prefix: ${admitted.mkString(",")}")
      // Pool stats reconcile with the member directives
      // (CachePool.bytesNeeded accumulation + getBytesOverlimit).
      val needed = ordered.map(_.getLong(3)).sum
      assert(ordered.forall(_.getLong(5) == needed))
      val over = math.max(0L, needed - ordered.head.getLong(6))
      assert(ordered.forall(_.getLong(7) == over))
    }
    // The deterministic limits must exercise BOTH admission branches:
    // an oversubscribed pool (rejections) and a pool admitting all.
    assert(byPool.exists(_._2.exists(!_.getBoolean(4))), "no rejected directive")
    assert(byPool.exists(_._2.forall(_.getBoolean(4))), "no fully-admitted pool")
  }

  test("fs_trash_expunge: statuses follow the deletionInterval clock exactly") {
    import spark.implicits._
    val plan = MetadataOps.fs_trash_expunge(spark, sf0001).collect()
    assert(plan.nonEmpty)
    val maxCp = plan.map(_.getTimestamp(1)).max
    plan.foreach { r =>
      val age = r.getLong(4)
      val expect = if (age == 0) "CURRENT" else if (age > 3) "EXPUNGE" else "RETAINED"
      assert(r.getString(5) == expect, s"row $r")
      assert(age >= 0, s"checkpoint newer than the clock: $r")
    }
    // The newest checkpoint day is the un-rolled Current bucket;
    // TrashPolicyDefault never expunges it.
    assert(plan.filter(_.getTimestamp(1) == maxCp).forall(_.getString(5) == "CURRENT"))
    // Deletions conserve: plan files/bytes == the raw error-event log.
    val raw = Tables.events(spark, sf0001)
      .filter($"event_type" === "error")
      .agg(count(lit(1)), sum($"event_id" % 997 + 64)).head()
    assert(plan.map(_.getLong(2)).sum == raw.getLong(0))
    assert(plan.map(_.getLong(3)).sum == raw.getLong(1))
  }

  test("fs_placement_audit matches a naive per-block recomputation") {
    import spark.implicits._
    // Independent driver-side recomputation of the whole sf0.001
    // placement state (500 docs × ≤9 blocks — test-scale only).
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"n_chars").as[(Long, String, Long)].collect()
    val expected = docs.flatMap { case (doc, src, n) =>
      val nBlk = math.max(1L, (n + 63) / 64)
      (0L until nBlk).map { blk =>
        val bytes = math.max(0L, math.min(64L, n - blk * 64))
        val nodes = Seq(0L, 1L, 2L).map(o => (doc * (131 + 7 * o) + blk * 17) % 16)
        val dup = nodes.distinct.size < 3
        val oneRack = nodes.map(_ / 8).distinct.size < 2
        (src, dup, oneRack, if (dup || oneRack) bytes else 0L)
      }
    }.groupBy(_._1).map { case (src, blks) =>
      src -> (blks.length.toLong, blks.count(_._2).toLong, blks.count(_._3).toLong,
        blks.count(b => b._2 || b._3).toLong, blks.map(_._4).sum)
    }
    val got = MetadataOps.fs_placement_audit(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got == expected)
    // The degraded placement function must actually produce findings
    // (doc ≡ 0 mod 8 ⇒ a same-node replica pair) — an all-clean audit
    // would be vacuous.
    assert(got.values.map(_._4).sum > 0, "audit found no violations")
  }

  test("fs_balancer_plan conserves bytes/replicas and classifies against the band") {
    import spark.implicits._
    val plan = MetadataOps.fs_balancer_plan(spark, sf0001).collect()
    assert(plan.map(_.getAs[Long]("node_id")).toSet === (0L until 16L).toSet)
    // Blocks partition each file's bytes, 3 replicas each — cluster
    // totals must conserve exactly (independent of the placement hash).
    val docs = Tables.documents(spark, sf0001)
      .agg(sum($"n_chars"), sum(greatest(lit(1L), ceil($"n_chars" / 64.0).cast("long"))))
      .as[(Long, Long)].first()
    assert(plan.map(_.getAs[Long]("used_bytes")).sum === 3 * docs._1)
    assert(plan.map(_.getAs[Long]("n_replicas")).sum === 3 * docs._2)
    plan.foreach { r =>
      val (cap, used) = (r.getAs[Long]("capacity_bytes"), r.getAs[Long]("used_bytes"))
      val (util, avg) = (r.getAs[Long]("util_ppm"), r.getAs[Long]("avg_util_ppm"))
      val move = r.getAs[Long]("bytes_to_move")
      assert(util === used * 1000000L / cap)
      val expected = if (util > avg + 100000) "OVER"
                     else if (util < avg - 100000) "UNDER" else "OK"
      assert(r.getAs[String]("state") === expected)
      if (expected == "OVER") {
        assert(move > 0 && move <= used)
        // Moving the scheduled bytes re-enters the band (KiB-granular
        // truncation can leave at most ~2 KiB-worth of ppm behind).
        val after = (used - move) * 1000000L / cap
        assert(after <= avg + 100000 + (2048L * 1000000 / cap) + 1,
          s"node ${r.getAs[Long]("node_id")}: after-move util $after vs band ${avg + 100000}")
      } else assert(move === 0L)
    }
    // The capacity model (1–4x unit) must actually spread utilization:
    // at least one node outside the band proves the plan is non-trivial.
    assert(plan.exists(_.getAs[String]("state") != "OK"))
  }

  test("fs_fsck: rack-aware placement survives the dead rack-slice; HOF matches explode") {
    import spark.implicits._
    val fsck = MetadataOps.fs_fsck(spark, sf0001).collect()
    assert(fsck.nonEmpty)
    fsck.foreach { r =>
      assert(r.getAs[Long]("missing") === 0L, "no block may lose all replicas")
      assert(r.getAs[Long]("min_live") >= 1L)
      assert(r.getAs[Long]("critical") <= r.getAs[Long]("under_replicated"))
      assert(r.getAs[Long]("under_replicated") <= r.getAs[Long]("n_blocks"))
    }
    // Formulation equivalence: the in-row aggregate() count must agree
    // with an independent replica-explode + groupBy computation.
    val exploded = MetadataOps.blockReplicas(spark, sf0001)
      .withColumn("alive", $"node_id" < 13 &&
        pmod($"doc_id" + $"blk" * 31 + $"off" * 101, lit(97L)) =!= 0)
      .groupBy($"doc_id", $"source", $"blk")
      .agg(sum(when($"alive", 1L).otherwise(0L)).as("live"))
      .groupBy($"source")
      .agg(sum(when($"live" < 3, 1L).otherwise(0L)).as("under"))
      .as[(String, Long)].collect().toMap
    fsck.foreach { r =>
      assert(r.getAs[Long]("under_replicated") === exploded(r.getAs[String]("source")))
    }
    // The ~1% corrupt rule must actually bite somewhere at sf0.001.
    assert(fsck.map(_.getAs[Long]("under_replicated")).sum > 0)
  }

  test("fs_mover_plan schedules exactly the replica moves the policy diff requires") {
    import spark.implicits._
    val plan = MetadataOps.fs_mover_plan(spark, sf0001).collect()
    // Every source directory reports, with the policy its suffix pins.
    assert(plan.map(_.getAs[String]("source")).toSet ===
      (0 until 20).map(i => s"src$i").toSet)
    val pol = Array("HOT", "WARM", "COLD")
    plan.foreach { r =>
      val src = r.getAs[String]("source")
      assert(r.getAs[String]("policy") === pol(src.drop(3).toInt % 3))
      val (n, btm) = (r.getAs[Long]("n_blocks"), r.getAs[Long]("blocks_to_move"))
      assert(btm <= n && r.getAs[Long]("replicas_to_move") <= 3 * n)
      assert(r.getAs[Long]("conform_ppm") === (n - btm) * 1000000L / n)
    }
    // All three policy classes must be exercised, and COLD directories
    // (placement puts ~3/4 of replicas on DISK nodes) must need moves.
    assert(plan.map(_.getAs[String]("policy")).toSet === pol.toSet)
    assert(plan.filter(_.getAs[String]("policy") == "COLD")
      .forall(_.getAs[Long]("replicas_to_move") > 0))
    // Formulation equivalence: the in-row HOF count must agree with an
    // independent replica-explode computation of the same move schedule.
    val want = Map("HOT" -> 3L, "WARM" -> 1L, "COLD" -> 0L)
    val exploded = MetadataOps.blockReplicas(spark, sf0001)
      .groupBy($"doc_id", $"source", $"blk")
      .agg(sum(when($"node_id" < 12, 1L).otherwise(0L)).as("n_disk"))
      .as[(Long, String, Long, Long)].collect()
      .groupBy(_._2)
      .map { case (src, rows) =>
        src -> rows.map(r => math.abs(r._4 - want(pol(src.drop(3).toInt % 3)))).sum
      }
    plan.foreach { r =>
      assert(r.getAs[Long]("replicas_to_move") === exploded(r.getAs[String]("source")))
    }
  }

  test("fs_copy_verify verifies a faithful copy end to end") {
    import spark.implicits._
    val v = MetadataOps.fs_copy_verify(spark, sf0001)
    assert(v.count() > 0)
    assert(v.filter(!$"verified").count() === 0)
  }

  test("fs_copy_verify's fingerprints catch corruption, loss, and duplication") {
    import spark.implicits._
    val src = Tables.lineitem(spark, sf0001)
    def bad(dst: org.apache.spark.sql.DataFrame): Long =
      MetadataOps.copyFingerprints(src, "src")
        .join(MetadataOps.copyFingerprints(dst, "dst"), Seq("bucket"), "full_outer")
        .filter(!($"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
          $"src_sum" <=> $"dst_sum"))
        .count()
    // Target a row that actually exists at this SF.
    val k = src.orderBy($"l_orderkey", $"l_linenumber")
      .select($"l_orderkey", $"l_linenumber").as[(Long, Int)].head()
    val isTarget = $"l_orderkey" === k._1 && $"l_linenumber" === k._2
    // One flipped value in one row — the CopyMapper checksum case.
    val corrupted = src.withColumn("l_returnflag",
      when(isTarget, concat($"l_returnflag", lit("X")))
        .otherwise($"l_returnflag"))
    assert(bad(corrupted) >= 1)
    // One row silently dropped.
    assert(bad(src.filter(!isTarget)) >= 1)
    // One row duplicated an even number of times — invisible to the
    // XOR fold alone (x⊕x⊕x = x); the count leg must catch it.
    val twice = src.filter(isTarget)
    assert(bad(src.union(twice).union(twice)) >= 1)
    // And the faithful identity copy stays clean.
    assert(bad(src) === 0)
  }

  test("fs_copy_verify's full-outer join surfaces a WHOLE missing bucket") {
    import spark.implicits._
    // The reason the verify join is full-outer rather than inner: if
    // every row of one fingerprint bucket vanishes from the copy, an
    // inner join would drop that bucket from the report entirely and
    // the loss would grade as verified. Kill the most populous bucket
    // and demand it appears, null-sided and unverified.
    val src = Tables.lineitem(spark, sf0001)
    val fp = xxhash64(src.columns.sorted.map(col).toIndexedSeq: _*)
    val b = src.select(pmod(fp, lit(64L)).as("b"))
      .groupBy($"b").count().orderBy($"count".desc, $"b")
      .select($"b").as[Long].head()
    val bucketGone = src.filter(pmod(fp, lit(64L)) =!= b)
    val report = MetadataOps.copyFingerprints(src, "src")
      .join(MetadataOps.copyFingerprints(bucketGone, "dst"),
        Seq("bucket"), "full_outer")
      .withColumn("verified",
        $"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
          $"src_sum" <=> $"dst_sum")
    val missing = report.filter($"bucket" === b).collect()
    assert(missing.length === 1)
    assert(missing.head.getAs[Boolean]("verified") === false)
    assert(missing.head.isNullAt(missing.head.fieldIndex("dst_rows")))
  }

  test("fs_compact packs, round-trips, and verifies every bin") {
    import spark.implicits._
    val dest = java.nio.file.Files.createTempDirectory("graft_compact_spec")
      .resolve("containers").toString
    val v = MetadataOps.fs_compact(spark, sf0001, Some(dest)).collect()
    assert(v.nonEmpty)
    assert(v.forall(_.getAs[Boolean]("verified")))
    // every bin compacts to ONE container holding >= 1 file
    assert(v.forall(r => r.getAs[Long]("files_out") === 1L &&
      r.getAs[Long]("files_in") >= 1L))
    // the artifact is real: containers on disk slice back to the exact
    // small-file count
    val back = spark.read.parquet(dest)
    val smallCount = Tables.documents(spark, sf0001)
      .filter($"n_chars" < 256).count()
    assert(MetadataOps.unpackContainers(back).count() === smallCount)
    assert(back.agg(sum(size($"index"))).as[Long].head() === smallCount)
  }

  test("fs_compact's full-outer verify surfaces a LOST bin") {
    import spark.implicits._
    val dest = java.nio.file.Files.createTempDirectory("graft_compact_spec")
      .resolve("containers").toString
    MetadataOps.fs_compact(spark, sf0001, Some(dest)).count()
    val back = spark.read.parquet(dest)
    // kill the most populous bin from the read-back side — an inner
    // join would grade the loss as verified by omission
    val victim = back.orderBy($"files_in".desc, $"source", $"bin_id")
      .select($"source", $"bin_id").as[(String, Long)].head()
    val tampered = back.filter(!($"source" === victim._1 && $"bin_id" === victim._2))
    // recompute the pre-write binned rows exactly as fs_compact does
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"source").orderBy($"doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val binned = Tables.documents(spark, sf0001)
      .filter($"n_chars" < 256)
      .select($"doc_id", $"source", encode($"text", "UTF-8").as("payload"), $"n_chars")
      .withColumn("start_off", coalesce(sum($"n_chars").over(w), lit(0L)))
      .withColumn("bin_id", expr("start_off div 1024"))
      .select($"source", $"bin_id", $"doc_id", $"payload")
    val report = MetadataOps.compactVerify(binned, tampered)
      .filter($"source" === victim._1 && $"bin_id" === victim._2).collect()
    assert(report.length === 1)
    assert(report.head.getAs[Boolean]("verified") === false)
    // and corrupting one container's bytes (drop the leading byte —
    // every indexed slice shifts) breaks exactly that bin's
    // fingerprint; an APPENDED byte would be invisible because the
    // index slices never read past their recorded lengths
    val corrupted = back.withColumn("container",
      when($"source" === victim._1 && $"bin_id" === victim._2,
        expr("substring(container, 2)")).otherwise($"container"))
    val r2 = MetadataOps.compactVerify(binned, corrupted)
    assert(r2.filter(!$"verified").count() >= 1)
    assert(r2.filter($"verified").count() === r2.count() - 1)
  }

  test("fs_snapshot_apply replays the diff to an exact reconstruction of B") {
    import spark.implicits._
    val dest = java.nio.file.Files.createTempDirectory("graft_snap_spec")
      .resolve("snaps").toString
    val v = MetadataOps.fs_snapshot_apply(spark, sf0001, Some(dest)).collect()
    assert(v.nonEmpty)
    assert(v.forall(_.getAs[Boolean]("verified")),
      "replayed diff did not reproduce snapshot B")
    // an incomplete diff (one CREATE row lost) must break verification —
    // the replay misses an arrival, so some bucket's fingerprint differs.
    // (diff FIRST: it re-writes the snapshots, which would invalidate
    // previously-planned reads of them)
    val diff = MetadataOps.fs_snapshot_diff(spark, sf0001, Some(dest))
    val a = spark.read.parquet(s"$dest/snap_a")
    val b = spark.read.parquet(s"$dest/snap_b")
    val victim = diff.filter($"change" === "CREATE")
      .orderBy($"doc_id").select($"doc_id").as[Long].head()
    val tampered = diff.filter(!($"change" === "CREATE" && $"doc_id" === victim))
    val rebuilt = MetadataOps.applySnapshotDiff(a, tampered)
    // the same engine-portable FNV fingerprints the query now uses
    val report = MetadataOps.fnvFingerprints(rebuilt, "src")
      .join(MetadataOps.fnvFingerprints(b, "dst"), Seq("bucket"), "full_outer")
      .withColumn("verified",
        $"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
          $"src_sum" <=> $"dst_sum")
    assert(report.filter(!$"verified").count() >= 1,
      "lost diff row went undetected")
  }

  test("fs_table_merge: clause gating, end-to-end verification, lost/duplicated-key tamper") {
    import spark.implicits._
    // clause gating on a hand-built frame: matched-U updates,
    // matched-D deletes, UNMATCHED U/D are no-ops, matched-I keeps the
    // target row (NOT MATCHED clause doesn't fire), unmatched-I inserts
    val target = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("doc_id", "source", "n_chars")
    val delta = Seq(
      (1L, "a2", 11L, "U"),  // matched update
      (2L, "b", 0L, "D"),    // matched delete
      (3L, "cX", 99L, "I"),  // matched insert -> no-op, keeps (3,c,30)
      (4L, "d", 40L, "I"),   // unmatched insert
      (5L, "e", 50L, "U"),   // unmatched update -> no-op
      (6L, "f", 60L, "D"))   // unmatched delete -> no-op
      .toDF("doc_id", "source", "n_chars", "op")
    val got = MetadataOps.mergeUpsert(target, delta)
      .orderBy($"doc_id").as[(Long, String, Long)].collect().toSeq
    assert(got === Seq((1L, "a2", 11L), (3L, "c", 30L), (4L, "d", 40L)))

    // end-to-end: bucketed target, write, read-back, all buckets verify
    val v = MetadataOps.fs_table_merge(spark, sf0001).collect()
    assert(v.nonEmpty)
    assert(v.forall(_.getAs[Boolean]("verified")),
      "merge write→read-back did not reproduce the logical merge")

    // tamper gates: the fingerprint triple must catch a LOST key and a
    // DUPLICATED key in the merged output (xor alone is blind to even
    // duplication; count alone to swaps — the triple catches both)
    val docs = Tables.documents(spark, sf0001).select($"doc_id", $"source", $"n_chars")
    val expected = MetadataOps.mergeUpsert(docs, MetadataOps.mergeDelta(docs))
    val victim = expected.orderBy($"doc_id").select($"doc_id").as[Long].head()
    def report(tampered: org.apache.spark.sql.DataFrame) =
      MetadataOps.fnvFingerprints(expected, "src")
        .join(MetadataOps.fnvFingerprints(tampered, "dst"), Seq("bucket"), "full_outer")
        .withColumn("verified",
          $"src_rows" <=> $"dst_rows" && $"src_xor" <=> $"dst_xor" &&
            $"src_sum" <=> $"dst_sum")
    val lost = report(expected.filter($"doc_id" =!= victim))
    assert(lost.filter(!$"verified").count() >= 1, "lost key went undetected")
    val dup = report(expected.unionByName(expected.filter($"doc_id" === victim)))
    assert(dup.filter(!$"verified").count() >= 1, "duplicated key went undetected")
  }

  test("mergeUpsert replay is idempotent and conserves exactly the clause-implied key set") {
    import spark.implicits._
    // the claim tableMergeStream's replay guard leans on ("the merge
    // itself is semantically idempotent — U sets values the delta
    // carries, D on a gone key and I on a present key are clause-gated
    // no-ops"), gated on the natural fixture: applying the same keyed
    // delta twice must be a fixed point
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"source", $"n_chars")
    val delta = MetadataOps.mergeDelta(docs)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.as[(Long, String, Long)].collect().toSet
    val once = MetadataOps.mergeUpsert(docs, delta)
    val m1 = rows(once)
    val m2 = rows(MetadataOps.mergeUpsert(once, delta))
    assert(m1.nonEmpty && m2 == m1,
      s"replayed merge moved the table: extra=${(m2 -- m1).take(3)} missing=${(m1 -- m2).take(3)}")
    // key conservation: result keys = (target keys − matched-D keys)
    //                                 ∪ unmatched-I keys
    val targetKeys = rows(docs.select($"doc_id", $"source", $"n_chars")).map(_._1)
    val dOps = delta.as[(Long, String, Long, String)].collect()
    val delKeys = dOps.filter(r => r._4 == "D" && targetKeys(r._1)).map(_._1).toSet
    val insKeys = dOps.filter(r => r._4 == "I" && !targetKeys(r._1)).map(_._1).toSet
    assert(m1.map(_._1) == (targetKeys -- delKeys) ++ insKeys,
      "merged key set diverged from the clause-implied set")
  }

  test("fs_copy_verify honors an explicit destination and keys the default by app+dataset") {
    import spark.implicits._
    val dest = java.nio.file.Files.createTempDirectory("graft_distcp_spec")
      .resolve("copy").toString
    val v = MetadataOps.fs_copy_verify(spark, sf0001, Some(dest))
    assert(v.filter(!$"verified").count() === 0)
    assert(new java.io.File(dest).listFiles().exists(_.getName.endsWith(".parquet")))
    // Default destination: under the shared warehouse dir, keyed by
    // applicationId (concurrent runs) and dataset name (no hashCode
    // collisions) — never a node-local java.io.tmpdir.
    MetadataOps.fs_copy_verify(spark, sf0001).count()
    val wh = new java.io.File(
      spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"))
    val appDir = new java.io.File(new java.io.File(wh, "graft_distcp"),
      spark.sparkContext.applicationId)
    assert(appDir.isDirectory && appDir.listFiles().nonEmpty)
  }

  test("fs_perm_audit equals a driver-side bitwise replay of the mode rule") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expected = docs.groupBy(_._2).view.mapValues { rows =>
      val modes = rows.map { case (id, _) => 384 + (id % 8) * 8 + (id * 7) % 8 }
      val wr = modes.count(m => (m / 4) % 2 == 1).toLong
      val ww = modes.count(m => (m / 2) % 2 == 1).toLong
      (rows.size.toLong, wr, ww,
        modes.count(m => (m / 16) % 2 == 1).toLong,
        modes.map(_ % 8).max,
        (wr + ww) * 1000000L / (2L * rows.size))
    }.toMap
    val got = MetadataOps.fs_perm_audit(spark, sf0001).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    assert(got == expected)
    // premise: the corpus exercises both exposed and tight modes
    assert(got.values.exists(_._3 > 0), "premise: a world-writable file")
    assert(got.values.exists(v => v._3 < v._1), "premise: not everything open")
  }

  test("fs_scd2_history: intervals tile each doc's lifetime; deletion/current contracts hold") {
    val hist = MetadataOps.fs_scd2_history(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getBoolean(4)))
    val byDoc = hist.groupBy(_._1)
    val docIds = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id").collect().map(_.getLong(0)).toSet
    assert(byDoc.keySet == docIds, "every doc must have a history")
    byDoc.foreach { case (doc, runs) =>
      val sorted = runs.sortBy(_._3)
      // runs tile [0 .. lastVersion] with no gaps or overlaps
      assert(sorted.head._3 == 0L, s"doc $doc history must start at v0")
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._4 + 1, s"doc $doc: gap/overlap between runs")
          assert(b._2 != a._2, s"doc $doc: adjacent runs carry the same value")
        case _ => ()
      }
      val del = doc % 19
      if (del >= 1 && del <= 3) {
        // deleted at version `del`: history ends just before, nothing current
        assert(sorted.last._4 == del - 1, s"doc $doc should end at ${del - 1}")
        assert(!sorted.exists(_._5), s"deleted doc $doc cannot be current")
      } else {
        assert(sorted.last._4 == 3L, s"doc $doc must reach v3")
        assert(sorted.count(_._5) == 1 && sorted.last._5,
          s"doc $doc needs exactly one current run, the last")
      }
    }
    // corpus must exercise multi-run histories and deletions
    assert(byDoc.values.exists(_.length >= 2), "premise: a doc with changes")
    assert(hist.exists(h => h._1 % 19 >= 1 && h._1 % 19 <= 3),
      "premise: a deleted doc")
  }

  test("fs_acl_audit equals a driver-side replay of the Hadoop check order; every branch populated") {
    val docs = Tables.documents(spark, sf0001)
      .selectExpr("source", "doc_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    // sequential replay of the documented check order: owner triple
    // unmasked -> named-user entry AND mask -> group triple AND mask
    // -> other triple
    case class Acc(files: Long = 0, owner: Long = 0, acl: Long = 0,
      group: Long = 0, other: Long = 0, read: Long = 0, write: Long = 0)
    val acc = scala.collection.mutable.Map.empty[(String, Long), Acc]
    for ((src, id) <- docs; p <- 0L to 9L) {
      val srcNum = src.drop(3).toLong
      val mode = 384 + (id % 8) * 8 + (id * 7) % 8
      val mask = 7 - id % 3
      val hasAcl = (srcNum * 7 + p) % 3 == 0
      val aclPerms = (srcNum + p * 5) % 8
      val (eff, via) =
        if (p == id % 10) ((mode / 64) % 8, 'o')
        else if (hasAcl) (aclPerms & mask, 'a')
        else if (p % 4 == id % 4) (((mode / 8) % 8) & mask, 'g')
        else (mode % 8, 'x')
      val k = (src, p)
      val c = acc.getOrElse(k, Acc())
      acc(k) = c.copy(files = c.files + 1,
        owner = c.owner + (if (via == 'o') 1 else 0),
        acl = c.acl + (if (via == 'a') 1 else 0),
        group = c.group + (if (via == 'g') 1 else 0),
        other = c.other + (if (via == 'x') 1 else 0),
        read = c.read + (eff / 4) % 2, write = c.write + (eff / 2) % 2)
    }
    val got = MetadataOps.fs_acl_audit(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1).drop(1).toLong) ->
        Acc(r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5),
          r.getLong(6), r.getLong(7), r.getLong(8))).toMap
    assert(got == acc.toMap, "distributed ACL audit diverged from the sequential replay")
    // every resolution branch must actually fire somewhere (the
    // synthesis is pointless if a branch is dead)
    assert(acc.values.exists(_.owner > 0), "owner branch never fired")
    assert(acc.values.exists(_.acl > 0), "named-user ACL branch never fired")
    assert(acc.values.exists(_.group > 0), "group branch never fired")
    assert(acc.values.exists(_.other > 0), "other branch never fired")
    // conservation: the four paths partition every (file, principal)
    acc.values.foreach(c =>
      assert(c.owner + c.acl + c.group + c.other == c.files, "paths must partition"))
    // the mask must BITE somewhere: a named-user grant or group triple
    // with a read bit the mask strips (eff loses access the raw entry
    // had) — recompute one masked case directly
    val maskBites = docs.exists { case (src, id) =>
      val srcNum = src.drop(3).toLong
      val mask = 7 - id % 3
      (0L to 9L).exists { p =>
        val hasAcl = (srcNum * 7 + p) % 3 == 0 && p != id % 10
        hasAcl && ((srcNum + p * 5) % 8 & ~mask & 7) != 0
      }
    }
    assert(maskBites, "premise: the mask never restricted any grant")
  }
}
