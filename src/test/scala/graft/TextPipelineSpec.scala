package graft

import graft.operators.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gates for the round-7 training-pipeline text operators: packing
  * (distributed prefix sum ≡ sequential cumsum), mixture sampling
  * (membership exactly the declared hash policy), and salient terms
  * (integer scoring invariants).
  */
class TextPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("text_window_chunks tiles every doc with the declared width/stride/overlap") {
    import spark.implicits._
    val chunks = TextOps.text_window_chunks(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
      .groupBy(_._1)
    val nTokens = Tables.documents(spark, sf0001)
      .select($"doc_id",
        size(expr("filter(split(lower(text), ' '), w -> w != '')")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(chunks.keySet == nTokens.keySet.filter(nTokens(_) > 0))
    chunks.foreach { case (doc, cs) =>
      val n = nTokens(doc)
      val sorted = cs.sortBy(_._2)
      // first chunk anchors at 0; indices contiguous
      assert(sorted.head._3 == 0L)
      assert(sorted.map(_._2).toSeq == sorted.indices.map(_.toLong))
      sorted.foreach { case (_, idx, start, end, len, _) =>
        assert(start == idx * 24 && end == math.min(start + 32, n) && len == end - start)
      }
      // consecutive chunks overlap by exactly width − stride (8),
      // except at the clipped tail where overlap can only grow
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 == a._3 + 24 && b._3 < a._4,
          s"doc $doc: chunks ${a._2}/${b._2} don't overlap")
        case _ =>
      }
      // exactly one last chunk, and it reaches the doc end
      assert(sorted.count(_._6) == 1 && sorted.last._6 && sorted.last._4 == n)
    }
  }

  test("text_curation_funnel reconciles with the registered single-stage operators") {
    import spark.implicits._
    val funnel = TextOps.text_curation_funnel(spark, sf0001).collect()
      .map(r => r.getString(1) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // chain integrity: each stage's out feeds the next stage's in,
    // dropped = in − out, counts monotone non-increasing
    val order = Seq("quality", "exact_dedup", "decontam", "domain_cap")
    order.sliding(2).foreach { case Seq(a, b) =>
      assert(funnel(a)._3 == funnel(b)._1, s"$a out != $b in")
    }
    funnel.values.foreach { case (in, dropped, out) =>
      assert(in - out == dropped && out <= in)
    }
    // stage 2 out == the registered text_pipeline (quality + exact dedup)
    assert(funnel("exact_dedup")._3 ==
      TextOps.text_pipeline(spark, sf0001).count())
    // stage 3 out == pipeline survivors minus the eval slice minus
    // decontam-flagged docs (both from the registered operators)
    val pipeline = TextOps.text_pipeline(spark, sf0001)
      .select($"doc_id").as[Long].collect().toSet
    val flagged = TextOps.text_decontam(spark, sf0001)
      .select($"doc_id").as[Long].collect().toSet
    assert(funnel("decontam")._3 ==
      pipeline.count(id => id % 10 != 0 && !flagged(id)))
    // stage 4 cap: at most 10 survivors per source; the three
    // discriminating stages each dropped something (the synthetic
    // corpus has no exact dups, so exact_dedup's 0 is the true count)
    assert(funnel("domain_cap")._3 <= 10L * 20)
    Seq("quality", "decontam", "domain_cap").foreach { st =>
      assert(funnel(st)._2 > 0, s"$st dropped nothing")
    }
  }

  test("text_dsir_select matches an independent driver-side rederivation") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    def bigramBuckets(text: String): Seq[Long] = {
      val ws = text.toLowerCase.split(" ").filter(_.nonEmpty)
      ws.sliding(2).filter(_.length == 2).map { p =>
        val g = p.mkString(" ")
        val md = java.security.MessageDigest.getInstance("MD5")
          .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
        java.lang.Long.parseLong(md.take(8), 16) % 1024
      }.toSeq
    }
    val all = docs.map { case (id, t) => id -> bigramBuckets(t) }
    val isTarget = (id: Long) => id % 10 == 1
    val ct = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    val cr = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    all.foreach { case (id, bs) =>
      bs.foreach(b => if (isTarget(id)) ct(b) += 1 else cr(b) += 1)
    }
    val (totT, totR) = (ct.values.sum, cr.values.sum)
    val buckets = (ct.keySet ++ cr.keySet)
    val wt = buckets.map(b => b -> (ct(b) * 1000000L / totT - cr(b) * 1000000L / totR)).toMap
    val expected = all.filterNot(d => isTarget(d._1)).filter(_._2.nonEmpty)
      .map { case (id, bs) => id -> bs.map(wt).sum }.toMap
    val got = operators.TextOps.text_dsir_select(spark, sf0001)
      .select($"doc_id", $"dsir_score", $"selected")
      .as[(Long, Long, Boolean)].collect()
    assert(got.map(r => r._1 -> r._2).toMap == expected)
    got.foreach { case (_, sc, sel) => assert(sel == (sc > 0)) }
    // discriminative signal exists: both populations non-empty, and
    // the target slice itself is never in the output
    assert(got.exists(_._3) && got.exists(!_._3))
    assert(got.forall(_._1 % 10 != 1))
  }

  test("centroidClassify learns planted class vocabularies and generalizes to held-out docs") {
    // The registered corpus's text is label-independent (text_langid
    // note), so accuracy there is chance; here each class gets its own
    // vocabulary plus shared filler, and the held-out tenth (doc_id %
    // 10 == 1) must classify correctly — exercising train/test split,
    // hashing, centroid weights and the argmax through the exact
    // production code.
    val classes = Seq("alpha", "beta", "gamma")
    val rnd = new scala.util.Random(7)
    val docs = (0 until 120).map { i =>
      val c = classes(i % 3)
      val own = (0 until 30).map(_ => s"${c}w${rnd.nextInt(12)}")
      val filler = (0 until 10).map(_ => s"shared${rnd.nextInt(6)}")
      (i.toLong, c, rnd.shuffle(own ++ filler).mkString(" "))
    }
    val got = TextOps.centroidClassify(
        docs.toDF("doc_id", "label", "text"), classes)
      .select($"doc_id", $"label", $"pred", $"margin", $"correct")
      .collect()
    val held = docs.count(_._1 % 10 == 1)
    assert(got.length == held && held >= 10)
    val acc = got.count(_.getBoolean(4)).toDouble / got.length
    assert(acc >= 0.9, s"held-out accuracy $acc")
    // separable vocab ⇒ confident decisions: margins strictly positive
    assert(got.forall(_.getLong(3) > 0L))
  }

  test("gopherScored: every rule's fail branch fires on its planted fixture") {
    // The corpus is single-line synthetic text, so the line-shape and
    // symbol rules pass trivially in the registered query; planted
    // fixtures drive each rule's FAIL branch through the exact
    // production expressions.
    val passText = (Seq("the", "of", "and", "with") ++
      Seq.fill(36)("steady")).mkString(" ") // 40 words, stopwords, alpha
    val fixtures = Seq(
      (1L, "pass", passText),
      (2L, "short", "the of brief words here"), // < 30 words
      (3L, "bullets", (1 to 4).map(i => s"- item $i is listed with the of").mkString("\n")),
      (4L, "ellipsis", Seq.fill(3)("to be continued with the of...").mkString("\n")),
      (5L, "symbols", ("# " * 35) + "the of " + ("word " * 5)),
      (6L, "numeric", (1 to 40).map(_.toString).mkString(" ") + " the of"),
      (7L, "nostop", Seq.fill(40)("steady").mkString(" ")),
      (8L, "tinywords", Seq.fill(20)("a b").mkString(" ") + " the of"))
    val got = TextOps.gopherScored(
        fixtures.toDF("doc_id", "lang", "text"))
      .select($"lang", $"r_words", $"r_wlen", $"r_symbol", $"r_bullet",
        $"r_ellipsis", $"r_alpha", $"r_stop", $"keep")
      .collect().map(r => r.getString(0) ->
        (1 to 8).map(r.getBoolean)).toMap
    def flags(l: String) = got(l)
    assert(flags("pass") == Seq(true, true, true, true, true, true, true, true))
    assert(!flags("short")(0) && !flags("short").last)        // r_words fails
    assert(!flags("bullets")(3) && !flags("bullets").last)    // r_bullet fails
    assert(!flags("ellipsis")(4) && !flags("ellipsis").last)  // r_ellipsis fails
    assert(!flags("symbols")(2) && !flags("symbols").last)    // r_symbol fails
    assert(!flags("numeric")(5) && !flags("numeric").last)    // r_alpha fails
    assert(!flags("nostop")(6) && !flags("nostop").last)      // r_stop fails
    assert(!flags("tinywords")(1) && !flags("tinywords").last) // r_wlen fails
    // the registered corpus query has both keep populations
    val corpus = TextOps.text_gopher_rules(spark, sf0001)
      .groupBy($"keep").count().as[(Boolean, Long)].collect().toMap
    assert(corpus.getOrElse(true, 0L) > 0 && corpus.getOrElse(false, 0L) > 0)
  }

  test("text_cdc_chunks conserves bytes and dedupes the planted duplicate docs") {
    val r = TextOps.text_cdc_chunks(spark, sf0001).collect()
    assert(r.nonEmpty)
    // chunk spans partition each doc, so per-source chunk bytes must
    // equal the source's total text bytes exactly
    val docBytes = Tables.documents(spark, sf0001)
      .groupBy($"source").agg(sum(length($"text")).as("b"))
      .as[(String, Long)].collect().toMap
    r.foreach { row =>
      val src = row.getAs[String]("source")
      assert(row.getAs[Long]("n_bytes") === docBytes(src), s"byte leak in $src")
      assert(row.getAs[Long]("uniq_chunks") <= row.getAs[Long]("n_chunks"))
      assert(row.getAs[Long]("dup_bytes") < row.getAs[Long]("n_bytes"))
      val mean = row.getAs[Long]("n_bytes").toDouble / row.getAs[Long]("n_chunks")
      assert(mean > 16 && mean < 256, s"mean chunk $mean B outside the 64 B-target band")
    }
    // the corpus plants verbatim-duplicate documents (dedup_exact finds
    // them) — their chunks must collide, so SOME source reports dup bytes
    assert(r.map(_.getAs[Long]("dup_bytes")).sum > 0,
      "planted duplicate docs must produce duplicate chunks")
  }

  test("text_bpe_pairs equals a naive driver-side pair count over the raw corpus") {
    // the query counts pairs via the vocab-with-frequency optimization;
    // the reference brute-forces every adjacent pair in every word of
    // every doc — the two must agree exactly, proving the vocab
    // collapse loses no pair mass
    val texts = Tables.documents(spark, sf0001)
      .select($"text").collect().map(_.getString(0))
    val counts = new scala.collection.mutable.HashMap[String, Long]()
    for (t <- texts; w <- t.split(" ") if w.length >= 2; i <- 0 until w.length - 1)
      counts.updateWith(w.substring(i, i + 2))(c => Some(c.getOrElse(0L) + 1))
    val expect = counts.toSeq.sortBy { case (p, n) => (-n, p) }.take(20)
    val got = TextOps.text_bpe_pairs(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got == expect, s"got ${got.take(5)}... vs ${expect.take(5)}...")
  }

  test("text_bpe_train equals an independent in-memory BPE trainer; round 1 is bpe_pairs' top row") {
    // independent trainer: same vocab collapse, same (n DESC, l, r)
    // tie-break, same left-to-right non-overlapping merge application —
    // coded against the Sennrich et al. algorithm, not the Spark plan
    var vocab = Tables.documents(spark, sf0001)
      .select($"text").collect().map(_.getString(0))
      .flatMap(_.split(" ")).filter(_.length >= 2)
      .groupBy(identity).map { case (w, ws) =>
        (w.map(_.toString).toVector, ws.length.toLong) }.toVector
    val expect = scala.collection.mutable.ArrayBuffer[(Int, String, String, Long)]()
    for (r <- 1 to 16) {
      val counts = new scala.collection.mutable.HashMap[(String, String), Long]()
      for ((toks, f) <- vocab; i <- 0 until toks.length - 1)
        counts.updateWith((toks(i), toks(i + 1)))(c => Some(c.getOrElse(0L) + f))
      if (counts.nonEmpty) {
        val ((a, b), n) = counts.minBy { case ((l, rr), m) => (-m, l, rr) }
        expect += ((r, a, b, n))
        vocab = vocab.map { case (toks, f) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          for (t <- toks) {
            if (out.nonEmpty && out.last == a && t == b) out(out.length - 1) = a + b
            else out += t
          }
          (out.toVector, f)
        }.filter(_._1.length >= 2)
      }
    }
    val got = TextOps.text_bpe_train(spark, sf0001).collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("lhs"),
        r.getAs[String]("rhs"), r.getAs[Long]("freq"))).toSeq
    assert(got == expect.toSeq, s"got ${got.take(4)}... vs ${expect.take(4)}...")
    assert(got.size == 16, "corpus supports fewer than 16 merge rounds?")
    // cross-gate with the hash-oracled miner: round 1's winner IS
    // text_bpe_pairs' top row (all round-1 tokens are single chars,
    // so the pair string is exactly the 2-char substring bpe_pairs counts)
    val top = TextOps.text_bpe_pairs(spark, sf0001).collect()(0)
    assert(got(0)._2 + got(0)._3 == top.getString(0) && got(0)._4 == top.getLong(1))
  }

  test("text_bpe_encode round-trips every word and is bounded by chars and words") {
    val merges = TextOps.bpeMerges(spark, sf0001, rounds = 16)
    // round-trip: tokenization must lose no characters on any word
    val rt = Tables.documents(spark, sf0001).limit(60)
      .select(explode(split($"text", " ")).as("w")).filter(length($"w") >= 1)
      .select($"w", concat_ws("", TextOps.bpeEncodeTokens($"w", merges)).as("back"),
        size(TextOps.bpeEncodeTokens($"w", merges)).as("n"))
      .collect()
    rt.foreach(r => assert(r.getString(0) == r.getString(1),
      s"round-trip broke: '${r.getString(0)}' vs '${r.getString(1)}'"))
    assert(rt.exists(r => r.getInt(2) < r.getString(0).length),
      "no merge ever fired on 60 docs of words")
    val enc = TextOps.text_bpe_encode(spark, sf0001).collect()
    assert(enc.nonEmpty)
    enc.foreach { r =>
      assert(r.getAs[Long]("n_bpe_tokens") <= r.getAs[Long]("n_chars_nosp"))
      assert(r.getAs[Long]("n_bpe_tokens") >= r.getAs[Long]("n_words"))
      assert(r.getAs[Long]("chars_per_token_ppm") >= 1000000L)
    }
    // 16 merges genuinely compress vs the character baseline somewhere
    assert(enc.exists(r => r.getAs[Long]("n_bpe_tokens") < r.getAs[Long]("n_chars_nosp")))
  }

  test("text_bigram_lm scores a word-salad doc below well-attested docs, exactly") {
    // 4 docs of "x y x y x y" + 1 salad "x z": bg(xy)=12 bg(yx)=8
    // bg(xz)=1, pref(x)=13 pref(y)=8 → cond(xy)=923076 cond(yx)=1000000
    // cond(xz)=76923; natural mean = (3*923076+2*1000000) div 5 = 953845
    val fixtures = ((1 to 4).map(i => (i.toLong, "x y x y x y")) :+ (9L, "x z"))
      .toDF("doc_id", "text")
    val got = TextOps.bigramLmStats(fixtures).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_bigrams"), r.getAs[Long]("mean_cond_ppm"),
          r.getAs[Long]("min_cond_ppm"))).toMap
    for (i <- 1L to 4L)
      assert(got(i) == ((5L, 953845L, 923076L)), s"doc $i: ${got(i)}")
    assert(got(9L) == ((1L, 76923L, 76923L)), s"salad: ${got(9L)}")
    // registered query: sane bounds at sf0.001
    val full = TextOps.text_bigram_lm(spark, sf0001).collect()
    assert(full.nonEmpty)
    full.foreach { r =>
      val m = r.getAs[Long]("mean_cond_ppm")
      assert(m > 0L && m <= 1000000L)
      assert(r.getAs[Long]("min_cond_ppm") <= m)
    }
  }

  test("text_pack's two-phase prefix sum equals the flat global cumsum") {
    // Width 100 (not the 10⁶ production default) so the test corpus
    // genuinely spans several buckets and the cross-bucket offset
    // join — the part a single-bucket run never exercises — is live.
    val packed = TextOps.text_pack(spark, sf001, bucketWidth = 100L)
      .select($"doc_id", $"start_off", $"n_ctx")
    // Naive form: one unpartitioned window over the whole corpus —
    // the thing the two-phase decomposition exists to avoid at scale.
    val naive = Tables.documents(spark, sf001)
      .select($"doc_id",
        size(expr("regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
          .cast("long").as("n_tokens"))
      .withColumn("start_off",
        coalesce(sum($"n_tokens").over(
          Window.orderBy($"doc_id").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select($"doc_id", $"start_off")
    assert(packed.join(naive, "doc_id")
      .filter(packed("start_off") =!= naive("start_off")).count() === 0)
    // Contexts are contiguous and 1-based-span-consistent: a doc spans
    // ceil over the 2048 boundary it straddles, never zero contexts.
    assert(packed.filter($"n_ctx" < 1).count() === 0)
  }

  test("text_sample keeps exactly the docs whose salted bucket clears the lang rate") {
    val kept = TextOps.text_sample(spark, sf001)
    // Re-derive the policy over the full corpus and compare sets.
    val rate = when($"lang" === "en", 900L)
      .when($"lang" === "fr" || $"lang" === "es", 500L)
      .when($"lang" === "de", 250L)
      .otherwise(100L)
    val expected = Tables.documents(spark, sf001)
      .select($"doc_id",
        (conv(substring(md5(concat(lit("mix:"), $"doc_id".cast("string"))), 1, 8),
          16, 10).cast("long") % 1000).as("bucket"),
        rate.as("rate_pm"))
      .filter($"bucket" < $"rate_pm")
      .select($"doc_id")
    assert(kept.count() === expected.count())
    assert(kept.join(expected, Seq("doc_id"), "left_anti").count() === 0)
    // The draw must be independent of text_split's buckets: the same
    // unsalted hash would make every validation/test doc correlate
    // across policies.
    val splitBuckets = TextOps.text_split(spark, sf001).select($"doc_id", $"bucket")
    val both = kept.select($"doc_id", $"bucket".as("mix_bucket"))
      .join(splitBuckets, "doc_id")
    assert(both.filter($"mix_bucket" =!= $"bucket").count() > 0)
  }

  test("text_tfidf emits ≤10 contiguously-ranked terms per lang with exact integer scores") {
    val t = TextOps.text_tfidf(spark, sf001).cache()
    try {
      // Invariants are derived from the fixture, not hardcoded to its
      // current cardinality: every language present in the corpus gets
      // a slice, each with n ≤ 10 terms ranked contiguously 1..n.
      val corpusLangs = Tables.documents(spark, sf001)
        .select($"lang").distinct().as[String].collect().toSet
      val perLang = t.groupBy($"lang").agg(count(lit(1)).as("n"),
        min($"rank").as("lo"), max($"rank").as("hi")).collect()
      assert(perLang.map(_.getAs[String]("lang")).toSet === corpusLangs)
      perLang.foreach { r =>
        val n = r.getAs[Long]("n")
        assert(n >= 1L && n <= 10L)
        assert(r.getAs[Int]("lo") === 1 && r.getAs[Int]("hi").toLong === n)
      }
      // The split Euclidean score equals the direct tf*1e6 div df form
      // wherever the direct product fits i64 (always true at test SF) —
      // proving the overflow-safe rewrite is the same transform.
      assert(t.filter($"score_ppm" =!=
        expr("(tf div df) * 1000000 + ((tf % df) * 1000000) div df")).count() === 0)
      assert(t.filter($"score_ppm" =!= expr("tf * 1000000 div df")).count() === 0)
      // df is a real cross-slice count: bounded by the number of langs
      assert(t.filter($"df" < 1 || $"df" > lit(corpusLangs.size)).count() === 0)
    } finally t.unpersist()
  }

  test("text_pipeline_near keeps one best-quality survivor per near-dup cluster") {
    // doc_id -> quality_ppm maps of the near-dup-resolved result and
    // the exact-dedup-only pipeline it must refine
    val near = TextOps.text_pipeline_near(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val full = TextOps.text_pipeline(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(near.nonEmpty)
    // refinement: only ever removes docs, never adds or rescores
    assert(near.keySet.subsetOf(full.keySet), "near-dup pass added docs")
    near.foreach { case (id, q) => assert(q == full(id), s"doc $id rescored") }
    val byCluster = graft.operators.Dedup.dedup_clusters(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1).map {
        case (cid, ms) => cid -> ms.map(_._2).toSeq
      }
    assert(byCluster.nonEmpty)
    var dropped = 0
    byCluster.foreach { case (cid, members) =>
      val curated = members.filter(full.contains)
      val survivors = members.filter(near.contains)
      assert(survivors.size <= 1, s"cluster $cid kept ${survivors.size} members")
      if (curated.nonEmpty) {
        assert(survivors.size == 1,
          s"cluster $cid had curated members but no survivor")
        val s0 = survivors.head
        // keeper policy: no curated member out-scores the survivor
        // under (quality, -doc_id)
        curated.foreach { m =>
          assert(full(m) < full(s0) || (full(m) == full(s0) && m >= s0),
            s"cluster $cid: dropped doc $m (q=${full(m)}) beats survivor $s0 (q=${full(s0)})")
        }
        dropped += curated.size - 1
      }
    }
    // the gate must not pass vacuously: at sf0.01 some cluster has >1
    // curated member, so the near-dup pass really removes docs
    assert(dropped > 0, "no cluster had >1 curated member — vacuous gate")
    assert(near.size == full.size - dropped, "drop accounting mismatch")
  }

  test("text_decontam flags planted 8-gram contamination with exact counts") {
    import spark.implicits._
    val evalDoc = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val fixtures = Seq(
      // eval slice: one benchmark doc (10 words -> 3 distinct 8-grams)
      (10L, evalDoc),
      // contaminated: contains the eval doc's first 8 words verbatim
      // inside unrelated text -> exactly 1 shared 8-gram
      (1L, "xx yy alpha bravo charlie delta echo foxtrot golf hotel zz"),
      // contains all 10 eval words -> all 3 eval 8-grams shared
      (2L, s"prefix words $evalDoc suffix words"),
      // only a 7-word run from the eval doc -> below the gram width,
      // must NOT be flagged
      (3L, "alpha bravo charlie delta echo foxtrot golf nothing more here at all"),
      // clean doc, no overlap
      (4L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val got = TextOps.decontamShared(fixtures, $"doc_id" % 10 === 0, 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 3L),
      s"expected {1->1, 2->3}, got $got")
  }

  test("dupSpans merges shared runs into exact spans and ignores sub-width runs") {
    import spark.implicits._
    val run12 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val run7 = "mike november oscar papa quebec romeo sierra"
    val runA = "one two three four five six seven eight"
    val runB = "red orange yellow green blue indigo violet ultra"
    val fixtures = Seq(
      // docs 1/2 share a verbatim 12-word run (5 dup 8-grams -> ONE
      // merged span of 12 tokens on each side)
      (1L, s"aa bb $run12 cc dd"),
      (2L, s"$run12 tail words here"),
      // doc 3 shares only a 7-word run with doc 4 — below gram width,
      // must NOT be flagged
      (3L, s"$run7 filler words beyond the shared part"),
      (4L, s"unrelated lead $run7 something else entirely follows now"),
      // docs 5/6 share TWO disjoint 8-word runs -> n_spans = 2,
      // 16 dup tokens each
      (5L, s"$runA gap1x gap2x gap3x $runB"),
      (6L, s"$runB other1 other2 other3 $runA"),
      // clean doc
      (7L, "zz yy xx ww vv uu tt ss rr qq pp oo"))
      .toDF("doc_id", "text")
    val got = TextOps.dupSpans(fixtures, 8).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc 1: 16 tokens, one 12-token span; doc 2: 15 tokens
    assert(got(1L) == ((1L, 12L, 12L, 12L * 1000000L / 16L)), s"doc1 ${got.get(1L)}")
    assert(got(2L) == ((1L, 12L, 12L, 12L * 1000000L / 15L)), s"doc2 ${got.get(2L)}")
    // docs 5/6: two disjoint 8-token spans, 19 tokens each
    assert(got(5L) == ((2L, 16L, 8L, 16L * 1000000L / 19L)), s"doc5 ${got.get(5L)}")
    assert(got(6L) == ((2L, 16L, 8L, 16L * 1000000L / 19L)), s"doc6 ${got.get(6L)}")
    assert(!got.contains(3L) && !got.contains(4L),
      "7-word shared run must be invisible at gram width 8")
    assert(!got.contains(7L), "clean doc must not be flagged")
  }

  test("dupStrip keeps the owner copy and strips repeats, per-gram ownership") {
    import spark.implicits._
    val run12 = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    val runA = "one two three four five six seven eight"
    val runB = "red orange yellow green blue indigo violet ultra"
    val runX = "ax bx cx dx ex fx gx hx"
    val runY = "ay by cy dy ey fy gy hy"
    val fixtures = Seq(
      // doc 1 owns run12 (smallest id) -> keeps its copy, absent from
      // output; doc 2 strips the 12-token span
      (1L, s"aa bb $run12 cc dd"),
      (2L, s"$run12 tail words here"),
      // doc 5 owns BOTH disjoint runs -> doc 6 strips two spans
      (5L, s"$runA gap1x gap2x gap3x $runB"),
      (6L, s"$runB other1 other2 other3 $runA"),
      // per-gram ownership: doc 8 owns runX, doc 9 owns runY; doc 9
      // strips only the runX span, doc 10 strips the runY span
      (8L, s"$runX f1 f2 f3"),
      (9L, s"$runX m1 $runY"),
      (10L, s"l1 l2 $runY"))
      .toDF("doc_id", "text")
    val got = TextOps.dupStrip(fixtures, 8).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    assert(got.keySet == Set(2L, 6L, 9L, 10L),
      s"owners must keep their copies; got ${got.keySet}")
    // doc 2: 15 tokens, one 12-token span stripped
    assert(got(2L) == ((15L, 1L, 12L, 3L, 12L * 1000000L / 15L)), s"doc2 ${got(2L)}")
    // doc 6: 19 tokens, two 8-token spans stripped
    assert(got(6L) == ((19L, 2L, 16L, 3L, 16L * 1000000L / 19L)), s"doc6 ${got(6L)}")
    // doc 9: 17 tokens, strips runX (8) but KEEPS its owned runY
    assert(got(9L) == ((17L, 1L, 8L, 9L, 8L * 1000000L / 17L)), s"doc9 ${got(9L)}")
    // doc 10: 10 tokens, strips runY (8)
    assert(got(10L) == ((10L, 1L, 8L, 2L, 800000L)), s"doc10 ${got(10L)}")
  }

  test("dupSpans/dupStrip equal a position-coverage brute force on dense random corpora") {
    import spark.implicits._
    // 6-word vocab at k=4 → heavy cross-doc gram collisions, so island
    // merging (overlap, adjacency, multi-span, whole-doc coverage) is
    // stressed far beyond the planted fixtures; seeded for determinism
    val rnd = new scala.util.Random(42)
    val vocab = (0 until 6).map(i => s"w$i")
    val k = 4
    val docs: Seq[(Long, String)] = (1L to 40L).map { id =>
      val n = 5 + rnd.nextInt(36)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val grams: Map[Long, Seq[(Int, String)]] = toks.map { case (id, ws) =>
      id -> (if (ws.length >= k)
        (0 to ws.length - k).map(i => i -> ws.slice(i, i + k).mkString(" "))
      else Seq.empty)
    }
    val holders: Map[String, Seq[Long]] = grams.toSeq
      .flatMap { case (id, gs) => gs.map(g => g._2 -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.sorted).toMap
    // coverage truth: position t duplicated iff some covering gram is
    // held elsewhere (spans), or held by a smaller doc_id (strip)
    def brute(remove: (Long, String) => Boolean): Map[Long, (Long, Long, Long)] =
      grams.flatMap { case (id, gs) =>
        val covered = Array.fill(toks(id).length)(false)
        gs.foreach { case (p, g) =>
          if (remove(id, g)) (p until p + k).foreach(covered(_) = true) }
        val spans = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        var i = 0
        while (i < covered.length) {
          if (covered(i)) {
            var j = i; while (j < covered.length && covered(j)) j += 1
            spans += ((i, j)); i = j
          } else i += 1
        }
        if (spans.isEmpty) None
        else Some(id -> (spans.length.toLong,
          spans.map(s => (s._2 - s._1).toLong).sum,
          spans.map(s => (s._2 - s._1).toLong).max))
      }
    val df = docs.toDF("doc_id", "text")

    val gotSpans = TextOps.dupSpans(df, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val expSpans = brute((id, g) => holders(g).exists(_ != id))
    assert(gotSpans == expSpans,
      s"dupSpans diverged from brute force: ${gotSpans.size} vs ${expSpans.size} docs")
    assert(expSpans.size >= 30, s"fixture too sparse (${expSpans.size} flagged) — not a stress test")

    val gotStrip = TextOps.dupStrip(df, k).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getLong(3))).toMap
    val expStrip = brute((id, g) => holders(g).exists(_ != id) && holders(g).min != id)
      .map { case (id, (n, tot, _)) => id -> (n, tot) }
    assert(gotStrip == expStrip,
      s"dupStrip diverged from brute force: ${gotStrip.size} vs ${expStrip.size} docs")
  }

  test("ccnetBucketsFrom cuts exact terciles, shares buckets on ties, per language") {
    import spark.implicits._
    val scored = Seq(
      // lang a: nine distinct scores -> exact 3/3/3 terciles
      (1L, "a", 90L), (2L, "a", 80L), (3L, "a", 70L),
      (4L, "a", 60L), (5L, "a", 50L), (6L, "a", 40L),
      (7L, "a", 30L), (8L, "a", 20L), (9L, "a", 10L),
      // lang b: tie mass at the head cutoff -> all three 100s head
      (11L, "b", 100L), (12L, "b", 100L), (13L, "b", 100L),
      (14L, "b", 50L), (15L, "b", 30L), (16L, "b", 20L))
      .toDF("doc_id", "lang", "mean_cond_ppm")
    val got = TextOps.ccnetBucketsFrom(scored).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap
    val expA = Map(1L -> "head", 2L -> "head", 3L -> "head",
      4L -> "middle", 5L -> "middle", 6L -> "middle",
      7L -> "tail", 8L -> "tail", 9L -> "tail")
    val expB = Map(11L -> "head", 12L -> "head", 13L -> "head",
      14L -> "middle", 15L -> "tail", 16L -> "tail")
    assert(got == expA ++ expB, s"got $got")
  }

  test("text_ccnet_buckets orders buckets by score and fills all three per language") {
    val rows = TextOps.text_ccnet_buckets(spark, sf001).collect()
      .map(r => (r.getString(1), r.getLong(2), r.getString(3)))
    rows.groupBy(_._1).foreach { case (lang, rs) =>
      val by = rs.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
      assert(by.keySet == Set("head", "middle", "tail"),
        s"$lang missing a bucket: ${by.keySet}")
      assert(by("head").min >= by("middle").max,
        s"$lang head/middle overlap")
      assert(by("middle").min >= by("tail").max,
        s"$lang middle/tail overlap")
      // histogram cutoffs are within tie mass of exact terciles
      val n = rs.length
      assert(by("head").size >= n / 3 - 1 || by("head").size > 0,
        s"$lang head bucket degenerate")
    }
  }

  test("decontamSpans excises merged eval-overlap ranges, never eval docs") {
    import spark.implicits._
    val evalDoc = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val fixtures = Seq(
      (10L, evalDoc),
      // eval's first 8 words verbatim -> one excised 8-token span
      (1L, "xx yy alpha bravo charlie delta echo foxtrot golf hotel zz"),
      // all 10 eval words -> 3 overlapping grams merge to ONE 10-token span
      (2L, s"prefix words $evalDoc suffix words"),
      // 7-word run -> below gram width, absent
      (3L, "alpha bravo charlie delta echo foxtrot golf nothing more here at all"),
      (4L, "one two three four five six seven eight nine ten eleven"))
      .toDF("doc_id", "text")
    val got = TextOps.decontamSpans(fixtures, $"doc_id" % 10 === 0, 8)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    // doc 1: 11 tokens, one 8-token span at positions 2..9
    assert(got(1L) == ((11L, 1L, 8L, 3L, 8L * 1000000L / 11L)), s"doc1 ${got.get(1L)}")
    // doc 2: 14 tokens, one merged 10-token span
    assert(got(2L) == ((14L, 1L, 10L, 4L, 10L * 1000000L / 14L)), s"doc2 ${got.get(2L)}")
    assert(got.keySet == Set(1L, 2L),
      s"only contaminated train docs may appear; got ${got.keySet}")
  }

  test("text_decontam_bloom equals the exact variant (FPs removed by the join)") {
    val exact = TextOps.text_decontam(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = TextOps.text_decontam_bloom(spark, sf001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(bloom == exact,
      s"bloom-prefiltered decontam diverged: ${bloom.size} vs ${exact.size} docs")
    assert(exact.nonEmpty, "vacuous equivalence — no contaminated docs at this SF")
  }

  test("text_mixture_epochs emits floor/ceil copies at the per-language rate") {
    import spark.implicits._
    val rates = Map("en" -> 0.9, "fr" -> 1.5, "es" -> 1.5, "de" -> 2.25)
    val rows = TextOps.text_mixture_epochs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val perDoc = rows.groupBy(_._1)
    // copy_idx is contiguous 1..n per doc
    perDoc.foreach { case (id, cs) =>
      assert(cs.map(_._3).sorted.toSeq == (1L to cs.length).toSeq,
        s"doc $id copy indices not contiguous")
    }
    val langOf = Tables.documents(spark, sf001)
      .select($"doc_id", $"lang").as[(Long, String)].collect().toMap
    val nByLang = langOf.groupBy(_._2).view.mapValues(_.size).toMap
    // every doc gets floor(rate) or ceil(rate) copies (zero allowed
    // only when rate < 1), and the realized per-language mean tracks
    // the rate (md5 buckets are uniform; 10% tolerance at this n)
    langOf.foreach { case (id, lang) =>
      val rate = rates.getOrElse(lang, 0.5)
      val n = perDoc.get(id).map(_.length).getOrElse(0)
      assert(n == math.floor(rate).toInt || n == math.ceil(rate).toInt,
        s"doc $id ($lang, rate $rate) got $n copies")
    }
    rates.foreach { case (lang, rate) =>
      val total = rows.count(_._2 == lang).toDouble
      val mean = total / nByLang(lang)
      assert(math.abs(mean - rate) < rate * 0.1,
        s"$lang realized rate $mean vs target $rate")
    }
  }

  test("text_epoch_order reshuffles per epoch, covers the mixture exactly, and deals all shards") {
    import spark.implicits._
    val order = TextOps.text_epoch_order(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val mixture = TextOps.text_mixture_epochs(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // exact coverage: one ordered instance per (doc, copy) of the mixture
    assert(order.map(o => (o._1, o._3)).toSet == mixture &&
      order.length == mixture.size, "epoch order must cover the mixture 1:1")
    // shard = key mod 8, and all 8 shards are populated
    order.foreach(o => assert(o._5 == o._4 % 8))
    assert(order.map(_._5).distinct.sorted.toSeq == (0L to 7L),
      "all 8 worker shards must be populated")
    // the salt includes the epoch: epochs 1 and 2 order their shared
    // docs DIFFERENTLY (the reshuffle-every-epoch property)
    val e1 = order.filter(_._3 == 1L).sortBy(o => (o._4, o._1)).map(_._1).toSeq
    val e2docs = order.filter(_._3 == 2L).map(_._1).toSet
    val e1shared = e1.filter(e2docs)
    val e2 = order.filter(_._3 == 2L).sortBy(o => (o._4, o._1)).map(_._1).toSeq
    assert(e1shared.nonEmpty && e1shared != e2,
      "epochs 1 and 2 must read shared docs in different orders")
    // keys are collision-free at this scale (60-bit space)
    assert(order.map(_._4).distinct.length == order.length)
  }

  test("text_repetition flags a stamped phrase and passes varied text") {
    import spark.implicits._
    val fixtures = Seq(
      // one phrase stamped 20 times: "spam ham" bigram dominates
      (1L, Seq.fill(20)("spam ham").mkString(" ")),
      // all-distinct bigrams: top = 1/(n-1), no repeats
      (2L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    val got = TextOps.repetitionStats(fixtures).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap
    // doc 1: 39 bigrams, "spam ham" appears 20x ("ham spam" 19x) —
    // every bigram mass is duplicated, top share 20/39
    assert(got(1L)._1 == 39L)
    assert(got(1L)._2 == 20L * 1000000L / 39L, s"top_ppm ${got(1L)._2}")
    assert(got(1L)._3 == 1000000L, s"dup_ppm ${got(1L)._3}")
    assert(got(1L)._4 == 1L, "stamped doc must be flagged repetitive")
    // doc 2: 11 distinct bigrams, top 1/11 < 10%, zero duplicated mass
    assert(got(2L) == ((11L, 1000000L / 11L, 0L, 0L)),
      s"varied doc stats ${got(2L)}")
  }

  test("text_unigram_score separates boilerplate, hapax noise, and the mix") {
    // c(alpha) = 6 corpus-wide (4 in doc 1, 2 in doc 3); zig/zag/zog/
    // zork are hapax (c = 1 <= 2 -> rare).
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"), "graft_unigram")
    Seq((1L, "alpha alpha alpha alpha"),
        (2L, "zig zag zog"),
        (3L, "alpha alpha zork"))
      .map { case (id, text) => (id, text, "en", "test", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(dir.getPath + "/documents.parquet")
    val got = TextOps.text_unigram_score(spark, dir.getPath).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got(1L) == ((4L, 6000000L, 0L)), s"boilerplate doc ${got(1L)}")
    assert(got(2L) == ((3L, 1000000L, 1000000L)), s"all-hapax doc ${got(2L)}")
    // mixed doc: sum_freq = 6+6+1 = 13 over 3 tokens -> 4,333,333 ppm;
    // one rare instance of three -> 333,333 ppm (floor division)
    assert(got(3L) == ((3L, 4333333L, 333333L)), s"mixed doc ${got(3L)}")
  }

  test("text_search_index equals a driver-side brute-force search; df aggregates exchange-free") {
    val qs = Map(
      0L -> Seq("spark", "join"),
      1L -> Seq("window", "stream", "sort"),
      2L -> Seq("customer", "merge"))
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) ->
        r.getString(1).toLowerCase.split(" ").filter(_.nonEmpty))
    val n = docs.length.toLong
    val df = docs.flatMap(d => d._2.distinct).groupBy(identity)
      .view.mapValues(_.length.toLong).toMap
    def w(t: String) = math.min(1000000000000L,
      (n / df(t)) * 1000000L + ((n % df(t)) * 1000000L) / df(t))
    val expected = qs.toSeq.flatMap { case (qid, terms) =>
      docs.flatMap { case (docId, toks) =>
        val hits = terms.filter(toks.contains)
        if (hits.isEmpty) None
        else {
          val tf = toks.groupBy(identity).view.mapValues(_.length.toLong)
          Some((qid, docId, hits.map(t => tf(t) * w(t)).sum, hits.length.toLong))
        }
      }.sortBy { case (_, docId, score, _) => (-score, docId) }
        .take(10).zipWithIndex
        .map { case ((q, docId, score, th), i) => (q, i + 1L, docId, score, th) }
    }.toSet
    val got = TextOps.text_search_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1).toLong, r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == expected, "distributed search diverged from brute force")
    // serving-structure claim, held mechanically: the df aggregate
    // reads the PRE-BUCKETED postings table with no Exchange below it
    val plan = TextOps.text_search_index(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"index scan not bucketed:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toVector
    val idxLine = lines.indexWhere(_.contains("default.text_idx"))
    val aggAbove = lines.lastIndexWhere(_.contains("HashAggregate"), idxLine)
    assert(aggAbove >= 0 && idxLine > aggAbove, "plan shape unexpected")
    assert(!lines.slice(aggAbove + 1, idxLine).exists(_.contains("Exchange")),
      "Exchange between the df aggregate and the bucketed index scan")
  }

  test("text_search_index_delta: append-grown postings equal the one-shot index, scan stays bucketed") {
    val oneShot = TextOps.text_search_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val grown = TextOps.text_search_index_delta(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(grown.nonEmpty && grown == oneShot,
      "append-grown index diverged from the one-shot rebuild")
    // both file generations feed the bucketed scan, df agg exchange-free
    val plan = TextOps.text_search_index_delta(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"grown index scan not bucketed:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toVector
    val idxLine = lines.indexWhere(_.contains("default.text_idxd"))
    assert(idxLine >= 0, "no grown-index scan in the plan")
    val aggAbove = lines.lastIndexWhere(_.contains("HashAggregate"), idxLine)
    assert(aggAbove >= 0 && idxLine > aggAbove, "plan shape unexpected")
    assert(!lines.slice(aggAbove + 1, idxLine).exists(_.contains("Exchange")),
      "Exchange between the df aggregate and the grown bucketed scan")
  }

  test("text_search_index_merge: keyed-merge deletes stale boilerplate postings, search equals the one-shot index") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{concat, count, explode, lit, when}
    import graft.functions.TextFunctions.tokens
    val viaMerge = TextOps.text_search_index_merge(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val oneShot = TextOps.text_search_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(viaMerge.nonEmpty && viaMerge == oneShot,
      "keyed-merge-grown postings diverged from the one-shot index (merge != rebuild)")
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sf0001.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    // the commit point dropped the stale first-crawl generation
    assert(!spark.catalog.tableExists(s"text_idxk_$tag"),
      "pre-merge base generation survived the swap")
    // the merged table holds exactly the re-crawled corpus's postings:
    // stale rows DELETED (terms only the boilerplate contributed must
    // be gone — the case no append can express), shifted tfs rewritten
    val docs = Tables.documents(spark, sf0001)
    val expected = docs
      .select($"doc_id", explode(tokens($"text")).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
    val got = spark.table(s"text_idxk_${tag}_m")
    assert(got.count() == expected.count() &&
      got.except(expected).count() == 0 && expected.except(got).count() == 0,
      "merged postings diverged from the re-crawled corpus derivation")
    // premise: the boilerplate really added postings to the touched
    // slice (the stale generation had rows to delete)
    val staleExtra = docs.filter($"doc_id" % 10 === 4)
      .select($"doc_id", explode(tokens(
        concat($"text", lit(" accept all cookies to continue")))).as("term"))
      .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
      .except(expected).count()
    assert(staleExtra > 0, "boilerplate added no postings — the split gates nothing")
    // the merged generation serves the search bucketed, Exchange-free
    val plan = TextOps.text_search_index_merge(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"merged index scan not bucketed:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toVector
    val idxLine = lines.indexWhere(_.contains("default.text_idxk"))
    assert(idxLine >= 0, "no merged-index scan in the plan")
    val aggAbove = lines.lastIndexWhere(_.contains("HashAggregate"), idxLine)
    assert(aggAbove >= 0 && idxLine > aggAbove, "plan shape unexpected")
    assert(!lines.slice(aggAbove + 1, idxLine).exists(_.contains("Exchange")),
      "Exchange between the df aggregate and the merged bucketed scan")
  }

  test("text_search_index_compact: five generations fold to one file per bucket, search equals the one-shot index") {
    val viaCompact = TextOps.text_search_index_compact(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val oneShot = TextOps.text_search_index(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    assert(viaCompact.nonEmpty && viaCompact == oneShot,
      "compacted index diverged from the one-shot index (compaction was not invisible)")
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sf0001.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    // the commit point dropped the fragmented table
    assert(!spark.catalog.tableExists(s"text_idxf_$tag"),
      "fragmented generation survived the swap")
    // the compaction claim itself: the five append generations (each
    // up to tasks×buckets files) folded to ONE file per bucket — the
    // repartition matches the bucket hash, so each task writes
    // exactly its bucket
    val files = graft.operators.IndexUtil.dataFileCount(spark, s"text_idxf_${tag}_c")
    assert(files > 0 && files <= 8,
      s"compacted table holds $files data files — expected one per bucket (<= 8)")
    // the compacted generation serves the search bucketed, Exchange-free
    val plan = TextOps.text_search_index_compact(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Bucketed: true"),
      s"compacted index scan not bucketed:\n${plan.take(1200)}")
    val lines = plan.linesIterator.toVector
    val idxLine = lines.indexWhere(_.contains("default.text_idxf"))
    assert(idxLine >= 0, "no compacted-index scan in the plan")
    val aggAbove = lines.lastIndexWhere(_.contains("HashAggregate"), idxLine)
    assert(aggAbove >= 0 && idxLine > aggAbove, "plan shape unexpected")
    assert(!lines.slice(aggAbove + 1, idxLine).exists(_.contains("Exchange")),
      "Exchange between the df aggregate and the compacted bucketed scan")
  }

  test("compactTable's fingerprint gate refuses a lost, duplicated or changed posting and keeps the fragmented generation") {
    import graft.operators.IndexUtil
    val (frag, _) = TextOps.searchStreamIndexTable(spark, sf0001, "gate")
    TextOps.appendPostings(Tables.documents(spark, sf0001)
      .filter($"doc_id" % 10 === 0).select($"doc_id", $"text"), frag)
    val rows = spark.table(frag).count()
    val victim = spark.table(frag).orderBy($"term", $"doc_id").head()
    val (term, doc) = (victim.getAs[String]("term"), victim.getAs[Long]("doc_id"))
    val isVictim = $"term" === term && $"doc_id" === doc
    val faults = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "lost row" -> (_.filter(!isVictim)),
      "duplicated row" -> (df => df.unionByName(
        Seq((term, doc, victim.getAs[Long]("tf"))).toDF("term", "doc_id", "tf"))),
      "changed tf" -> (_.withColumn("tf", when(isVictim, $"tf" + 1).otherwise($"tf"))))
    val msg = """compacted generation (\S+) failed fingerprint verification in (\d+)/64 buckets — not swapped in""".r
    for ((fault, rewrite) <- faults) {
      val compacted = s"${frag}_c"
      val e = intercept[IllegalStateException] {
        IndexUtil.compactTable(spark, frag, compacted,
          buckets = 8, bucketCols = Seq("term"), sortCols = Seq("term"), rewrite = rewrite)
      }
      e.getMessage match {
        case msg(tbl, bad) =>
          assert(tbl == compacted && bad.toInt >= 1, s"$fault: ${e.getMessage}")
        case other => fail(s"$fault: unexpected failure message: $other")
      }
      assert(spark.catalog.tableExists(frag) && spark.table(frag).count() == rows,
        s"$fault: the fragmented generation did not survive the refused swap")
    }
    IndexUtil.dropIndexTable(spark, frag)
    IndexUtil.dropIndexTable(spark, s"${frag}_c")
  }

  test("searchIndexQueryOver: a refresh with a new N compiles no code and matches the N-literal form") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val (tbl, baseN) = TextOps.searchStreamIndexTable(spark, sf0001, "cg")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    // the weight expression with N pasted in as a literal — the form the
    // column-carried N replaced, kept here as the reference
    def literalForm(n: Long) = {
      val idx = spark.table(tbl)
      val qTerms = Seq((0L, "spark"), (0L, "join"), (1L, "window"), (1L, "stream"),
        (1L, "sort"), (2L, "customer"), (2L, "merge")).toDF("query_id", "term")
      val weights = qTerms.join(idx.groupBy($"term").agg(count(lit(1)).as("df")), "term")
        .withColumn("w_ppm", least(lit(1000000000000L),
          expr(s"(${n}L div df) * 1000000 + ((${n}L % df) * 1000000) div df")))
      idx.join(broadcast(weights), "term")
        .groupBy($"query_id", $"doc_id")
        .agg(sum(expr("tf * w_ppm")).as("score_ppm"), count(lit(1)).as("terms_hit"))
        .withColumn("rank", row_number().over(
          Window.partitionBy($"query_id").orderBy($"score_ppm".desc, $"doc_id")))
        .filter($"rank" <= 10)
        .select($"query_id", $"rank", $"doc_id", $"score_ppm", $"terms_hit")
        .orderBy($"query_id", $"rank")
    }
    def withCompiles[T](body: => T): (T, Long) = {
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
    }
    val n1 = baseN + 1000003L
    val n2 = baseN + 2000029L
    val first = rows(TextOps.searchIndexQueryOver(spark, tbl, n1))
    val (second, recompiled) = withCompiles(rows(TextOps.searchIndexQueryOver(spark, tbl, n2)))
    assert(recompiled == 0, s"a refresh with a new N compiled $recompiled classes")
    assert(first.nonEmpty && first == rows(literalForm(n1)) && second == rows(literalForm(n2)),
      "the column-carried N changed the search results")
    // control: the measurement sees the literal form's per-N code
    val (_, literalRecompiled) = withCompiles(rows(literalForm(n2 + 1)))
    assert(literalRecompiled > 0, "the compile counter missed the N-literal form's recompiles")
    graft.operators.IndexUtil.dropIndexTable(spark, tbl)
  }

  test("text_multi_route: one pass materializes disjoint curated/rejected plus an overlapping audit copy") {
    import spark.implicits._
    // run the registered query (builds the partitioned layout once)
    val acct = TextOps.text_multi_route(spark, sf0001).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val tag = java.security.MessageDigest.getInstance("SHA-256")
      .digest(sf0001.getBytes("UTF-8")).take(8).map(b => f"$b%02x").mkString
    val base = new java.io.File(System.getProperty("java.io.tmpdir"), s"graft_multiroute_$tag")
    // every destination is its own independently-readable subtree
    Seq("curated", "rejected", "audit").foreach { dest =>
      assert(new java.io.File(base, s"dest=$dest").isDirectory, s"missing split $dest")
    }
    def ids(dest: String): Set[Long] =
      spark.read.parquet(new java.io.File(base, s"dest=$dest").getPath)
        .select("doc_id").collect().map(_.getLong(0)).toSet
    val (cur, rej, aud) = (ids("curated"), ids("rejected"), ids("audit"))
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"lang", $"n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // curated/rejected PARTITION the corpus; audit OVERLAPS it (the
    // MultipleOutputs case partitionBy alone cannot fake)
    assert((cur & rej).isEmpty, "curated and rejected overlap")
    assert((cur | rej) == docs.map(_._1).toSet, "curated+rejected must cover the corpus")
    assert(aud == docs.map(_._1).filter(_ % 41 == 0).toSet, "audit is the mod-41 copy set")
    assert(aud.exists(cur | rej), "audit must overlap the primary route")
    // each split holds exactly the routing rule's rows
    assert(cur == docs.filter(t => t._2 == "en" && t._3 >= 150).map(_._1).toSet)
    // and the registered accounting matches the splits it read
    assert(acct("curated") == cur.size && acct("rejected") == rej.size &&
      acct("audit") == aud.size)
  }
}
