package graft

import org.apache.spark.sql.functions._

/** Text/vector invariants: cosine symmetry + self-similarity, planted
  * near-dup recall for MinHash/SimHash/Jaccard, fingerprint determinism. */
class TextVectorSpec extends SparkTestBase {
  import spark.implicits._

  private def cos(a: Seq[Double], b: Seq[Double]): Double = {
    val df = Seq((a, b)).toDF("a", "b")
    df.select(
      aggregate(zip_with($"a", $"b", (x, y) => x * y), lit(0.0), (s0, x) => s0 + x)
        .divide(sqrt(aggregate(zip_with($"a", $"a", (x, y) => x * y), lit(0.0), (s0, x) => s0 + x)) *
          sqrt(aggregate(zip_with($"b", $"b", (x, y) => x * y), lit(0.0), (s0, x) => s0 + x))))
      .head.getDouble(0)
  }

  test("cosine: self-similarity = 1, symmetry, scale invariance") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 3) {
      val v = Seq.fill(16)(rnd.nextDouble() - 0.5)
      val w = Seq.fill(16)(rnd.nextDouble() - 0.5)
      assert(math.abs(cos(v, v) - 1.0) < 1e-9)
      assert(math.abs(cos(v, w) - cos(w, v)) < 1e-12)
      assert(math.abs(cos(v, w) - cos(v.map(_ * 3.0), w)) < 1e-9)
    }
  }

  test("t50 BPE apply: segmentations rejoin to their words, merges fuse, mass adds up") {
    val rows = ops.TextVector.t50_bpe_apply(spark, sf).collect()
    assert(rows.length == 20)
    rows.foreach { r =>
      val (w, wc, bpe, segs) =
        (r.getString(0), r.getLong(1), r.getString(2), r.getInt(3))
      // losslessness: dropping the symbol separators restores the word
      assert(bpe.replace(" ", "") == w, s"'$bpe' does not rejoin to '$w'")
      assert(segs == bpe.split(" ").length && segs >= 1 && segs <= w.length)
      assert(wc >= 1)
    }
    // the mined merges actually fused pairs in the heavy words: at
    // least one top word segments into FEWER symbols than characters
    assert(rows.exists(r => r.getInt(3) < r.getString(0).length),
      rows.map(r => (r.getString(0), r.getInt(3))).mkString(","))
    // the reported token mass is exactly sum(wc * segments) of the 20
    val mass = rows.map(r => r.getLong(1) * r.getInt(3)).sum
    assert(rows.forall(_.getLong(4) == mass))
  }

  test("t51 BPE training: 16 BATCHED merges in few rounds, non-interfering within a round, lossless final mass") {
    val rows = ops.TextVector.t51_bpe_train(spark, sf).collect()
    assert(rows.length == 16, s"16 learned merges expected: ${rows.length}")
    // merge_idx is the global training order 1..16; rounds are BATCHED
    // (r19): several non-interfering merges mine from one counting
    // pass, so 16 merges take far fewer than 16 driver round-trips
    assert(rows.map(_.getInt(1)).toSeq == (1 to 16))
    val nRounds = rows.map(_.getInt(0)).max
    assert(nRounds <= 6 && nRounds < 16,
      s"batching must collapse the rounds (got $nRounds)")
    assert(rows.map(_.getInt(0)).toSeq.sorted == rows.map(_.getInt(0)).toSeq,
      "merge order groups by round")
    rows.foreach { r =>
      val (merge, symbol) = (r.getString(2), r.getString(3))
      assert(merge.count(_ == ' ') == 1, s"merge '$merge' must join 2 symbols")
      assert(symbol == merge.replace(" ", ""))
      assert(r.getLong(4) >= 1L)
    }
    // non-interference WITHIN a round: no two merges of one round
    // share a symbol (that is what lets them fuse in one pass)
    rows.groupBy(_.getInt(0)).foreach { case (round, rs) =>
      val syms = rs.flatMap(_.getString(2).split(" "))
      assert(syms.distinct.length == syms.length,
        s"round $round merges share a symbol: ${rs.map(_.getString(2)).mkString("; ")}")
    }
    // later rounds build on earlier fused symbols: the loop is
    // genuinely iterative, not one pass repeated
    val multi = rows.map(_.getString(3)).filter(_.length > 1)
    assert(rows.map(_.getString(2)).exists(m =>
      multi.exists(sym => m.split(" ").contains(sym) && sym != m.replace(" ", ""))),
      s"no merge built on an earlier fused symbol: ${rows.map(_.getString(2)).mkString("; ")}")
    // the final token mass is consistent across rows and positive
    val masses = rows.map(_.getLong(5)).distinct
    assert(masses.length == 1)
    assert(masses.head > 0L)
  }

  test("t51 rank-functional acceptance: subset of true greedy per round, top-1 always lands, blocked pairs DEFER not vanish (r20 bound)") {
    import ops.TextVector.rfAcceptRound
    def greedy(cands: Seq[(String, Long)], remaining: Int)
        : Seq[(String, Long)] = {
      val acc = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
      val syms = scala.collection.mutable.Set.empty[String]
      cands.iterator.takeWhile(_ => acc.size < remaining).foreach {
        case (p, n) =>
          val Array(a, b) = p.split(" ", 2)
          if (!syms(a) && !syms(b)) { acc += ((p, n)); syms += a; syms += b }
      }
      acc.toSeq
    }
    // the canonical divergence: rank-2 rejected (shares 'b' with
    // rank-1), rank-3 shares a symbol with the REJECTED rank-2 only —
    // greedy accepts it, rank-functional defers it
    val r1 = Seq(("a b", 10L), ("b c", 9L), ("c d", 8L), ("e f", 7L))
    assert(rfAcceptRound(r1, 16) == Seq(("a b", 10L), ("e f", 7L)))
    assert(greedy(r1, 16) == Seq(("a b", 10L), ("c d", 8L), ("e f", 7L)))
    // (3) DEFERRED, never lost: "c d"'s symbols were not fused, so the
    // next round re-mines it at the same count and it lands first
    val r2 = Seq(("c d", 8L), ("ab cd", 2L))
    assert(rfAcceptRound(r2, 16).contains(("c d", 8L)))
    // (1)+(2) hold on random ranked lists: RF ⊆ greedy, top-1 accepted
    val rnd = new scala.util.Random(20260816L)
    (1 to 200).foreach { _ =>
      val syms = ('a' to 'j').map(_.toString)
      val cands = rnd.shuffle(
        for { x <- syms; y <- syms if x != y } yield s"$x $y")
        .take(3 + rnd.nextInt(20)).zipWithIndex
        .map { case (p, i) => (p, (1000 - i).toLong) }
      val rf = rfAcceptRound(cands, 16)
      val gr = greedy(cands, 16)
      assert(rf.toSet.subsetOf(gr.toSet),
        s"RF must be a subset of greedy: rf=$rf greedy=$gr cands=$cands")
      assert(rf.headOption.contains(cands.head),
        s"the top-ranked pair is always accepted: $cands")
    }
  }

  test("t51 bounded round collect: prefix-decided rounds equal the unbounded decision, driver rows stay O(limit) (r21)") {
    import ops.TextVector.{boundedRoundAccept, rfAcceptRound}
    val rnd = new scala.util.Random(20260818L)
    (1 to 200).foreach { _ =>
      // random ranked candidate list over a 30-symbol alphabet, sizes
      // crossing the initial limit in both directions
      val syms = ('a' to 'z').map(_.toString) ++ Seq("th", "er", "in", "an")
      val all = rnd.shuffle(
        for { x <- syms; y <- syms if x != y } yield s"$x $y")
        .take(1 + rnd.nextInt(400)).zipWithIndex
        .map { case (p, i) => (p, (10000 - i).toLong) }
      val remaining = 1 + rnd.nextInt(16)
      var maxFetch = 0
      val fetch = (lim: Int) => { maxFetch = math.max(maxFetch, lim)
        all.take(lim) }
      val (accepted, exhausted) = boundedRoundAccept(fetch, remaining)
      // exactness: identical to deciding on the FULL ranked set
      assert(accepted == rfAcceptRound(all, remaining),
        s"bounded decision diverged: n=${all.size} remaining=$remaining")
      assert(exhausted == all.isEmpty)
      // boundedness: when the budget fills inside the first prefix, the
      // driver never fetched past the initial limit
      val first = all.take(math.max(64, 8 * remaining))
      if (rfAcceptRound(first, remaining).size == remaining ||
          all.size < math.max(64, 8 * remaining))
        assert(maxFetch == math.max(64, 8 * remaining),
          s"escalated although the first prefix decided: n=${all.size}")
    }
    // the escalation path: budget cannot fill (every pair shares 'a'),
    // so the fetch walks to the full set and still decides exactly
    val hot = (1 to 700).map(i => (s"a s$i", (10000 - i).toLong))
    val (acc, _) = boundedRoundAccept(lim => hot.take(lim), 16)
    assert(acc == rfAcceptRound(hot, 16) && acc.size == 1)
  }

  test("minhash LSH finds every planted near-duplicate pair") {
    val pairs = ops.TextVector.t4_minhash_lsh(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect().toSet
    val nDocs = Tables.documents(spark, sf).count()
    // every doc's perturbed twin (id+1e6) must be recalled
    val planted = (0L until nDocs).map(i => (i, i + 1000000L)).toSet
    val recalled = planted.intersect(pairs)
    assert(recalled.size >= (nDocs * 0.95).toInt,
      s"recall ${recalled.size}/$nDocs too low")
  }

  test("simhash: planted near-dups sit at small hamming distance") {
    val got = ops.TextVector.t10_simhash(spark, sf)
      .select($"a_id", $"b_id", $"hamming").as[(Long, Long, Int)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._3 <= 3))
    // a healthy fraction of planted twins should appear — simhash is a
    // candidate generator, not exact recall (dropped token can flip >3
    // bits, and the 16-bit bucket probe misses some)
    val twins = got.count { case (a, b, _) => b == a + 1000000L }
    assert(twins > Tables.documents(spark, sf).count() * 0.4)
  }

  test("jaccard of planted near-dups is high, of self is 1") {
    val j = ops.TextVector.t12_jaccard(spark, sf)
      .select($"jaccard").as[Double].collect()
    assert(j.nonEmpty && j.forall(x => x > 0.5 && x <= 1.0))
  }

  test("rolling-hash fingerprint is deterministic across runs") {
    val a = ops.TextVector.t16_fingerprint(spark, sf).collect().toSeq
    val b = ops.TextVector.t16_fingerprint(spark, sf).collect().toSeq
    assert(a == b)
  }

  test("IVF ANN: well-formed top-k and measurable recall vs exact") {
    val exact = ops.TextVector.t6_topk_nn(spark, sf)
      .select($"q_id", $"c_id").as[(Long, Long)].collect().toSet
    val ivf = ops.TextVector.t6_topk_nn_ivf(spark, sf)
      .select($"q_id", $"rnk", $"c_id").as[(Long, Int, Long)].collect()
    val byQ = ivf.groupBy(_._1)
    assert(byQ.nonEmpty && byQ.forall(_._2.length <= 5))
    val recall = ivf.count(r => exact.contains((r._1, r._3))).toDouble /
      math.max(exact.size, 1)
    info(f"IVF recall@5 vs exact: $recall%.2f")
    assert(recall > 0.0) // random-uniform corpus: buckets are weak, but
    // the planted structure guarantees some overlap; exact value is
    // informational (the tradeoff IS the operator)
  }

  test("top-k NN: k rows per query, self excluded, sims descending") {
    val rows = ops.TextVector.t6_topk_nn(spark, sf)
      .select($"q_id", $"rnk", $"c_id", $"cos_sim")
      .as[(Long, Int, Long, Double)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.forall(_._2.length == 5))
    assert(rows.forall { case (q, _, c, _) => q != c })
    byQ.values.foreach { g =>
      val sims = g.sortBy(_._2).map(_._4)
      assert(sims.zip(sims.tail).forall { case (x, y) => x >= y })
    }
  }

  test("decontamination flags every benchmark doc's planted copy") {
    val hits = ops.TextVector.t18_decontaminate(spark, sf)
      .select($"train_id", $"bench_id").as[(Long, Long)].collect().toSet
    // the near-dup copy of bench doc b (id b+1,000,000) shares all but
    // ~2 of its 3-gram shingles with b — must always be flagged
    (0L to 20L).foreach { b =>
      assert(hits.contains((b + 1000000L, b)), s"copy of bench doc $b not flagged")
    }
    // no doc is flagged against itself
    assert(hits.forall { case (t, b) => t != b })
  }

  test("PII redaction: planted PII found and scrubbed, clean docs untouched") {
    val rows = ops.TextVector.t19_pii_redact(spark, sf)
      .select($"doc_id", $"n_emails", $"n_phones", $"chars_redacted")
      .as[(Long, Int, Int, Int)].collect()
    rows.foreach { case (id, em, ph, saved) =>
      assert(em == (if (id % 7 == 0) 1 else 0), s"doc $id emails=$em")
      assert(ph == (if (id % 11 == 0) 1 else 0), s"doc $id phones=$ph")
      // redaction shortens iff something matched
      assert((saved > 0) == (em + ph > 0), s"doc $id saved=$saved")
    }
  }

  test("quota sampling: rates follow the domain-mix table, sample within bounds") {
    val rows = ops.TextVector.t21_quota_sample(spark, sf)
      .select($"source", $"quota_pct", $"n_docs", $"n_sampled")
      .as[(String, Int, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (src, quota, nDocs, nSampled) =>
      val expect = "(\\d+)".r.findFirstIn(src).get.toInt % 4 match {
        case 0 => 40; case 1 => 20; case 2 => 10; case _ => 5
      }
      assert(quota == expect, s"$src quota=$quota")
      assert(nSampled <= nDocs)
    }
    // deterministic: a second run selects the identical sample
    val again = ops.TextVector.t21_quota_sample(spark, sf)
      .select($"source", $"n_sampled").as[(String, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._4).toMap == again)
  }

  test("int8 quantization: 64 lanes, |q| <= 127, extreme lane hits full scale") {
    val rows = ops.TextVector.t22_embed_quantize(spark, sf)
      .select($"vec_id", $"scale_max_abs", $"q_min", $"q_max", $"q_vec")
      .as[(Long, Double, Int, Int, String)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, scale, qMin, qMax, qVec) =>
      assert(qVec.split(",").length == 64, s"vec $id lane count")
      assert(qMin >= -127 && qMax <= 127, s"vec $id out of int8 range")
      if (scale > 0.0)
        // the lane holding max|x| quantizes to exactly ±127 by construction
        assert(qMax == 127 || qMin == -127, s"vec $id full-scale lane missing")
      else // all-zero vector: guard path quantizes to zeros, never NaN
        assert(qMin == 0 && qMax == 0, s"zero vec $id must quantize to zeros")
    }
  }

  test("sequence packing: dense per shard, boundary-spanning docs bounded") {
    val rows = ops.TextVector.t23_seq_pack(spark, sf)
      .select($"shard", $"n_docs", $"total_tokens", $"n_seqs", $"n_boundary_spanning")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.map(_._1).sorted.toSeq == (0L to 7L))
    val corpusN = graft.Tables.documents(spark, sf).count()
    assert(rows.map(_._2).sum == corpusN)
    rows.foreach { case (shard, nDocs, totTok, nSeqs, nSpan) =>
      // packing is dense: the token stream fills sequences 0..ceil(T/256)-1
      assert(nSeqs == (totTok + 255) / 256, s"shard $shard not dense")
      // a doc can span a boundary only if there is one; never more docs than exist
      assert(nSpan <= nDocs && nSpan <= nSeqs, s"shard $shard spanning count")
    }
  }

  test("repetition filter: planted degenerate docs flagged, fractions in range") {
    val rows = ops.TextVector.t24_repetition_filter(spark, sf)
      .select($"doc_id", $"dup_token_frac", $"top_bigram_frac", $"flagged")
      .as[(Long, Double, Double, Boolean)].collect()
    val (planted, real) = rows.partition(_._1 >= 2000000L)
    assert(planted.nonEmpty && real.nonEmpty)
    planted.foreach { case (id, dup, top, flag) =>
      assert(flag, s"planted $id not flagged (dup=$dup top=$top)")
      assert(dup > 0.75 || top > 0.20)
    }
    rows.foreach { case (id, dup, top, flag) =>
      assert(dup >= 0.0 && dup < 1.0 && top >= 0.0 && top <= 1.0, s"doc $id range")
      assert(flag == (dup > 0.75 || top > 0.20), s"doc $id flag inconsistent")
    }
  }

  test("k-means curation: clusters partition the corpus, deterministic across runs") {
    val rows = ops.TextVector.t25_kmeans_curate(spark, sf)
      .select($"cluster_id", $"n_members", $"member_checksum", $"avg_dist2")
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.map(_._1).toSeq == rows.map(_._1).toSeq.sorted)
    val corpusN = graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum == corpusN, "clusters must partition the corpus")
    rows.foreach { case (id, n, _, d2) =>
      assert(n > 0 && d2 >= 0.0, s"cluster $id degenerate")
    }
    val again = ops.TextVector.t25_kmeans_curate(spark, sf)
      .select($"cluster_id", $"member_checksum").as[(Long, Long)].collect().toMap
    assert(rows.map(r => r._1 -> r._3).toMap == again, "not deterministic")
  }

  test("semantic dedup: planted twins drop, survivors + dropped partition each cluster") {
    val rows = ops.TextVector.t26_semantic_dedup(spark, sf)
      .select($"cluster_id", $"n_vecs", $"n_dropped", $"dropped_checksum", $"survivor_checksum")
      .as[(Long, Long, Long, Long, Long)].collect()
    assert(rows.nonEmpty)
    val corpusN = 2 * graft.Tables.embeddings(spark, sf).count()
    assert(rows.map(_._2).sum == corpusN, "clusters must partition corpus + planted twins")
    // every planted twin that landed in its original's cluster drops; at
    // least SOME must (the corpus doubles, half of it near-identical)
    val totalDropped = rows.map(_._3).sum
    assert(totalDropped > 0 && totalDropped <= corpusN / 2)
    rows.foreach { case (id, n, nd, dc, sc) =>
      assert(nd <= n, s"cluster $id drops more than it holds")
      // checksums partition: dropped + survivor sums = sum of member ids
      assert(dc >= 0 && sc >= 0, s"cluster $id checksum sign")
    }
  }

  test("incremental dedup: every planted copy is caught against the index") {
    val rows = ops.TextVector.t27_incremental_dedup(spark, sf)
      .select($"b_id", $"n_matches", $"max_jaccard", $"best_match", $"is_dup")
      .as[(Long, Long, Double, Long, Boolean)].collect()
    val (copies, novels) = rows.partition(_._1 < 2000000L)
    assert(copies.nonEmpty && novels.nonEmpty)
    copies.foreach { case (id, nm, mx, best, dup) =>
      assert(dup && nm > 0, s"planted copy $id missed by the index")
      // the copy's own original must be among the verified matches
      assert(mx >= 0.5, s"copy $id max jaccard $mx")
      assert(best >= 0, s"copy $id has no best match")
    }
    rows.foreach { case (id, nm, mx, best, dup) =>
      assert(dup == (nm > 0), s"doc $id verdict inconsistent")
      assert(if (dup) mx >= 0.5 && best >= 0 else mx == 0.0 && best == -1L,
        s"doc $id fields inconsistent")
    }
  }

  test("heavy hitters: CMS bound holds for every top token, ranks match exact t1") {
    val rows = ops.TextVector.t28_heavy_hitters(spark, sf)
      .select($"token", $"n_exact", $"within_bound")
      .as[(String, Long, Boolean)].collect()
    assert(rows.length == 20)
    rows.foreach { case (tok, n, ok) =>
      assert(ok, s"CMS bound violated for '$tok' (n=$n)")
    }
    // the sketch path must agree with the exact top-20 of t1_term_freq
    val t1 = ops.TextVector.t1_term_freq(spark, sf)
      .select($"token", $"n").as[(String, Long)].collect()
    assert(rows.map(r => r._1 -> r._2).toSeq == t1.toSeq)
  }

  test("near-dup clusters: canonical is the component min, members partition the nodes") {
    val pairs = ops.TextVector.t4_minhash_lsh(spark, sf)
      .select($"a_id", $"b_id").as[(Long, Long)].collect()
    val clusters = ops.TextVector.t20_dedup_clusters(spark, sf)
      .select($"canonical_id", $"cluster_size", $"member_checksum")
      .as[(Long, Long, Long)].collect()
    // every clustered node count sums to the distinct pair endpoints
    val nodes = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    assert(clusters.map(_._2).sum == nodes.size)
    assert(clusters.forall(_._2 >= 2), "singleton cluster from a pair graph")
    // reference CC via union-find on the driver — same components
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n).toSeq: _*)
    def find(x: Long): Long = { if (parent(x) != x) parent(x) = find(parent(x)); parent(x) }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = nodes.groupBy(find).map { case (_, ms) =>
      (ms.min, ms.size.toLong, ms.sum) }.toSet
    assert(clusters.toSet == expect)
  }

  test("substring dedup: planted quotes are exact spans, sources are covered") {
    val rows = ops.TextVector.t29_substring_dedup(spark, sf)
      .select($"doc_id", $"n_tokens", $"n_dup_spans", $"n_dup_tokens", $"dup_fraction")
      .as[(Long, Long, Long, Long, Double)].collect()
    val byId = rows.map(r => r._1 -> r).toMap
    // every quote doc (id ≥ 3e6) is sentinel + 10-token slice + sentinel:
    // exactly ONE maximal duplicated span covering the slice [2, 11]
    val quotes = rows.filter(_._1 >= 3000000L)
    assert(quotes.nonEmpty)
    quotes.foreach { case (id, n, spans, dupToks, frac) =>
      assert(n == 12L, s"quote $id token count $n")
      assert(spans == 1L && dupToks == 10L, s"quote $id spans=$spans dup=$dupToks")
      assert(math.abs(frac - 0.8333) < 1e-9, s"quote $id frac=$frac")
    }
    // every quoted source doc carries a duplicated span of ≥ 10 tokens
    // (the slice; natural repeats may extend or add spans)
    val docs = graft.Tables.documents(spark, sf)
      .select($"doc_id", org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split($"text", " ")).as("n"))
      .as[(Long, Int)].collect()
    docs.filter(d => d._1 % 5 == 0 && d._2 >= 13).foreach { case (id, _) =>
      val r = byId.get(id)
      assert(r.nonEmpty, s"source $id missing from the span summary")
      assert(r.get._4 >= 10L, s"source $id dup tokens ${r.get._4}")
    }
  }

  test("PQ ANN: 5 ranked rows per query, measured recall against the exact L2 top-5") {
    val approx = ops.TextVector.t31_pq_ann(spark, sf)
      .select($"q_id", $"rnk", $"c_id").as[(Long, Int, Long)].collect()
    val byQ = approx.groupBy(_._1)
    assert(byQ.size == 10)
    byQ.values.foreach(rows => assert(rows.map(_._2).sorted.toSeq == (1 to 5)))
    // exact L2 top-5 baseline, computed on the driver from the raw vectors
    val vecs = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Seq[Float])].collect()
      .map { case (id, v) => id -> v.map(_.toDouble).toArray }.toMap
    def l2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }
    val recalls = byQ.map { case (q, rows) =>
      val qv = vecs(q)
      val exact = vecs.keys.filter(_ != q).toSeq
        .sortBy(c => (l2(qv, vecs(c)), c)).take(5).toSet
      rows.map(_._3).count(exact.contains).toDouble / 5.0
    }
    val avgRecall = recalls.sum / recalls.size
    info(f"PQ shortlist+rerank recall@5 vs exact L2: $avgRecall%.2f")
    // ADC shortlists 100 of N candidates, exact rerank picks the final 5
    // — a working two-stage PQ recovers most of the true top-5 (chance
    // is ~ 5/n_vecs < 0.01); measured 0.90 at the 500-vector fixture
    assert(avgRecall >= 0.85, f"PQ recall collapsed: $avgRecall%.2f")
  }

  test("PQ ANN: map-only pqNearest equals the join + min_by argmin, bit for bit") {
    // r22 rewrite lemma: encoding against the broadcast codeword table
    // (compiled argmin, ties to the lowest code) assigns every
    // (vec, subspace) the code the old join-fan-out + min_by(struct(d2,
    // code)) form chose — same left-to-right d2 accumulation as
    // graft_l2sq, so the comparison keys are the identical doubles.
    import org.apache.spark.sql.functions._
    val subs = graft.Tables.embeddings(spark, sf)
      .select($"vec_id", transform($"embedding", x => x.cast("double")).as("v"))
      .select($"vec_id", explode(expr(
        "transform(sequence(0, 3), j -> named_struct('j', j, 'sv', slice(v, j*16+1, 16)))")).as("s"))
      .select($"vec_id", $"s.j".cast("int").as("j"), $"s.sv".as("sv"))
    val cb = subs.filter($"vec_id" < 16)
      .select($"j", $"vec_id".cast("int").as("code"), $"sv".as("cw"))
    val old = subs.join(broadcast(cb), Seq("j"))
      .withColumn("d2",
        graft.functions.VectorFunctions.l2_squared($"sv", $"cw"))
      .groupBy($"vec_id", $"j")
      .agg(min_by($"code", struct($"d2", $"code")).as("code"))
    val cbRows = cb.collect().toSeq.map(r =>
      (r.getInt(0), r.getInt(1), r.getSeq[Double](2)))
    val neu = ops.TextVector.pqEncode(subs, cbRows)
      .select($"vec_id", $"j", $"code")
    val diff = old.withColumnRenamed("code", "old_code")
      .join(neu, Seq("vec_id", "j"))
      .filter(!($"old_code" <=> $"code")).count()
    assert(diff == 0, s"$diff (vec, subspace) assignments diverged")
  }

  test("URL filter: blocklisted domains are gone, parsed parts are consistent") {
    val rows = ops.TextVector.t32_url_filter(spark, sf)
      .select($"host", $"n_docs", $"n_path_ok").as[(String, Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (host, n, pathOk) =>
      val src = "src(\\d+)".r.findFirstMatchIn(host).get.group(1).toInt
      assert(src % 5 != 0, s"blocklisted domain $host survived the anti join")
      assert(pathOk == n, s"$host: only $pathOk/$n parsed paths matched")
    }
    // every surviving source keeps its 3 TLD variants somewhere in the corpus
    val srcs = rows.map(r => "src(\\d+)".r.findFirstMatchIn(r._1).get.group(1).toInt)
    assert(srcs.distinct.size * 3 == rows.length,
      s"expected 3 TLD domains per surviving source: ${rows.map(_._1).mkString(",")}")
  }

  test("LM quality: gibberish plants score at the smoothing floor, real docs stay clear") {
    val rows = ops.TextVector.t30_lm_quality(spark, sf)
      .select($"doc_id", $"n_tokens", $"avg_neglogp", $"is_low_quality")
      .as[(Long, Long, Double, Boolean)].collect()
    val (planted, real) = rows.partition(_._1 >= 4000000L)
    assert(planted.nonEmpty && real.nonEmpty)
    // every planted all-OOV doc sits exactly at the uniform floor ln(N+V)
    // (all its tokens share the same smoothed probability) and is flagged
    val floor = planted.head._3
    planted.foreach { case (id, n, a, flag) =>
      assert(n == 20L && flag, s"plant $id n=$n flag=$flag")
      assert(math.abs(a - floor) < 1e-9, s"plant $id off-floor $a vs $floor")
    }
    // no clean-corpus doc is flagged, and the floor towers over the real band
    real.foreach { case (id, _, a, flag) =>
      assert(!flag, s"real doc $id flagged at $a")
      assert(a < floor - 2.0, s"real doc $id suspiciously close to the OOV floor")
    }
  }

  test("bloom decontamination: no false negatives anywhere, agrees with the exact t18 join") {
    val rows = ops.TextVector.t33_bloom_decontaminate(spark, sf)
      .select($"train_id", $"n_shingles", $"n_exact_hits", $"bloom_consistent")
      .as[(Long, Long, Long, Boolean)].collect()
    assert(rows.nonEmpty)
    // the sketch's contract: every exactly-contaminated shingle bloom-hits
    rows.foreach { case (id, _, _, ok) => assert(ok, s"false negative in doc $id") }
    // the planted near-dup copies of bench docs (ids 1000000..1000020) are
    // near-total contamination: nearly all their shingles are bench shingles
    val planted = rows.filter(r => r._1 >= 1000000L && r._1 <= 1000020L)
    assert(planted.nonEmpty)
    planted.foreach { case (id, n, hits, _) =>
      assert(hits >= n - 2, s"planted copy $id only $hits/$n bench shingles") }
    // cross-check against the exact inverted-index join: every doc t18
    // flags at >= 5 shared shingles must show >= 5 exact hits here
    val flagged = ops.TextVector.t18_decontaminate(spark, sf)
      .select($"train_id").distinct().as[Long].collect().toSet
    val hitsById = rows.map(r => r._1 -> r._3).toMap
    flagged.foreach { id =>
      assert(hitsById.getOrElse(id, 0L) >= 5L, s"t18-flagged $id under 5 hits in t33") }
  }

  test("bloom decontamination: an empty bench side (NULL filter) keeps every row consistent") {
    // no doc_id <= 20, so the bench side is empty and Spark's
    // BloomFilterAggregate yields a NULL filter; the probe then answers
    // null, which must not read as a false negative
    val dir = java.nio.file.Files.createTempDirectory("graft_t33_empty_").toString
    spark.createDataFrame(Seq(
      (100L, "alpha beta gamma delta epsilon", "en", "src_1", 30L),
      (101L, "zeta eta theta iota kappa lambda", "en", "src_2", 32L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = ops.TextVector.t33_bloom_decontaminate(spark, dir)
      .select($"train_id", $"n_exact_hits", $"bloom_consistent").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) == 0L, s"exact hits against an empty bench: $r")
      assert(!r.isNullAt(2) && r.getBoolean(2), s"inconsistent row: $r")
    }
  }

  test("near-dup clusters: a corpus with zero candidate pairs yields an empty summary, not an NPE") {
    // every doc is under the 3-token shingling floor, so the planted
    // near-dup machinery produces no shingles and hence no pairs
    val dir = java.nio.file.Files.createTempDirectory("graft_t20_empty_").toString
    spark.createDataFrame(Seq(
      (1L, "one two", "en", "src_1", 7L),
      (2L, "three", "en", "src_2", 5L)))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // union-find branch (the production path for zero pairs)
    assert(ops.TextVector.t20_dedup_clusters(spark, dir).count() == 0L)
    // distributed branch, forced with driverLimit = -1: the Hash-Min
    // entry aggregate must coalesce the null sum of an empty labels
    // frame instead of NPE-ing
    assert(ops.TextVector.dedupClusters(spark, dir, driverLimit = -1L)
      .count() == 0L)
  }

  test("near-dup clusters: driver union-find and distributed Hash-Min agree") {
    val fast = ops.TextVector.dedupClusters(spark, sf, driverLimit = 500000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val dist = ops.TextVector.dedupClusters(spark, sf, driverLimit = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(fast.nonEmpty && fast == dist,
      s"hybrid paths diverge: only-fast=${fast -- dist} only-dist=${dist -- fast}")
  }

  test("RAG chunking: chunks tile every doc with stride 24 and cover the tail") {
    val chunks = ops.TextVector.t34_chunk(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    val nTok = graft.Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(chunks.nonEmpty)
    chunks.groupBy(_._1).foreach { case (id, cs) =>
      val sorted = cs.sortBy(_._2)
      val n = nTok(id)
      // first chunk anchors at token 0; starts advance by exactly 24
      assert(sorted.head._3 == 0, s"doc $id first chunk not at 0")
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b._3 - a._3 == 24, s"doc $id stride gap")
        case _ => ()
      }
      // the last chunk reaches the last token: full coverage, no lost tail
      val last = sorted.last
      assert(last._3 + last._4 == n, s"doc $id tail uncovered")
      // every non-final chunk is full-width
      sorted.init.foreach(c => assert(c._4 == 32, s"doc $id short mid chunk"))
      // suppressed-tail rule: any further start would add no new content
      assert(last._3 + 24 >= n || last._3 + 24 + 8 >= n,
        s"doc $id dropped a content-bearing window")
    }
  }

  test("kNN classify: one verdict per query, vote counts bounded by k") {
    val rows = ops.TextVector.t38_knn_classify(spark, sf).collect()
    assert(rows.length == 50, "one row per held-out query")
    assert(rows.map(_.getLong(0)).distinct.length == 50)
    rows.foreach { r =>
      val votes = r.getLong(3)
      assert(votes >= 1 && votes <= 5, s"votes $votes outside 1..5")
      assert(r.getBoolean(4) == (r.getInt(1) == r.getInt(2)),
        "correct flag inconsistent with labels")
    }
  }

  test("BM25: rare-term docs outrank common-term docs, scores non-increasing") {
    val top = ops.TextVector.t35_bm25(spark, sf)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(top.length == 20)
    // ranks are 1..20 and scores weakly decrease with rank
    assert(top.map(_._2).toSeq == (1 to 20))
    top.sliding(2).foreach {
      case Array(a, b) => assert(a._3 >= b._3, "scores increase with rank")
      case _ => ()
    }
    // 'dup' is the rarest term (df ~5%) so its idf dominates: the top-1
    // doc must contain it
    val topDoc = graft.Tables.documents(spark, sf)
      .filter($"doc_id" === top.head._1).select($"text").as[String].head()
    assert(topDoc.split(" ").contains("dup"), "top BM25 doc lacks the rare term")
  }
}
