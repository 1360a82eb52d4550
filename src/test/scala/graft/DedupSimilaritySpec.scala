package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.{Dedup, Multimodal, Similarity, TextAnalysis => TA}
import graft.queries.TextQueries

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.load(spark, Sf, "documents")
  private lazy val corpus = TextQueries.dupCorpus(docs).cache()

  test("exact dedup finds exactly the injected duplicate groups") {
    val dups = Dedup.exactDups(corpus, "doc_id", "text")
    val expected = docs.filter(col("doc_id") % 10 === 0).count()
    assert(dups.count() === expected)
    assert(dups.filter(col("n_copies") =!= 2).count() === 0)
    // canonical id is always the original (smallest) doc_id
    assert(dups.filter(col("canonical_id") >= 1000000L).count() === 0)
  }

  test("minhash LSH candidates cover all high-jaccard pairs (recall)") {
    val truth = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleN = 3, minJaccard = 0.8)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val cand = Dedup.minHashCandidatePairs(corpus, "doc_id", "text")
      .as[(Long, Long)].collect().toSet
    val missed = truth -- cand
    assert(truth.nonEmpty)
    assert(missed.isEmpty, s"LSH missed ${missed.size} of ${truth.size} true pairs")
  }

  test("ngram df cap bounds hot-shingle candidate blow-up") {
    // worst-case skew: every doc shares one boilerplate shingle; without a
    // cap the shingle join emits n(n-1)/2 candidates off that key alone
    val n = 200
    val rows = (0 until n).map(i => (i.toLong, s"common boiler plate unique$i token$i end$i"))
    val skewed = rows.toDF("doc_id", "text")
    // planted true dup: doc 0's exact copy
    val corpus = skewed.unionByName(
      skewed.filter(col("doc_id") === 0).withColumn("doc_id", lit(9999L)))
    val capped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.5, maxShingleDf = 10)
    val got = capped.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    // the planted dup survives (its distinctive shingles are rare)...
    assert(got.contains((0L, 9999L)))
    // ...and boilerplate-only overlap yields no pairs at all
    assert(got === Set((0L, 9999L)))
    // the blocked join's input provably excludes the hot key: after the
    // cap no shingle has df > 10, so per-key candidate fan-out is bounded
    val maxDf = corpus.select(col("doc_id").as("id"),
        explode(Dedup.wordShingles(col("text"), 3)).as("shingle")).distinct()
      .groupBy("shingle").count()
      .agg(max("count")).as[Long].collect()(0)
    assert(maxDf === n + 1L) // the uncapped corpus really is skewed
    // uncapped run on the same corpus pays the quadratic price in
    // candidates — the cap is what removed it, not the data
    val uncapped = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.0, maxShingleDf = 0)
    assert(uncapped.count() >= n.toLong * (n - 1) / 2)
  }

  test("minhash jaccard estimate: 1.0 on exact dups, tracks true jaccard") {
    val sig = Dedup.withMinHashSignature(corpus, "doc_id", "text")
      .select(col("id"), col("sig"))
    val cand = Dedup.minHashCandidatePairs(corpus, "doc_id", "text")
    val est = cand
      .join(sig.select(col("id").as("id_a"), col("sig").as("__sa")), "id_a")
      .join(sig.select(col("id").as("id_b"), col("sig").as("__sb")), "id_b")
      .select(col("id_a"), col("id_b"),
        Dedup.minHashJaccardEstimate(col("__sa"), col("__sb")).as("est"))
    // injected exact copies (original id < 1e6, copy = id + 1e6) estimate
    // exactly 1.0
    val exactDups = est.filter(
      col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
    assert(exactDups.count() > 0)
    assert(exactDups.filter(col("est") =!= 1.0).count() === 0)
    // against the true n-gram jaccard of the same pairs: mean absolute
    // error within the k=16 estimator's expected band (stderr ~ 0.25)
    val truth = Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
      shingleN = 3, minJaccard = 0.0)
    val err = est.join(truth, Seq("id_a", "id_b"))
      .agg(avg(abs(col("est") - col("jaccard")))).as[Double].collect()(0)
    assert(err < 0.25, s"mean |est - true| = $err")
  }

  test("simhash: exact duplicates have hamming distance 0") {
    val pairs = Dedup.simHashNearDups(corpus, "doc_id", "text")
      // injected exact dups only: original id (<1e6) vs its +1e6 copy
      .filter(col("id_a") < 1000000L && col("id_b") === col("id_a") + 1000000L)
    val n = pairs.count()
    assert(n > 0)
    assert(pairs.filter(col("hamming") =!= 0).count() === 0)
  }

  test("keepCanonical drops exactly the non-canonical copies") {
    val kept = Dedup.keepCanonical(corpus, "doc_id", "text")
    val dupCount = docs.filter(col("doc_id") % 10 === 0).count()
    assert(kept.count() === corpus.count() - dupCount)
    // near-dups (different text) survive; exact copies are gone
    assert(kept.filter(col("doc_id") >= 2000000L).count() ===
      docs.filter(col("doc_id") % 15 === 0).count())
    assert(kept.filter(col("doc_id") >= 1000000L && col("doc_id") < 2000000L).count() === 0)
  }

  test("keepCanonical skewSafe: same survivors, partial-agg plan, hot key safe") {
    // 10^4 copies of one viral document + a handful of singletons: the
    // default window shape puts all copies in one task's sort; the agg
    // shape must agree on survivors while partial-aggregating map-side
    val viral = (0 until 10000).map(i => (100000L + i, "copy me " * 20))
    val rest = (0 until 5).map(i => (i.toLong, s"unique doc $i"))
    val df = (viral ++ rest).toDF("doc_id", "text").repartition(8)
    val agg = Dedup.keepCanonical(df, "doc_id", "text", skewSafe = true)
    val win = Dedup.keepCanonical(df, "doc_id", "text")
    assert(agg.select("doc_id").as[Long].collect().sorted.toSeq ===
      win.select("doc_id").as[Long].collect().sorted.toSeq)
    assert(agg.count() === 6) // 5 singletons + 1 canonical viral copy
    assert(agg.columns.toSeq === df.columns.toSeq)
    // physical shape: partial aggregation, no window sort of the hot key
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan.take(1500))
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      plan.take(1500))
  }

  test("keepCanonical skewSafe: NULL dedup keys kept, matching the window shape") {
    // contentHash(null text) is NULL: the window shape groups the null
    // keys into one partition and keeps the canonical (min-id) row, so
    // the skew-safe semi-join must match the null-key pair too (null-safe
    // equality) instead of silently dropping every null-text row
    val df = Seq((1L, "same"), (2L, "same"), (3L, null), (4L, null),
      (5L, "solo")).toDF("doc_id", "text")
    val win = Dedup.keepCanonical(df, "doc_id", "text")
      .select("doc_id").as[Long].collect().sorted.toSeq
    val agg = Dedup.keepCanonical(df, "doc_id", "text", skewSafe = true)
      .select("doc_id").as[Long].collect().sorted.toSeq
    assert(win === Seq(1L, 3L, 5L))
    assert(agg === win)
  }

  test("keepCanonical skewSafe: all-NULL-id groups dropped in BOTH shapes") {
    // min() ignores null ids; a group whose ids are ALL null has no
    // canonical member — the window shape filters it out (null === null
    // is not true), and the skew-safe shape must agree (strict id
    // equality in the semi join) instead of keeping every row
    val df = Seq((Option(1L), "same"), (Option.empty[Long], "same"),
      (Option.empty[Long], "ghost"), (Option.empty[Long], "ghost"))
      .toDF("doc_id", "text")
    def ids(skew: Boolean) =
      Dedup.keepCanonicalByKey(df.withColumn("__k", col("text")),
        "doc_id", "__k", skewSafe = skew)
        .select("doc_id").as[Option[Long]].collect().toSeq.sorted
    assert(ids(skew = false) === Seq(Some(1L)))
    assert(ids(skew = true) === ids(skew = false))
  }

  test("spanDedup: first occurrence kept globally, repeats cut, text reassembled") {
    // span = 2 tokens. doc 1 defines spans [a b] [c d]; doc 2 repeats
    // them exactly (fully boilerplate); doc 3 shares its first span with
    // doc 1 but diverges after; doc 4 is all fresh.
    val rows = Seq(
      (1L, "a b c d"),
      (2L, "a b c d"),
      (3L, "a b x y"),
      (4L, "p q r"))
    val out = Dedup.spanDedup(rows.toDF("doc_id", "text"), "doc_id", "text",
        span = 2)
      .as[(Long, Long, Long, String)].collect().map(r => r._1 -> r).toMap
    assert(out(1L) === ((1L, 2L, 2L, "a b c d")))
    assert(out(2L) === ((2L, 2L, 0L, ""))) // fully deduped, row survives
    assert(out(3L) === ((3L, 2L, 1L, "x y"))) // shared head span cut
    assert(out(4L) === ((4L, 2L, 2L, "p q r"))) // trailing short span kept
    // tie-break is (id, pos): the span [a b] belongs to doc 1, not 2 or 3
  }

  test("spanDedup on the injected corpus: exact dups empty, originals intact") {
    val out = Dedup.spanDedup(corpus, "doc_id", "text", span = 8).cache()
    // every injected exact dup (id >= 1000000, < 2000000) loses all spans
    val dupRows = out.filter(col("doc_id").between(1000000L, 1999999L))
    assert(dupRows.count() > 0)
    assert(dupRows.filter(col("kept_spans") =!= 0).count() === 0)
    // originals of those dups keep every span that is corpus-unique;
    // reassembling an untouched doc gives back its exact text
    val untouched = out.filter(col("kept_spans") === col("n_spans"))
      .join(corpus, "doc_id")
      .filter(col("clean_text") =!= col("text"))
    assert(untouched.count() === 0)
    out.unpersist()
  }

  test("adjacent pair counts: hand-counted BPE statistic, top-k order total") {
    val df = Seq("a b a b c", "b c", "x").toDF("text")
    // pairs: (a,b)x2 (b,a)x1 (b,c)x2 — "x" contributes none
    val got = graft.functions.TermStats.adjacentPairCounts(df, "text", k = 10)
      .as[(String, String, Long)].collect().toSeq
    assert(got === Seq(("a", "b", 2L), ("b", "c", 2L), ("b", "a", 1L)))
  }

  test("incremental dedup: exact/near/new classified against the snapshot") {
    val snapshot = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "pack my box with five dozen liquor jugs"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // exact copy
      (11L, "the quick brown fox jumps over the lazy dog indeed"), // near
      (12L, "completely fresh unseen tokens here today"))
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedupStatus(snapshot, batch, "doc_id", "text",
        useMd5 = true)
      .as[(Long, String)].collect().toMap
    assert(got === Map(10L -> "exact_dup", 11L -> "near_dup", 12L -> "new"))
  }

  test("incremental dedup on the fixture batch: groups land as injected") {
    import graft.queries.TextQueries
    val got = Dedup.incrementalDedupStatus(docs,
        TextQueries.incBatch(docs), "doc_id", "text", useMd5 = true)
      .as[(Long, String)].collect()
    assert(got.nonEmpty)
    // every exact copy is exact_dup; every synthetic-vocab doc is new
    got.filter(_._1 < 2000000L).foreach { case (id, st) =>
      assert(st === "exact_dup", s"doc $id") }
    got.filter(_._1 >= 3000000L).foreach { case (id, st) =>
      assert(st === "new", s"doc $id") }
  }

  test("spanDedup property: equals the naive global fold on random corpora") {
    val rnd = new scala.util.Random(20260814)
    val vocab = Vector("a", "b", "c", "d", "e") // tiny => heavy collisions
    val span = 3
    val data = (1L to 60L).map { id =>
      val n = 1 + rnd.nextInt(12)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val got = Dedup.spanDedup(data.toDF("doc_id", "text"), "doc_id", "text",
        span)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // naive: walk docs in id order, keep a span the first time its
    // normalized text is seen anywhere
    val seen = scala.collection.mutable.Set.empty[String]
    val want = data.map { case (id, text) =>
      val spans = text.split(" ").grouped(span).map(_.mkString(" ")).toSeq
      val kept = spans.filter(s => seen.add(s.toLowerCase.trim))
      id -> ((spans.size.toLong, kept.size.toLong, kept.mkString(" ")))
    }.toMap
    assert(got.size === want.size)
    val bad = want.collect { case (id, w) if got(id) != w => (id, w, got(id)) }
    assert(bad.isEmpty, s"first disagreements: ${bad.take(3)}")
  }

  test("word shingles produce size-n windows and degenerate short docs") {
    val df = Seq("a b c d", "a b").toDF("text")
      .select(Dedup.wordShingles(col("text"), 3).as("sh"))
    val rows = df.as[Seq[String]].collect()
    assert(rows(0) === Seq("a b c", "b c d"))
    assert(rows(1) === Seq("a b"))
  }

  test("dupClusters: transitive pairs collapse to one min-labeled cluster") {
    import graft.functions.Sampling
    // components: {1,2,3} via 1-2, 2-3 (no 1-3 edge), a pair {10,11},
    // and a 4-chain {20..23} (diameter 3 — needs >1 propagation round)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 22L),
      (22L, 23L)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs)
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L, 23L -> 20L))
    // end-to-end: injected exact dups cluster with their originals
    val clusters = Dedup.dupClusters(
      Dedup.ngramJaccardPairs(corpus, "doc_id", "text",
        shingleN = 3, minJaccard = 0.8).select("id_a", "id_b"))
      .as[(Long, Long)].collect().toMap
    // every +1e6 duplicate labels back to a sub-1e6 canonical
    val dupLabels = clusters.filter(_._1 >= 1000000L).values
    assert(dupLabels.nonEmpty && dupLabels.forall(_ < 1000000L))
  }

  test("dupClusters: deep chain converges across checkpoint boundaries") {
    // a 10-node path (diameter 9) takes several propagate+halve rounds,
    // crossing the every-3rd-round lineage cut; label 0 must still reach
    // the far end exactly
    val pairs = (0L until 9L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, maxIters = 15)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 9L).map(_ -> 0L).toMap)
    // per-round cuts (checkpointEvery = 1, the pre-r6 cadence) agree
    val every = Dedup.dupClusters(pairs, maxIters = 15, checkpointEvery = 1)
      .as[(Long, Long)].collect().toMap
    assert(every === got)
  }

  test("dupClusters: pointer halving converges a 50-chain in O(log n) rounds") {
    // a 50-node path (diameter 49) is the adversarial shape for plain
    // min-label propagation: 49 rounds. The propagate+halve rounds double
    // the distance a label covers per round (d ≈ 2^t), so ⌈log₂ 50⌉ + 1
    // = 7 rounds must fully converge it — this bound FAILS on
    // propagation-only code
    val pairs = (0L until 49L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, maxIters = 7)
      .as[(Long, Long)].collect().toMap
    assert(got === (0L to 49L).map(_ -> 0L).toMap)
  }

  test("dupClusters: reliable checkpoints produce the same clustering") {
    // the fault-tolerant path for decommission-prone clusters: reliable
    // checkpoint files instead of executor-local blocks; results must be
    // identical and the aux caches must drain (no lingering persists)
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val pairs = (0L until 12L).map(i => (i, i + 1)).toDF("id_a", "id_b")
      val got = Dedup.dupClusters(pairs, maxIters = 8, reliable = true)
        .as[(Long, Long)].collect().toMap
      assert(got === (0L to 12L).map(_ -> 0L).toMap)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("winnow kernel matches the declarative transform/array_min formulation") {
    // property canary for the native WinnowExpr: on arbitrary token
    // streams the one-pass kernel must produce exactly the fingerprint
    // set of the interpreted lambda pipeline it replaced
    import graft.functions.Sampling
    val texts = (0 until 30).map { s =>
      val rnd = new scala.util.Random(s)
      val n = 1 + rnd.nextInt(40)
      (s.toLong, (0 until n).map(_ => s"t${rnd.nextInt(8)}").mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
    val native = Dedup.winnowFingerprints(df, "doc_id", "text", k = 3, w = 4)
      .as[(Long, Long)].collect().toSet
    val hashes = transform(Dedup.wordShingles(col("text"), 3),
      s => Sampling.keyHash60(s))
    val nWin = greatest(size(hashes) - 3, lit(1))
    val declarative = df.select(col("doc_id"),
        explode(array_distinct(transform(sequence(lit(1), nWin),
          i => array_min(slice(hashes, i, lit(4)))))).as("fingerprint"))
      .as[(Long, Long)].collect().toSet
    assert(native === declarative)
  }

  test("dupClusters: fused round matches driver-side union-find on random graphs") {
    // property canary for the fused propagate+halve round (one lookup
    // join + one aggregation): on arbitrary graphs the fixpoint labels
    // must equal the connected-component minimum computed independently
    for (seed <- 0 until 8) {
      val rnd = new scala.util.Random(seed)
      val n = 12 + rnd.nextInt(30)
      val m = 5 + rnd.nextInt(40)
      val raw = (0 until m).map { _ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      if (raw.nonEmpty) {
        // driver-side union-find ground truth
        val parent = Array.tabulate(n)(identity)
        def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
        raw.foreach { case (a, b) =>
          val (ra, rb) = (find(a.toInt), find(b.toInt))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val want = raw.flatMap { case (a, b) => Seq(a, b) }.distinct
          .map(id => id -> find(id.toInt).toLong).toMap
        val got = Dedup.dupClusters(raw.toDF("id_a", "id_b"), maxIters = 10)
          .as[(Long, Long)].collect().toMap
        assert(got === want, s"seed=$seed n=$n m=$m")
      }
    }
  }

  test("dupClusters: empty pair set returns an empty frame, correct schema") {
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b").filter(col("id_a") < 0)
    val got = Dedup.dupClusters(pairs)
    assert(got.columns.toSeq === Seq("id", "cluster_id"))
    assert(got.count() === 0)
  }

  test("dupClusters: chain deeper than maxIters can cover still labels every node") {
    // a 40-node path has diameter 39 > the ~2^3 distance maxIters=3
    // propagate+halve rounds cover; the fixpoint cannot be reached, but
    // the call must return (id, cluster_id) for every node (warning
    // logged) rather than loop or throw
    val pairs = (0L until 39L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.dupClusters(pairs, maxIters = 3).as[(Long, Long)].collect().toMap
    assert(got.keySet === (0L to 39L).toSet)
    // labels are monotone toward the min: prefix nodes within the covered
    // distance carry the true label already
    assert(got(0L) === 0L && got(1L) === 0L && got(2L) === 0L)
    // and enough rounds converge fully
    val ok = Dedup.dupClusters(pairs, maxIters = 8).as[(Long, Long)].collect().toMap
    assert(ok.values.toSet === Set(0L))
  }

  test("winnowing: shared passage of k+w-1 words guarantees a common fingerprint") {
    // the SIGMOD'03 guarantee: any match of length >= k + w - 1 = 8
    // words shares at least one window minimum
    val passage = "alpha beta gamma delta epsilon zeta eta theta" // 8 words
    val df = Seq(
      (1L, s"one two three $passage four five six seven eight nine"),
      (2L, s"aa bb cc dd ee $passage ff gg hh ii jj kk"),
      (3L, "totally different words with no overlap at all here today")
    ).toDF("doc_id", "text")
    val fps = Dedup.winnowFingerprints(df, "doc_id", "text", k = 5, w = 4)
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert((fps(1L) & fps(2L)).nonEmpty, "shared passage must collide")
    assert((fps(1L) & fps(3L)).isEmpty && (fps(2L) & fps(3L)).isEmpty)
    // an exact duplicate shares its ENTIRE fingerprint set
    val dup = Seq((1L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"),
      (2L, "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10")).toDF("doc_id", "text")
    val dfp = Dedup.winnowFingerprints(dup, "doc_id", "text")
      .as[(Long, Long)].collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet)
    assert(dfp(1L) === dfp(2L))
    // density: far fewer fingerprints than shingles (~2/(w+1))
    val n = 200
    val long = Seq((1L, (1 to n).map(i => s"tok$i").mkString(" "))).toDF("doc_id", "text")
    val cnt = Dedup.winnowFingerprints(long, "doc_id", "text").count()
    assert(cnt < (n - 4) / 2, s"winnowed $cnt of ${n - 4} shingles — not sparse")
  }

  test("winnow pairs: partial copy surfaces, boilerplate fingerprint capped out") {
    // doc 2 quotes a 12-word passage of doc 1 inside otherwise-different
    // text — a containment case global Jaccard scores low; doc 3 is
    // unrelated. All docs share an 8-word boilerplate header whose
    // fingerprints must be df-capped away (maxFpDf = 2 here: the header
    // appears in all 3 docs).
    val header = "standard site header words appear on every page"
    val passage = "p1 p2 p3 p4 p5 p6 p7 p8 p9 p10 p11 p12"
    val df = Seq(
      (1L, s"$header $passage a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"),
      (2L, s"$header b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 $passage"),
      (3L, s"$header c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(df, "doc_id", "text",
        minShared = 2, maxFpDf = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(got === Set((1L, 2L)),
      "only the passage-sharing pair may survive the df cap")
    // without the cap the shared header makes every pair a candidate
    val uncapped = Dedup.winnowPairs(df, "doc_id", "text",
        minShared = 1, maxFpDf = 100)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(uncapped.size === 3)
  }

  test("CDC chunking: lossless reassembly, edit-locality, expected chunk size") {
    import graft.functions.Chunking
    val base = (1 to 200).map(i => s"w$i").mkString(" ")
    val df = Seq((1L, base)).toDF("doc_id", "text")
    val chunks = Chunking.chunkCdc(df, "text", g = 3, m = 16)
      .orderBy("chunk_idx")
      .select("chunk_text", "n_chunk_tokens").as[(String, Long)].collect()
    // chunks partition the document exactly
    assert(chunks.map(_._1).mkString(" ") === base)
    assert(chunks.map(_._2).sum === 200L)
    // mean chunk length tracks m (loose band — it's a geometric law)
    assert(chunks.length > 3 && chunks.length < 60)
    // THE CDC property: prepending tokens shifts offsets but leaves the
    // chunk CONTENT stream beyond the edit's g-gram neighborhood
    // identical — fixed-stride chunking would shift every boundary
    val edited = Seq((1L, s"inserted tokens here $base")).toDF("doc_id", "text")
    val editedTexts = Chunking.chunkCdc(edited, "text", g = 3, m = 16)
      .select("chunk_text").as[String].collect().toSet
    val origTexts = chunks.map(_._1).toSet
    val shared = origTexts & editedTexts
    // all original chunks except the first (whose content absorbed the
    // insertion) must reappear verbatim
    assert(shared.size >= origTexts.size - 2,
      s"only ${shared.size}/${origTexts.size} chunks survived a prefix edit")
  }

  test("split assignment: deterministic, growth-stable, weights respected") {
    import graft.functions.Sampling
    val splits = Seq("train" -> 980, "val" -> 10, "test" -> 10)
    val a = Sampling.splitAssign(docs, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // growth stability: the same docs keep their split when the corpus
    // doubles — the property a random split loses
    val grown = docs.unionByName(docs.withColumn("doc_id", col("doc_id") + 5000000L))
    val b = Sampling.splitAssign(grown, "doc_id", splits)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    a.foreach { case (id, sp) => assert(b(id) === sp) }
    // weights approximately honored
    val n = a.size.toDouble
    assert(math.abs(a.values.count(_ == "train") / n - 0.98) < 0.03)
    assert(a.values.toSet === Set("train", "val", "test"))
    // pure scan filter: no exchange
    val plan = Sampling.splitAssign(docs, "doc_id", splits)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1000))
    // weights must sum to the denominator
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(docs, "doc_id", Seq("a" -> 1, "b" -> 2))
    }
  }

  test("source overlap: shared shingles counted once, containment directional") {
    import graft.functions.Decontaminate
    // A and B share exactly the 3-gram "x y z" (A repeats it — distinct
    // dedup must count it once); C shares nothing
    val df = Seq(
      (1L, "x y z p q r", "A"), (2L, "x y z x y z", "A"),
      (3L, "x y z m n o", "B"),
      (4L, "u v w u2 v2 w2", "C")
    ).toDF("doc_id", "text", "source")
    val got = Decontaminate.sourceOverlap(df, "source", "text", n = 3)
      .select("src_a", "src_b", "n_common", "n_a", "n_b")
      .as[(String, String, Long, Long, Long)].collect().toSet
    // A's distinct shingles: xyz,yzp,zpq,pqr,yzx,zxy = 6; B's: xyz,yzm,zmn,mno = 4
    assert(got === Set(("A", "B", 1L, 6L, 4L)))
  }

  test("vocab coverage curve: hand-checked cuts, tie-stable, capped by vocab") {
    import graft.functions.TermStats
    // counts: a=4, b=3, c=2, d=1 → total 10
    val df = Seq((1L, "a a b c"), (2L, "a b c d"), (3L, "a b")).toDF("doc_id", "text")
    val got = TermStats.vocabCoverageCurve(df, "text", ks = Seq(1, 2, 10))
      .select("k", "n_terms", "covered_tokens", "total_tokens")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, 1L, 4L, 10L),   // top-1 = a
      (2L, 2L, 7L, 10L),   // a + b
      (10L, 4L, 10L, 10L)  // whole vocabulary: n_terms caps at 4
    ))
  }

  test("temperature weights: sqrt rebalances toward low-resource strata") {
    import graft.functions.Sampling
    // A holds 90% of tokens, B 10%: at alpha=0.5 the target fractions
    // become sqrt(.9)/.sum and sqrt(.1)/.sum = 0.75 / 0.25
    val df = Seq(("A", 90L), ("B", 10L)).toDF("src", "toks")
    val got = Sampling.temperatureWeights(df, "src", col("toks"))
      .select("src", "token_frac", "temp_frac", "weight", "keep_prob")
      .as[(String, Double, Double, Double, Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(math.abs(got("A")._2 - 0.9) < 1e-12)
    val sA = math.sqrt(0.9); val sB = math.sqrt(0.1)
    assert(math.abs(got("A")._3 - sA / (sA + sB)) < 1e-12)
    assert(math.abs(got("B")._3 - sB / (sA + sB)) < 1e-12)
    // low-resource stratum up-weights (>1), dominant one down-weights
    assert(got("B")._4 > 1.0 && got("A")._4 < 1.0)
    assert(got("B")._5 === 1.0) // keep_prob caps at 1
    // alpha = 1 keeps the natural mix: temp_frac == token_frac
    val nat = Sampling.temperatureWeights(df, "src", col("toks"), alpha = 1.0)
      .select("token_frac", "temp_frac").as[(Double, Double)].collect()
    nat.foreach { case (tf, pf) => assert(math.abs(tf - pf) < 1e-12) }
  }

  test("length buckets: pow-2 bounds, truncation at seqLen, exact padding") {
    import graft.functions.Packing
    val df = Seq(1L, 2L, 3L, 5L, 9L, 600L).toDF("n")
    val got = Packing.lengthBuckets(df, col("n"), seqLen = 512L)
      .select("bucket_len", "n_docs", "n_tokens", "n_padding")
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got === List(
      (1L, 1L, 1L, 0L),     // len 1 → bucket 1
      (2L, 1L, 2L, 0L),     // len 2 → bucket 2 (exact fit)
      (4L, 1L, 3L, 1L),     // len 3 → bucket 4
      (8L, 1L, 5L, 3L),     // len 5 → bucket 8
      (16L, 1L, 9L, 7L),    // len 9 → bucket 16
      (512L, 1L, 512L, 0L)  // len 600 truncates to the 512 cap
    ))
  }

  test("quality bands: per-band tokens reconcile and cumulate from the top") {
    val got = SparkEntry.queries("text_quality_bins")(spark, Sf)
      .select("band", "n_tokens", "cum_tokens_from_top")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    val total = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .as[Long].collect()(0)
    // the lowest band's running total covers the whole corpus, and the
    // cumulative column is exactly the suffix sum of the bands
    assert(got.head._3 === total)
    val suffix = got.map(_._2).scanRight(0L)(_ + _).init
    assert(got.map(_._3).toSeq === suffix.toSeq)
  }

  test("stratified sample is deterministic, fraction-accurate, shuffle-free") {
    import graft.functions.Sampling
    val a = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 500, "de" -> 200), defaultNum = 100)
    val b = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 500, "de" -> 200), defaultNum = 100)
    val idsA = a.select("doc_id").as[Long].collect().toSet
    assert(idsA === b.select("doc_id").as[Long].collect().toSet) // reproducible
    // per-stratum rates approach the configured fractions
    def rate(lang: String) = {
      val total = docs.filter(col("lang") === lang).count().toDouble
      a.filter(col("lang") === lang).count() / total
    }
    assert(math.abs(rate("en") - 0.5) < 0.1)
    assert(math.abs(rate("de") - 0.2) < 0.1)
    // no exchange: the sample is a pure scan filter
    val plan = a.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1000))
  }

  test("brute-force topk is ordered and excludes self") {
    val e = Tables.load(spark, Sf, "embeddings")
    val tk = Similarity.bruteForceTopK(e.filter(col("vec_id") < 2), e,
      "vec_id", "embedding", k = 3).collect()
    assert(tk.length === 6)
    tk.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rows) =>
      val sims = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("sim"))
      assert(sims.sorted.reverse.sameElements(sims))
      assert(!rows.exists(_.getAs[Long]("neighbor_id") == q))
    }
  }

  test("LSH topk: bucketed candidates agree with brute force on injected twins") {
    val e = Tables.load(spark, Sf, "embeddings")
    // inject an exact twin of vec 1 at id 900000: must be its own bucket mate
    val twin = e.filter(col("vec_id") === 1).withColumn("vec_id", lit(900000L))
    val lsh = Similarity.lshTopK(e.unionByName(twin), "vec_id", "embedding", k = 5)
    val got = lsh.filter(col("query_id") === 900000L && col("rank") === 1).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("neighbor_id") === 1L)
    assert(math.abs(got(0).getAs[Double]("sim") - 1.0) < 1e-12)
  }

  test("nearDupPairs: block join matches all-pairs truth, no nested-loop join") {
    val e = Tables.load(spark, Sf, "embeddings").filter(col("vec_id") % 4 === 0)
    val got = Similarity.nearDupPairs(e, "vec_id", "embedding", threshold = 0.4,
      blocks = 8)
    // ground truth from the brute-force scorer (crossJoin over the same subset)
    val v = e.select(col("vec_id").as("id"), col("embedding").as("v"))
      .withColumn("n", Similarity.norm(col("v")))
    val truth = v.as("x").crossJoin(v.as("y"))
      .filter(col("x.id") < col("y.id"))
      .withColumn("sim",
        Similarity.dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")))
      .filter(col("sim") > 0.4)
      .select(col("x.id"), col("y.id")).as[(Long, Long)].collect().toSet
    assert(truth.nonEmpty)
    assert(got.select("id_a", "id_b").as[(Long, Long)].collect().toSet === truth)
    // the scale property: pair space distributes as a shuffled equi-join
    // on the block key, never a nested-loop over data
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("nearDupPairs: refuses unbounded corpora") {
    val e = Tables.load(spark, Sf, "embeddings")
    val ex = intercept[IllegalArgumentException] {
      Similarity.nearDupPairs(e, "vec_id", "embedding", 0.9, maxRows = 10L)
    }
    assert(ex.getMessage.contains("nearDupPairsLsh"))
  }

  test("semanticDedupCells: hot cell is sub-split, output identical to unsplit") {
    import graft.queries.VectorQueries
    // plant a HOT CELL: 60 identical vectors land in one grid cell with
    // pairwise cosine 1.0; six one-hot-ish vectors provide bystander cells
    val hot = (0 until 64).map(i => 0.5f + 0.01f * i).toArray
    val rows = (0L until 60L).map(id => (id, hot)) ++
      (100L until 106L).map { id =>
        val v = Array.fill(64)(0.01f)
        v((id % 64).toInt) = if (id % 2 == 0) 1.0f else -1.0f
        (id, v)
      }
    val df = rows.toDF("vec_id", "embedding")
    // cellCap = 8 forces ceil(60/8) = 8 sub-blocks on the hot cell; the
    // block split must change the PLAN only — every within-cell pair
    // still meets exactly once — so the output is bit-identical to the
    // effectively-unsplit run (cap far above any cell size)
    val split = Similarity.semanticDedupCells(df, "vec_id", "embedding",
      VectorQueries.IvfPqGrid, threshold = 0.92, cellCap = 8L)
    val whole = Similarity.semanticDedupCells(df, "vec_id", "embedding",
      VectorQueries.IvfPqGrid, threshold = 0.92, cellCap = 1000000L)
    val auto = Similarity.semanticDedupCells(df, "vec_id", "embedding",
      VectorQueries.IvfPqGrid, threshold = 0.92) // cellCap <= 0: in-plan √n
    val s = split.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(s === whole.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    assert(s === auto.collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    // the hot cell dedups to its smallest id exactly
    val hotKeep = s.filter(t => t._1 < 60L)
    assert(hotKeep.count(_._3) === 1)
    assert(hotKeep.find(_._3).map(_._1) === Some(0L))
    // and the split plan really joins on (cid, block), no single-cell
    // pair join and nothing nested-loop/cartesian
    val plan = split.queryExecution.executedPlan.toString
    assert(plan.contains("__b"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // reliable checkpointing (decommission-safe assignment artifact)
    // produces the identical result, and its temp cache drains
    val dir = java.nio.file.Files.createTempDirectory("graft-sdc-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    try {
      val rel = Similarity.semanticDedupCells(df, "vec_id", "embedding",
        VectorQueries.IvfPqGrid, threshold = 0.92, cellCap = 8L,
        reliable = true)
      assert(s === rel.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("semanticDedupCells matches an independent Scala reference on random vectors") {
    import graft.queries.VectorQueries
    // 20 random bases + jittered near-copies: drops must occur, spread
    // over multiple cells; the reference reimplements quantization,
    // argmax assignment and within-cell cosine from the published
    // definitions, independent of the Spark expressions
    val rnd = new scala.util.Random(7)
    val bases = (0L until 20L).map(id =>
      (id, Array.fill(64)((rnd.nextDouble() * 2 - 1).toFloat)))
    val copies = bases.map { case (id, v) =>
      (id + 100L, v.map(x => x + (rnd.nextDouble() * 0.02 - 0.01).toFloat))
    }
    val rows = bases ++ copies
    val got = Similarity.semanticDedupCells(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", VectorQueries.IvfPqGrid, threshold = 0.92,
        cellCap = 5L) // force sub-splitting on the reference comparison too
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    // --- independent reference ---
    def q(x: Float): Long =
      math.min(127L, math.max(-127L, math.floor(x.toDouble * 64 + 0.5).toLong))
    val quant = rows.map { case (id, v) => id -> v.map(q) }.toMap
    val grid = VectorQueries.IvfPqGrid
    def cid(qv: Array[Long]): Long = {
      val scores = grid.map(g =>
        g.zip(qv).map { case (gi, qi) => gi.toLong * qi }.sum)
      (scores.indexOf(scores.max) + 1).toLong
    }
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      dot / (na * nb)
    }
    val cells = quant.keys.groupBy(id => cid(quant(id)))
    val want = cells.flatMap { case (c, ids) =>
      ids.map { id =>
        val dropped = ids.exists(o => o < id && cos(quant(o), quant(id)) > 0.92)
        id -> (c, !dropped)
      }
    }
    assert(got === want)
    assert(got.count(!_._2._2) >= 10, "jittered copies must actually drop")
    assert(got.values.map(_._1).toSet.size > 1, "cells must actually spread")
  }

  test("nearDupPairsLsh: planted near-identical pairs are found, plan is bucketed") {
    val e = Tables.load(spark, Sf, "embeddings")
    // plant twins of vecs 1..5: identical vectors ⇒ identical sketches ⇒
    // guaranteed band collision ⇒ recall 1.0 for genuine near-dups
    val twins = e.filter(col("vec_id").isin(1L, 2L, 3L, 4L, 5L))
      .withColumn("vec_id", col("vec_id") + 900000L)
    val got = Similarity.nearDupPairsLsh(e.unionByName(twins),
      "vec_id", "embedding", threshold = 0.999)
    val pairs = got.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    (1L to 5L).foreach(i => assert(pairs.contains((i, i + 900000L)), s"missed twin $i"))
    val plan = got.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("language id picks marker languages and falls back to unknown") {
    val df = Seq(
      ("der die das und ist klar", "de"),
      ("the cat and the hat is it", "en"),
      ("el y los las es una", "es"),
      ("le et les est une dans", "fr"),
      ("zzz qqq www", "unknown")).toDF("text", "want")
    val bad = df.withColumn("got", TA.langId(col("text")))
      .filter(col("got") =!= col("want")).collect()
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("decontaminate: verbatim leak hits fully, partial overlap counted, clean doc absent") {
    import graft.functions.Decontaminate
    val bench = Seq((100L, "a b c d e f")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "a b c d e f"),          // verbatim: both 5-grams hit
      (2L, "x a b c d e y"),        // contains "a b c d e" → 1 of 3 hits
      (3L, "p q r s t u")).toDF("doc_id", "text") // clean
    val got = Decontaminate.ngramHits(corpus, bench, "doc_id", "text", n = 5)
      .select("doc_id", "n_hit_ngrams", "n_shingles")
      .as[(Long, Long, Long)].collect().toSet
    assert(got === Set((1L, 2L, 2L), (2L, 1L, 3L)))
    // the benchmark side must broadcast — a clean corpus then shuffles ~0
    val plan = Decontaminate.ngramHits(corpus, bench, "doc_id", "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("bloom decontamination: superset of exact hits, FP rate bounded") {
    import graft.functions.Decontaminate
    val bench = docs.filter(col("doc_id") % 25 === 0)
    val exact = Decontaminate.ngramHits(corpus, bench, "doc_id", "text", n = 5)
      .select(col("doc_id"), col("n_hit_ngrams"))
      .as[(Long, Long)].collect().toMap
    val bloom = Decontaminate
      .bloomNgramHits(corpus, bench, "doc_id", "text", n = 5)
      .select(col("doc_id"), col("n_shingles"), col("n_flagged"))
      .as[(Long, Long, Long)].collect()
    assert(exact.nonEmpty && bloom.nonEmpty)
    // never a false negative: every exactly-shared shingle is flagged
    bloom.foreach { case (id, _, flagged) =>
      assert(flagged >= exact.getOrElse(id, 0L),
        s"doc $id: bloom $flagged < exact ${exact.getOrElse(id, 0L)}")
    }
    // deterministic false positives stay under 1% of probed shingles at
    // the default 2^18/k=3 sizing (analytic rate at this fill: << 0.1%)
    val fp = bloom.map(_._3).sum - exact.values.sum
    val frac = fp.toDouble / bloom.map(_._2).sum
    assert(fp >= 0)
    assert(frac < 0.01, s"false-positive fraction $frac")
    // the probe side must see the filter as ONE broadcast row, never a
    // shuffle of the benchmark set
    val plan = Decontaminate
      .bloomNgramHits(corpus, bench, "doc_id", "text", n = 5)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("chunking: short docs one chunk, windows tile with overlap, ends clamped") {
    import graft.functions.Chunking
    val df = Seq((1L, "abcdefghij"), (2L, "abc"), (3L, "abcdefgh"))
      .toDF("doc_id", "text")
    val got = Chunking.chunk(df, "text", chunkLen = 8, overlap = 3)
      .select("doc_id", "chunk_idx", "chunk_start", "chunk_end", "chunk_text")
      .as[(Long, Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 0L, 0L, 8L, "abcdefgh"), // stride 5; 10 chars -> 2 chunks
      (1L, 1L, 5L, 10L, "fghij"),
      (2L, 0L, 0L, 3L, "abc"),      // shorter than chunkLen -> 1 chunk
      (3L, 0L, 0L, 8L, "abcdefgh"))) // exactly chunkLen -> 1 chunk
    // null text: one degenerate [0, 0) chunk, never a phantom chunkLen end
    val nul = Chunking.chunk(
        Seq((9L, Option.empty[String])).toDF("doc_id", "text"),
        "text", chunkLen = 8, overlap = 3)
      .select("chunk_idx", "chunk_start", "chunk_end").as[(Long, Long, Long)]
      .collect().toSeq
    assert(nul === Seq((0L, 0L, 0L)))
  }

  test("token chunking: windows tile in tokens, never splitting one") {
    import graft.functions.Chunking
    val ten = (1 to 10).map(i => s"t$i").mkString(" ")
    val df = Seq((1L, ten), (2L, "a b c")).toDF("doc_id", "text")
    val got = Chunking.chunkTokens(df, "text", maxTokens = 4, overlap = 1)
      .select("doc_id", "chunk_idx", "tok_start", "tok_end",
        "n_chunk_tokens", "chunk_text")
      .as[(Long, Long, Long, Long, Long, String)].collect().toSet
    assert(got === Set(
      (1L, 0L, 0L, 4L, 4L, "t1 t2 t3 t4"),   // stride 3
      (1L, 1L, 3L, 7L, 4L, "t4 t5 t6 t7"),   // overlap shares t4
      (1L, 2L, 6L, 10L, 4L, "t7 t8 t9 t10"),
      (2L, 0L, 0L, 3L, 3L, "a b c")))        // short doc: one chunk
    // no exchange: pure generator expressions over the scan
    val plan = Chunking.chunkTokens(df, "text", 4, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1500))
  }

  test("per-key quota: exact winners, and the plan runs as WindowGroupLimit") {
    import graft.functions.Sampling
    val df = Seq((1L, "a", 0.9), (2L, "a", 0.5), (3L, "a", 0.7),
      (4L, "b", 0.1), (5L, "b", 0.1)).toDF("doc_id", "key", "q")
    val top = Sampling.topKPerKey(df, "key", 2,
      Seq(col("q").desc, col("doc_id")))
    assert(top.select("doc_id").as[Long].collect().toSet === Set(1L, 3L, 4L, 5L))
    // rank<=k must trigger the map-side group-limit (per-partition top-k
    // heaps before the exchange) — a plain Window here would ship whole
    // groups
    val plan = top.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
  }

  test("weighted sample: degenerate weights keep none/all; mid-weight is proportional") {
    import graft.functions.Sampling
    val df = spark.range(2000).toDF("doc_id")
    assert(Sampling.weightedSample(df, "doc_id", lit(0.0)).count() === 0)
    assert(Sampling.weightedSample(df, "doc_id", lit(1.0)).count() === 2000)
    assert(Sampling.weightedSample(df, "doc_id", lit(-3.0)).count() === 0)
    assert(Sampling.weightedSample(df, "doc_id", lit(7.0)).count() === 2000)
    val mid = Sampling.weightedSample(df, "doc_id", lit(0.5)).count()
    assert(mid > 800 && mid < 1200, s"~50% expected, got $mid")
  }

  test("PII redaction replaces emails, IPs, phones with typed tags") {
    val df = Seq(
      "mail a.b+c@ex-y.co now",
      "host 192.168.0.1 port",
      "call 555-123-4567 pls",
      "clean text only").toDF("text")
      .select(TA.redactPii(col("text")).as("clean"),
        TA.piiCount(col("text")).as("n"))
      .as[(String, Long)].collect().toSet
    assert(df === Set(
      ("mail <EMAIL> now", 1L),
      ("host <IP> port", 1L),
      ("call <PHONE> pls", 1L),
      ("clean text only", 0L)))
  }

  test("repetition metrics: hand-computed fractions and degenerate docs") {
    val df = Seq(
      // 4 tokens, 3 bigrams ("a b","b a","a b") → dup_2gram 1/3;
      // top token "a" 2/4
      ("a b a b", 1.0 / 3.0, 0.5),
      // all same: 2 bigrams both "x x" → 1/2; top token 3/3
      ("x x x", 0.5, 1.0),
      // all distinct: 0 dup; top 1/3
      ("p q r", 0.0, 1.0 / 3.0),
      // shorter than n: no bigrams → 0
      ("solo", 0.0, 1.0)).toDF("text", "want2", "wantTop")
    val bad = df.select(
        TA.dupFrac(TA.tokenNgrams(col("text"), 2)).as("got2"),
        TA.topTokenFrac(col("text")).as("gotTop"),
        col("want2"), col("wantTop"))
      .filter(col("got2") =!= col("want2") || col("gotTop") =!= col("wantTop"))
      .collect()
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("budget select: equals the naive priority-ordered prefix on random data") {
    import graft.functions.Sampling
    val rnd = new scala.util.Random(7)
    val rows = (0L until 300L).map { id =>
      // coarse priorities force cross-chunk ties; exact doubles both ways
      (id, (rnd.nextInt(20) * 5).toDouble / 100.0, 1L + rnd.nextInt(50))
    }
    val df = rows.toDF("doc_id", "pri", "n")
    for (budget <- Seq(0L, 500L, 3000L, 100000L)) {
      val got = Sampling.budgetSelect(df, "doc_id", col("pri"), col("n"),
          budget, chunks = 7)
        .select("doc_id", "cum_tokens").as[(Long, Long)].collect().toMap
      val want = rows.sortBy { case (id, p, _) => (-p, id) }
        .foldLeft((0L, Map.empty[Long, Long])) {
          case ((acc, out), (id, _, n)) =>
            val cum = acc + n
            (cum, if (cum <= budget) out + (id -> cum) else out)
        }._2
      assert(got === want, s"budget=$budget")
    }
  }

  test("shuffle shards: deterministic, complete, contiguous positions") {
    import graft.functions.Sampling
    val df = spark.range(500).toDF("doc_id")
    def run(salt: String) =
      Sampling.shuffleShards(df, "doc_id", nShards = 8, salt = salt)
        .select("doc_id", "shard", "pos")
        .as[(Long, Int, Long)].collect()
    val a = run("graft")
    // pure function of (salt, id): bit-identical across runs
    assert(a.sortBy(_._1).toSeq === run("graft").sortBy(_._1).toSeq)
    // complete: every input row lands in exactly one shard in range
    assert(a.map(_._1).sorted.toSeq === (0L until 500L))
    assert(a.forall(r => r._2 >= 0 && r._2 < 8))
    // contiguous: each shard's positions are exactly 1..n_shard
    a.groupBy(_._2).foreach { case (shard, rows) =>
      assert(rows.map(_._3).sorted.toSeq === (1L to rows.length),
        s"shard $shard positions not contiguous")
    }
    // the salt actually permutes: a different salt moves some rows
    val b = run("other")
    assert(a.sortBy(_._1).zip(b.sortBy(_._1)).exists {
      case ((_, s1, p1), (_, s2, p2)) => s1 != s2 || p1 != p2
    })
    // scale shape: ONE exchange (hash on shard) + per-shard sort — the
    // repartition/sortWithinPartitions shard-writer plan, no global sort
    val plan = Sampling.shuffleShards(df, "doc_id", 8, "graft")
      .queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length === 1, plan.take(2000))
  }

  test("mixture weights: token accounting and target algebra") {
    import graft.functions.Sampling
    // 3 strata with known token mass: x=6, y=3, z=3 (total 12)
    val df = Seq(
      ("x", "a a a"), ("x", "b b b"),
      ("y", "c c c"), ("z", "d d d")).toDF("src", "text")
    val out = Sampling.mixtureWeights(df, "src",
        TA.tokenCount(col("text")), Map("x" -> 0.5))
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    assert(out("x").getAs[Long]("n_docs") === 2L)
    assert(out("x").getAs[Long]("n_tokens") === 6L)
    assert(out("x").getAs[Double]("token_frac") === 0.5)
    assert(out("x").getAs[Double]("target_frac") === 0.5)
    assert(out("x").getAs[Double]("weight") === 1.0)
    // y and z split the residual 0.5 uniformly -> 0.25 each; each holds
    // 0.25 of the tokens -> weight 1 would need target 0.25 == actual
    assert(out("y").getAs[Double]("token_frac") === 0.25)
    assert(out("y").getAs[Double]("target_frac") === 0.25)
    assert(out("y").getAs[Double]("weight") === 1.0)
    // skew the target: now y must shrink to 0.1 of the mix
    val skew = Sampling.mixtureWeights(df, "src",
        TA.tokenCount(col("text")), Map("y" -> 0.1))
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    assert(skew("y").getAs[Double]("weight") === 0.1 / 0.25)
    assert(skew("y").getAs[Double]("keep_prob") === 0.4)
    // uniform default: every target_frac is 1/3
    val uni = Sampling.mixtureWeights(df, "src", TA.tokenCount(col("text")))
      .collect().map(r => r.getAs[Double]("target_frac"))
    assert(uni.forall(_ === 1.0 / 3))
    // invariant both ways: weight * token_frac == target_frac
    (out.values ++ skew.values).foreach { r =>
      assert(r.getAs[Double]("weight") * r.getAs[Double]("token_frac") ===
        r.getAs[Double]("target_frac"))
    }
  }

  test("mixture materialization: copy counts, determinism, no shuffle") {
    import graft.functions.Sampling
    val df = spark.range(1000).toDF("doc_id")
    // integer weights are exact: every row gets exactly w copies
    for (w <- Seq(0.0, 1.0, 2.0)) {
      val n = Sampling.materializeMixture(df, "doc_id", lit(w)).count()
      assert(n === (1000 * w).toLong, s"w=$w")
    }
    // fractional weight: floor copies guaranteed, the extra copy lands
    // on ~frac of rows; expectation 1000 * 1.5 within hash tolerance
    val out = Sampling.materializeMixture(df, "doc_id", lit(1.5))
      .select("doc_id", "copy").as[(Long, Long)].collect()
    assert(out.length > 1350 && out.length < 1650, out.length)
    // every row keeps copies 1..n contiguously and appears at least once
    val byId = out.groupBy(_._1)
    assert(byId.size === 1000)
    byId.foreach { case (id, rows) =>
      assert(rows.map(_._2).sorted.toSeq === (1L to rows.length), s"id=$id")
    }
    // pure function of the key: identical realization across runs
    val again = Sampling.materializeMixture(df, "doc_id", lit(1.5))
      .select("doc_id", "copy").as[(Long, Long)].collect()
    assert(out.sorted.toSeq === again.sorted.toSeq)
    // scale shape: a generator over the scan — no exchange anywhere
    val plan = Sampling.materializeMixture(df, "doc_id", lit(1.5))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("oov stats: hand-computed fractions against a tiny vocab") {
    import graft.functions.TermStats
    // counts: a=3 b=3 c=1 d=1 e=1 -> top-2 vocab (cnt desc, term) = {a, b}
    val df = Seq(
      (1L, "a a b"), (2L, "a c d"), (3L, "b b e")).toDF("doc_id", "text")
    val got = TermStats.oovStats(df, "doc_id", "text", vocabK = 2)
      .select("doc_id", "n_tokens", "n_oov", "oov_frac")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, 3L, 0L, 0.0),
      (2L, 3L, 2L, 2.0 / 3),
      (3L, 3L, 1L, 1.0 / 3)))
    // the bounded vocabulary must come back as a broadcast join — the
    // token stream is corpus-sized and must never shuffle on the term key
    // for the vocab lookup
    val plan = TermStats.oovStats(df, "doc_id", "text", vocabK = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("surprisal stats: hand-computed integer log2 under the corpus LM") {
    import graft.functions.TermStats
    // counts: a=3 b=2 c=1, T=6 -> sup(a)=floor(log2(2))=1,
    // sup(b)=floor(log2(3))=1, sup(c)=floor(log2(6))=2
    val df = Seq((1L, "a a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TermStats.surprisalStats(df, "doc_id", "text")
      .select("doc_id", "n_tokens", "sum_surprisal", "mean_surprisal")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, 4L, 4L, 1.0),
      (2L, 2L, 3L, 1.5)))
  }

  test("bigram surprisal: hand-computed conditional integer log2") {
    import graft.functions.TermStats
    // unigrams: a=4 b=1 c=1; bigrams: (a,a)=2 (a,b)=1 (a,c)=1
    // sup(a,a)=ilog2(4/2)=1; sup(a,b)=sup(a,c)=ilog2(4/1)=2
    val df = Seq((1L, "a a a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = TermStats.bigramSurprisalStats(df, "doc_id", "text")
      .select("doc_id", "n_bigrams", "sum_surprisal", "mean_surprisal")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, 3L, 4L, 4.0 / 3),
      (2L, 1L, 2L, 2.0)))
    // a single-token document has no bigrams and drops from the output
    val short = Seq((1L, "only")).toDF("doc_id", "text")
    assert(TermStats.bigramSurprisalStats(short, "doc_id", "text")
      .count() === 0)
  }

  test("count-min sketch: never undercounts, exact when collision-free") {
    import graft.functions.TermStats
    val tok = Seq("alpha", "alpha", "alpha", "beta", "beta", "gamma")
      .toDF("term")
    val sketch = TermStats.countMinSketch(tok, "term")
    // sketch is bounded by construction
    assert(sketch.count() <= TermStats.CmRows.toLong * TermStats.CmWidth)
    val truth = tok.groupBy("term").agg(count(lit(1)).as("true_count"))
    val got = TermStats.countMinEstimate(truth, "term", sketch)
      .select("term", "true_count", "est_count")
      .as[(String, Long, Long)].collect()
    // CM guarantee: min-over-rows never undercounts; with 3 distinct
    // terms in 4x1024 buckets the md5 placement is collision-free, so
    // the estimates are exact (deterministic — a collision would be a
    // permanent, visible test failure, not flake)
    got.foreach { case (t, tc, est) => assert(est === tc, t) }
    assert(got.map(_._1).toSet === Set("alpha", "beta", "gamma"))
  }

  test("count-min sketch: out-of-corpus probe estimates 0, not dropped") {
    import graft.functions.TermStats
    val tok = Seq("alpha", "alpha", "beta").toDF("term")
    val sketch = TermStats.countMinSketch(tok, "term")
    // the sketch frame only materializes populated slots, so an unseen
    // term's empty buckets must read as counter 0 (the true CM estimate)
    // via the left join — an inner join would drop the probe entirely
    val probes = Seq("alpha", "zz_never_seen").toDF("term")
    val got = TermStats.countMinEstimate(probes, "term", sketch)
      .select("term", "est_count").as[(String, Long)].collect().toMap
    assert(got === Map("alpha" -> 2L, "zz_never_seen" -> 0L))
  }

  test("quality rules: each gate trips on its crafted document") {
    // default (published Gopher) thresholds; one doc per failing rule
    val good = ("the quick brown lore " * 20).trim // 80 words, stopword, alpha
    val df = Seq(
      (1L, good, "keep"),
      (2L, "too short text", "word_count"),
      (3L, ("xy " * 60).trim, "mean_word_len"), // mwl 2.0 < 3.0
      (4L, (("word " * 59) + "#### #### ####").trim, "symbol_ratio"),
      (5L, ("123 456 " * 30).trim, "alpha_words"),
      (6L, ("lorem ipsum dolor sit " * 15).trim, "stopwords"))
      .toDF("doc_id", "text", "expect_fail")
    val out = df.select(col("doc_id") +: col("expect_fail") +:
        TA.qualityRuleColumns(col("text")): _*)
      .collect().map(r => r.getAs[String]("expect_fail") -> r).toMap
    assert(out("keep").getAs[Boolean]("keep"))
    for ((tag, rule) <- Seq(
        "word_count" -> "rule_word_count",
        "mean_word_len" -> "rule_mean_word_len",
        "symbol_ratio" -> "rule_symbol_ratio",
        "alpha_words" -> "rule_alpha_words",
        "stopwords" -> "rule_stopwords")) {
      assert(!out(tag).getAs[Boolean](rule), s"$tag should fail $rule")
      assert(!out(tag).getAs[Boolean]("keep"))
    }
  }

  test("int8 quantization: bounds, reconstruction error, and top-k recall") {
    import graft.functions.Embeddings
    val e = Tables.load(spark, Sf, "embeddings")
    val sc = Embeddings.absMax(col("embedding"))
    val q = e.select(col("vec_id"), col("embedding"), sc.as("s"),
      Embeddings.quantizeInt8(col("embedding"), sc).as("qv"))
    // every quantized element within [-127, 127]; reconstruction within
    // half a quantization step of the original
    val viol = q.select(
        array_max(transform(col("qv"), x => abs(x))).as("qmax"),
        array_max(zip_with(col("embedding"), col("qv"), (x, qx) =>
          abs(x.cast("double") - qx * col("s") / 127.0))).as("err"),
        (col("s") / 254.0 + 1e-9).as("bound"))
      .filter(col("qmax") > 127 || col("err") > col("bound")).count()
    assert(viol === 0)
    // quantized search finds nearly the same neighbors as float search
    val truth = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 32), e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val qe = q.select(col("vec_id"), col("qv").cast("array<double>").as("qv"))
    val got = Similarity.bruteForceTopK(
        qe.filter(col("vec_id") < 32), qe, "vec_id", "qv", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(f"int8 top-5 recall vs float truth: $recall%.3f")
    // 64-dim int8 keeps cosine order almost intact; floor well below
    // measured so only real breakage trips it
    assert(recall > 0.8)
  }

  test("PQ: codes in range, self-reconstruction is subspace-optimal, recall measured") {
    import graft.functions.Embeddings
    val e = Tables.load(spark, Sf, "embeddings")
    val codes = e.select(col("vec_id"), graft.functions.IvfPq.pqEncode(
      graft.functions.IvfPq.gridQuant(col("embedding"))).as("codes"))
    // every code is a valid 1-based codeword index
    val bad = codes.filter(exists(col("codes"),
      c => c < 1 || c > Embeddings.PqKsub)).count()
    assert(bad === 0)
    // the encoded reconstruction is optimal per subspace: distance to own
    // codes <= distance to a deliberately wrong code assignment, by the
    // ADC kernel of ann_pq_fixed
    val grid = graft.functions.IvfPq.gridQuant(col("embedding"))
    val own = e.join(codes, "vec_id")
      .select(col("vec_id"),
        graft.functions.IvfPq.pqAdc(grid, col("codes")).as("d_own"),
        graft.functions.IvfPq.pqAdc(grid,
          transform(col("codes"),
            c => pmod(c, lit(Embeddings.PqKsub.toLong)) + 1L)).as("d_other"))
    assert(own.filter(col("d_own") > col("d_other")).count() === 0)
    // candidate recall: PQ top-20 must contain a measured share of the
    // float-cosine top-5 (toy codebook — the floor catches a broken
    // encode/probe, not codebook quality)
    val truth = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 4), e, "vec_id", "embedding", k = 5)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val pq = SparkEntry.queries("ann_pq_fixed")(spark, Sf)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val hit = truth.count(pq.contains)
    info(s"PQ top-20 recall of float top-5: $hit/${truth.size}")
    assert(truth.nonEmpty)
    assert(hit.toDouble / truth.size >= 0.2,
      s"recall ${hit.toDouble / truth.size} below floor")
  }

  test("IVF+PQ: candidates confined to probed lists, ranks contiguous, recall measured") {
    val out = SparkEntry.queries("ann_ivfpq_fixed")(spark, Sf)
      .select("query_id", "neighbor_id", "cid", "rank")
      .as[(Long, Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val byQuery = out.groupBy(_._1)
    byQuery.foreach { case (q, rows) =>
      // nprobe = 4: neighbors may come from at most 4 inverted lists
      assert(rows.map(_._3).distinct.size <= 4, s"query $q probed too many lists")
      // ranks are the contiguous prefix 1..n
      assert(rows.map(_._4).sorted.toSeq === (1L to rows.size).toSeq, s"query $q ranks")
    }
    // recall of the float top-5 inside the IVFPQ top-10 (probing loses
    // lists, PQ loses precision — the floor catches broken mechanics)
    val e = Tables.load(spark, Sf, "embeddings")
    val truth = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 4), e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val pairs = out.map(r => (r._1, r._2)).toSet
    val hit = truth.count(pairs.contains)
    info(s"IVFPQ top-10 recall of float top-5: $hit/${truth.size}")
    assert(hit >= 1, "IVFPQ retrieved none of the float truth")
  }

  test("LSH topk recall vs brute force is measured and bounded") {
    val e = Tables.load(spark, Sf, "embeddings")
    val truth = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.lshTopK(e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(f"LSH recall@5 on random corpus: $recall%.3f (candidates ${got.size})")
    // random (near-orthogonal) vectors are LSH's worst case — top-5
    // "neighbors" win by tiny margins no sketch preserves; the bound only
    // documents a floor. True near-dup recall is covered by the
    // injected-twin test above.
    assert(recall > 0.02)
  }

  test("IVF topk: injected twin is retrieved as its own rank-1 neighbor") {
    val e = Tables.load(spark, Sf, "embeddings")
    val twin = e.filter(col("vec_id") === 1).withColumn("vec_id", lit(900000L))
    val ivf = Similarity.ivfTopK(e.unionByName(twin), "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 2)
    // identical vectors land in the same centroid list, so the twin is
    // always a candidate and must win rank 1 with sim 1
    val got = ivf.filter(col("query_id") === 900000L && col("rank") === 1).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("neighbor_id") === 1L)
    assert(math.abs(got(0).getAs[Double]("sim") - 1.0) < 1e-12)
  }

  test("trainCentroids: executor-side mean arrays preserve dim order") {
    // the per-iteration collect is nlist ROWS of mean arrays (assembled
    // executor-side by pos-sorted collect_list), so dim order must
    // survive the re-assembly: asymmetric dims catch any shuffle of
    // positions. nlist=1 → centroid = unit(mean of all vectors).
    val df = Seq((1L, Array(1.0, 0.0, 0.0, 2.0)),
      (2L, Array(3.0, 0.0, 0.0, 4.0))).toDF("id", "v")
    val c = Similarity.trainCentroids(df, "id", "v", nlist = 1, iters = 1)
    assert(c.length === 1)
    val n = math.sqrt(2.0 * 2 + 3.0 * 3)
    val expect = Array(2.0 / n, 0.0, 0.0, 3.0 / n)
    c(0).zip(expect).foreach { case (g, e) => assert(math.abs(g - e) < 1e-12) }
  }

  test("IVF topk recall vs brute force is measured and bounded") {
    val e = Tables.load(spark, Sf, "embeddings")
    val truth = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.ivfTopK(e, "vec_id", "embedding", k = 5,
      nlist = 8, nprobe = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (truth & got).size.toDouble / truth.size
    info(f"IVF recall@5 on random corpus: $recall%.3f (candidates ${got.size})")
    // probing half the lists on a near-orthogonal random corpus; the
    // floor documents measured behavior (see the LSH note above)
    assert(recall > 0.3)
  }

  test("hubness histogram: hand-checked hub, antihub, and degree-1 vector") {
    // cosine top-1 on three 2-D-ish vectors: A->B, B->A, C->B, so B is
    // the hub (in-degree 2), A ordinary (1), C the antihub (0)
    val e = Seq(
      (1L, Array(1.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.6f, 0.4f))).toDF("vec_id", "embedding")
    val got = Similarity.hubnessHistogram(e, e, "vec_id", "embedding", k = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }

  test("IVF frame path (nlist > literalMax): full probe equals brute force, broadcast join not literal") {
    val e = Tables.load(spark, Sf, "embeddings").filter(col("vec_id") < 200)
    val truth = Similarity.bruteForceTopK(e, e, "vec_id", "embedding", k = 3)
      .select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    // literalMax below nlist forces the broadcast-relation path; nprobe =
    // nlist probes every list, so the candidate set is complete and the
    // result must equal brute force EXACTLY (same IEEE dots, same
    // (sim desc, neighbor_id) total order)
    val frame = Similarity.ivfTopK(e, "vec_id", "embedding", k = 3,
      nlist = 16, nprobe = 16, literalMax = 8)
    val got = frame.select("query_id", "neighbor_id", "rank")
      .as[(Long, Long, Int)].collect().toSet
    assert(got === truth)
    // the 100 TB shape assertions: centroids arrive via a broadcast join,
    // never as an nlist-element array literal baked into the plan
    val litArray = "\\[[-0-9.E]+(,[-0-9.E]+){9,}".r
    assert(frame.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"),
      "frame path must assign via a broadcast centroid join")
    assert(litArray.findFirstIn(frame.queryExecution.analyzed.toString).isEmpty,
      "frame path must not embed centroid literals in the plan")
    // and the small-nlist literal path is the inverse: centroid literals
    // in the plan, no broadcast nested loop anywhere
    val literal = Similarity.ivfTopK(e, "vec_id", "embedding", k = 3,
      nlist = 16, nprobe = 16)
    assert(litArray.findFirstIn(literal.queryExecution.analyzed.toString).isDefined)
    assert(!literal.queryExecution.executedPlan.toString
      .contains("BroadcastNestedLoopJoin"))
  }

  test("IVF frame path: injected twin is retrieved as its own rank-1 neighbor") {
    val e = Tables.load(spark, Sf, "embeddings")
    val twin = e.filter(col("vec_id") === 1).withColumn("vec_id", lit(900000L))
    val ivf = Similarity.ivfTopK(e.unionByName(twin), "vec_id", "embedding",
      k = 5, nlist = 8, nprobe = 2, literalMax = 4)
    val got = ivf.filter(col("query_id") === 900000L && col("rank") === 1).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("neighbor_id") === 1L)
    assert(math.abs(got(0).getAs[Double]("sim") - 1.0) < 1e-12)
  }

  test("trainCentroidsDf: unit-norm centroid relation, distinct bounded list ids") {
    val e = Tables.load(spark, Sf, "embeddings")
    val cents = Similarity.trainCentroidsDf(e, "vec_id", "embedding",
      nlist = 32, iters = 2)
    val rows = cents.select(col("list"),
      sqrt(Similarity.dot(col("c"), col("c"))).as("n")).collect()
    assert(rows.nonEmpty && rows.length <= 32)
    val ids = rows.map(_.getInt(0))
    assert(ids.distinct.length === ids.length)
    assert(ids.forall(i => i >= 0 && i < 32))
    rows.foreach(r => assert(math.abs(r.getDouble(1) - 1.0) < 1e-9,
      s"centroid ${r.getInt(0)} not unit-norm: ${r.getDouble(1)}"))
  }

  test("ScaleHints nlist cap is dims-aware") {
    val n = 1L << 40 // √n far above every cap — the cap binds
    assert(graft.functions.ScaleHints.forCount(n, dims = 64).nlist === (1 << 18))
    // 768-dim embeddings: 256 MB / (8 B × 768) ≈ 43k lists, not 2^18
    val c768 = graft.functions.ScaleHints.forCount(n, dims = 768).nlist
    assert(c768 < (1 << 18) && c768.toLong * 768 * 8 <= (256L << 20))
    assert(graft.functions.ScaleHints.forCount(100L, dims = 768).nlist === 16) // floor intact
  }

  test("approx distinct sketch stays within 5% of the exact count") {
    // raw relative error of the sketch itself
    val li = Tables.load(spark, Sf, "lineitem")
    val raw = li.agg(approx_count_distinct(col("l_partkey")).as("a"),
      countDistinct(col("l_partkey")).as("e")).collect()(0)
    val approx = raw.getAs[Long]("a").toDouble
    val exact = raw.getAs[Long]("e").toDouble
    assert(math.abs(approx - exact) / exact < 0.05, s"approx=$approx exact=$exact")
    // the oracle-checked query publishes the deterministic verdict
    val row = SparkEntry.queries("q_approx_distinct")(spark, Sf)
      .collect()(0)
    assert(row.getAs[Boolean]("approx_within_5pct"))
    assert(row.getAs[Long]("exact_parts").toDouble === exact)
  }

  test("multimodal stub decode: histogram normalized, bytes counted") {
    val feats = Multimodal.decodeFeatures(
      Multimodal.toBlobs(docs.limit(10), "doc_id", "text"))
    val r = feats.collect()
    assert(r.length === 10)
    r.foreach { row =>
      val hist = row.getSeq[Double](row.fieldIndex("byte_hist"))
      assert(math.abs(hist.sum - 1.0) < 1e-9)
      assert(row.getAs[Long]("n_bytes") > 0)
    }
  }

  test("multimodal frame sampling: frames reassemble the payload; everyN samples") {
    val blobs = Multimodal.toBlobs(docs.limit(10), "doc_id", "text")
    val payloads = blobs.select("doc_id", "data").collect()
      .map(r => r.getLong(0) -> r.getAs[Array[Byte]](1)).toMap
    val frames = Multimodal.frameSample(blobs, frameBytes = 64)
      .collect().groupBy(_.getAs[Long]("doc_id"))
    payloads.foreach { case (id, bytes) =>
      val fs = frames(id).sortBy(_.getAs[Long]("frame_idx"))
      // contiguous frames, 40 ms apart, concatenating back to the payload
      assert(fs.map(_.getAs[Long]("frame_idx")).toSeq === fs.indices.map(_.toLong))
      assert(fs.map(_.getAs[Long]("ts_ms")).toSeq === fs.indices.map(_ * 40L))
      assert(fs.flatMap(_.getAs[Array[Byte]]("data")).toSeq === bytes.toSeq)
    }
    // everyN keeps frames 0, N, 2N... only
    val sampled = Multimodal.frameSample(blobs, frameBytes = 64, everyN = 3)
      .select("frame_idx").collect().map(_.getLong(0))
    assert(sampled.forall(_ % 3 == 0))
  }

  test("multimodal resize: fixed geometry, deterministic, empty-safe") {
    val blobs = Multimodal.toBlobs(docs.limit(5), "doc_id", "text")
      .unionByName(Seq((999999L, "application/octet-stream", Array.empty[Byte]))
        .toDF("doc_id", "media_type", "data"))
    val a = Multimodal.resizeStub(blobs, 8, 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("data").toSeq).toMap
    val b = Multimodal.resizeStub(blobs, 8, 4).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Array[Byte]]("data").toSeq).toMap
    assert(a === b) // deterministic
    assert(a.values.forall(_.length === 32)) // exactly width*height bytes
    assert(a(999999L).forall(_ === 0.toByte)) // empty payload → zero-fill
  }

  test("real image codec: PNG round-trip exact, sniffing routes, resize formula") {
    import Multimodal.ImageCodec
    // lossless round-trip: encode a known gray pattern, decode, read
    // back the EXACT samples (raster path — getRGB would remap them)
    val png = ImageCodec.encodeGrayPng(11, 7, (x, y) => (5 * x + 17 * y) % 256)
    assert(ImageCodec.looksLikeImage(png))
    val img = ImageCodec.decode(png).get
    assert(img.getWidth === 11 && img.getHeight === 7)
    for (y <- 0 until 7; x <- 0 until 11)
      assert(ImageCodec.grayAt(img, x, y) === (5 * x + 17 * y) % 256)
    // non-image bytes: sniff rejects, decode is None, stub handles
    assert(!ImageCodec.looksLikeImage("plain text".getBytes))
    assert(ImageCodec.decode("plain text".getBytes).isEmpty)
    // nearest-neighbor resize indexes ⌊x·sw/dw⌋: hand-check a corner
    val small = ImageCodec.resizeGray(img, 4, 2)
    assert(small.length === 8)
    assert((small(0) & 0xFF) === 0) // (0,0) → src (0,0) = 0
    assert((small(1) & 0xFF) === (5 * (1 * 11 / 4)) % 256) // (1,0) → src(2,0)

    // decodeFeatures routes image blobs through the REAL path: true
    // dimensions, luma histogram over pixels
    val blob = Seq((42L, "image/png", png)).toDF("doc_id", "media_type", "data")
    val f = Multimodal.decodeFeatures(blob).collect()(0)
    assert(f.getAs[Int]("width") === 11 && f.getAs[Int]("height") === 7)
    val hist = f.getAs[scala.collection.Seq[Double]]("byte_hist")
    assert(math.abs(hist.sum - 1.0) < 1e-9)

    // end-to-end synth → decode → resize → re-decode matches formulas
    val ids = Seq(0L, 1L, 17L, 255L).toDF("doc_id")
    val stats = Multimodal.imageStats(Multimodal.synthGrayPng(ids, "doc_id"))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(4)))).toMap
    for (id <- Seq(0L, 1L, 17L, 255L)) {
      val w = (8 + id % 16).toInt; val h = (8 + (id / 16) % 16).toInt
      val expect = (for (x <- 0 until w; y <- 0 until h)
        yield (31 * id + 7 * x + 13 * y) % 256).sum
      assert(stats(id) === ((w, h, expect)), s"id=$id")
    }
    val rs = Multimodal.imageStats(Multimodal.resizeImage(
        Multimodal.synthGrayPng(ids, "doc_id"), 8, 8))
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getLong(4)))).toMap
    for (id <- Seq(0L, 1L, 17L, 255L)) {
      val w = (8 + id % 16).toInt; val h = (8 + (id / 16) % 16).toInt
      val expect = (for (x <- 0 until 8; y <- 0 until 8)
        yield (31 * id + 7 * (x * w / 8) + 13 * (y * h / 8)) % 256).sum
      assert(rs(id) === ((8, 8, expect)), s"id=$id")
    }
  }

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("dedup_cluster_best: cluster-membership join carries no broadcast hint") {
    // membership is one row per doc in any near-dup pair — unbounded at
    // corpus scale, so the plan must NOT hard-hint a broadcast. With the
    // auto-broadcast thresholds forced off, any surviving BroadcastHashJoin
    // can only come from a hint; hint-free, every join degrades to
    // sort-merge (AQE may still promote genuinely small frames in prod)
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val q = SparkEntry.queries("dedup_cluster_best")(spark, Sf)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert(q.count() > 0)
    }
  }

  test("topTerms: shuffle-join df path matches the broadcast path") {
    import graft.functions.TermStats
    val d = docs.limit(200)
    def rows(b: Boolean) =
      TermStats.topTerms(d, "doc_id", "text", k = 3, broadcastDf = b)
        .select("doc_id", "term", "tf", "df", "rank")
        .as[(Long, String, Long, Long, Long)].collect().sorted.toSeq
    assert(rows(false) === rows(true))
    // with thresholds off, broadcastDf=false must take the shuffle join —
    // the web-scale vocabulary path the scaladoc promises
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1") {
      val plan = TermStats.docTermStats(d, "doc_id", "text", broadcastDf = false)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
      val hinted = TermStats.docTermStats(d, "doc_id", "text")
        .queryExecution.executedPlan.toString
      assert(hinted.contains("BroadcastHashJoin"), hinted.take(2000))
    }
  }

  test("topTokenFrac: per-row cost is capped at MaxRepetitionTokens") {
    // an adversarial all-distinct doc pinned a task for 77 s under the old
    // O(n²) distinct×filter formulation; sort + longest-run is O(n log n),
    // so even the worst in-window shape finishes in well under 5 s. Also
    // pin the cap semantics: the metric is computed over the first
    // MaxRepetitionTokens tokens only (denominator included), so a hot
    // token past the window does not count
    assert(TA.MaxRepetitionTokens === 10000)
    val nasty = (0 until 50000).map(i => s"t$i").mkString(" ")
    val past = ((0 until TA.MaxRepetitionTokens).map(i => s"u$i") ++
      Seq.fill(5000)("dup")).mkString(" ")
    def run() = Seq((1L, nasty), (2L, past)).toDF("doc_id", "text")
      .select(col("doc_id"), TA.topTokenFrac(col("text")).as("f"))
      .as[(Long, Double)].collect().toMap
    run() // warm: codegen + first-query session cost, not the kernel
    val t0 = System.nanoTime()
    val got = run()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got(1L) === 1.0 / TA.MaxRepetitionTokens) // all distinct in-window
    assert(got(2L) === 1.0 / TA.MaxRepetitionTokens) // "dup" repeats lie past the cap
    assert(secs < 5.0, f"capped repetition scan took $secs%.1f s")
  }

  test("keyHash60 kernel: bit-identical to the conv(substring(md5)) formulation") {
    import graft.functions.Sampling
    // the engine's hottest primitive moved to a digest-direct kernel —
    // pin bit-identity against the original declarative form (which is
    // also exactly what the DuckDB mirror computes) across ASCII,
    // unicode, empty, long, and null inputs
    val vals = Seq("a", "", "hello world", "é中文 mixed",
      "x" * 4000, "0", "null", null)
    val df = vals.toDF("s")
    val rows = df.select(
        Sampling.keyHash60(col("s")).as("kernel"),
        conv(substring(md5(col("s").cast("string")), 1, 15), 16, 10)
          .cast("long").as("legacy"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(1))
      if (!r.isNullAt(0)) {
        assert(r.getLong(0) === r.getLong(1))
        assert(r.getLong(0) >= 0L) // 60-bit nonnegative contract
      }
    }
  }

  test("keyHash120 kernel: h1 == keyHash60, h2 == declarative md5 chars 16-30") {
    import graft.functions.{Sampling, Sketches}
    // the ExactSubstr composite key: one digest, two independent 60-bit
    // halves. h1 must stay bit-identical to the established keyHash60
    // (and its DuckDB mirror); h2 must equal the declarative hex-substring
    // form that keyHash60bSql mirrors.
    val vals = Seq("a", "", "hello world", "é中文 mixed",
      "x" * 4000, "0", "null", null)
    val df = vals.toDF("s")
    val rows = df.select(
        Sketches.keyHash120(col("s")).as("hh"),
        Sampling.keyHash60(col("s")).as("h1ref"),
        conv(substring(md5(col("s").cast("string")), 16, 15), 16, 10)
          .cast("long").as("h2ref"))
      .select(col("hh.h1"), col("hh.h2"), col("h1ref"), col("h2ref"))
      .collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) === r.isNullAt(2))
      if (!r.isNullAt(0)) {
        assert(r.getLong(0) === r.getLong(2)) // h1 == keyHash60
        assert(r.getLong(1) === r.getLong(3)) // h2 == md5 bits 60..119
        assert(r.getLong(0) >= 0L && r.getLong(1) >= 0L)
      }
    }
  }

  test("modeCount kernel: mode multiplicity, ties, nulls, empty; tokenNgrams parity") {
    import graft.functions.Sketches
    // mode multiplicity via the native kernel equals the histogram max
    val rows = Seq(
      (1L, Seq("a", "b", "a", "c", "a")), // mode a ×3
      (2L, Seq("x", "y")),                // tie → 1
      (3L, Seq.empty[String]),            // empty → 0
      (4L, Seq("z", "z", "z", "z"))       // all same → 4
    ).toDF("id", "arr")
    val got = rows.select(col("id"), Sketches.modeCount(col("arr")).as("m"))
      .as[(Long, Long)].collect().toMap
    assert(got === Map(1L -> 3L, 2L -> 1L, 3L -> 0L, 4L -> 4L))
    // null elements form one group (the null-safe-fold convention)
    val withNulls = Seq((9L, Seq[String](null, "a", null, null))).toDF("id", "arr")
    assert(withNulls.select(Sketches.modeCount(col("arr")))
      .as[Long].head() === 3L)
    // tokenNgrams now routes >= n through the native WordShinglesExpr:
    // same values as the declarative transform/slice formulation
    val texts = Seq((1L, "a b c d"), (2L, "a"), (3L, ""), (4L, "p q"))
      .toDF("id", "text")
    val viaNative = texts.select(col("id"),
        TA.tokenNgrams(col("text"), 2).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(viaNative(1L) === Seq("a b", "b c", "c d"))
    assert(viaNative(2L) === Seq.empty) // < n: empty-array convention kept
    assert(viaNative(3L) === Seq.empty)
    assert(viaNative(4L) === Seq("p q"))
  }

  test("co-occurrence PMI: hand-computed integer log2 collocations") {
    import graft.functions.TermStats
    // tokens: doc1 = a b a, doc2 = b a -> T=5; c(a)=3, c(b)=2
    // window-2 pairs: (a,b):1 (b,a):2 (a,a):1 -> P=4
    // pmi(b,a) = ilog2(2*25) - ilog2(2*3*4) = 5 - 4 = 1
    // pmi(a,b) = ilog2(25)   - ilog2(3*2*4) = 4 - 4 = 0
    // pmi(a,a) = ilog2(25)   - ilog2(3*3*4) = 4 - 5 = -1
    val df = Seq((1L, "a b a"), (2L, "b a")).toDF("doc_id", "text")
    val got = TermStats.cooccurPmi(df, "text", window = 2, minCount = 1,
        k = 10)
      .as[(String, String, Long, Long, Long, Long)].collect().toSeq
    assert(got === Seq(
      ("b", "a", 2L, 2L, 3L, 1L),
      ("a", "b", 1L, 3L, 2L, 0L),
      ("a", "a", 1L, 3L, 3L, -1L)))
    // the unigram table must come back broadcast — the pair stream is
    // corpus-sized and must not shuffle on token keys for the lookup
    val plan = TermStats.cooccurPmi(df, "text", 2, 1, 10)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("hashed classifier: HOF fold equals explode+sum, zero exchanges") {
    // the aggregate-lambda score must equal summing the same per-token
    // weight expression over exploded tokens — two plan shapes, one value
    val df = Seq((1L, "alpha beta alpha gamma"), (2L, "delta"),
      (3L, "beta beta beta")).toDF("doc_id", "text")
    val folded = df.select(col("doc_id"),
        TA.hashedClassifierScore(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    val exploded = df
      .select(col("doc_id"), explode(TA.tokens(col("text"))).as("t"))
      .groupBy("doc_id")
      .agg(sum(TA.bucketWeight(TA.featureBucket(col("t")))).as("s"))
      .as[(Long, Long)].collect().toMap
    assert(folded === exploded)
    // repeated token scores linearly
    assert(folded(3L) % 3 === 0)
    // per-document scoring is scan-local: no exchange in the plan
    val plan = df.select(TA.hashedClassifierScore(col("text")))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(2000))
  }

  test("DSIR weights: hand-computed surprisal difference toward target") {
    import graft.functions.TermStats
    // raw: a=3 b=1 c=1 T=5; target(doc1): a=2 b=1 T=3
    // wt(a) = ilog2(5/3=1) - ilog2(4/3=1) = 0
    // wt(b) = ilog2(5)=2   - ilog2(4/2=2)=1 -> 1
    // wt(c) = ilog2(5)=2   - ilog2(4/1=4)=2 -> 0
    val df = Seq((1L, "a a b", "en"), (2L, "a c", "de"))
      .toDF("doc_id", "text", "lang")
    val got = TermStats.dsirWeights(df, "doc_id", "text",
        col("lang") === "en")
      .select("doc_id", "n_tokens", "sum_weight", "mean_weight")
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(got === Set(
      (1L, 3L, 1L, 1.0 / 3),
      (2L, 2L, 0L, 0.0)))
  }

  test("containment pairs: quote subset found where Jaccard misses it") {
    // B embeds A verbatim plus an equally long payload: containment of A
    // in B is 1.0 while Jaccard sits below the 0.5 pair threshold — the
    // exact shape the asymmetric detector exists for
    val a = "p q r s t u v w"
    val b = a + " x1 x2 x3 x4 x5 x6 x7 x8"
    val df = Seq((1L, a), (2L, b), (3L, "zz yy xx ww")).toDF("doc_id", "text")
    val cont = Dedup.ngramContainmentPairs(df, "doc_id", "text",
        shingleN = 2, minContainment = 0.9)
      .as[(Long, Long, Long, Long, Long, Double, Double)].collect()
    assert(cont.length === 1)
    val (ia, ib, common, na, nb, ca, cb) = cont.head
    assert((ia, ib) === ((1L, 2L)))
    assert(na === 7L && common === 7L && ca === 1.0)
    assert(cb < 0.5 && nb === 15L)
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text",
      shingleN = 2, minJaccard = 0.5)
    assert(jac.count() === 0) // Jaccard 7/15 — invisible to the symmetric test
  }

  test("co-occurrence PMI: property — counts match a naive fold") {
    import graft.functions.TermStats
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val docGen = Gen.listOf(Gen.oneOf("a", "b", "c", "d")).map(_.mkString(" "))
    (0 until 5).foreach { i =>
      val texts = Gen.listOfN(12, docGen)
        .apply(Gen.Parameters.default, Seed(900L + i)).get
      val df = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        .toDF("doc_id", "text")
      val window = 1 + i % 3
      // naive reference: ordered pairs within the forward window
      val toks = texts.map(_.split(" ").filter(_.nonEmpty).toSeq)
      val naivePairs = toks.flatMap { w =>
        for (d <- 1 to window; k <- 0 until math.max(w.length - d, 0))
          yield (w(k), w(k + d))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val naiveUni = toks.flatten.groupBy(identity)
        .view.mapValues(_.size.toLong).toMap
      val got = TermStats.cooccurPmi(df, "text", window, minCount = 1,
          k = 1000)
        .as[(String, String, Long, Long, Long, Long)].collect()
      // Spark tokenization splits "" to [""], so restrict to nonempty
      // docs for the comparison frame
      val gotPairs = got.map(r => (r._1, r._2) -> r._3).toMap
        .filter { case ((l, r), _) => l.nonEmpty && r.nonEmpty }
      assert(gotPairs === naivePairs.filter {
        case ((l, r), _) => l.nonEmpty && r.nonEmpty })
      got.filter(r => r._1.nonEmpty && r._2.nonEmpty).foreach { r =>
        assert(r._4 === naiveUni(r._1), s"c_left of ${r._1}")
        assert(r._5 === naiveUni(r._2), s"c_right of ${r._2}")
      }
    }
  }

  test("kgram coverage: property — matches a naive shingle count") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    val docGen = Gen.listOf(Gen.oneOf("x", "y", "z", "w")).map(_.mkString(" "))
    (0 until 5).foreach { i =>
      val texts = Gen.listOfN(10, docGen)
        .apply(Gen.Parameters.default, Seed(700L + i)).get
      val k = 2 + i % 2
      val df = texts.zipWithIndex.map { case (t, j) => (j.toLong, t) }
        .toDF("doc_id", "text")
      // naive: shingle list per doc with the whole-doc short rule
      def shingles(t: String): Seq[String] = {
        val w = t.split(" ", -1).toSeq // Spark split keeps empty tokens
        if (w.length < k) Seq(w.mkString(" "))
        else w.sliding(k).map(_.mkString(" ")).toSeq
      }
      val perDoc = texts.zipWithIndex.map { case (t, j) =>
        j.toLong -> shingles(t) }
      val docsPerGram = perDoc.flatMap { case (id, gs) => gs.distinct
        .map(_ -> id) }.groupBy(_._1).view.mapValues(_.size).toMap
      val expect = perDoc.map { case (id, gs) =>
        val dup = gs.count(g => docsPerGram(g) >= 2).toLong
        id -> ((gs.size.toLong, dup,
          dup.toDouble / math.max(gs.size.toLong, 1L)))
      }.toMap
      val got = Dedup.kgramDupCoverage(df, "doc_id", "text", k)
        .as[(Long, Long, Long, Double)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      assert(got === expect, s"round $i k=$k")
    }
  }

  test("semantic dedup cells: identical vectors collapse, higher id drops") {
    import graft.queries.VectorQueries
    val same = (0 until 64).map(_ => 0.1f)
    val ortho = (0 until 64).map(i => if (i % 2 == 0) 0.1f else -0.1f)
    val df = Seq((1L, same), (2L, same), (3L, ortho))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedupCells(df, "vec_id", "embedding",
        VectorQueries.IvfPqGrid, threshold = 0.92)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2))))
      .toMap
    assert(got(1L)._2 === true)      // canonical: smallest id keeps
    assert(got(2L)._2 === false)     // identical twin in the same cell drops
    assert(got(1L)._1 === got(2L)._1) // identical vectors share a cell
    assert(got(3L)._2 === true)      // orthogonal vector survives anywhere
  }

  test("kgram coverage: cross-doc duplicated positions, short-doc rule") {
    val df = Seq((1L, "x y z"), (2L, "y z w"), (3L, "q"),
      (4L, "y z y z")).toDF("doc_id", "text")
    // doc1 grams: {x y, y z}; doc2: {y z, z w}; doc3 (< k tokens): {q};
    // doc4: y z, z y, y z — "y z" occurs in docs 1, 2, 4
    val by = Dedup.kgramDupCoverage(df, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(by(1L) === ((2L, 1L, 0.5)))
    assert(by(2L) === ((2L, 1L, 0.5)))
    assert(by(3L) === ((1L, 0L, 0.0)))
    assert(by(4L) === ((3L, 2L, 2.0 / 3))) // tf(y z)=2 counted per position
  }

  test("winnow pairs: sizes post-cap, exact dup reaches containment 1.0") {
    import graft.functions.Sampling
    // docs 1/2 are exact duplicates; all three docs share a boilerplate
    // header whose fingerprints the df cap (2 < 3 docs) removes. Sizes
    // computed AFTER the cap mean n_shared == n_a == n_b for the dup
    // pair — containment n_shared/least(n_a,n_b) is exactly 1.0, which
    // pre-cap sizes (inflated by the capped header) could never reach.
    val header = "standard site header words appear on every page"
    val body = "d1 d2 d3 d4 d5 d6 d7 d8 d9 d10 d11 d12"
    val df = Seq(
      (1L, s"$header $body"),
      (2L, s"$header $body"),
      (3L, s"$header e1 e2 e3 e4 e5 e6 e7 e8 e9 e10 e11 e12")
    ).toDF("doc_id", "text")
    val got = Dedup.winnowPairs(df, "doc_id", "text",
        minShared = 1, maxFpDf = 2)
      .select("id_a", "id_b", "n_shared", "n_a", "n_b")
      .as[(Long, Long, Long, Long, Long)].collect()
    val dup = got.find(p => p._1 == 1L && p._2 == 2L).get
    assert(dup._3 === dup._4 && dup._4 === dup._5,
      s"exact dup must fully contain post-cap: $dup")

    // split assignment: NULL keys hash the explicit sentinel, not the
    // bare salt — identical to hashing the sentinel as a literal key
    val splits = Seq("train" -> 980, "val" -> 10, "test" -> 10)
    val withNull = Seq(Some("k1"), None, Some("k2"))
      .toDF("doc_id")
    val sp = Sampling.splitAssign(withNull, "doc_id", splits)
      .select("doc_id", "split").as[(Option[String], String)]
      .collect().toMap
    val sentinelSplit = Sampling
      .splitAssign(Seq(Sampling.NullKeySentinel).toDF("doc_id"), "doc_id", splits)
      .select("split").as[String].head()
    assert(sp(None) === sentinelSplit)
    assert(sp(Some("k1")) === Sampling
      .splitAssign(Seq("k1").toDF("doc_id"), "doc_id", splits)
      .select("split").as[String].head())
  }

  test("random projection: unit-axis images, sign symmetry, integer-exact") {
    import graft.functions.Embeddings
    // v = e_i scaled to grid 64: projection dim d must be ±64 exactly
    // (the sign matrix entry), and proj(-v) = -proj(v)
    val dims = 64
    val rows = Seq(3, 17).flatMap { i =>
      val v = Array.fill(dims)(0.0f); v(i) = 1.0f
      val n = v.map(x => -x)
      Seq((i.toLong * 2, v), (i.toLong * 2 + 1, n))
    }
    val got = Embeddings.randomProjection(rows.toDF("vec_id", "embedding"),
        "vec_id", "embedding", outDims = 8)
      .collect().map(r => r.getLong(0) -> (0 until 8).map(d =>
        r.getLong(r.fieldIndex(s"p$d"))))
      .toMap
    for (i <- Seq(3, 17); d <- 0 until 8) {
      val p = got(i.toLong * 2)(d)
      assert(math.abs(p) === 64L,
        s"unit axis $i must project to ±64 in dim $d, got $p")
      assert(got(i.toLong * 2 + 1)(d) === -p) // sign symmetry
      assert(p === Similarity.planeSign(d, i).toLong * 64L) // exact sign
    }
    // scan-local: no exchange in the plan
    val plan = Embeddings.randomProjection(rows.toDF("vec_id", "embedding"),
      "vec_id", "embedding", outDims = 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(1000))
  }

  test("projectTopK: twin survives the JL shortlist, recall measured") {
    val e = Tables.load(spark, Sf, "embeddings")
    val twin = e.filter(col("vec_id") === 1).withColumn("vec_id", lit(900000L))
    val full = e.unionByName(twin)
    // an identical vector has the identical projection, so it tops the
    // coarse stage and must rerank to rank 1 with grid-cosine 1 (query
    // from the twin side — ties at sim 1.0 break toward the smaller id,
    // which is the original)
    val got = Similarity.projectTopK(
        full.filter(col("vec_id") === 900000L), full,
        "vec_id", "embedding", k = 3, shortlist = 20)
      .filter(col("rank") === 1).collect()
    assert(got.length === 1)
    assert(got(0).getAs[Long]("neighbor_id") === 1L)
    assert(math.abs(got(0).getAs[Double]("sim") - 1.0) < 1e-12)
    // recall of the JL prefilter vs grid-exact brute force
    val qs = e.filter(col("vec_id") < 16)
    val truth = Similarity.projectTopK(qs, e, "vec_id", "embedding",
        k = 5, shortlist = 1000000) // shortlist ≥ corpus = exact brute
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approx = Similarity.projectTopK(qs, e, "vec_id", "embedding",
        k = 5, shortlist = 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (truth & approx).size.toDouble / truth.size
    info(f"JL-prefilter recall@5 (shortlist 50, 16 dims): $recall%.3f")
    // random near-orthogonal corpus is the worst case (see the LSH
    // note); the floor documents measured behavior
    assert(recall > 0.1)
  }

  test("char-class profile: hand-counted classes, rollup fractions") {
    val df = Seq((1L, "Ab1 ,x!", "en"), (2L, "zzé", "fr"))
      .toDF("doc_id", "text", "lang")
    val per = TA.charClassProfile(df, "text")
      .select("doc_id", "n_chars", "n_alpha", "n_digit", "n_space",
        "n_punct", "n_other")
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(r => r._1 -> r).toMap
    assert(per(1L) === ((1L, 7L, 3L, 1L, 1L, 2L, 0L))) // A b x | 1 | ' ' | , !
    assert(per(2L) === ((2L, 3L, 2L, 0L, 0L, 0L, 1L))) // é is OTHER
    val roll = TA.scriptProfile(df, "lang", "text")
      .select("lang", "n_docs", "n_other", "other_frac")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    assert(roll("fr") === (("fr", 1L, 1L, 1.0 / 3.0)))
  }

  test("sketch eval: hand-checked confusion counts, empty-side guards") {
    val cand = Seq((1L, 2L), (1L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val truth = Seq((1L, 2L), (4L, 5L), (6L, 7L)).toDF("id_a", "id_b")
    val r = Dedup.sketchEval(cand, truth)
      .as[(Long, Long, Long, Long, Long, Double, Double)].head()
    assert(r === ((3L, 3L, 2L, 1L, 1L, 2.0 / 3, 2.0 / 3)))
    val empty = Dedup.sketchEval(cand.limit(0), truth.limit(0))
      .select("precision", "recall").as[(Double, Double)].head()
    assert(empty === ((0.0, 0.0))) // no NaN on empty sides
  }

  test("centroid drift: identical snapshots cos 1.0, sign-flip cos -1.0") {
    import graft.functions.Embeddings
    val a = Seq((1L, Array(0.5f, -0.25f, 0.125f, 1.0f), "x"),
      (2L, Array(0.25f, 0.5f, -1.0f, 0.0f), "x")).toDF("vec_id", "embedding", "label")
    val same = Embeddings.centroidDrift(a, a, "vec_id", "embedding", "label",
        dims = 4)
      .select("n_a", "n_b", "centroid_cos")
      .as[(Long, Long, Double)].head()
    assert(same._1 === 2L && same._2 === 2L)
    assert(math.abs(same._3 - 1.0) < 1e-12)
    val neg = a.withColumn("embedding",
      transform(col("embedding"), x => -x))
    val flip = Embeddings.centroidDrift(a, neg, "vec_id", "embedding", "label",
        dims = 4)
      .select("centroid_cos").as[Double].head()
    assert(math.abs(flip + 1.0) < 1e-12)
  }

  test("isotropy: collapsed cloud ratio 1.0, balanced +/- axes cancel the Gram") {
    import graft.functions.Embeddings
    val dup = Seq((1L, Array(0.5f, 0.25f), "x"), (2L, Array(0.5f, 0.25f), "x"),
      (3L, Array(0.5f, 0.25f), "x")).toDF("vec_id", "embedding", "label")
    val c = Embeddings.isotropyStats(dup, "embedding", "label", dims = 2)
      .select("n", "gram", "self_energy", "mean_pair_dot", "anisotropy")
      .as[(Long, Long, Long, Double, Double)].head()
    // grid (32, 16): self = 3·1280, gram = 96² + 48² = 9·1280,
    // mean pair dot = (11520 − 3840)/6 = 1280 = the shared ‖g‖²,
    // anisotropy exactly 1 for a fully collapsed cloud
    assert(c === ((3L, 11520L, 3840L, 1280.0, 1.0)))
    val axes = Seq((1L, Array(1.0f, 0.0f), "y"), (2L, Array(-1.0f, 0.0f), "y"),
      (3L, Array(0.0f, 1.0f), "y"), (4L, Array(0.0f, -1.0f), "y"))
      .toDF("vec_id", "embedding", "label")
    val i = Embeddings.isotropyStats(axes, "embedding", "label", dims = 2)
      .select("gram", "self_energy", "mean_pair_dot", "anisotropy")
      .as[(Long, Long, Double, Double)].head()
    // ± axes sum to zero → gram 0; grids are ±64 so self = 4·64²;
    // mean pair dot = −16384/12, ratio −1/3
    assert(i._1 === 0L && i._2 === 4 * 64L * 64L)
    assert(math.abs(i._3 - (-16384.0 / 12)) < 1e-12)
    assert(math.abs(i._4 + 1.0 / 3) < 1e-12)
  }

  test("merge changeset: upsert replaces, insert adds, delete drops, null-out works") {
    import graft.functions.Merge
    val snap = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "extra")
    // changeset lacks the 'extra' column → passes through untouched
    val ch = Seq(
      (2L, Some("B"), "upsert"),  // update
      (3L, Some("c"), "delete"),  // delete
      (4L, Some("d"), "upsert"),  // insert
      (9L, Some("x"), "delete"),  // delete of absent key: no-op
      (1L, None: Option[String], "upsert") // null-out v (MERGE SET semantics)
    ).toDF("id", "v", "op")
    val got = Merge.applyChangeset(snap, ch, Seq("id"))
      .as[(Long, Option[String], Option[Long])].collect().toSet
    assert(got === Set(
      (1L, None, Some(10L)),      // v nulled, extra untouched
      (2L, Some("B"), Some(20L)),
      (4L, Some("d"), None)))     // inserted row has no extra
    // plan: a real shuffled full-outer join on the key, no broadcast of
    // the changeset side, no nested loop
    val plan = Merge.applyChangeset(snap, ch, Seq("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("FullOuter"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("skew profile + zone maps: hand-checked salt factor and pruning") {
    import graft.functions.Diagnostics
    // key A: 6 rows, B: 2, C: 1 → total 9, n_keys 3, mean 3
    val df = (Seq.fill(6)("A") ++ Seq.fill(2)("B") ++ Seq("C")).toDF("k")
    val got = Diagnostics.skewProfile(df, "k", topK = 2)
      .as[(String, Long, Double, Double, Long)].collect().sortBy(-_._2).toList
    assert(got.map(r => (r._1, r._2)) === List(("A", 6L), ("B", 2L)))
    assert(got(0)._4 === 2.0)          // A is 2× the mean
    assert(got(0)._5 === 2L)           // salt 2 levels A onto the mean
    assert(got(1)._5 === 1L)           // B needs no salt
    // zone maps prune exactly the buckets whose range misses [25, 35]
    val ev = Seq((0L, 10L), (1L, 20L), (256L, 30L), (257L, 33L),
      (512L, 50L)).toDF("id", "v")
    val z = Diagnostics.zonePrune(
        Diagnostics.zoneMaps(ev, expr("id DIV 256"), col("v")),
        lit(25L), lit(35L))
      .select("bucket", "scan").as[(Long, Boolean)].collect().toMap
    assert(z === Map(0L -> false, 1L -> true, 2L -> false))
  }

  test("table stats: nulls/NDV/min-max hand-checked, no Expand in plan") {
    import graft.functions.TableStats
    val df = Seq(
      (Some(3L), Some("b")), (Some(1L), None),
      (Some(3L), Some("a")), (None, Some("a"))
    ).toDF("k", "v")
    val got = TableStats.columnStats(df, Seq("k", "v"))
      .as[(String, Long, Long, Long, Option[String], Option[String])]
      .collect().map(r => r._1 -> r).toMap
    assert(got("k") === (("k", 4L, 1L, 2L, Some("1"), Some("3"))))
    assert(got("v") === (("v", 4L, 1L, 2L, Some("a"), Some("b"))))
    // one typed min/max pass + one NDV unpivot pass per column TYPE
    // GROUP (long + string here → 3 pruned scans total), and no
    // Expand: the N-countDistinct shape this replaced pushed N+1
    // copies of every row through one global aggregate
    val plan = TableStats.columnStats(df, Seq("k", "v"))
      .queryExecution.executedPlan.toString
    assert(plan.split("LocalTableScan").length - 1 <= 3, plan.take(2000))
    assert(!plan.contains("Expand"), plan.take(2000))
  }

  test("holdout sample: growth-stable per-stratum membership") {
    import graft.functions.Sampling
    val hold = Sampling.topKPerKey(
        docs.withColumn("__h", Sampling.keyHash60(
          concat_ws(":", lit("holdout"), col("doc_id").cast("string")))),
        "lang", k = 20, order = Seq(col("__h"), col("doc_id")))
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    // per-stratum cap honored
    hold.groupBy(_._2).foreach { case (_, m) => assert(m.size <= 20) }
    // growth stability: adding NEW docs never evicts an existing member
    // unless a new doc hashes lower — verify the common case that the
    // holdout of the original corpus is computed identically when the
    // corpus doubles with higher-id docs that hash HIGHER... instead
    // assert determinism across independent evaluations
    val again = Sampling.topKPerKey(
        docs.withColumn("__h", Sampling.keyHash60(
          concat_ws(":", lit("holdout"), col("doc_id").cast("string")))),
        "lang", k = 20, order = Seq(col("__h"), col("doc_id")))
      .select("doc_id", "lang").as[(Long, String)].collect().toSet
    assert(hold === again)
  }

  test("BPE merge learning: hand-derived Sennrich example, greedy + ties") {
    import graft.functions.TermStats
    // the canonical BPE corpus: low×5, lower×2, newest×6, widest×3.
    // Round 1: (e,s)=(n..est+w..est)=9 ties (s,t) and (t,/w) — lexic
    // smallest pair wins → (e,s). Then (es,t)=9, (est,/w)=9, then
    // (l,o)=7 ties (o,w) → (l,o).
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = TermStats.bpeLearnMerges(df, "text", nMerges = 4)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, "e", "s", 9L),
      (2L, "es", "t", 9L),
      (3L, "est", "/w", 9L),
      (4L, "l", "o", 7L)))
  }

  test("BPE merge learning: a fully merged word offers no more pairs") {
    import graft.functions.TermStats
    // ab×5 cd×3. Round 1 ties (a,b)=(b,/w)=5 → (a,b); round 2 (ab,/w)=5
    // leaves ab as the single symbol ⟨ab/w⟩, which must drop out of the
    // pair count; rounds 3-4 then merge cd the same way.
    val text = (Seq.fill(5)("ab") ++ Seq.fill(3)("cd")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val got = TermStats.bpeLearnMerges(df, "text", nMerges = 4)
      .as[(Long, String, String, Long)].collect().sortBy(_._1).toList
    assert(got === List(
      (1L, "a", "b", 5L),
      (2L, "ab", "/w", 5L),
      (3L, "c", "d", 3L),
      (4L, "cd", "/w", 3L)))
    // both words end as one token each
    val enc = TermStats.bpeEncodeStats(df, "doc_id", "text", nMerges = 4)
      .select("n_words", "n_bpe_tokens").as[(Long, Long)].collect().toList
    assert(enc === List((8L, 8L)))
  }

  test("BPE encode: subword counts under the learned vocabulary") {
    import graft.functions.TermStats
    // same canonical corpus as the merge-learning test, split over two
    // docs so the word counts (low×5 lower×2 newest×6 widest×3) and
    // hence the 4 learned merges (e,s)(es,t)(est,/w)(l,o) are identical.
    // Final vocab: low=⟨lo⟩⟨w⟩⟨/w⟩(3) lower=⟨lo⟩⟨w⟩⟨e⟩⟨r⟩⟨/w⟩(5)
    // newest=⟨n⟩⟨e⟩⟨w⟩⟨est/w⟩(4) widest=⟨w⟩⟨i⟩⟨d⟩⟨est/w⟩(4)
    val d1 = (Seq.fill(5)("low") ++ Seq.fill(2)("lower")).mkString(" ")
    val d2 = (Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val df = Seq((1L, d1), (2L, d2)).toDF("doc_id", "text")
    val got = TermStats.bpeEncodeStats(df, "doc_id", "text", nMerges = 4)
      .select("doc_id", "n_words", "n_bpe_tokens")
      .as[(Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, 7L, 5L * 3 + 2L * 5), (2L, 9L, 6L * 4 + 3L * 4)))
  }

  test("prefix recall: decoy wins the prefix, truth wins the full dims") {
    // query q=[1,0,0,0]; neighbor 1 is the true full-dim top-1, neighbor
    // 2 is a PREFIX DECOY (better first-2-dim cosine, far in full space)
    // so recall@1 = 0 at prefix 2 and 1 at the full 4 dims
    val vecs = Seq(
      (0L, Array(1f, 0f, 0f, 0f)),
      (1L, Array(1f, 0.1f, 0f, 0f)),
      (2L, Array(1f, 0.05f, 9f, 0f)),
      (3L, Array(0.1f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val got = Similarity.prefixRecall(vecs.filter($"vec_id" === 0), vecs,
        "vec_id", "embedding", k = 1, prefixes = Seq(2, 4))
      .select("prefix_dims", "query_id", "n_overlap", "recall")
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1).toList
    assert(got === List((2L, 0L, 0L, 0.0), (4L, 0L, 1L, 1.0)))
  }

  test("trigram CV surprisal: every backoff level fires with its penalty") {
    import graft.functions.{Sampling, TermStats}
    // learn the hash split first, then CRAFT texts per membership:
    // train docs are all "a b c d" (k copies), four eval docs exercise
    // the full cascade against counts c3=c2p=k, c2b=c1p=k, c1=k, T=4k
    val ids = (1L to 200L).toDF("doc_id")
    val assign = Sampling.splitAssign(ids, "doc_id",
        Seq("train" -> 900, "eval" -> 100), salt = "cv")
      .as[(Long, String)].collect()
    val evalIds = assign.filter(_._2 == "eval").map(_._1).sorted.take(4)
    assert(evalIds.length === 4) // ~20 expected of 200
    val k = assign.count(_._2 == "train")
    val scenarios = Map(
      evalIds(0) -> "a b c", // seen trigram: s3 = ilog2(k/k) = 0
      evalIds(1) -> "c b c", // unseen tri, seen bigram (b,c): s2 = 2
      evalIds(2) -> "a b d", // unseen tri+bigram, seen unigram d: s1 = 6
      evalIds(3) -> "q q q") // fully OOV: s0 = 4 + ilog2(4k)
    val docs = assign.map { case (id, split) =>
      (id, if (split == "train") "a b c d" else scenarios.getOrElse(id, ""))
    }.toSeq.toDF("doc_id", "text")
    val got = TermStats.trigramSurprisalCv(docs, "doc_id", "text",
        evalPerMille = 100)
      .select("doc_id", "n_trigrams", "n_bo2", "n_bo1", "n_oov",
        "sum_surprisal")
      .as[(Long, Long, Long, Long, Long, Long)].collect()
      .sortBy(_._1).toList
    def ilog2(x: Long) = 63 - java.lang.Long.numberOfLeadingZeros(x)
    assert(got === List(
      (evalIds(0), 1L, 0L, 0L, 0L, 0L),
      (evalIds(1), 1L, 1L, 0L, 0L, 2L),
      (evalIds(2), 1L, 0L, 1L, 0L, 4L + ilog2(4L * k / k)),
      (evalIds(3), 1L, 0L, 0L, 1L, 4L + ilog2(4L * k))).sortBy(_._1))
  }

  test("BM25 top-k: hand-derived fixed-point scores and ordering") {
    import graft.functions.TermStats
    // N=3 docs, S=9 tokens, df(rare)=2 → idf_fp = (1e6·3)//5 = 600000.
    // d3 (tf=2): tf_fp = (1e6·22·9·2)//(180+27+81) = 1375000 → 825000.
    // d1 (tf=1): tf_fp = (1e6·22·9)//(90+27+81) = 1000000 → 600000.
    // d2 matches nothing and is filtered before the sort.
    val df = Seq((1L, "rare common common"), (2L, "common common common"),
      (3L, "rare rare common")).toDF("doc_id", "text")
    val got = TermStats.bm25TopK(df, "doc_id", "text", Seq("rare"), k = 2)
      .select("doc_id", "n_terms_matched", "score_fp", "score")
      .as[(Long, Long, Long, Double)].collect().toList
    assert(got === List((3L, 1L, 825000L, 0.825), (1L, 1L, 600000L, 0.6)))
    // multi-term: every contribution is positive, rare outweighs common
    val multi = TermStats.bm25TopK(df, "doc_id", "text",
        Seq("rare", "common"), k = 3)
      .select("doc_id", "n_terms_matched", "score_fp")
      .as[(Long, Long, Long)].collect().toList
    assert(multi.map(_._1) === List(3L, 1L, 2L)) // rare-heavy first
    assert(multi.map(_._2) === List(2L, 2L, 1L))
    assert(multi.forall(_._3 > 0))
  }

  test("vocab growth: prefix-distinct terms, Heaps-curve monotone") {
    import graft.functions.TermStats
    // prefix id<2: docs 0,1 → terms {a,b,c}, 5 tokens; id<4 adds d
    val df = Seq((0L, "a b a"), (1L, "b c"), (2L, "a d"), (3L, "d d"))
      .toDF("doc_id", "text")
    val got = TermStats.vocabGrowth(df, "doc_id", "text", Seq(2L, 4L))
      .select("cutoff", "n_docs", "n_tokens", "n_terms")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((2L, 2L, 5L, 3L), (4L, 4L, 9L, 4L)))
  }

  test("tf cosine pairs: order-insensitive, exact-dup scores 1.0, df cap") {
    // docs 1/2 share the same rare vocabulary in DIFFERENT order (zero
    // shared 3-grams beyond chance) — tf cosine must score them 1.0
    // while shingle Jaccard scores ~0; doc 3 is unrelated; all docs
    // share a boilerplate word that the df cap (2 < 3) removes
    val df = Seq(
      (1L, "boiler alpha beta gamma delta"),
      (2L, "boiler delta gamma beta alpha"),
      (3L, "boiler x1 x2 x3 x4")
    ).toDF("doc_id", "text")
    val got = Dedup.tfCosinePairs(df, "doc_id", "text",
        minSim = 0.5, maxTermDf = 2)
      .select("id_a", "id_b", "dot", "n2_a", "n2_b", "sim")
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.length === 1)
    val p = got(0)
    assert((p._1, p._2) === ((1L, 2L)))
    assert(p._3 === 4L && p._4 === 4L && p._5 === 4L) // 4 rare terms, tf 1
    assert(p._6 === 1.0) // exactly — integer dot over sqrt of equal norms
    // multiplicity weighting: tf vectors (2,1)·(1,2) = 4, norms² = 5
    // → sim = 4/(√5·√5), the exact IEEE value (√5·√5 ≠ 5 in doubles)
    val m = Seq((1L, "a a b"), (2L, "a b b")).toDF("doc_id", "text")
    val gm = Dedup.tfCosinePairs(m, "doc_id", "text",
        minSim = 0.0, maxTermDf = 10)
      .select("dot", "n2_a", "n2_b", "sim")
      .as[(Long, Long, Long, Double)].head()
    assert(gm === ((4L, 5L, 5L, 4.0 / (math.sqrt(5.0) * math.sqrt(5.0)))))
  }

  test("dedup savings: cluster-size histogram with keep-smallest tokens") {
    // cluster {1,2,3} (chain), singleton 4; tokens 5,3,2,7 — canonical 1
    // keeps 5 tokens, so the size-3 row saves 3+2 and removes 2 docs
    val corpus = Seq((1L, 5L), (2L, 3L), (3L, 2L), (4L, 7L))
      .toDF("doc_id", "toks")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    val got = Dedup.dedupSavings(corpus, "doc_id", col("toks"), pairs)
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1).toList
    assert(got === List((1L, 1L, 0L, 0L), (3L, 1L, 2L, 5L)))
  }

  test("sorted neighbors: exact dups adjacent in rank, pairs verified") {
    val got = Dedup.sortedNeighborDups(corpus, "doc_id", "text",
      window = 4, maxHamming = 3, useMd5 = true)
    // every exact-dup pair has hamming 0 and rank distance 1 (identical
    // simhash, ids sort adjacent) — all injected %10 copies must surface
    val exact = got.filter(col("hamming") === 0)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val injected = docs.filter(col("doc_id") % 10 === 0)
      .select(col("doc_id")).as[Long].collect()
      .map(id => (id, id + 1000000L)).toSet
    assert(injected.subsetOf(exact),
      s"missing exact pairs: ${injected.diff(exact).take(5)}")
    // two-phase bucketed rank == a plain global unsigned-order rank:
    // same pair set as a 1-bucket run (single bucket = one partition
    // holds the whole order, the naive reference shape)
    val ref = Dedup.sortedNeighborDups(corpus, "doc_id", "text",
        window = 4, maxHamming = 3, bucketBits = 1, useMd5 = true)
      .select("id_a", "id_b", "rank_dist", "hamming")
      .as[(Long, Long, Int, Int)].collect().toSet
    val fine = got.select("id_a", "id_b", "rank_dist", "hamming")
      .as[(Long, Long, Int, Int)].collect().toSet
    assert(fine === ref)
  }

  test("mixture weights: zero-token stratum weighs 0, never NaN/Inf") {
    import graft.functions.Sampling
    val df = Seq(("A", 90L), ("B", 10L), ("EMPTY", 0L)).toDF("src", "toks")
    for (g <- Seq(
        Sampling.temperatureWeights(df, "src", col("toks")),
        Sampling.mixtureWeights(df, "src", col("toks")))) {
      val by = g.select("src", "weight", "keep_prob")
        .as[(String, Double, Double)].collect().map(r => r._1 -> r).toMap
      assert(by("EMPTY")._2 === 0.0 && by("EMPTY")._3 === 0.0,
        s"empty stratum must weigh 0: ${by("EMPTY")}")
      by.values.foreach { case (s, w, kp) =>
        assert(!w.isNaN && !w.isInfinite && !kp.isNaN, s"$s: $w / $kp")
      }
      assert(by("B")._2 > 1.0 && by("A")._2 < 1.0) // rebalancing intact
    }
  }

  test("negative samples: deterministic, k per positive, collisions flagged") {
    import graft.functions.Sampling
    val pos = Seq((1L, 10L), (1L, 11L), (2L, 10L)).toDF("user_id", "item")
    def run() = Sampling.negativeSamples(pos, "user_id", "item", k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getBoolean(4))).sortBy(t => (t._1, t._2, t._3))
    val a = run(); val b = run()
    assert(a.toSeq === b.toSeq) // layout-independent determinism
    assert(a.length === 9) // 3 positives x k=3
    // negatives come from the OBSERVED universe only
    assert(a.forall(t => Set(10L, 11L).contains(t._4)))
    // the flag is exactly "this negative is one of the key's positives"
    val posSet = Set((1L, 10L), (1L, 11L), (2L, 10L))
    a.foreach { case (u, _, _, neg, hit) =>
      assert(hit === posSet.contains((u, neg)))
    }
    // user 2 never saw item 11: drawing it must be flagged false
    assert(a.filter(t => t._1 == 2L && t._4 == 11L).forall(!_._5))
  }

  test("negative samples: negative item ids bucket like the SQL mirror") {
    import graft.functions.Sampling
    // Spark's pmod is non-negative; DuckDB's % is sign-preserving, so
    // the mirror must wrap: ((x % N) + N) % N. Negative ids exercise
    // exactly the divergent inputs
    val pos = Seq((1L, -10L), (1L, -3L), (2L, 5L)).toDF("user_id", "item")
    val out = Sampling.negativeSamples(pos, "user_id", "item", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
    assert(out.length === 6)
    // draws land in the observed universe — the dense index covered
    // the negative ids (a broken bucket key loses them from `indexed`
    // and the idx join silently drops rows instead)
    assert(out.forall(t => Set(-10L, -3L, 5L).contains(t._3)))
    // and the mirror SQL carries the wrapped modulo in both spots
    val sql = Sampling.negativeSamplesSql("SELECT 1 AS k_, 1 AS item", k = 2)
    assert("\\(\\(item % \\d+\\) \\+ \\d+\\) % \\d+".r
      .findAllIn(sql).size >= 2, sql)
  }

  test("exact-substring dedup: hand-checked runs, islands, short docs, keep-first") {
    import graft.functions.Dedup
    // A owns "a b c d e f"; B copies it + a tail; C self-repeats;
    // D is shorter than L (never rewritten even though its text is a
    // substring of A); E carries A's "a b c d" TWICE, mid-text
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f x y z"),
      (3L, "p q r s p q r s p q"),
      (4L, "a b c"),
      (5L, "m n o p a b c d q r s t a b c d u v")).toDF("id", "text")
    val got = Dedup.exactSubstrDedup(docs, "id", "text", minLen = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got(1L) === ((6L, 0L, 0L, "a b c d e f"))) // first carrier keeps
    assert(got(2L) === ((9L, 6L, 1L, "x y z"))) // whole copied run removed
    assert(got(3L) === ((10L, 6L, 1L, "p q r s"))) // within-doc repetition
    assert(got(4L) === ((3L, 0L, 0L, "a b c"))) // < L tokens: untouched
    assert(got(5L) === ((18L, 8L, 2L, "m n o p q r s t u v"))) // two islands
  }

  test("exact-substring dedup: property — matches an independent in-memory reference") {
    import graft.functions.Dedup
    // independent reference straight from the definition: mark every
    // non-first L-gram occurrence ((id, pos) order), covered = union of
    // [p, p+L-1], spans = maximal covered runs, clean = uncovered tokens
    def ref(docs: Seq[(Long, String)], L: Int): Map[Long, (Long, Long, Long, String)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val firstOcc = scala.collection.mutable.Map[Seq[String], (Long, Int)]()
      for ((id, _) <- docs.sortBy(_._1); ts = toks(id); i <- 0 to ts.length - L)
        firstOcc.getOrElseUpdate(ts.slice(i, i + L), (id, i))
      docs.map { case (id, _) =>
        val ts = toks(id)
        val covered = (0 to ts.length - L)
          .filter(i => firstOcc(ts.slice(i, i + L)) != ((id, i)))
          .flatMap(i => i until i + L).toSet
        val spans = ts.indices.count(i =>
          covered(i) && !covered.contains(i - 1))
        val clean = ts.indices.filterNot(covered).map(ts).mkString(" ")
        id -> ((ts.length.toLong, covered.size.toLong, spans.toLong, clean))
      }.toMap
    }
    val vocab = Array("a", "b", "c", "d")
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val docs = (1L to 8L).map(id =>
        id -> Seq.fill(rnd.nextInt(13))(vocab(rnd.nextInt(4))).mkString(" "))
      val got = Dedup.exactSubstrDedup(docs.toDF("id", "text"), "id", "text",
          minLen = 3)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      assert(got === ref(docs, 3), s"seed $seed: $docs")
    }
  }

  test("exact-substring dedup, incremental: corpus outranks batch, batch keep-first applies") {
    import graft.functions.Dedup
    val corpus = Seq((1L, "a b c d e f")).toDF("id", "text")
    val batch = Seq(
      (11L, "a b c d e f x y z"), // prefix lives in the corpus
      (12L, "q r s t u v"),       // fresh — first batch carrier keeps
      (13L, "q r s t u v"),       // batch-internal copy of 12 — cleaned
      (14L, "a b c")              // < L tokens: untouched
    ).toDF("id", "text")
    val got = Dedup.exactSubstrDedupIncremental(batch, corpus,
        "id", "text", minLen = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))).toMap
    assert(got.keySet === Set(11L, 12L, 13L, 14L)) // batch rows only
    assert(got(11L) === ((9L, 6L, 1L, "x y z")))
    assert(got(12L) === ((6L, 0L, 0L, "q r s t u v")))
    assert(got(13L) === ((6L, 6L, 1L, "")))
    assert(got(14L) === ((3L, 0L, 0L, "a b c")))
  }

  test("exact-substring dedup, incremental: property — equals the batch slice of the full-corpus run") {
    import graft.functions.Dedup
    // the steady-state contract: cleaning `batch` against `corpus`
    // incrementally must give exactly what the full (corpus ∪ batch) run
    // gives for the batch docs, provided corpus ids sort first (the
    // keep-first order the incremental asymmetry encodes: the corpus is
    // already shipped, so it always outranks the batch)
    val vocab = Array("a", "b", "c", "d")
    (1 to 8).foreach { seed =>
      val rnd = new scala.util.Random(100 + seed)
      def gen(ids: Seq[Long]) = ids.map(id =>
        id -> Seq.fill(rnd.nextInt(13))(vocab(rnd.nextInt(4))).mkString(" "))
      val corpus = gen(1L to 4L)
      val batch = gen(11L to 16L)
      def toMapRows(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
      val incr = toMapRows(Dedup.exactSubstrDedupIncremental(
        batch.toDF("id", "text"), corpus.toDF("id", "text"),
        "id", "text", minLen = 3))
      val full = toMapRows(Dedup.exactSubstrDedup(
        (corpus ++ batch).toDF("id", "text"), "id", "text", minLen = 3)
        .filter(col("id") >= 11L))
      assert(incr === full, s"seed $seed: corpus=$corpus batch=$batch")
    }
  }

  test("exact-substring dedup: persisted gram index unions incrementally") {
    import graft.functions.Dedup
    // the production flow the docstring claims: build the gram index
    // ONCE from the kept corpus, UNION each shipped batch's index in,
    // and clean the next batch against the maintained index — no corpus
    // re-scan. Must equal the one-shot incremental run against the
    // union of everything shipped so far.
    val corpus = Seq((1L, "a b c d e f")).toDF("id", "text")
    val batch2 = Seq((11L, "p q r s t u")).toDF("id", "text")
    val batch3 = Seq(
      (21L, "a b c d e f x y"), // dup run lives in the ORIGINAL corpus
      (22L, "p q r s t u z w"), // dup run lives in the SHIPPED batch2
      (23L, "k l m n o p q")    // fresh
    ).toDF("id", "text")
    val idx1 = Dedup.substrGramIndex(corpus, "text", minLen = 4)
    val idx2 = idx1.unionByName(
      Dedup.substrGramIndex(batch2, "text", minLen = 4)).distinct()
    val got = Dedup.exactSubstrDedupAgainstIndex(batch3, idx2,
        "id", "text", minLen = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(4)))).toMap
    assert(got(21L) === ((6L, "x y")))
    assert(got(22L) === ((6L, "z w")))
    assert(got(23L) === ((0L, "k l m n o p q")))
    // equivalence with the corpus-scan incremental path
    val oneShot = Dedup.exactSubstrDedupIncremental(batch3,
        corpus.unionByName(batch2), "id", "text", minLen = 4)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getString(4)))).toMap
    assert(got === oneShot)
  }

  test("exact-substring dedup: the df-cap knob excludes hot grams from marking") {
    import graft.functions.Dedup
    // "a b c d" has df 4 (A, B, E twice); at maxGramDf = 2 it stops
    // marking, so B loses only its df-2 grams ([1,5] coverage) and E —
    // whose duplicated grams are ALL the hot one — is left intact
    val docs = Seq(
      (1L, "a b c d e f"),
      (2L, "a b c d e f x y z"),
      (5L, "m n o p a b c d q r s t a b c d u v")).toDF("id", "text")
    val got = Dedup.exactSubstrDedup(docs, "id", "text", minLen = 4,
        maxGramDf = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getString(4))).toMap
    assert(got(2L) === ((5L, "a x y z")))
    assert(got(5L) === ((0L, "m n o p a b c d q r s t a b c d u v")))
    intercept[IllegalArgumentException] {
      Dedup.exactSubstrDedup(docs, "id", "text", minLen = 4, maxGramDf = 1)
    }
  }

  test("prefix jaccard: hand-checked pair at the threshold boundary") {
    import graft.functions.Dedup
    // sets {a..e} and {a,b,c,d,f}: inter 4, union 6, J = 2/3
    val df = Seq((1L, "a b c d e"), (2L, "a b c d f"), (3L, "x y z"))
      .toDF("doc_id", "text")
    val hit = Dedup.prefixJaccardDups(df, "doc_id", "text", threshold = 0.6)
      .collect()
    assert(hit.length === 1)
    assert(hit.head.getLong(0) === 1L && hit.head.getLong(1) === 2L)
    assert(hit.head.getLong(2) === 4L) // inter
    assert(math.abs(hit.head.getDouble(5) - 2.0 / 3) < 1e-15)
    // above the pair's similarity: nothing survives
    assert(Dedup.prefixJaccardDups(df, "doc_id", "text", 0.7).count() === 0)
  }

  test("prefix jaccard: complete vs brute force (zero recall loss)") {
    import graft.functions.Dedup
    // deterministic corpus of overlapping token sets
    val docs = (0 until 24).map { i =>
      val toks = (0 until 8).map(j => s"t${(i * 3 + j * 5) % 17}").distinct
      (i.toLong, toks.mkString(" "))
    }
    val df = docs.toDF("doc_id", "text")
    val got = Dedup.prefixJaccardDups(df, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = docs.map { case (id, t) => id -> t.split(" ").toSet }.toMap
    val brute = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a) | sets(b)).size
      if j >= 0.5
    } yield (a, b)).toSet
    assert(got === brute)
    assert(brute.nonEmpty) // the fixture actually exercises the filter
  }

  test("prefix jaccard: the df cap drops candidates blocked only on hot terms") {
    import graft.functions.Dedup
    // every doc shares hot terms h1/h2; docs 1,2 are near-identical.
    // With the prefix ordered rarest-first their UNIQUE terms block
    // them; a df cap of 1 cannot drop a pair blocked on unique terms,
    // but capping below the hot terms' df removes pairs whose ONLY
    // shared prefix tokens are hot
    val df = Seq(
      (1L, "h1 h2 u1 u2 u3"), (2L, "h1 h2 u1 u2 u4"),
      (3L, "h1 h2 w1 w2 w3"), (4L, "h1 h2 x1 x2 x3"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.prefixJaccardDups(df, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === Set((1L, 2L))) // only 1-2 reach J >= 0.5 (4/6)
    // cap = 1 still finds 1-2: u1/u2 (df 2 > 1) are dropped from
    // blocking, but so are h1/h2 (df 4) — yet doc1's prefix keeps u3
    // (df 1)... which doc2 does not share, so the pair IS missed: the
    // documented bias, asserted explicitly
    val capped = Dedup.prefixJaccardDups(df, "doc_id", "text", 0.5,
      maxPrefixDf = 1)
    assert(capped.count() === 0)
  }
}
