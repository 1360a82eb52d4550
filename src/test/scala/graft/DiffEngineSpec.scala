package graft

import org.apache.spark.sql.functions._

import graft.core.{Classification => C, DiffOptions, TableSpec}
import graft.engine.{BucketPlan, DiffEngine}

/** Operator-level diff semantics on hand-built tables — mirrors the
  * reference's unit matrix (RangeComparatorTest / PartitionComparatorTest
  * shapes: empty sides, only-in-source/target, row and value mismatches,
  * null==null, 0/1/2 clustering columns).
  */
class DiffEngineSpec extends SparkSpec {
  import spark.implicits._

  private val wideSpec = TableSpec("wide1", Seq("pk"), Seq("c1"), Seq("v1", "v2"))
  private val narrowSpec = TableSpec("narrow1", Seq("pk"), Nil, Seq("v1", "v2"))
  private val idTok = DiffEngine.identityToken _

  // (pk, c1, v1, v2) rows — wide1 shape of the reference stress profile
  private def wide(rows: (Long, Int, String, java.lang.Integer)*) =
    rows.toDF("pk", "c1", "v1", "v2")

  test("identical tables: everything matches") {
    val t = wide((1L, 1, "a", 10), (1L, 2, "b", 20), (2L, 1, "c", 30))
    val stats = DiffEngine.rangeStats(t, t, wideSpec, DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("matched_partitions") === 2)
    assert(stats.getAs[Long]("mismatched_partitions") === 0)
    assert(stats.getAs[Long]("matched_rows") === 3)
    assert(stats.getAs[Long]("matched_values") === 6)
    assert(stats.getAs[Long]("mismatched_values") === 0)
    assert(stats.getAs[Long]("only_in_source") === 0)
    assert(stats.getAs[Long]("only_in_target") === 0)
  }

  test("partition only in source / only in target") {
    val src = wide((1L, 1, "a", 10), (2L, 1, "b", 20))
    val tgt = wide((1L, 1, "a", 10), (3L, 1, "z", 99))
    val stats = DiffEngine.rangeStats(src, tgt, wideSpec, DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("only_in_source") === 1)
    assert(stats.getAs[Long]("only_in_target") === 1)
    assert(stats.getAs[Long]("matched_partitions") === 1)
    // one-sided partitions contribute no row/value counters
    // (reference never runs a PartitionComparator for them)
    assert(stats.getAs[Long]("matched_rows") === 1)
    assert(stats.getAs[Long]("matched_values") === 2)
  }

  test("empty target: all partitions only-in-source (RangeComparatorTest empty-side)") {
    val src = wide((1L, 1, "a", 10), (2L, 1, "b", 20))
    val tgt = wide().filter(lit(false))
    val stats = DiffEngine.rangeStats(src, tgt, wideSpec, DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("only_in_source") === 2)
    assert(stats.getAs[Long]("matched_partitions") === 0)
    assert(stats.getAs[Long]("matched_rows") === 0)
    // both sides empty: no counter rows, one all-zero row, table kept
    val none = DiffEngine.rangeStats(tgt, tgt, wideSpec, DiffOptions(), idTok).collect()
    assert(none.map(_.toSeq).toSeq === Seq(Seq.fill(8)(0L) :+ "wide1"))
  }

  test("row present in one side only => PARTITION_MISMATCH") {
    val src = wide((1L, 1, "a", 10), (1L, 2, "b", 20))
    val tgt = wide((1L, 1, "a", 10))
    val ps = DiffEngine.partitionStats(src, tgt, wideSpec, idTok).collect()(0)
    assert(ps.getAs[String]("classification") === C.PartitionMismatch)
    assert(ps.getAs[Long]("matched_rows") === 1)
    assert(ps.getAs[Long]("rows_only_in_source") === 1)
  }

  test("cell mismatch counts per column; null==null is a match") {
    val src = wide((1L, 1, "a", null), (1L, 2, "b", 20))
    val tgt = wide((1L, 1, "X", null), (1L, 2, "b", 21))
    val ps = DiffEngine.partitionStats(src, tgt, wideSpec, idTok).collect()(0)
    // row1: v1 a!=X mismatch, v2 null<=>null match; row2: v1 match, v2 mismatch
    assert(ps.getAs[Long]("matched_values") === 2)
    assert(ps.getAs[Long]("mismatched_values") === 2)
    assert(ps.getAs[String]("classification") === C.PartitionMismatch)
  }

  test("null vs value is a mismatch in both directions") {
    val src = wide((1L, 1, "a", 10), (2L, 1, null, 20))
    val tgt = wide((1L, 1, null, 10), (2L, 1, "b", 20))
    val stats = DiffEngine.rangeStats(src, tgt, wideSpec, DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("mismatched_values") === 2)
    assert(stats.getAs[Long]("matched_values") === 2)
  }

  test("ordered stats: walk stops at first clustering divergence (fail-fast)") {
    // mirrors PartitionComparator.call: counters cover only the positional
    // prefix before the first clustering mismatch / exhausted side
    // pk 1: target misses c1=2 — positions shift, walk dies at pos 2:
    //   prefix = pos 1 only, even though c1=3 matches set-wise
    // pk 2: value mismatch at pos 1 does NOT stop the walk (flag + continue)
    // pk 3: identical rows — full walk, all_clusterings_match
    val src = wide((1L, 1, "a", 10), (1L, 2, "b", 20), (1L, 3, "c", 30),
      (2L, 1, "x", 40), (2L, 2, "y", 50),
      (3L, 1, "k", 60))
    val tgt = wide((1L, 1, "a", 10), (1L, 3, "c", 30),
      (2L, 1, "DIFF", 40), (2L, 2, "y", 50),
      (3L, 1, "k", 60))
    val got = DiffEngine.orderedPartitionStats(src, tgt, wideSpec, idTok)
      .collect().map(r => r.getAs[Long]("pk") ->
        ((r.getAs[Boolean]("all_clusterings_match"),
          r.getAs[Long]("matched_rows"),
          r.getAs[Long]("matched_values"),
          r.getAs[Long]("mismatched_values")))).toMap
    assert(got(1L) === ((false, 1L, 2L, 0L))) // prefix of 1 row, set-wise would be 2
    assert(got(2L) === ((true, 2L, 3L, 1L)))  // mismatch counted, walk continued
    assert(got(3L) === ((true, 1L, 2L, 0L)))
    // leftover rows on one side => allClusteringsMatch=false, prefix kept
    val shortTgt = wide((3L, 1, "k", 60))
    val src3 = wide((3L, 1, "k", 60), (3L, 2, "l", 70))
    val g3 = DiffEngine.orderedPartitionStats(src3, shortTgt, wideSpec, idTok).collect()(0)
    assert(g3.getAs[Boolean]("all_clusterings_match") === false)
    assert(g3.getAs[Long]("matched_rows") === 1)
    // set semantics on pk 1 counts both surviving rows — the two variants
    // agree everywhere EXCEPT the documented fail-fast prefix
    val set = DiffEngine.partitionStats(src, tgt, wideSpec, idTok)
      .filter(col("pk") === 1L).collect()(0)
    assert(set.getAs[Long]("matched_rows") === 2)
    // degenerate pk-only table (no clustering, no regulars): rows are
    // indistinguishable; a count imbalance still fails the walk
    val pkOnly = TableSpec("t", Seq("pk"))
    val g4 = DiffEngine.orderedPartitionStats(
      Seq(1L, 1L).toDF("pk"), Seq(1L).toDF("pk"), pkOnly, idTok).collect()(0)
    assert(g4.getAs[Boolean]("all_clusterings_match") === false)
    assert(g4.getAs[Long]("matched_rows") === 1)
    assert(g4.getAs[Long]("matched_values") === 0)
  }

  test("narrow table (no clustering): one row per partition") {
    val src = Seq((1L, "a", 10), (2L, "b", 20)).toDF("pk", "v1", "v2")
    val tgt = Seq((1L, "a", 10), (2L, "B", 20)).toDF("pk", "v1", "v2")
    val stats = DiffEngine.rangeStats(src, tgt, narrowSpec, DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("matched_partitions") === 1)
    assert(stats.getAs[Long]("mismatched_partitions") === 1)
    assert(stats.getAs[Long]("matched_rows") === 2)
  }

  test("disallowed tokens are skipped and excluded from comparison") {
    val src = wide((1L, 1, "a", 10), (2L, 1, "b", 20), (3L, 1, "c", 30))
    val tgt = wide((1L, 1, "a", 10), (2L, 1, "XX", 20), (3L, 1, "c", 30))
    val stats = DiffEngine.rangeStats(src, tgt, wideSpec,
      DiffOptions(disallowedTokens = Seq(2L)), idTok).collect()(0)
    assert(stats.getAs[Long]("skipped_partitions") === 1)
    assert(stats.getAs[Long]("mismatched_partitions") === 0)
    assert(stats.getAs[Long]("matched_partitions") === 2)
  }

  test("sampling keeps only pmod(token, den) < num and skips the rest") {
    val src = wide((0L to 9L).map(i => (i, 1, "a", Int.box(1))): _*)
    val stats = DiffEngine.rangeStats(src, src, wideSpec,
      DiffOptions(samplingNum = 3, samplingDen = 10), idTok).collect()(0)
    assert(stats.getAs[Long]("matched_partitions") === 3)
    assert(stats.getAs[Long]("skipped_partitions") === 7)
  }

  test("mismatches sink carries type + token + bucket") {
    val src = wide((1L, 1, "a", 10), (2L, 1, "b", 20))
    val tgt = wide((2L, 1, "bX", 20), (3L, 1, "c", 30))
    val m = DiffEngine.mismatches(src, tgt, wideSpec, DiffOptions(buckets = 10), idTok)
      .collect().map(r => (r.getAs[Long]("token"), r.getAs[String]("mismatch_type"))).toSet
    assert(m === Set((1L, C.OnlyInSource), (2L, C.PartitionMismatch), (3L, C.OnlyInTarget)))
  }

  test("reverse read ranks rows by descending clustering") {
    val t = wide((1L, 1, "a", 10), (1L, 2, "b", 20), (1L, 3, "c", 30))
    val top = DiffEngine.reverseRead(t, wideSpec)
      .filter(col("rev_rank") === 1).collect()(0)
    assert(top.getAs[Int]("c1") === 3)
  }

  test("duplicate full-PK rows pair positionally: identical sides all match") {
    // two rows with the SAME (pk, c1) but different values — a set join
    // would cross-product these into spurious mismatches
    val t = wide((1L, 1, "a", 10), (1L, 1, "b", 20), (1L, 1, "b", 20), (2L, 1, "c", 30))
    val stats = DiffEngine.rangeStats(t, t, wideSpec, DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("matched_partitions") === 2)
    assert(stats.getAs[Long]("mismatched_partitions") === 0)
    assert(stats.getAs[Long]("matched_rows") === 4)
    assert(stats.getAs[Long]("mismatched_values") === 0)
  }

  test("reverse validation flags order-sensitive duplicate pairing; self-diff agrees") {
    val spec = TableSpec("t", Seq("pk"), Seq("ck"), Seq("v"))
    val src = Seq((1L, 1, 10), (1L, 1, 20), (1L, 1, 30)).toDF("pk", "ck", "v")
    val tgt = Seq((1L, 1, 10), (1L, 1, 20)).toDF("pk", "ck", "v")
    // unequal duplicate counts pair a different prefix from each end:
    // forward pairs (10,10)(20,20)(30,·) — 2 value matches; reverse pairs
    // (30,20)(20,10)(10,·) — 2 value mismatches ⇒ the validation fires
    val res = DiffEngine.reverseValidation(src, tgt, spec, probability = 1.0)
    assert(res.count() === 1)
    assert(res.filter(!col("agree")).count() === 1)
    // identical sides: pairing from either end gives the same verdicts
    val self = DiffEngine.reverseValidation(src, src, spec, probability = 1.0)
    assert(self.count() === 1 && self.filter(!col("agree")).count() === 0)
    // probability 0 samples no partitions at all
    assert(DiffEngine.reverseValidation(src, tgt, spec, probability = 0.0).count() === 0)
  }

  test("corpus regression: lineitem (has dup PKs) vs itself is fully matched") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val stats = DiffEngine.rangeStats(li, li, graft.engine.Perturb.lineitemSpec,
      DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("mismatched_partitions") === 0)
    assert(stats.getAs[Long]("only_in_source") === 0)
    assert(stats.getAs[Long]("matched_partitions") > 0)
  }

  test("uniqueKey spec skips the occurrence window but still diffs correctly") {
    val src = wide((1L, 1, "a", 10), (2L, 1, "b", 20))
    val tgt = wide((1L, 1, "a", 10), (2L, 1, "B", 20))
    val spec = wideSpec.copy(uniqueKey = true)
    val stats = DiffEngine.rangeStats(src, tgt, spec, DiffOptions(), idTok).collect()(0)
    assert(stats.getAs[Long]("matched_partitions") === 1)
    assert(stats.getAs[Long]("mismatched_partitions") === 1)
    // and the plan has no window exchange
    val plan = DiffEngine.rowLevel(src, tgt, spec).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"))
  }

  test("diff plan regression: one full-data shuffle per side, counters after") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    // rangeStats sums the counter rows of bucketStats on the driver
    val (_, q) = DiffEngine.bucketStats(li, graft.engine.Perturb.lineitemTarget(li),
      graft.engine.Perturb.lineitemSpec, BucketPlan.All, 100, idTok)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // window/join shuffle per side + partition-stats agg + bucket agg; any
    // fifth exchange means the join stopped reusing the window partitioning
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
    assert(shuffles === 4, s"expected 4 shuffles in:\n$plan")
    val fullData = "hashpartitioning\\(l_orderkey#\\d+L?, l_linenumber#\\d+".r
      .findAllIn(plan).length
    assert(fullData === 2, s"one (pk, clustering) shuffle per side in:\n$plan")
    assert("hashpartitioning\\(bucket#".r.findAllIn(plan).length === 1,
      s"the counter agg ships at most one row per bucket in:\n$plan")
  }

  test("ordered-stats plan regression: 3 pk shuffles, counters-only post-join exchange") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val q = DiffEngine.orderedPartitionStats(li,
      graft.engine.Perturb.lineitemTarget(li), graft.engine.Perturb.lineitemSpec,
      idTok)
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // one pk window exchange per side + ONE post-join pk exchange for the
    // cutoff window (the groupBy reuses it); a 4th exchange means either
    // the (pk, __pos) join stopped reusing the window partitioning or the
    // final agg re-shuffled
    val shuffles = "\\(\\d+\\) Exchange".r.findAllIn(plan).length
    assert(shuffles === 3, s"expected 3 shuffles in:\n$plan")
    // every exchange hashes on pk alone — never on (pk, __pos)
    assert(!plan.contains("__pos") ||
      "hashpartitioning\\([^)]*__pos".r.findAllIn(plan).isEmpty,
      s"join must reuse the pk-only window partitioning in:\n$plan")
    // the post-join exchange ships ONLY the 7 reduced scalar columns
    // (pk, __pos, in_src, in_tgt, __cl_ok, __mv, __mm), not both sides'
    // full payloads (the e4de5ad shrink)
    val counterExchange =
      "Exchange\\s*\\nInput \\[7\\]".r.findAllIn(plan).length
    assert(counterExchange === 1,
      s"expected one 7-column counter exchange in:\n$plan")
  }

  test("hot partition key: the diff join cannot skew on it, partial agg bounds the rest") {
    // worst-case partition skew: HALF the table lives in one partition
    // key. AQE cannot split a full-outer sort-merge join, so the engine's
    // defense is structural: the join shuffles on the FULL primary key
    // (pk, clustering), under which the hot pk's rows spread uniformly,
    // and the groupBy(pk) that follows is partial-aggregated map-side so
    // the hot key ships one pre-merged row per map task, not 25k rows.
    val n = 25000
    val hot = spark.range(n).select(lit(1L).as("pk"),
      col("id").cast("int").as("ck"), (col("id") * 2).cast("int").as("v"))
    val rest = spark.range(n).select((col("id") + 10L).as("pk"),
      lit(0).cast("int").as("ck"), col("id").cast("int").as("v"))
    val df = hot.unionByName(rest)
    val spec = TableSpec("skewed", Seq("pk"), Seq("ck"), Seq("v"))
    val q = DiffEngine.partitionStats(df, df, spec, DiffEngine.identityToken)
    // correctness under skew: every partition matched, hot pk intact
    val rows = q.collect()
    assert(rows.length === n + 1)
    val hotRow = rows.find(_.getAs[Long]("pk") == 1L).get
    assert(hotRow.getAs[Long]("matched_rows") === n)
    assert(hotRow.getAs[String]("classification") === C.Matched)
    assert(rows.forall(_.getAs[String]("classification") == C.Matched))
    val plan = q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    // the full-data exchanges hash on (pk, ck) — the hot pk distributes
    assert("hashpartitioning\\(pk#\\d+L?, ck#\\d+".r.findAllIn(plan).length >= 2,
      s"join must shuffle on the full primary key in:\n$plan")
    // no exchange hashes on pk alone carrying row-level data: the only
    // pk-only shuffle is the partial-aggregated partitionStats groupBy
    assert("partial_".r.findAllIn(plan).nonEmpty,
      s"groupBy(pk) must partial-aggregate map-side in:\n$plan")
  }

  test("composite partition key: grouping and classification over (pk1, pk2)") {
    val spec = TableSpec("cpk", Seq("pk1", "pk2"), Seq("c1"), Seq("v1"))
    val src = Seq(
      ("a", 1L, 1, "x"), ("a", 1L, 2, "y"), // partition (a,1): 2 rows
      ("a", 2L, 1, "z"),                    // partition (a,2)
      ("b", 1L, 1, "w")).toDF("pk1", "pk2", "c1", "v1")
    val tgt = Seq(
      ("a", 1L, 1, "x"), ("a", 1L, 2, "y"),
      ("a", 2L, 1, "ZZ"),                   // value mismatch
      ("c", 9L, 1, "new")).toDF("pk1", "pk2", "c1", "v1") // (b,1) gone, (c,9) new
    val tok = (cols: Seq[org.apache.spark.sql.Column]) => xxhash64(cols: _*)
    val stats = DiffEngine.rangeStats(src, tgt, spec, DiffOptions(), tok).collect()(0)
    assert(stats.getAs[Long]("matched_partitions") === 1)   // (a,1)
    assert(stats.getAs[Long]("mismatched_partitions") === 1) // (a,2)
    assert(stats.getAs[Long]("only_in_source") === 1)        // (b,1)
    assert(stats.getAs[Long]("only_in_target") === 1)        // (c,9)
    assert(stats.getAs[Long]("matched_rows") === 3)
    assert(stats.getAs[Long]("mismatched_values") === 1)
  }

  test("schema validation rejects mismatched regular columns") {
    val src = wide((1L, 1, "a", 10))
    val tgt = src.withColumnRenamed("v2", "v3")
    assertThrows[IllegalArgumentException] {
      DiffEngine.rowLevel(src, tgt, wideSpec.copy(regular = Nil))
    }
  }

  test("digest prefilter: identical sides all match and the diff is empty") {
    val t = wide((1L, 1, "a", 10), (2L, 1, "b", 20), (17L, 2, "c", null))
    val cmp = DiffEngine.digestCompare(t, t, wideSpec, buckets = 8, idTok).collect()
    assert(cmp.nonEmpty && cmp.forall(_.getAs[Boolean]("digest_match")))
    assert(DiffEngine.digestDiff(t, t, wideSpec, DiffOptions(),
      digestBuckets = 8, token = idTok).isEmpty)
  }

  test("digest prefilter: dirty buckets are exactly the buckets holding mismatches") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val tgt = graft.engine.Perturb.lineitemTarget(li)
    val spec = graft.engine.Perturb.lineitemSpec
    val b = 64
    val dirty = DiffEngine.digestCompare(li, tgt, spec, b, idTok)
      .filter(!col("digest_match")).select("bucket")
      .as[Long].collect().toSet
    val truth = DiffEngine.partitionStats(li, tgt, spec, idTok)
      .filter(col("classification") =!= C.Matched)
      .select(pmod(col("token"), lit(b)).as("bucket"))
      .distinct().as[Long].collect().toSet
    assert(dirty === truth)
  }

  test("digest diff finds exactly the full diff's mismatch set") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val tgt = graft.engine.Perturb.lineitemTarget(li)
    val spec = graft.engine.Perturb.lineitemSpec
    val opts = DiffOptions(buckets = 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("token", "mismatch_type").as[(Long, String)].collect().toSet
    val full = rows(DiffEngine.mismatches(li, tgt, spec, opts, idTok))
    val two = rows(DiffEngine.digestDiff(li, tgt, spec, opts,
      digestBuckets = 512, token = idTok))
    assert(full.nonEmpty && two === full)
  }

  test("digest range stats is bit-identical to the full range stats") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val liTgt = graft.engine.Perturb.lineitemTarget(li)
    val full = DiffEngine.rangeStats(li, liTgt,
      graft.engine.Perturb.lineitemSpec, DiffOptions(), idTok).collect()(0)
    val digest = DiffEngine.digestRangeStats(li, liTgt,
      graft.engine.Perturb.lineitemSpec, DiffOptions(),
      digestBuckets = 512, token = idTok).collect()(0)
    assert(digest === full)
    // narrow uniqueKey shape too (no clustering, different counter paths)
    val o = graft.engine.Tables.load(spark, Sf, "orders")
    val oTgt = graft.engine.Perturb.ordersTarget(o)
    val fullN = DiffEngine.rangeStats(o, oTgt,
      graft.engine.Perturb.ordersSpec, DiffOptions(), idTok).collect()(0)
    val digestN = DiffEngine.digestRangeStats(o, oTgt,
      graft.engine.Perturb.ordersSpec, DiffOptions(),
      digestBuckets = 512, token = idTok).collect()(0)
    assert(digestN === fullN)
  }

  test("digest range stats honors token filters (sampling + disallowed)") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val liTgt = graft.engine.Perturb.lineitemTarget(li)
    val opts = DiffOptions(samplingNum = 1, samplingDen = 3,
      disallowedTokens = Seq(6L))
    val full = DiffEngine.rangeStats(li, liTgt,
      graft.engine.Perturb.lineitemSpec, opts, idTok).collect()(0)
    val digest = DiffEngine.digestRangeStats(li, liTgt,
      graft.engine.Perturb.lineitemSpec, opts,
      digestBuckets = 512, token = idTok).collect()(0)
    assert(digest === full)
  }

  test("incremental diff: replay + fresh equals the full current diff") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val spec = graft.engine.Perturb.lineitemSpec
    val opts = DiffOptions(buckets = 10)
    val b = 512
    val stale = graft.engine.Perturb.lineitemTargetStale(li)
    val cur = graft.engine.Perturb.lineitemTarget(li)
    // the fixture must exercise BOTH paths: some buckets unchanged
    // between the runs (replay), some changed (fresh)
    val priorD = DiffEngine.sideDigests(li, stale, spec, b, idTok)
    val curD = DiffEngine.sideDigests(li, cur, spec, b, idTok)
    val pCols = Seq("src_rows", "src_sum", "src_xor", "tgt_rows", "tgt_sum", "tgt_xor")
    val joinedD = curD.join(
      priorD.select(col("bucket") +: pCols.map(c => col(c).as(s"p_$c")): _*),
      Seq("bucket"))
    val same = joinedD.filter(pCols.map(c => col(c) <=> col(s"p_$c")).reduce(_ && _)).count()
    val total = joinedD.count()
    assert(same > 0 && same < total, s"vacuous fixture: $same/$total unchanged")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("token", "mismatch_type").as[(Long, String)].collect().toSet
    val full = rows(DiffEngine.mismatches(li, cur, spec, opts, idTok))
    val inc = rows(DiffEngine.incrementalDiff(li, cur, spec,
      priorD, DiffEngine.mismatches(li, stale, spec, opts, idTok),
      opts, digestBuckets = b, token = idTok))
    assert(full.nonEmpty && inc === full)
    // no-change re-run: everything replays, fresh path contributes nothing
    val rerun = rows(DiffEngine.incrementalDiff(li, cur, spec,
      curD, DiffEngine.mismatches(li, cur, spec, opts, idTok),
      opts, digestBuckets = b, token = idTok))
    assert(rerun === full)
  }

  test("row content hash distinguishes a value shifted into a NULL neighbor") {
    // a flat xxhash64(a, b) skips NULLs, making these two rows collide;
    // the per-column-salted hash must not
    val spec = TableSpec("ns", Seq("pk"), Nil, Seq("a", "b"))
    val src = Seq((1L, Option.empty[String], Option("x"))).toDF("pk", "a", "b")
    val tgt = Seq((1L, Option("x"), Option.empty[String])).toDF("pk", "a", "b")
    val cmp = DiffEngine.digestCompare(src, tgt, spec, buckets = 4, idTok).collect()
    assert(cmp.length === 1 && !cmp(0).getAs[Boolean]("digest_match"))
  }

  test("digest plan regression: phase 1 ships digests, phase 2 broadcasts the dirty set") {
    val li = graft.engine.Tables.load(spark, Sf, "lineitem")
    val tgt = graft.engine.Perturb.lineitemTarget(li)
    val spec = graft.engine.Perturb.lineitemSpec
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    def exchanges(p: String) = "\\(\\d+\\) Exchange".r.findAllIn(p).length
    def bucketKeyed(p: String) = "hashpartitioning\\(bucket".r.findAllIn(p).length
    val p1 = plan(DiffEngine.digestCompare(li, tgt, spec, 64, idTok))
    // one bucket-keyed exchange per side (post partial-agg, so it ships
    // at most `buckets` digest rows), nothing else
    assert(exchanges(p1) === 2,
      s"phase 1 must shuffle only the two digest aggregations in:\n$p1")
    assert(bucketKeyed(p1) === 2,
      s"phase-1 exchanges must key on bucket in:\n$p1")
    // the runner's phase 1 adds the distinct-pk count: one more exchange,
    // still keyed on bucket (then pk) — never on the data rows alone
    val pp = plan(DiffEngine.digestProgress(li, tgt, spec, 64, idTok))
    assert(exchanges(pp) === 3 && bucketKeyed(pp) === 3,
      s"digestProgress must shuffle only bucket-keyed digest rows in:\n$pp")
    // the dirty-bucket restriction must be broadcast semi joins — never a
    // shuffle of the data on the bucket key (one per side, and more when
    // the filter pushes into union branches, which is desirable)
    def restrictsByBroadcast(p: String, what: String): Unit = {
      assert("BroadcastHashJoin .*LeftSemi".r.findAllIn(p).length >= 2,
        s"$what: expected broadcast semi joins on both sides in:\n$p")
      assert(!"hashpartitioning\\(__bucket_id".r.findAllIn(p).hasNext,
        s"$what: dirty-bucket set must broadcast, not shuffle, in:\n$p")
    }
    val p2 = plan(DiffEngine.digestDiff(li, tgt, spec, DiffOptions(),
      digestBuckets = 512, token = idTok))
    restrictsByBroadcast(p2, "digestDiff")
    assert(exchanges(p2) === 3, s"digestDiff exchanges in:\n$p2")
    // phase 2 of digestRangeStats and the digestFirst runner: the counter
    // rows of bucketStats under the digest plan — one pk-keyed exchange
    // per side (the full-PK join reuses it), the pk groupBy, and the
    // bucket groupBy of the dirty counters; the clean credit is local
    val digestPlan = BucketPlan.decide(BucketPlan.byBucket(
      DiffEngine.digestProgress(li, tgt, spec, 512, idTok)), digestFirst = true)
    val p3 = plan(DiffEngine.bucketStats(li, tgt, spec, digestPlan, 512, idTok)._2)
    restrictsByBroadcast(p3, "bucketStats")
    assert(exchanges(p3) === 4, s"bucketStats exchanges in:\n$p3")
  }

  test("every digest op rejects a non-positive bucket count") {
    val t = wide((1L, 1, "a", 10))
    assertThrows[IllegalArgumentException] {
      DiffEngine.digestTree(t, t, wideSpec, buckets = 0, fanout = 8, token = idTok)
    }
    assertThrows[IllegalArgumentException] {
      DiffEngine.digestCompare(t, t, wideSpec, 0, idTok)
    }
  }

  test("repair statements: exact CQL per action, escaping and NULL rules") {
    import graft.engine.Repair
    val spec = TableSpec("ks.t", Seq("pk"), Seq("ck"),
      Seq("v", "s"), uniqueKey = true)
    val src = Seq(
      (1L, 1, 10.5, "plain"),       // matched
      (2L, 1, 26.0, "o'brien"),     // only in source → INSERT (escape ')
      (4L, 2, 1.0, null: String),   // value + null mismatch → UPDATE
      (5L, 1, 2.0, "same"))         // one-column mismatch → UPDATE v only
      .toDF("pk", "ck", "v", "s")
    val tgt = Seq(
      (1L, 1, 10.5, "plain"),
      (3L, 9, 0.25, "drop me"),     // only in target → DELETE
      (4L, 2, 2.0, "was here"),
      (5L, 1, 2.5, "same"))
      .toDF("pk", "ck", "v", "s")
    val got = Repair.repairStatements(src, tgt, spec)
      .select("pk", "action", "statement")
      .as[(Long, String, String)].collect().sortBy(_._1)
    assert(got === Array(
      (2L, "INSERT",
        "INSERT INTO ks.t (pk, ck, v, s) VALUES (2, 1, 26.00, 'o''brien');"),
      (3L, "DELETE",
        "DELETE FROM ks.t WHERE pk = 3 AND ck = 9;"),
      (4L, "UPDATE",
        "UPDATE ks.t SET v = 1.00, s = NULL WHERE pk = 4 AND ck = 2;"),
      (5L, "UPDATE",
        "UPDATE ks.t SET v = 2.00 WHERE pk = 5 AND ck = 1;")))
  }

  test("reconcile closes the repair loop: merge(src, diff changeset) == tgt") {
    import graft.engine.{Perturb, Repair}
    import graft.engine.Perturb.lineitemSpec
    // the full perturbation corpus: drops, inserts, value edits AND
    // duplicate full-PK rows — the reconciled frame must equal the
    // target as a MULTISET (occurrence pairing included)
    val src = graft.engine.Tables.load(spark, Sf, "lineitem")
    val tgt = Perturb.lineitemTarget(src)
    // reconcile keys-first column order → realign to tgt's order before
    // the positional multiset compare
    val order = tgt.columns
    def multiset(df: org.apache.spark.sql.DataFrame) = df
      .select(order.map(col): _*)
      .groupBy(order.map(col): _*).count()
      .collect().map(_.toSeq).toSet
    val rec = Repair.reconcile(src, tgt, lineitemSpec)
    assert(rec.count() === tgt.count())
    assert(multiset(rec) === multiset(tgt))
    // idempotence: reconciling identical snapshots produces NO changes
    assert(Repair.reconcileChangeset(tgt, tgt, lineitemSpec).count() === 0L)
    // and the changeset is mismatch-sized, not corpus-sized
    val ch = Repair.reconcileChangeset(src, tgt, lineitemSpec)
    assert(ch.count() < src.count())
  }

  test("digest tree: clean supers prune, dirty descent matches flat digests") {
    import graft.engine.{Perturb, Tables}
    val li = Tables.load(spark, Sf, "lineitem")
    val tgt = Perturb.lineitemTargetLocalized(li)
    val spec = Perturb.lineitemSpec
    val idTok = DiffEngine.identityToken _
    val tree = DiffEngine.digestTree(li, tgt, spec, buckets = 64,
        fanout = 8, token = idTok)
      .as[(Int, Long, Long, Long, Boolean)].collect()
    val supers = tree.filter(_._1 == 0)
    val leaves = tree.filter(_._1 == 1)
    assert(supers.length === 8)
    // localized damage (keys 0..7 mod 512 -> buckets 0-7) dirties super
    // 0 only; every other super verifies clean in ONE row
    assert(supers.count(!_._5) === 1 && !supers.find(_._2 == 0L).get._5)
    // level 1 descends ONLY under dirty supers
    val dirtySupers = supers.filter(!_._5).map(_._2).toSet
    assert(leaves.nonEmpty && leaves.forall(l => dirtySupers(l._2 / 8)))
    // the descent's verdicts equal the flat per-bucket comparison
    val flat = DiffEngine.digestCompare(li, tgt, spec, 64, idTok)
      .as[(Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r._4).toMap
    leaves.foreach(l => assert(flat(l._2) === l._5, s"bucket ${l._2}"))
    // super row counts roll up exactly
    val flatRows = DiffEngine.digestCompare(li, tgt, spec, 64, idTok)
      .as[(Long, Long, Long, Boolean)].collect()
    supers.foreach { s =>
      val kids = flatRows.filter(_._1 / 8 == s._2)
      assert(s._3 === kids.map(_._2).sum && s._4 === kids.map(_._3).sum)
    }
  }

  test("tolerance diff: eps boundary inclusive, nulls keep exact semantics") {
    // binary-exact values so the boundary case is REALLY the boundary:
    // 1/128 = 0.0078125 is exact in doubles (|1.01 − 1.0| is NOT 0.01)
    val eps = 0.0078125
    val spec = TableSpec("t", Seq("pk"), Nil, Seq("v"), uniqueKey = true)
    val src = Seq((1L, jd(1.0)), (2L, jd(1.0)), (3L, null.asInstanceOf[java.lang.Double]),
      (4L, jd(1.0))).toDF("pk", "v")
    val tgt = Seq((1L, jd(1.0 + eps)), (2L, jd(1.015625)), (3L, null.asInstanceOf[java.lang.Double]),
      (4L, null.asInstanceOf[java.lang.Double])).toDF("pk", "v")
    val rl = DiffEngine.rowLevel(src, tgt, spec,
        tolerances = Map("v" -> eps))
      .select(col("pk"), col("__match_v")).as[(Long, Boolean)]
      .collect().toMap
    assert(rl(1L)) // |diff| == eps → matched (inclusive)
    assert(!rl(2L)) // just past eps → mismatched
    assert(rl(3L)) // null <=> null still matched
    assert(!rl(4L)) // one-sided null still mismatched
    // no tolerance → the small drift is a mismatch again
    val exact = DiffEngine.rowLevel(src, tgt, spec)
      .select(col("pk"), col("__match_v")).as[(Long, Boolean)]
      .collect().toMap
    assert(!exact(1L))
  }

  private def jd(d: Double): java.lang.Double = java.lang.Double.valueOf(d)

  test("threeWayDiff: every category hit exactly once on a hand fixture") {
    import spark.implicits._
    val spec = TableSpec("t", Seq("k"), Nil, Seq("v"))
    // keys 1-9 cover all nine reachable categories
    val a = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "x"), (5L, "x"),
      (6L, "x"), (9L, "x")).toDF("k", "v")
    val b = Seq((1L, "x"), (2L, "B"), (3L, "x"), (4L, "y"), (5L, "b"),
      (6L, "x"), (7L, "x"), (8L, "x")).toDF("k", "v")
    val c = Seq((1L, "x"), (2L, "x"), (3L, "C"), (4L, "y"), (5L, "c"),
      (8L, "x")).toDF("k", "v")
    val got = graft.engine.DiffEngine.threeWayDiff(a, b, c, spec)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map(
      "consistent" -> 1L,                      // k1
      "b_divergent" -> 1L,                     // k2 (b differs, c = a)
      "c_divergent" -> 1L,                     // k3
      "replicas_agree_source_differs" -> 1L,   // k4 (b = c != a)
      "conflict" -> 1L,                        // k5 (three versions)
      "missing_in_c" -> 1L,                    // k6 (a, b only)
      "only_in_b" -> 1L,                       // k7
      "missing_in_source" -> 1L,               // k8 (b, c only)
      "only_in_source" -> 1L))                 // k9
    // categories partition the key universe
    assert(got.values.sum === 9L)
  }
}
