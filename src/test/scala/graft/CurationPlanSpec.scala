package graft

/** Plan assertions for the composed curation pipelines — the queries
  * whose scale behavior depends on Catalyst/AQE picking the right
  * physical join, not just on the declared shape.
  */
class CurationPlanSpec extends SparkSpec {

  test("curate_corpus_full decontamination anti-join is hash-based, never a nested loop") {
    // the contaminated set is data-dependent and unbounded, so the query
    // carries NO broadcast hint: AQE must still resolve the equi
    // anti-join to a hash join at this scale (BHJ expected — the set
    // measures tiny; SMJ is the acceptable at-scale fallback), and a
    // BroadcastNestedLoopJoin anywhere in the final adaptive plan would
    // mean the join degenerated
    val df = SparkEntry.queries("curate_corpus_full")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("LeftAnti"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan.take(3000))
  }

  test("search_bm25 plan: one corpus pass, top-k heap, no vector exchange") {
    // the per-doc frame must materialize ONCE (localCheckpoint) so the
    // corpus explode doesn't run per reference; the totals side is a
    // 1-row broadcast (the only sanctioned cross join); the top-k must
    // be TakeOrdered, never a global sort
    val df = SparkEntry.queries("search_bm25")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // exactly one Generate (the explode) across the whole plan — a
    // second one means the per-doc subtree recomputed
    assert("Generate".r.findAllIn(plan).size <= 1, plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("web_url_canonical plan: scan-side project only — no exchange, no UDF") {
    // canonicalization is parse_url expressions in the scan's project;
    // any Exchange means the URL work left the scan, any UDF breaks
    // whole-stage codegen on a per-row hot path
    val df = SparkEntry.queries("web_url_canonical")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan.take(3000))
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"),
      plan.take(3000))
  }

  test("web_domain_concentration plan: quota is WindowGroupLimit, joins broadcast") {
    // the ≤16-per-domain quota must plan as WindowGroupLimit (map-side
    // top-k heaps), the per-domain join-back and 1-row totals must
    // broadcast, and nothing may degenerate to a nested loop over data
    val df = SparkEntry.queries("web_domain_concentration")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("web_url_dedup plan: one partial-aggregating exchange on the canonical key") {
    // group-by-canonical must partial-aggregate map-side (HashAggregate
    // below the exchange), and exactly one data exchange may exist —
    // the canonical-key one
    val df = SparkEntry.queries("web_url_dedup")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(3000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(3000))
  }

  test("vocab_bpe_encode plan: vocabulary join carries no broadcast hint") {
    // the vocab is corpus-derived (unbounded) — the word-key join must
    // come from AQE's size check, not a forced hint; and no nested loop
    val df = SparkEntry.queries("vocab_bpe_encode")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("train_manifest_full: contiguous gap-free offsets, no nested loops") {
    val df = SparkEntry.queries("train_manifest_full")(spark, Sf)
    val rows = df.select("n_tokens", "start_offset", "end_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._2)
    assert(rows.nonEmpty)
    // every row spans exactly its token count, the stream starts at 0,
    // and consecutive rows are gap-free (a packed manifest's contract)
    assert(rows.forall { case (n, s, e) => e - s == n })
    assert(rows.head._2 === 0L)
    rows.sliding(2).foreach {
      case Array((_, _, e1), (_, s2, _)) => assert(e1 === s2)
      case _ =>
    }
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
  }

  test("curate_corpus_full survives with AQE disabled (static-plan fallback)") {
    // the unforced joins lean on AQE's runtime size check; with AQE off
    // the static planner must still produce a correct (if less optimal)
    // plan — this is the degraded-config resilience the no-hint design
    // claims. Results must match the AQE run exactly.
    val withAqe = SparkEntry.queries("curate_corpus_full")(spark, Sf)
      .collect().map(_.toString).sorted
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val noAqe = SparkEntry.queries("curate_corpus_full")(spark, Sf)
        .collect().map(_.toString).sorted
      assert(noAqe.sameElements(withAqe))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("dedup_exact_substr: no pair join, no cartesian, partial-aggregated first-occurrence") {
    // the gram-marking join must stay an equi-join against the
    // one-row-per-hash first-occurrence table (hash or SMJ — AQE's
    // pick); a nested loop or cartesian would mean the blocking
    // degenerated into a pair join, which this operator by design
    // never performs
    val df = SparkEntry.queries("dedup_exact_substr")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("BroadcastHashJoin") || plan.contains("SortMergeJoin")
      || plan.contains("ShuffledHashJoin"), plan.take(3000))
    // the min(struct(id, pos)) first-occurrence aggregate must partial-
    // aggregate (HashAggregate pairs), never sort whole hot-gram groups
    assert(plan.contains("HashAggregate"), plan.take(3000))
  }

  test("dedup_exact_substr survives with AQE disabled (static-plan fallback)") {
    // same degraded-config contract as curate_corpus_full: the unforced
    // mark join leans on AQE's runtime size check, and the static
    // planner must still produce the identical result
    val withAqe = SparkEntry.queries("dedup_exact_substr")(spark, Sf)
      .collect().map(_.toString).sorted
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val noAqe = SparkEntry.queries("dedup_exact_substr")(spark, Sf)
        .collect().map(_.toString).sorted
      assert(noAqe.sameElements(withAqe))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("events_top_paths: per-user cap runs as WindowGroupLimit, top-20 as TakeOrdered, no global sort") {
    // the per-user first-8 filter is an unbounded row_number window —
    // safe ONLY while Spark rewrites `row_number <= k` to
    // WindowGroupLimit (per-partition top-k heap, never a full per-user
    // sort buffer) and the final top-20 to TakeOrderedAndProject (never
    // a global Sort). This pins both against a Spark-upgrade plan flip,
    // which on a power-user-skewed 100 TB event log would degrade the
    // query from two bounded heaps to a data-sized sort.
    val df = SparkEntry.queries("events_top_paths")(spark, Sf)
    assert(df.count() > 0)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    // no global Sort: every Sort operator in the final plan must be a
    // local/partition-scoped one (the window's per-partition order or
    // TakeOrdered's internal heap); a `Sort [...], true` node (global)
    // is exactly the flip this spec exists to catch
    assert(!"Sort \\[[^\\]]*\\], true".r.findFirstIn(plan).isDefined,
      plan.take(3000))
  }

  test("q_skyline: no data-sized single-partition window; result matches brute force") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    import org.apache.spark.sql.functions.col
    val df = SparkEntry.queries("q_skyline")(spark, Sf)
    // exactly one unpartitioned window in the optimized plan — the
    // bucket-carry running min — and its subtree must aggregate down to
    // the single-key bucket frame (<= 256 rows) before the window sees
    // any rows. The per-price running min must stay partitioned.
    val unpart = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(unpart.size === 1, "expected exactly one unpartitioned Window (the bucket carry)")
    val agg = unpart.head.child.collectFirst { case a: Aggregate => a }
    assert(agg.isDefined, "the unpartitioned window must run over an aggregated frame")
    assert(agg.get.groupingExpressions.size === 1,
      "the carry frame groups on the single bucket key")
    // correctness: the decorrelated two-phase front equals the
    // quadratic NOT-EXISTS dominance definition
    val got = df.collect().map(r => (r.getLong(0))).toSet
    val part = spark.read.parquet(s"$Sf/part.parquet")
      .select(col("p_partkey"), col("p_retailprice").cast("double"),
        col("p_size").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2)))
    val brute = part.filter { case (_, pr, sz) =>
      !part.exists { case (_, qr, qz) =>
        qr <= pr && qz <= sz && (qr < pr || qz < sz)
      }
    }.map(_._1).toSet
    assert(got === brute)
  }
}
