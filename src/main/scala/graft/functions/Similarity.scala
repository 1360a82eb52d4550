package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`Array[Float]`).
  *
  * Determinism contract: all arithmetic is double-precision and folds
  * left-to-right in array order (`aggregate` is a sequential fold), which
  * is bit-identical to DuckDB's `list_dot_product` over `DOUBLE[]` —
  * verified empirically — so cosine scores are oracle-checkable exactly.
  */
object Similarity {

  /** Sequential-fold dot product in double precision — evaluated by the
    * native [[VectorDotExpr]] (identical IEEE operation sequence to the
    * higher-order fold, ~100x faster than interpreted lambdas).
    */
  def dot(a: Column, b: Column): Column = VectorOps.dot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Brute-force top-k cosine neighbors — the correctness baseline.
    * Queries are broadcast (small side); corpus streams once; ranking is
    * a per-query window. Norms are computed once per row, not per pair.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val pairs = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    pairs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Matryoshka-style PREFIX-dimension retrieval evaluation: for each
    * prefix length `d`, run the same brute-force top-k using only the
    * first `d` vector dimensions and report per-query overlap with the
    * full-dimension truth — the measurement behind "can I search on a
    * dimension prefix and rerank", the storage/latency lever MRL-trained
    * embeddings expose (Kusupati et al., "Matryoshka Representation
    * Learning"). Output: (prefix_dims, query_id, n_overlap, recall)
    * with recall = n_overlap / k (one exact IEEE division of two small
    * ints).
    *
    * Everything is the [[bruteForceTopK]] arithmetic over sliced
    * arrays — sequential-fold dots, (sim desc, neighbor_id) total
    * order — so the whole verdict table hash-matches the oracle, unlike
    * trained-ANN paths. Scale shape: one corpus stream per prefix
    * length against broadcast queries (an EVALUATION harness — run on a
    * sample, like every recall measurement here); the overlap join is
    * queries×k rows against queries×k rows.
    */
  def prefixRecall(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, prefixes: Seq[Int]): DataFrame = {
    require(prefixes.nonEmpty && prefixes.forall(_ >= 1),
      "need at least one positive prefix length")
    def sliced(df: DataFrame, d: Int) =
      df.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
    val truth = bruteForceTopK(queries, corpus, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
    val perPrefix = prefixes.map { d =>
      val got = bruteForceTopK(sliced(queries, d), sliced(corpus, d),
          idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
      truth.join(got, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(sum(coalesce(col("__hit"), lit(0L))).as("n_overlap"))
        .select(lit(d.toLong).as("prefix_dims"), col("query_id"),
          col("n_overlap"),
          (col("n_overlap").cast("double") / lit(k.toDouble)).as("recall"))
    }
    perPrefix.reduce(_.unionByName(_))
  }

  /** kNN-graph hubness audit (Radovanović, Nanopoulos & Ivanović,
    * "Hubs in Space: Popular Nearest Neighbors in High-Dimensional
    * Data", JMLR 2010): the distribution of k-occurrence — how many
    * query points list each corpus vector among their top-k — which in
    * high dimensions skews into a few "hub" vectors that pollute
    * retrieval and near-dup results, plus antihubs that are never
    * retrieved. Output: the (in_degree, n_vectors) histogram —
    * in_degree 0 counts the antihubs; a healthy isotropic embedding
    * concentrates near in_degree ≈ k·|queries|/|corpus|, a collapsed
    * one shows a long tail. Integer-exact end to end (the ranking
    * reuses [[bruteForceTopK]]'s oracle-exact arithmetic), so the full
    * histogram hash-matches DuckDB.
    *
    * Scale shape: an EVALUATION harness — run on a bounded query
    * sample like every recall/quality measurement here (one corpus
    * stream against broadcast queries, WindowGroupLimit top-k), then
    * two partial-aggregating integer groupBys.
    */
  def hubnessHistogram(queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val knn = bruteForceTopK(queries, corpus, idCol, vecCol, k)
    val deg = knn.groupBy(col("neighbor_id"))
      .agg(count(lit(1)).as("in_degree"))
    corpus.select(col(idCol).as("neighbor_id"))
      .join(deg, Seq("neighbor_id"), "left")
      .select(coalesce(col("in_degree"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** Two-stage ANN with a Johnson–Lindenstrauss prefilter: stage 1
    * scores every (query, candidate) pair by the INTEGER dot product of
    * their [[Embeddings.randomProjection]] images (`outDims` terms per
    * pair instead of the full `dims` — a 4× cheaper coarse pass at the
    * defaults; 8 dims measured too noisy for a 20-shortlist on the
    * test corpus, 16 puts an exact twin at coarse rank 2) and keeps a
    * per-query `shortlist`; stage 2 reranks only
    * the shortlist with the exact ×64-grid cosine. JL preserves inner
    * products in expectation, so true neighbors survive the coarse cut
    * with high probability — recall is measured in ScalaTest, and both
    * stages are integer/grid-exact, so the full result hash-matches the
    * DuckDB oracle (unlike trained-ANN paths).
    *
    * Scale shape: projections are scan-local; the coarse pass streams
    * the corpus once against broadcast query projections (outDims longs
    * per query — far smaller than the vectors the plain brute pass
    * ships); the per-query shortlist runs as WindowGroupLimit; only
    * shortlist×queries rows reach the full-dimension rerank join.
    */
  def projectTopK(queries: DataFrame, corpus: DataFrame, idCol: String,
      vecCol: String, k: Int, shortlist: Int, outDims: Int = 16): DataFrame = {
    require(k >= 1 && shortlist >= k, "need shortlist >= k >= 1")
    import org.apache.spark.sql.expressions.Window
    val qp = Embeddings.randomProjection(queries, idCol, vecCol, outDims)
      .withColumnRenamed(idCol, "query_id")
    val cp = Embeddings.randomProjection(corpus, idCol, vecCol, outDims)
      .withColumnRenamed(idCol, "neighbor_id")
    val coarse = (0 until outDims).map(d =>
      col(s"x.p$d") * col(s"y.p$d")).reduce(_ + _)
    val pairs = cp.as("y").crossJoin(broadcast(qp.as("x")))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), coarse.as("coarse"))
    val wS = Window.partitionBy("query_id")
      .orderBy(col("coarse").desc, col("neighbor_id"))
    val short = pairs.withColumn("__r", row_number().over(wS))
      .filter(col("__r") <= shortlist).select("query_id", "neighbor_id")
    val gridArr = IvfPq.gridQuantD(col(vecCol))
    val cv = corpus.select(col(idCol).as("neighbor_id"), gridArr.as("__cv"))
      .withColumn("__cn", norm(col("__cv")))
    val qv = queries.select(col(idCol).as("query_id"), gridArr.as("__qv"))
      .withColumn("__qn", norm(col("__qv")))
    val rer = short.join(cv, Seq("neighbor_id")).join(broadcast(qv), Seq("query_id"))
      .withColumn("sim",
        dot(col("__qv"), col("__cv")) / (col("__qn") * col("__cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    rer.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Deterministic ±1 hyperplane component (i = plane, j = dimension) via
    * splitmix64 — no RNG state, reproducible across runs and engines.
    */
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def planeSign(i: Int, j: Int): Double =
    if ((splitmix64(i.toLong * 1000003L + j) & 1L) == 0L) 1.0 else -1.0

  /** Random-hyperplane LSH sketch per row: bit i = sign of the projection
    * onto plane i, evaluated by the native per-row
    * [[HyperplaneSketchExpr]] — one tight loop over the unsafe array in
    * the scan's project, no explode/exchange. Projections accumulate
    * left-to-right in double precision (deterministic IEEE sequence,
    * matching the previous explode-order aggregation).
    *
    * Output: (id, sketch: Long).
    */
  def withHyperplaneSketch(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, dims: Int): DataFrame =
    df.select(col(idCol).as("id"),
      Sketches.hyperplaneSketch(col(vecCol), bits, dims).as("sketch"))

  /** The scale path: LSH-bucketed approximate neighbors. Candidates =
    * same sketch bucket (optionally multi-probe via sub-bands), reranked
    * exactly. Shuffles on the bucket key only — never an all-pairs cross
    * join. Recall is tunable via `bits` (fewer bits = bigger buckets).
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
      k: Int, bits: Int = 24, bands: Int = 3, dims: Int = 64): DataFrame = {
    // 8 bits/band: expected bucket size = n/256 per band — candidate set
    // stays near-linear in n; raise bands (multi-probe) for recall,
    // bits/band for speed
    import org.apache.spark.sql.expressions.Window
    val bitsPerBand = bits / bands
    // sketch is per-row, so it rides the same project as the norm — the
    // former sketch-join (an extra shuffle on id) is gone
    val sk = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Sketches.hyperplaneSketch(col(vecCol), bits, dims).as("sketch"))
      .withColumn("n", norm(col("v")))
    // band the sketch so near points collide in ≥1 band
    val banded = sk.select(col("id"), col("v"), col("n"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sketch"), b * bitsPerBand)
          .bitwiseAND((1L << bitsPerBand) - 1)): _*)).as(Seq("band", "bucket")))
    // sim is computed BEFORE the multi-band dedup, map-side of the
    // exchange: a pair colliding in several bands yields bit-identical
    // sim rows (deterministic IEEE fold), so distinct on (ids, sim)
    // dedups exactly while the exchange ships ~24 B/row instead of two
    // full embeddings — the dedup shuffle width no longer scales with
    // dims
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") =!= col("y.id"))
      .select(col("x.id").as("query_id"), col("y.id").as("neighbor_id"),
        (dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n"))).as("sim"))
      .distinct()
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** Largest `nlist` for which IVF centroids ride the plan as a LITERAL
    * array expression (codegen-friendly, zero joins). Above this the
    * literal stops being a plan and starts being a payload — a 2^k-element
    * `array(typedlit(...))` bloats plan serialization and codegen, and the
    * per-iteration driver collect in [[trainCentroids]] scales with
    * nlist×dims — so [[ivfTopK]] switches to the DataFrame path
    * ([[trainCentroidsDf]] + [[ivfTopKWithDf]]): centroids stay a
    * broadcast relation, never a literal and never a driver-side matrix.
    */
  val CentroidLiteralMax = 4096

  /** Spherical k-means coarse quantizer for [[ivfTopK]]: `nlist`
    * unit-norm centroids from a deterministic seed sample (rows ordered
    * by hashed id — no RNG state) refined by a few Lloyd iterations.
    * Scale shape: only the nlist×dims centroid matrix ever reaches the
    * driver; assignment is a codegen'd argmax of centroid dot products in
    * the scan's project, and the mean-recompute is a partial-aggregated
    * `groupBy(cluster, dim)` whose nlist×dims rows are RE-ASSEMBLED into
    * per-cluster mean arrays executor-side (a second tiny groupBy), so
    * the per-iteration collect is nlist ROWS — at the ScaleHints 2^18
    * nlist cap that is 2^18 array rows, not 2^18×dims scalar Rows. Empty
    * clusters keep their previous centroid.
    *
    * This is the SMALL-nlist quantizer (≤ [[CentroidLiteralMax]]): the
    * returned matrix feeds [[ivfTopKWith]]'s literal assignment
    * expression. For large nlist use [[trainCentroidsDf]], which never
    * materializes centroids driver-side.
    */
  def trainCentroids(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2): Array[Array[Double]] = {
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    def unit(c: Array[Double]): Array[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    var cents = base
      .orderBy(pmod(xxhash64(col("id")), lit(1000003L)), col("id"))
      .limit(nlist)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
      .map(unit)
    (0 until iters).foreach { _ =>
      val means = base
        .withColumn("cluster", nearestList(col("v"), cents))
        .select(col("cluster"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cluster", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cluster").agg(
          transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("mv"))
        .collect()
      val next = cents.map(_.clone())
      means.foreach(r => next(r.getInt(0)) = r.getSeq[Double](1).toArray)
      cents = next.map(unit)
    }
    cents
  }

  /** Index of the centroid with the highest dot product (cosine argmax —
    * centroids are unit-norm so no per-centroid normalization needed).
    */
  private def nearestList(vec: Column, cents: Array[Array[Double]]): Column = {
    val dots = array(cents.toIndexedSeq.map(c => dot(vec, typedlit(c.toSeq))): _*)
    (array_position(dots, array_max(dots)) - 1).cast("int")
  }

  /** In-plan unit normalization of an array<double> column (zero vectors
    * pass through — matches [[trainCentroids]]' `unit`).
    */
  private def unitArr(c: Column): Column = {
    val n = sqrt(dot(c, c))
    when(n === 0.0, c).otherwise(transform(c, x => x / n))
  }

  /** (d desc, idx asc) total order for (dot, list-id) structs — the same
    * deterministic probe order as [[ivfTopKWith]]'s literal sort.
    */
  private def probeCmp(a: Column, b: Column): Column =
    when(a.getField("d") > b.getField("d"), -1)
      .when(a.getField("d") < b.getField("d"), 1)
      .when(a.getField("idx") < b.getField("idx"), -1)
      // list ids are distinct within __cents today, but a comparator must
      // be a total order regardless: equal (d, idx) compares 0, not 1
      .when(a.getField("idx") === b.getField("idx"), lit(0))
      .otherwise(lit(1))

  /** Top-`nprobe` centroid ids per point against a BROADCAST centroid
    * relation — the large-nlist replacement for the literal
    * `array(typedlit(...))` assignment expression.
    *
    * `points` is (id, v: array<double>); `cents` is (list: int,
    * c: array<double>). Output: (id, v, probes: array<int>), probes in
    * (dot desc, list asc) order.
    *
    * Scale shape: centroids are first packed into ⌈nlist/chunk⌉ chunk
    * rows of ≤ `chunk` (list, c) structs each — `floor(list / chunk)` is
    * the pack key, so no chunk row exceeds chunk×dims doubles (~0.5 MB at
    * the defaults) and the whole relation broadcasts at any nlist the
    * dims-aware [[ScaleHints]] cap admits. The point stream cross-joins
    * the broadcast (BroadcastNestedLoopJoin: the corpus never moves),
    * each (point, chunk) row reduces to the CHUNK-LOCAL top-nprobe via a
    * per-row sort+slice, and a final `groupBy(id)` merges ⌈nlist/chunk⌉
    * nprobe-length partials per point — the exchange ships
    * nprobe×⌈nlist/chunk⌉ tiny structs per point, never the nlist-wide
    * score vector and never the vectors twice. Dots inside the lambda use
    * the native [[VectorDotExpr]] kernel (an outer-reference lambda, same
    * IEEE fold as everywhere else). `first(v)` in the merge is
    * deterministic here: every id's chunk rows come from one task of the
    * broadcast join, so exactly one partial aggregate per id exists.
    */
  private def probeFrame(points: DataFrame, cents: DataFrame,
      nprobe: Int, chunk: Int = 1024): DataFrame = {
    val chunked = cents
      .groupBy(floor(col("list") / lit(chunk)).as("__chunk"))
      .agg(collect_list(struct(col("list").as("idx"), col("c"))).as("__cents"))
      .drop("__chunk")
    val scored = points.crossJoin(broadcast(chunked))
      .withColumn("__part",
        slice(array_sort(
          transform(col("__cents"), s =>
            struct(dot(col("v"), s.getField("c")).as("d"),
              s.getField("idx").as("idx"))),
          probeCmp _), 1, nprobe))
    scored.groupBy(col("id"))
      .agg(first(col("v")).as("v"),
        flatten(collect_list(col("__part"))).as("__all"))
      .withColumn("probes",
        transform(slice(array_sort(col("__all"), probeCmp _), 1, nprobe),
          s => s.getField("idx")))
      .select(col("id"), col("v"), col("probes"))
  }

  /** Spherical k-means coarse quantizer that NEVER materializes centroids
    * driver-side — the large-nlist (> [[CentroidLiteralMax]]) counterpart
    * of [[trainCentroids]]. Returns a (list: int, c: array<double>)
    * DataFrame of ≤ nlist unit-norm centroids for [[ivfTopKWithDf]].
    *
    * Training runs on a BOUNDED deterministic sample
    * (hash-range filter sized at `samplePerList` rows per list — no
    * global sort, no single-partition gather), seeded one centroid per
    * hash bucket via a partial-aggregating `min_by` (hash-empty buckets
    * simply yield no list — harmless, ids are opaque keys). Each Lloyd
    * iteration assigns the sample through [[probeFrame]]'s broadcast
    * chunked join, recomputes per-list dimension means with the same
    * partial-aggregated (list, pos) groupBy as [[trainCentroids]], and
    * re-assembles + re-normalizes arrays in-plan; empty lists keep their
    * previous centroid via a left-join coalesce. Per-iteration
    * localCheckpoint (nlist rows) cuts the lineage exactly as the other
    * iterative operators here do. The one driver action is the sizing
    * `count()` over the pruned id column — training is off the hot path,
    * same note as [[ivfTopK]]'s self-sizing.
    */
  def trainCentroidsDf(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 2, samplePerList: Int = 32): DataFrame = {
    require(nlist >= 1 && iters >= 0 && samplePerList >= 1,
      "need nlist >= 1, iters >= 0, samplePerList >= 1")
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val cnt = math.max(1L, base.select(col("id")).count())
    val target = nlist.toLong * samplePerList
    val sample =
      if (target >= cnt) base
      else base.filter(
        pmod(xxhash64(col("id")), lit(1000003L)) <
          lit(math.max(1L, (1000003L * target) / cnt)))
    val seeds = sample
      .withColumn("list", pmod(xxhash64(col("id")), lit(nlist.toLong)).cast("int"))
      .groupBy(col("list"))
      .agg(min_by(col("v"), struct(xxhash64(col("id")), col("id"))).as("c"))
      .select(col("list"), unitArr(col("c")).as("c"))
    var cents = seeds.localCheckpoint()
    (0 until iters).foreach { _ =>
      val assigned = probeFrame(sample, cents, nprobe = 1)
        .select(col("id"), col("v"), element_at(col("probes"), 1).as("list"))
      val means = assigned
        .select(col("list"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy(col("list"), col("pos")).agg(avg(col("x")).as("m"))
        .groupBy(col("list")).agg(
          transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            s => s.getField("m")).as("mv"))
      cents = cents.as("c").join(means.as("m"), Seq("list"), "left")
        .select(col("list"), unitArr(coalesce(col("mv"), col("c"))).as("c"))
        .localCheckpoint()
    }
    cents
  }

  /** IVF (inverted-file) approximate neighbors — the second scale path
    * next to [[lshTopK]]. Every corpus row is assigned to its nearest
    * centroid's list; a query probes its `nprobe` nearest lists and
    * reranks candidates exactly. The candidate join shuffles on the list
    * id only — never all-pairs — and candidate volume is ~nprobe/nlist of
    * the corpus per query. `nlist` must grow with corpus size (√n rule)
    * to keep lists, and so join skew, bounded: `nlist <= 0` (default)
    * self-sizes via [[ScaleHints]] from a count over the pruned id column
    * (training already runs driver-side actions, so the count is noise
    * here — unlike [[nearDupPairs]]' hot path). The self-sizing cap is
    * dims-aware (`dims` defaults to the synthetic corpus's 64) — see
    * [[ScaleHints.forCount]].
    *
    * Path choice: at nlist ≤ `literalMax` (default
    * [[CentroidLiteralMax]]) centroids ride the plan as a literal array —
    * zero joins, fully codegen'd. Above it, the literal would bloat plan
    * serialization/codegen and the training collect would scale with
    * nlist×dims, so centroids stay a broadcast RELATION end to end
    * ([[trainCentroidsDf]] → [[ivfTopKWithDf]]) and assignment is a
    * broadcast join + per-id merge — the 100 TB shape. `literalMax` is a
    * parameter so specs can exercise the frame path at test scale.
    */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 0, nprobe: Int = 4, iters: Int = 2, dims: Int = 64,
      literalMax: Int = CentroidLiteralMax): DataFrame = {
    val n = if (nlist > 0) nlist
      else ScaleHints.forCount(df.select(col(idCol)).count(), dims).nlist
    if (n <= literalMax)
      ivfTopKWith(df, idCol, vecCol, k,
        trainCentroids(df, idCol, vecCol, n, iters), nprobe)
    else
      ivfTopKWithDf(df, idCol, vecCol, k,
        trainCentroidsDf(df, idCol, vecCol, n, iters), nprobe)
  }

  /** [[ivfTopK]] search mechanics over a GIVEN centroid RELATION — the
    * large-nlist counterpart of [[ivfTopKWith]]. `cents` is (list: int,
    * c: array<double>), e.g. from [[trainCentroidsDf]]. Assignment and
    * probe selection run through [[probeFrame]]'s broadcast chunked join
    * (plan: BroadcastNestedLoopJoin + two tiny aggregates — no
    * nlist-element literal anywhere); corpus list = probe rank 1, query
    * lists = ranks 1..nprobe of the SAME probe frame, so the scoring
    * subtree is written once. Candidate join and exact rerank are shared
    * with the literal path ([[ivfSearch]]).
    */
  def ivfTopKWithDf(df: DataFrame, idCol: String, vecCol: String, k: Int,
      cents: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1, "need nprobe >= 1")
    val base = df.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val probed = probeFrame(base, cents, nprobe)
      .withColumn("n", norm(col("v")))
    val corpus = probed
      .select(col("id"), col("v"), col("n"),
        element_at(col("probes"), 1).as("list"))
    val queries = probed
      .select(col("id"), col("v"), col("n"),
        explode(col("probes")).as("list"))
    ivfSearch(corpus, queries, k)
  }

  /** Shared IVF tail: candidate join on the list id + exact cosine
    * rerank. `corpus` is (id, v, n, list) with one row per point;
    * `queries` is (id, v, n, list) with one row per probed list.
    */
  private def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = queries.as("x").join(corpus.as("y"),
        col("x.list") === col("y.list") && col("x.id") =!= col("y.id"))
      .select(col("x.id").as("query_id"), col("y.id").as("neighbor_id"),
        col("x.v").as("qv"), col("y.v").as("cv"),
        col("x.n").as("qn"), col("y.n").as("cn"))
      .withColumn("sim", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("neighbor_id"))
    cand.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "neighbor_id", "rank", "sim")
  }

  /** [[ivfTopK]] with a GIVEN coarse quantizer — the search mechanics
    * (assignment, probe selection, candidate join, exact rerank)
    * separated from Lloyd training. This split is also what makes the
    * mechanics oracle-checkable: with literal centroids every dot product
    * is bit-reproducible in DuckDB, whereas TRAINED centroids never are
    * (means over doubles are order-dependent across engines).
    */
  def ivfTopKWith(df: DataFrame, idCol: String, vecCol: String, k: Int,
      cents: Array[Array[Double]], nprobe: Int): DataFrame = {
    val nlist = cents.length
    require(nprobe >= 1 && nprobe <= nlist, "need 1 <= nprobe <= nlist")
    val dots = array(cents.toIndexedSeq.map(c => dot(col("v"), typedlit(c.toSeq))): _*)
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
      .withColumn("__d", dots)
    val corpus = base
      .withColumn("list", (array_position(col("__d"), array_max(col("__d"))) - 1).cast("int"))
      .select("id", "v", "n", "list")
    // top-nprobe list ids per query: sort (dot, idx) structs descending —
    // an nlist-element per-row sort, no shuffle; equal dots break by list
    // index so probe selection is fully deterministic
    val probes = expr(
      s"""transform(
         |  slice(
         |    array_sort(
         |      transform(sequence(0, ${nlist - 1}), i -> struct(__d[i] AS d, i AS idx)),
         |      (a, b) -> CASE WHEN a.d > b.d THEN -1 WHEN a.d < b.d THEN 1
         |                     WHEN a.idx < b.idx THEN -1 ELSE 1 END),
         |    1, $nprobe),
         |  s -> s.idx)""".stripMargin)
    val queries = base.select(col("id"), col("v"), col("n"),
      explode(probes).as("list"))
    ivfSearch(corpus, queries, k)
  }

  /** EXACT embedding-cosine near-duplicate pairs above a threshold.
    *
    * Exact threshold semantics are inherently O(n²) compute, so this is
    * for bounded corpora (a deterministic sample, a single dedup bucket):
    * `maxRows` enforces the bound up front. What it is NOT is a driver
    * bottleneck: instead of a BroadcastNestedLoopJoin, each left row keeps
    * its hash block and the right side is replicated across all `blocks`,
    * so the pair space distributes as a shuffled equi-join on the block
    * key — per-task work and memory are (n/blocks)·n, tunable to the
    * cluster. For unbounded corpora use [[nearDupPairsLsh]].
    *
    * The size guard costs one extra action (a count over the pruned id
    * column). A caller that already knows its input is bounded — a fixed
    * sample, a bench corpus — passes `maxRows = -1` to skip it, paying
    * zero overhead on the hot path; `blocks <= 0` auto-sizes the block
    * count as √n ([[ScaleHints]]), which needs the same count.
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, blocks: Int = 0, maxRows: Long = 2000000L): DataFrame = {
    val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("n", norm(col("v")))
    // the count (guard + auto-sizing share one) scans only the pruned id
    // column, not the vectors — the full-width frame is scanned exactly
    // once, by the query itself
    val cnt = if (maxRows >= 0 || blocks <= 0) df.select(col(idCol)).count() else -1L
    if (maxRows >= 0) require(cnt <= maxRows,
      s"nearDupPairs is exact (O(n^2)): corpus has $cnt rows > maxRows=$maxRows; " +
        "use nearDupPairsLsh for unbounded corpora or raise maxRows explicitly " +
        "(maxRows = -1 skips the guard)")
    val nBlocks = if (blocks > 0) blocks else ScaleHints.forCount(cnt).pairBlocks
    // pair {a,b} meets exactly once: in a's block, with b arriving via
    // replication; the id ordering then keeps one orientation
    val x = v.withColumn("b", pmod(xxhash64(col("id")), lit(nBlocks)))
    val y = v.withColumn("b",
      explode(array((0 until nBlocks).map(lit(_)): _*)))
    x.as("x").join(y.as("y"),
        col("x.b") === col("y.b") && col("x.id") < col("y.id"))
      .withColumn("sim",
        dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n")))
      .filter(col("sim") > threshold)
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"), col("sim"))
  }

  /** SemDeDup-shaped semantic dedup (Abbas et al., "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication"):
    * coarse cells bound the pair space — the published recipe clusters
    * with k-means then dedups WITHIN each cluster, never all-pairs. Here
    * the coarse quantizer is an integer GRID codebook (literal `grid`
    * rows on the ×64 quantization grid), so cell assignment is argmax of
    * integer dot products — bit-reproducible cross-engine; within each
    * cell, exact cosine over the grid-quantized vectors (integer-valued
    * doubles — order-independent-exact sums) marks every vector that has
    * a smaller-id neighbor above `threshold` as dropped.
    *
    * Output: (idCol, cid, keep) for every input vector.
    *
    * Scale shape: assignment is scan-local; the only data exchange keys
    * on (cell id, sub-block). Grow the number of grid rows with corpus
    * size (√n rule, exactly as IVF's nlist) to keep cells bounded; a
    * trained k-means codebook from [[trainCentroids]] slots in as `grid`
    * unchanged apart from losing oracle-exactness. Because the codebook
    * can never GUARANTEE balance — one popular cell goes quadratic in a
    * single task group no matter how many cells exist — every cell larger
    * than `cellCap` rows is additionally sub-split with the
    * [[nearDupPairs]] hash-block shape: the left side keeps one block per
    * row, the right side replicates across that cell's ⌈cell/cellCap⌉
    * blocks, so the pair join keys on (cid, block) and per-task work is
    * bounded at cellCap·cell rows whatever the skew. The split changes
    * the plan only — every within-cell pair still meets exactly once, so
    * the output is bit-identical to the unsplit join. `cellCap <= 0`
    * (default) self-sizes as √n ([[ScaleHints]]) computed IN-PLAN from
    * the cell-size table — no driver-side action.
    *
    * `reliable = true` stores the materialized assignment as a
    * fault-tolerant RELIABLE checkpoint (requires
    * `sparkContext.setCheckpointDir`) instead of executor-local blocks —
    * the same switch as [[Dedup.dupClusters]]: localCheckpoint is not
    * recomputable on executor loss, so decommission-prone long cluster
    * runs flip this on; the default keeps the fast local path.
    */
  def semanticDedupCells(df: DataFrame, idCol: String, vecCol: String,
      grid: Array[Array[Int]], threshold: Double,
      cellCap: Long = 0L, reliable: Boolean = false): DataFrame = {
    // native kernels (IvfPq): quantization, the |grid| scores, and the
    // argmax are one expression node each — the unrolled |grid|×dims
    // term chains this replaces carried a measured driver-side plan-
    // optimization cost (the ann_ivfpq_fixed finding), value-identical
    val cv = IvfPq.gridQuantD(col(vecCol))
    // the assignment frame is referenced FOUR times downstream (cell
    // sizes, both pair-join sides, the final keep join) and Spark never
    // shares common subtrees, so the expensive |grid|×dims argmax would
    // run four times per row. Materialize it once, eagerly — this is the
    // (vector, cell) assignment artifact a production SemDeDup pipeline
    // persists anyway. localCheckpoint stores executor-local (fast, GC-
    // freed, but not recomputable on executor loss — the same tradeoff
    // documented on Dedup.dupClusters; `reliable = true` swaps in a
    // fault-tolerant checkpoint, persisting first so the checkpoint
    // writer's second pass reads the cache instead of recomputing the
    // argmax, then dropping the cache once the files exist).
    val assigned = df.select(col(idCol),
        IvfPq.ivfCell(IvfPq.gridQuant(col(vecCol)), grid).as("cid"),
        cv.as("cv"))
      .withColumn("n", sqrt(dot(col("cv"), col("cv"))))
    val v =
      if (reliable) {
        val cached = assigned.persist()
        val cp = cached.checkpoint() // eager: files written here
        cached.unpersist()
        cp
      } else assigned.localCheckpoint()
    // per-cell sizes: |grid| rows after the partial agg — broadcasts. The
    // total rides along (an unpartitioned window over the already-tiny
    // sizes frame — no 1-row cross join in the plan) so the √n auto-cap
    // is a plan expression too.
    import org.apache.spark.sql.expressions.Window
    val sizes = v.groupBy(col("cid")).agg(count(lit(1)).as("__cn"))
      .withColumn("__tot", sum(col("__cn")).over(Window.partitionBy()))
    val cap: Column =
      if (cellCap > 0) lit(cellCap)
      else greatest(lit(1000L), ceil(sqrt(col("__tot"))).cast("long"))
    val sized = v.join(broadcast(sizes), Seq("cid"))
      .withColumn("__nb", greatest(
        ceil(col("__cn").cast("double") / cap.cast("double")), lit(1)).cast("int"))
      .drop("__cn", "__tot")
    // pair {a,b} meets exactly once: in a's block of their shared cell,
    // with b arriving via replication (nb = 1 for cells under the cap —
    // the single-element generate is free)
    val x = sized.withColumn("__b", pmod(xxhash64(col(idCol)), col("__nb")))
    val y = sized.withColumn("__b",
      explode(sequence(lit(0), col("__nb") - 1)))
    val dropped = x.as("x").join(y.as("y"),
        col("x.cid") === col("y.cid") && col("x.__b") === col("y.__b") &&
          col(s"x.$idCol") < col(s"y.$idCol"))
      .filter(dot(col("x.cv"), col("y.cv")) /
        (col("x.n") * col("y.n")) > threshold)
      .select(col(s"y.$idCol").as(idCol)).distinct()
    v.select(col(idCol), col("cid"))
      .join(dropped.withColumn("__drop", lit(true)), Seq(idCol), "left")
      .select(col(idCol), col("cid"), col("__drop").isNull.as("keep"))
  }

  /** The 100 TB near-dup path: banded hyperplane-LSH candidates → exact
    * cosine rerank → threshold. Candidate volume is governed by the band
    * width (collision probability per band ≈ (1-θ/π)^bitsPerBand), so the
    * join shuffles on (band, bucket) keys only — never all pairs. Recall
    * is probabilistic and rises with `bands`; genuine near-duplicates
    * (cosine ≳ 0.9) collide with near-certainty at the defaults, which is
    * the regime near-dup dedup runs at. Each pair is reranked with the
    * same exact dot product as [[nearDupPairs]].
    */
  def nearDupPairsLsh(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bits: Int = 32, bands: Int = 8,
      dims: Int = 64): DataFrame = {
    val bitsPerBand = bits / bands
    val sk = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Sketches.hyperplaneSketch(col(vecCol), bits, dims).as("sketch"))
      .withColumn("n", norm(col("v")))
    val banded = sk.select(col("id"), col("v"), col("n"),
      posexplode(array((0 until bands).map(b =>
        shiftright(col("sketch"), b * bitsPerBand)
          .bitwiseAND((1L << bitsPerBand) - 1)): _*)).as(Seq("band", "bucket")))
    // sim + threshold filter run map-side of the dedup exchange (same
    // rationale as [[lshTopK]]): identical pairs from different bands
    // produce bit-identical sim, so distinct on (ids, sim) dedups
    // exactly — and the below-threshold bulk never enters the shuffle
    banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"),
        (dot(col("x.v"), col("y.v")) / (col("x.n") * col("y.n"))).as("sim"))
      .filter(col("sim") > threshold)
      .distinct()
  }
}
