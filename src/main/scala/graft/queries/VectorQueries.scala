package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.{Dedup, Similarity}

/** Similarity-search queries over the `embeddings` table
  * (`Array[Float]` column). Cosine scores are bit-exact against DuckDB
  * (sequential double fold == `list_dot_product` over `DOUBLE[]`), so the
  * brute-force paths are fully oracle-checked; the LSH path is the scale
  * variant with a rows-only gate + ScalaTest recall assertions.
  */
object VectorQueries {

  private def emb(s: SparkSession, dir: String) = Tables.load(s, dir, "embeddings")

  /** Oracle for `embed_prefix_recall`: per prefix length a brute top-k
    * over sliced `DOUBLE[]` lists (the ann_topk pattern), LEFT-joined to
    * the full-dimension truth, unioned. Same (sim DESC, neighbor_id)
    * total order as [[Similarity.bruteForceTopK]].
    */
  private def prefixRecallSql(k: Int, prefixes: Seq[Int]): String = {
    def top(name: String, slice: String): String =
      s"""$name AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT q.query_id, c.neighbor_id, ROW_NUMBER() OVER (
         |        PARTITION BY q.query_id
         |        ORDER BY list_dot_product(qv$slice, cv$slice) /
         |          (sqrt(list_dot_product(qv$slice, qv$slice)) *
         |           sqrt(list_dot_product(cv$slice, cv$slice))) DESC,
         |          c.neighbor_id) AS rk
         |    FROM q, c WHERE q.query_id <> c.neighbor_id)
         |  WHERE rk <= $k)""".stripMargin
    val gs = prefixes.map(d => top(s"g$d", s"[1:$d]")).mkString(",\n")
    val os = prefixes.map { d =>
      s"""o$d AS (
         |  SELECT CAST($d AS BIGINT) AS prefix_dims, tr.query_id,
         |         CAST(COUNT(g.query_id) AS BIGINT) AS n_overlap
         |  FROM tr LEFT JOIN g$d g
         |    ON tr.query_id = g.query_id AND tr.neighbor_id = g.neighbor_id
         |  GROUP BY tr.query_id)""".stripMargin
    }.mkString(",\n")
    val union = prefixes.map(d => s"SELECT * FROM o$d")
      .mkString("\n  UNION ALL ")
    s"""WITH q AS (
       |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
       |  FROM embeddings WHERE vec_id < 8),
       |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
       |      FROM embeddings),
       |${top("tr", "")},
       |$gs,
       |$os
       |SELECT prefix_dims, query_id, n_overlap,
       |       CAST(n_overlap AS DOUBLE) / $k.0 AS recall
       |FROM ($union)""".stripMargin
  }

  def all: Seq[Query] = Seq(
    // brute-force top-5 cosine neighbors for 8 query vectors
    Query("ann_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 8), e, "vec_id", "embedding", k = 5)
    },
      oracle = """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 8
        |),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |         list_dot_product(qv, cv) /
        |           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM q, c WHERE query_id <> neighbor_id
        |),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s
        |)
        |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
        |FROM r WHERE rank <= 5""".stripMargin),
    // kNN-graph hubness audit: k-occurrence histogram over a 512-query
    // sample — hubs (fat tail) and antihubs (in_degree 0) are the
    // high-dimension retrieval pathology; integer-exact, full hash match
    Query("embed_hubness", (s, dir) => {
      val e = emb(s, dir)
      Similarity.hubnessHistogram(e.filter(col("vec_id") < 512), e,
        "vec_id", "embedding", k = 5)
    },
      // mirrors hubnessHistogram: same brute-force kNN arithmetic, then
      // the integer k-occurrence histogram (antihubs via the left join)
      oracle = """WITH q AS (
        |  SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
        |  FROM embeddings WHERE vec_id < 512
        |),
        |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
        |s AS (
        |  SELECT query_id, neighbor_id,
        |         list_dot_product(qv, cv) /
        |           (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS sim
        |  FROM q, c WHERE query_id <> neighbor_id
        |),
        |r AS (
        |  SELECT neighbor_id,
        |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
        |  FROM s
        |),
        |knn AS (SELECT neighbor_id FROM r WHERE rank <= 5),
        |deg AS (
        |  SELECT e.vec_id, CAST(COUNT(k.neighbor_id) AS BIGINT) AS in_degree
        |  FROM embeddings e LEFT JOIN knn k ON e.vec_id = k.neighbor_id
        |  GROUP BY e.vec_id
        |)
        |SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors
        |FROM deg GROUP BY in_degree""".stripMargin),
    // per-label centroids, bit-exact via the pinned-order fold
    Query("embed_centroids", (s, dir) =>
      graft.functions.Embeddings.labelCentroids(
        emb(s, dir), "vec_id", "embedding", "label"),
      // the same sequential fold in vec_id order — float addition order
      // pinned, so the doubles match bit-for-bit
      oracle = """WITH e AS (
        |  SELECT label, vec_id, i AS pos, CAST(embedding[i + 1] AS DOUBLE) AS v
        |  FROM embeddings
        |  CROSS JOIN (SELECT unnest(range(0, 64)) AS i) g
        |),
        |c AS (
        |  SELECT label, pos,
        |    SUM(v) OVER (PARTITION BY label, pos ORDER BY vec_id
        |                 ROWS UNBOUNDED PRECEDING) AS cs,
        |    ROW_NUMBER() OVER (PARTITION BY label, pos ORDER BY vec_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY label, pos) AS cnt
        |  FROM e
        |)
        |SELECT label, pos, cs / cnt AS mean_v, CAST(cnt AS BIGINT) AS n_vecs
        |FROM c WHERE rn = cnt""".stripMargin),
    // Matryoshka prefix-dimension retrieval eval: top-5 recall of
    // 8/16/32-dim prefixes vs the full 64-dim truth — all brute-exact,
    // so the verdict table hash-matches
    Query("embed_prefix_recall", (s, dir) => {
      val e = emb(s, dir)
      Similarity.prefixRecall(e.filter(col("vec_id") < 8), e,
        "vec_id", "embedding", k = 5, prefixes = Seq(8, 16, 32))
    },
      // mirrors prefixRecall(k = 5, prefixes = 8/16/32)
      oracle = prefixRecallSql(5, Seq(8, 16, 32))),
    // embedding-cosine near-dup pairs over a deterministic subset; the
    // subset is bounded by construction (quarter of a fixed table), so
    // the O(n²) size guard is skipped — its count() action exactly
    // doubled this query's cost in the r8 bench
    Query("embed_neardup", (s, dir) =>
      Similarity.nearDupPairs(
        emb(s, dir).filter(col("vec_id") % 4 === 0),
        "vec_id", "embedding", threshold = 0.4, blocks = 32, maxRows = -1L),
      oracle = neardupOracleSql),
    // embedding semantic dedup end-to-end: near-dup pairs → connected
    // components → drop every non-canonical member; the kept id set is
    // what a SemDeDup-style pipeline ships downstream
    Query("embed_dedup_canonical", (s, dir) => {
      val e = emb(s, dir).filter(col("vec_id") % 4 === 0)
      val pairs = Similarity.nearDupPairs(e, "vec_id", "embedding",
          threshold = 0.4, blocks = 32, maxRows = -1L)
        .select("id_a", "id_b")
      val dropIds = Dedup.dupClusters(pairs)
        .filter(col("id") =!= col("cluster_id"))
        .select(col("id").as("vec_id"))
      e.select("vec_id").join(dropIds, Seq("vec_id"), "left_anti")
    },
      oracle = s"""WITH RECURSIVE p AS (SELECT id_a, id_b FROM ($neardupOracleSql)),
         |e AS (
         |  SELECT id_a AS src, id_b AS dst FROM p
         |  UNION
         |  SELECT id_b AS src, id_a AS dst FROM p
         |),
         |reach(id, lbl) AS (
         |  SELECT src, src FROM e
         |  UNION
         |  SELECT e.src, r.lbl FROM e JOIN reach r ON e.dst = r.id
         |),
         |cl AS (SELECT id, MIN(lbl) AS cluster_id FROM reach GROUP BY id)
         |SELECT v.vec_id FROM (
         |  SELECT vec_id FROM embeddings WHERE vec_id % 4 = 0
         |) v
         |LEFT JOIN (SELECT id FROM cl WHERE id <> cluster_id) d ON v.vec_id = d.id
         |WHERE d.id IS NULL""".stripMargin),
    // int8 quantization audit: per-vector scale + integer checksums of
    // the quantized vector (exact cross-engine — integer arithmetic)
    Query("embed_quantize", (s, dir) => {
      import graft.functions.Embeddings
      // scale and the quantized vector materialize as COLUMNS first:
      // inlining absMax (an O(dims) interpreted array fold) inside
      // quantizeInt8's per-element lambda re-evaluated it per element —
      // O(dims²) interpreted work per row, and the doubled dot/aggregate
      // references doubled that again (the decontaminate_bloom
      // interpreted-lambda lesson, §4). Same expressions, same values —
      // the oracle hash is unchanged.
      emb(s, dir)
        .withColumn("scale", Embeddings.absMax(col("embedding")))
        .withColumn("__qi",
          Embeddings.quantizeInt8(col("embedding"), col("scale")))
        .withColumn("__q", col("__qi").cast("array<double>"))
        .select(col("vec_id"), col("scale"),
          aggregate(col("__qi"), lit(0L),
            (acc, x) => acc + x.cast("long")).as("q_sum"),
          Similarity.dot(col("__q"), col("__q")).cast("long").as("q_norm2"))
    },
      oracle = s"""WITH $quantCtes
         |SELECT vec_id, scale,
         |  CAST(list_sum(qv) AS BIGINT) AS q_sum,
         |  CAST(list_dot_product(qv, qv) AS BIGINT) AS q_norm2
         |FROM q""".stripMargin),
    // brute-force top-k over the QUANTIZED vectors: int8 dot products
    // are integer-exact, so unlike trained-float ANN the whole search
    // result hash-matches the oracle; recall vs the float truth is
    // bounded in ScalaTest
    Query("ann_topk_q8", (s, dir) => {
      import graft.functions.Embeddings
      // scale as a column first — same O(dims²)-interpreted-inlining fix
      // as embed_quantize
      val qe = emb(s, dir)
        .withColumn("scale", Embeddings.absMax(col("embedding")))
        .select(col("vec_id"),
          Embeddings.quantizeInt8(col("embedding"), col("scale"))
            .cast("array<double>").as("qv"))
      Similarity.bruteForceTopK(
        qe.filter(col("vec_id") < 8), qe, "vec_id", "qv", k = 5)
    },
      oracle = s"""WITH $quantCtes,
         |qq AS (SELECT vec_id AS query_id, qv AS qqv FROM q WHERE vec_id < 8),
         |cc AS (SELECT vec_id AS neighbor_id, qv AS cqv FROM q),
         |s AS (
         |  SELECT query_id, neighbor_id,
         |         list_dot_product(qqv, cqv) /
         |           (sqrt(list_dot_product(qqv, qqv)) * sqrt(list_dot_product(cqv, cqv))) AS sim
         |  FROM qq, cc WHERE query_id <> neighbor_id
         |),
         |r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
         |  FROM s
         |)
         |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
         |FROM r WHERE rank <= 5""".stripMargin),
    // LSH-bucketed approximate top-k — the 100TB path (bucketed join,
    // no cross product); rows-only gate + recall ScalaTest
    Query("ann_lsh", (s, dir) =>
      Similarity.lshTopK(emb(s, dir), "vec_id", "embedding", k = 5),
      oracle = lshTopKOracleSql),
    // signed Johnson–Lindenstrauss projection of the ×64-quantized
    // vectors to 8 integer dims — dimension reduction that stays
    // bit-exact cross-engine (Achlioptas ±1 signs from splitmix64)
    Query("embed_project", (s, dir) =>
      graft.functions.Embeddings.randomProjection(
        emb(s, dir), "vec_id", "embedding", outDims = 8),
      // mirrors randomProjection(outDims = 8): the same ±1 sign matrix is
      // interpolated as literal signs over the shared ×64 grid idiom
      oracle = {
        import graft.functions.Embeddings
        val ps = (0 until 8).map(d =>
          s"CAST(${Embeddings.randomProjectionSql("cv", d)} AS BIGINT) AS p$d")
          .mkString(",\n|  ")
        s"""WITH g AS (
           |  SELECT vec_id, list_transform(embedding,
           |      x -> CAST(LEAST(GREATEST(FLOOR(x * 64 + 0.5), -127), 127) AS BIGINT)) AS cv
           |  FROM embeddings)
           |SELECT vec_id,
           |  $ps
           |FROM g""".stripMargin
      }),
    // two-stage ANN: JL-projected integer-dot coarse shortlist (16
    // terms per pair instead of 64) → exact grid-cosine rerank; both stages
    // integer/grid-exact, so the WHOLE result hash-matches the oracle
    Query("ann_project_topk", (s, dir) => {
      val e = emb(s, dir)
      Similarity.projectTopK(e.filter(col("vec_id") < 8), e,
        "vec_id", "embedding", k = 5, shortlist = 50)
    },
      // mirrors projectTopK(k=5, shortlist=50, outDims=8): same literal
      // sign sums for the coarse stage, grid-double cosine for the rerank
      oracle = {
        import graft.functions.Embeddings
        val ps = (0 until 16).map(d =>
          s"CAST(${Embeddings.randomProjectionSql("cv", d)} AS BIGINT) AS p$d")
          .mkString(",\n|    ")
        val coarse = (0 until 16).map(d => s"q.p$d * c.p$d").mkString(" + ")
        s"""WITH g AS (
           |  SELECT vec_id, list_transform(embedding,
           |      x -> CAST(LEAST(GREATEST(FLOOR(x * 64 + 0.5), -127), 127) AS BIGINT)) AS cv
           |  FROM embeddings),
           |p AS (
           |  SELECT vec_id,
           |    $ps
           |  FROM g),
           |co AS (
           |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
           |    $coarse AS coarse
           |  FROM p q JOIN p c ON q.vec_id < 8 AND q.vec_id <> c.vec_id),
           |sh AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |      ORDER BY coarse DESC, neighbor_id) AS r FROM co)
           |  WHERE r <= 50),
           |gd AS (
           |  SELECT vec_id, list_transform(cv, x -> CAST(x AS DOUBLE)) AS dv
           |  FROM g),
           |nv AS (
           |  SELECT vec_id, dv, sqrt(list_dot_product(dv, dv)) AS n FROM gd),
           |rr AS (
           |  SELECT s.query_id, s.neighbor_id,
           |    list_dot_product(q.dv, c.dv) / (q.n * c.n) AS sim
           |  FROM sh s JOIN nv q ON q.vec_id = s.query_id
           |            JOIN nv c ON c.vec_id = s.neighbor_id),
           |rk AS (
           |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |    ORDER BY sim DESC, neighbor_id) AS rank FROM rr)
           |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
           |FROM rk WHERE rank <= 5""".stripMargin
      }),
    // IVF approximate top-k — coarse-quantizer lists, nprobe probing.
    // TRAINED centroids (means over doubles) are never bit-reproducible
    // cross-engine, so the raw neighbor list cannot be hash-matched;
    // instead the query grades itself: recall@5 of the trained-IVF result
    // against the in-plan brute-force truth for a fixed query subset,
    // thresholded at 0.3 (measured 0.577 on this corpus — the floor
    // catches a broken quantizer/probe/join, not centroid jitter). The
    // oracle recomputes n_queries and asserts the verdict TRUE, the same
    // self-grading pattern as q_approx_distinct.
    Query("ann_ivf", (s, dir) => {
      val e = emb(s, dir)
      val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 4).filter(col("query_id") < 64)
      val truth = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 64), e, "vec_id", "embedding", k = 5)
      val hits = ivf.as("i").join(truth.as("b"),
          col("i.query_id") === col("b.query_id") &&
            col("i.neighbor_id") === col("b.neighbor_id"))
        .groupBy(col("i.query_id").as("query_id"))
        .agg(count(lit(1)).as("hits"))
      e.filter(col("vec_id") < 64).select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          (sum(coalesce(col("hits"), lit(0L))) / (count(lit(1)) * 5.0))
            .as("recall"))
        .select(col("n_queries"),
          (col("recall") >= 0.3).as("recall_floor_met"))
    },
      // self-grading verdict (see the ann_ivf query comment): DuckDB owns
      // n_queries; TRUE is the asserted recall verdict — if Spark's trained
      // IVF ever drops below the 0.3 recall floor the flag flips and the
      // hash gate trips
      oracle = """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       TRUE AS recall_floor_met
        |FROM embeddings WHERE vec_id < 64""".stripMargin),
    // the LARGE-nlist IVF path (broadcast centroid RELATION, no plan
    // literal — Similarity.ivfTopKWithDf): same self-grading recall
    // verdict as ann_ivf, with literalMax forced below nlist so this
    // query exercises the 100 TB assignment shape end to end
    // (trainCentroidsDf sample training + chunked broadcast probe)
    Query("ann_ivf_frame", (s, dir) => {
      val e = emb(s, dir)
      val ivf = Similarity.ivfTopK(e, "vec_id", "embedding", k = 5,
        nlist = 16, nprobe = 4, literalMax = 8)
        .filter(col("query_id") < 64)
      val truth = Similarity.bruteForceTopK(
        e.filter(col("vec_id") < 64), e, "vec_id", "embedding", k = 5)
      val hits = ivf.as("i").join(truth.as("b"),
          col("i.query_id") === col("b.query_id") &&
            col("i.neighbor_id") === col("b.neighbor_id"))
        .groupBy(col("i.query_id").as("query_id"))
        .agg(count(lit(1)).as("hits"))
      e.filter(col("vec_id") < 64).select(col("vec_id").as("query_id"))
        .join(hits, Seq("query_id"), "left")
        .agg(count(lit(1)).as("n_queries"),
          (sum(coalesce(col("hits"), lit(0L))) / (count(lit(1)) * 5.0))
            .as("recall"))
        .select(col("n_queries"),
          (col("recall") >= 0.3).as("recall_floor_met"))
    },
      // same self-grading verdict for the broadcast-relation path
      oracle = """SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
        |       TRUE AS recall_floor_met
        |FROM embeddings WHERE vec_id < 64""".stripMargin),
    // IVF MECHANICS value-checked: assignment, probe selection, candidate
    // join and rerank over FIXED literal centroids, hash-matched in DuckDB
    Query("ann_ivf_fixed", (s, dir) =>
      Similarity.ivfTopKWith(emb(s, dir), "vec_id", "embedding", k = 5,
        FixedCentroids, nprobe = 4),
      oracle = ivfFixedOracleSql),
    // k-means clustering-quality report over the same fixed coarse
    // quantizer: per-cluster population, inertia (Σ squared euclidean
    // distance to the assigned centroid), and the assignment margin
    // (distance gap to the second-nearest centroid — the k-means++
    // stability signal). INTEGER-exact end to end: embeddings quantize
    // to the ×64 grid, centroids are the integer IvfPqGrid, so every
    // distance is a sum of squared longs — no float order-dependence
    // anywhere. One scan, per-row expressions, one 16-key groupBy
    Query("ann_kmeans_quality", (s, dir) => {
      import graft.functions.IvfPq
      val e = emb(s, dir)
      // native kernels: quantization and the 16 squared distances are
      // each one expression node (was a 1024-term unrolled projection —
      // the same driver-side plan-optimization cost the IvfPq pass
      // measured on ann_ivfpq_fixed), value-identical
      e.select(col("vec_id"),
          IvfPq.ivfDistances(IvfPq.gridQuant(col("embedding"))).as("__ds"))
        .withColumn("__sorted", array_sort(col("__ds")))
        .select(
          array_position(col("__ds"), element_at(col("__sorted"), 1))
            .cast("long").as("cid"),
          element_at(col("__sorted"), 1).as("__d2"),
          (element_at(col("__sorted"), 2) - element_at(col("__sorted"), 1))
            .as("__margin"))
        .groupBy(col("cid"))
        .agg(count(lit(1)).as("n_vectors"),
          sum(col("__d2")).as("inertia"),
          sum(col("__margin")).as("margin_sum"))
        .select(col("cid"), col("n_vectors"), col("inertia"),
          (col("inertia").cast("double") / col("n_vectors").cast("double"))
            .as("mean_d2"),
          (col("margin_sum").cast("double") / col("n_vectors").cast("double"))
            .as("mean_margin"))
    },
      oracle = kmeansQualityOracleSql),
    // PQ MECHANICS value-checked: fixed-grid integer quantization,
    // nearest-codeword encoding (first index on ties), reconstruction
    // distance — integers end to end, hash-matched; the probe join ships
    // only the 8 subspace codes per corpus vector
    Query("ann_pq_fixed", (s, dir) => {
      import graft.functions.IvfPq
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      // native kernels end to end (grid quantize / encode / ADC are each
      // ONE expression node): value-identical to the unrolled
      // element_at formulation this replaces — which needed a
      // materialization boundary to dodge the 512-term codegen re-inline
      // trap and still paid Catalyst optimization time proportional to
      // the tree size on every run (measured driver-side, see IvfPq)
      val codes = e.select(col("vec_id"),
        IvfPq.pqEncode(IvfPq.gridQuant(col("embedding"))).as("codes"))
      val queries = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"),
          IvfPq.gridQuant(col("embedding")).as("qcv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("pq_dist"), col("vec_id"))
      codes.join(broadcast(queries))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("pq_dist", IvfPq.pqAdc(col("qcv"), col("codes")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 20)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("pq_dist"), col("rank"))
    },
      oracle = pqOracleSql),
    // IVF+PQ MECHANICS value-checked: integer coarse assignment to the
    // ×64-grid centroids, PQ over the quantized-domain RESIDUAL, probe
    // top-4 lists, residual ADC rerank — the full billion-scale ANN
    // layout (inverted lists of 8-byte codes), integers end to end
    Query("ann_ivfpq_fixed", (s, dir) => {
      import graft.functions.IvfPq
      import org.apache.spark.sql.expressions.Window
      val e = emb(s, dir)
      // native kernels end to end: grid quantize, coarse assign,
      // residual, PQ encode, and ADC are each ONE expression node
      // (functions/IvfPq.scala), value-identical to the unrolled
      // element_at chains this replaces. The old shape needed persist()
      // optimizer barriers to stop rules re-inlining 64-term arrays into
      // hundreds of downstream terms, and paid ~3 s of DRIVER-side
      // Catalyst optimization per run on the ~1000-node projections
      // (measured: Spark jobs totaled ~0.4 s of the 3.6 s floor); with
      // one-node kernels the whole plan is small enough that no barrier
      // — and no eager localCheckpoint/unpersist lifecycle — is needed
      val quant = e.select(col("vec_id"),
        IvfPq.gridQuant(col("embedding")).as("cv"))
      val corpus = quant
        .select(col("vec_id"), col("cv"), IvfPq.ivfCell(col("cv")).as("cid"))
        .select(col("vec_id"), col("cid"),
          IvfPq.pqEncode(IvfPq.ivfResidual(col("cv"), col("cid"))).as("codes"))
      val q = e.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"),
          IvfPq.gridQuant(col("embedding")).as("qcv"))
      val probes = q
        .select(col("query_id"), col("qcv"),
          posexplode(IvfPq.ivfScores(col("qcv"))).as(Seq("cid0", "score")))
        .withColumn("cid", (col("cid0") + 1).cast("long"))
      val pw = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cid"))
      val probed = probes
        .withColumn("pr", row_number().over(pw)).filter(col("pr") <= 4)
        .select(col("query_id"), col("cid"),
          IvfPq.ivfResidual(col("qcv"), col("cid")).as("rqv"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("pq_dist"), col("vec_id"))
      broadcast(probed).join(corpus, Seq("cid"))
        .filter(col("vec_id") =!= col("query_id"))
        .withColumn("pq_dist", IvfPq.pqAdc(col("rqv"), col("codes")))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 10)
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cid"), col("pq_dist"), col("rank"))
    },
      oracle = ivfPqOracleSql),
    // SemDeDup-shaped semantic dedup: coarse k-means cells bound the
    // pair space (the published recipe clusters with faiss then dedups
    // WITHIN each cluster — never all-pairs), here with the integer-grid
    // coarse quantizer so assignment is oracle-exact; within-cell cosine
    // over the grid-quantized vectors, drop every vector that has a
    // smaller-id neighbor above the threshold in its own cell. Per-task
    // work is O(cell²) with cells ~n/nlist — the documented SemDeDup
    // scale shape (nlist grows with corpus size).
    Query("semantic_dedup_cells", (s, dir) =>
      Similarity.semanticDedupCells(emb(s, dir), "vec_id", "embedding",
        IvfPqGrid, threshold = 0.92),
      oracle = semanticDedupOracleSql),
    // binary-embedding ANN: 32-bit hyperplane sign sketch per vector,
    // neighbors ranked by Hamming distance (popcount of XOR) — the
    // 64-bytes-to-4-bytes compression story next to PQ, and INTEGER all
    // the way so the whole ranking hash-matches the oracle (float ANN
    // never does). The sketch computes in the scan; candidates join
    // against the 8-row query table broadcast
    Query("ann_hamming", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sk = emb(s, dir).select(col("vec_id"),
        graft.functions.Sketches.hyperplaneSketch(col("embedding"), 32, 64)
          .as("sk"))
      val q = sk.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("sk").as("qsk"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("hamming"), col("neighbor_id"))
      sk.join(broadcast(q)).filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          expr("CAST(bit_count(sk ^ qsk) AS BIGINT)").as("hamming"))
        .withColumn("rank", row_number().over(w).cast("long"))
        .filter(col("rank") <= 5)
    },
      oracle = hammingOracleSql),
    // metadata-filtered ANN (the retrieval-stack "hybrid search" shape):
    // a text-quality predicate on the documents table restricts the
    // vector corpus via an id equi-join BEFORE any similarity work —
    // pushdown-style filtered search, queries drawn from the same
    // filtered set
    Query("hybrid_search", (s, dir) => {
      val d = Tables.load(s, dir, "documents")
      val keep = d.filter(
          graft.functions.TextAnalysis.qualityScore(col("text")) >= 0.4)
        .select(col("doc_id").as("vec_id"))
      val e = emb(s, dir).join(keep, Seq("vec_id"))
      Similarity.bruteForceTopK(e.filter(col("vec_id") < 16), e,
        "vec_id", "embedding", k = 5)
    },
      oracle = {
        val toks = "string_split(text, ' ')"
        s"""WITH keep AS (
           |  SELECT doc_id AS kid FROM documents
           |  WHERE (${graft.functions.TextAnalysis.qualityScoreSql(toks)}) >= 0.4),
           |e AS (
           |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
           |  FROM embeddings JOIN keep ON vec_id = kid),
           |q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 16),
           |s AS (
           |  SELECT query_id, vec_id AS neighbor_id,
           |    list_dot_product(qv, v) /
           |      (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(v, v))) AS sim
           |  FROM q, e WHERE vec_id <> query_id),
           |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |        ORDER BY sim DESC, neighbor_id) AS rank FROM s)
           |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
           |FROM r WHERE rank <= 5""".stripMargin
      }),
    // reciprocal-rank fusion of the lexical (BM25) and semantic (cosine
    // top-k for the doc-0 embedding) rankings — the standard
    // score-free hybrid-retrieval combiner (rrf = Σ 1/(60 + rank)).
    // Both legs are 20-row frames after their own top-k, so the fusion
    // join, window and re-rank are driver-trivial; determinism comes
    // free (ranks are ints, 1/(60+r) is one IEEE division each)
    Query("search_rrf", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val bm = graft.functions.TermStats
        .bm25TopK(Tables.load(s, dir, "documents"), "doc_id", "text",
          TextQueries.Bm25Query, k = 20)
        .select(col("doc_id"),
          row_number().over(
            Window.orderBy(col("score_fp").desc, col("doc_id"))).as("r_lex"))
      val e = emb(s, dir)
      val ann = Similarity.bruteForceTopK(
          e.filter(col("vec_id") === 0), e, "vec_id", "embedding", k = 20)
        .select(col("neighbor_id").as("doc_id"), col("rank").as("r_sem"))
      def leg(r: Column) =
        coalesce(lit(1.0) / (lit(60) + r).cast("double"), lit(0.0))
      bm.join(ann, Seq("doc_id"), "full_outer")
        .select(col("doc_id"), col("r_lex"), col("r_sem"),
          (leg(col("r_lex")) + leg(col("r_sem"))).as("rrf"))
        .orderBy(col("rrf").desc, col("doc_id"))
        .limit(10)
    },
      // same two legs, same 1/(60+r) fusion
      oracle = {
        val bmSql = graft.functions.TermStats.bm25TopKSql(
          "doc_id", "string_split(text, ' ')", TextQueries.Bm25Query, k = 20)
        s"""WITH bm_raw AS ($bmSql),
           |bm AS (
           |  SELECT doc_id, CAST(ROW_NUMBER() OVER (
           |    ORDER BY score_fp DESC, doc_id) AS INT) AS r_lex
           |  FROM bm_raw),
           |q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           |      FROM embeddings WHERE vec_id = 0),
           |c AS (SELECT vec_id AS neighbor_id, CAST(embedding AS DOUBLE[]) AS cv
           |      FROM embeddings),
           |s AS (
           |  SELECT query_id, neighbor_id,
           |         list_dot_product(qv, cv) /
           |           (sqrt(list_dot_product(qv, qv)) *
           |            sqrt(list_dot_product(cv, cv))) AS sim
           |  FROM q, c WHERE query_id <> neighbor_id),
           |ann AS (
           |  SELECT neighbor_id AS doc_id, CAST(rank AS INT) AS r_sem
           |  FROM (SELECT neighbor_id, ROW_NUMBER() OVER (
           |          ORDER BY sim DESC, neighbor_id) AS rank FROM s)
           |  WHERE rank <= 20)
           |SELECT COALESCE(bm.doc_id, ann.doc_id) AS doc_id, r_lex, r_sem,
           |  COALESCE(CAST(1 AS DOUBLE) / CAST(60 + r_lex AS DOUBLE), 0.0) +
           |    COALESCE(CAST(1 AS DOUBLE) / CAST(60 + r_sem AS DOUBLE), 0.0)
           |    AS rrf
           |FROM bm FULL OUTER JOIN ann ON bm.doc_id = ann.doc_id
           |ORDER BY rrf DESC, doc_id LIMIT 10""".stripMargin
      }),
  )

  /** 16 deterministic unit-norm centroids (±1/8 per dimension via the
    * same splitmix sign source as the LSH planes, offset to decouple) —
    * literal on both engines, so every dot product is bit-identical.
    */
  val FixedCentroids: Array[Array[Double]] =
    Array.tabulate(16, 64)((i, j) => Similarity.planeSign(i + 100, j) / 8.0)

  /** [[FixedCentroids]] on the ×64 integer grid (±1/8 · 64 = ±8 exact)
    * — the coarse quantizer of the IVF+PQ path shares the IVF story's
    * centroids, moved onto the grid PQ arithmetic lives on.
    */
  val IvfPqGrid: Array[Array[Int]] =
    FixedCentroids.map(_.map(x => math.round(x * 64).toInt))

  /** Shared quantization CTEs (mirror of `Embeddings.quantizeInt8` over
    * the double-cast embedding — same promotion, same explicit half-up
    * rounding).
    */
  private val quantCtes: String =
    """d AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
      |sc AS (SELECT vec_id, ev,
      |         list_max(list_transform(ev, x -> abs(x))) AS scale FROM d),
      |q AS (SELECT vec_id, scale,
      |        CASE WHEN scale = 0 THEN list_transform(ev, x -> CAST(0 AS DOUBLE))
      |             ELSE list_transform(ev, x -> floor(x * 127.0 / scale + 0.5)) END AS qv
      |      FROM sc)""".stripMargin

  /** PQ oracle, generated from [[graft.functions.Embeddings.pqCodebook]]
    * — one source of truth for the codebook constants on both engines.
    */
  private def pqOracleSql: String = {
    import graft.functions.Embeddings.{pqCodebook, PqM, PqKsub, PqDsub}
    val cb = pqCodebook
    def sub(m: Int, c: Int): String =
      (0 until PqDsub).map { d =>
        val i = m * PqDsub + d + 1
        val w = cb(m)(c)(d)
        s"(cv[$i] - ($w)) * (cv[$i] - ($w))"
      }.mkString(" + ")
    val codesList = (0 until PqM).map { m =>
      val dl = (0 until PqKsub).map(c => s"(${sub(m, c)})")
        .mkString("[", ", ", "]")
      s"list_position($dl, list_min($dl))"
    }.mkString("[", ",\n    ", "]")
    val distExpr = (0 until PqM).flatMap { m =>
      val cwLit = cb(m).map(_.mkString("[", ", ", "]"))
        .mkString("([", ", ", "])")
      (0 until PqDsub).map { d =>
        val i = m * PqDsub + d + 1
        val cwd = s"$cwLit[codes[${m + 1}]][${d + 1}]"
        s"(qv[$i] - $cwd) * (qv[$i] - $cwd)"
      }
    }.mkString(" +\n      ")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(LEAST(GREATEST(FLOOR(x * 64 + 0.5), -127), 127) AS BIGINT)) AS cv
       |  FROM embeddings),
       |co AS (SELECT vec_id, $codesList AS codes FROM g),
       |qs AS (SELECT vec_id AS query_id, cv AS qv FROM g WHERE vec_id < 4),
       |s AS (
       |  SELECT qs.query_id, co.vec_id AS neighbor_id,
       |    CAST($distExpr AS BIGINT) AS pq_dist
       |  FROM qs, co WHERE co.vec_id <> qs.query_id),
       |r AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY pq_dist, neighbor_id) AS rank FROM s)
       |SELECT query_id, neighbor_id, pq_dist, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 20""".stripMargin
  }

  /** IVF+PQ oracle, generated from the same codebook + grid constants. */
  /** k-means quality oracle: same ×64 grid, same integer IvfPqGrid
    * centroids, first-min tie-break (ROW_NUMBER by d2 then cid = the
    * Spark side's array_position-of-min), exact long sums.
    */
  private def kmeansQualityOracleSql: String = {
    val gridRows = IvfPqGrid.zipWithIndex.map { case (g, c) =>
      s"(${c + 1}, ${g.mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(LEAST(GREATEST(FLOOR(x * 64 + 0.5), -127), 127) AS BIGINT)) AS cv
       |  FROM embeddings),
       |grid(cid, gv) AS (VALUES
       |    $gridRows),
       |scored AS (
       |  SELECT g.vec_id, grid.cid,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> (g.cv[i] - grid.gv[i]) * (g.cv[i] - grid.gv[i]))) AS BIGINT) AS d2
       |  FROM g, grid),
       |assign AS (
       |  SELECT vec_id, cid, d2, d2b FROM (
       |    SELECT vec_id, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn,
       |      LEAD(d2, 1) OVER (PARTITION BY vec_id ORDER BY d2, cid) AS d2b
       |    FROM scored)
       |  WHERE rn = 1)
       |SELECT CAST(cid AS BIGINT) AS cid, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       |  CAST(SUM(d2) AS BIGINT) AS inertia,
       |  CAST(SUM(d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_d2,
       |  CAST(SUM(d2b - d2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_margin
       |FROM assign GROUP BY cid""".stripMargin
  }

  private def ivfPqOracleSql: String = {
    import graft.functions.Embeddings.{pqCodebook, PqM, PqKsub, PqDsub}
    val cb = pqCodebook
    val gridRows = IvfPqGrid.zipWithIndex.map { case (g, c) =>
      s"(${c + 1}, ${g.mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    def sub(m: Int, c: Int): String =
      (0 until PqDsub).map { d =>
        val i = m * PqDsub + d + 1
        val w = cb(m)(c)(d)
        s"(rv[$i] - ($w)) * (rv[$i] - ($w))"
      }.mkString(" + ")
    val codesList = (0 until PqM).map { m =>
      val dl = (0 until PqKsub).map(c => s"(${sub(m, c)})")
        .mkString("[", ", ", "]")
      s"list_position($dl, list_min($dl))"
    }.mkString("[", ",\n    ", "]")
    val distExpr = (0 until PqM).flatMap { m =>
      val cwLit = cb(m).map(_.mkString("[", ", ", "]"))
        .mkString("([", ", ", "])")
      (0 until PqDsub).map { d =>
        val i = m * PqDsub + d + 1
        val cwd = s"$cwLit[codes[${m + 1}]][${d + 1}]"
        s"(rqv[$i] - $cwd) * (rqv[$i] - $cwd)"
      }
    }.mkString(" +\n      ")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(LEAST(GREATEST(FLOOR(x * 64 + 0.5), -127), 127) AS BIGINT)) AS cv
       |  FROM embeddings),
       |grid(cid, gv) AS (VALUES
       |    $gridRows),
       |scored AS (
       |  SELECT g.vec_id, g.cv, grid.cid, grid.gv,
       |    CAST(list_sum(list_transform(range(1, 65), i -> g.cv[i] * grid.gv[i])) AS BIGINT) AS score
       |  FROM g, grid),
       |assign AS (
       |  SELECT vec_id, cv, cid, gv FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cid) AS rn FROM scored)
       |  WHERE rn = 1),
       |enc AS (
       |  SELECT vec_id, cid,
       |    list_transform(range(1, 65), i -> cv[i] - gv[i]) AS rv
       |  FROM assign),
       |co AS (SELECT vec_id, cid, $codesList AS codes FROM enc),
       |qs AS (SELECT vec_id AS query_id, cv FROM g WHERE vec_id < 4),
       |qprobe AS (
       |  SELECT query_id, cv, cid, gv FROM (
       |    SELECT qs.query_id, qs.cv, grid.cid, grid.gv,
       |      ROW_NUMBER() OVER (PARTITION BY qs.query_id ORDER BY
       |        CAST(list_sum(list_transform(range(1, 65), i -> qs.cv[i] * grid.gv[i])) AS BIGINT) DESC,
       |        grid.cid) AS rn
       |    FROM qs, grid)
       |  WHERE rn <= 4),
       |cand AS (
       |  SELECT qp.query_id, c.vec_id AS neighbor_id,
       |    CAST(qp.cid AS BIGINT) AS cid,
       |    list_transform(range(1, 65), i -> qp.cv[i] - qp.gv[i]) AS rqv,
       |    c.codes
       |  FROM qprobe qp JOIN co c ON qp.cid = c.cid
       |  WHERE c.vec_id <> qp.query_id),
       |d AS (SELECT query_id, neighbor_id, cid,
       |        CAST($distExpr AS BIGINT) AS pq_dist FROM cand),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY pq_dist, neighbor_id) AS rank FROM d)
       |SELECT query_id, neighbor_id, cid, pq_dist, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 10""".stripMargin
  }

  /** DuckDB mirror of semantic_dedup_cells: same grid quantization,
    * first-argmax coarse assignment against the [[IvfPqGrid]] literals,
    * within-cell exact cosine over the (integer-valued, hence
    * order-independent-exact) double vectors, smaller-id-neighbor drop.
    */
  private def semanticDedupOracleSql: String = {
    val gridRows = IvfPqGrid.zipWithIndex.map { case (g, c) =>
      s"(${c + 1}, ${g.mkString("[", ", ", "]")})"
    }.mkString(",\n    ")
    s"""WITH g AS (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]),
       |      x -> CAST(LEAST(GREATEST(FLOOR(x * 64 + 0.5), -127), 127) AS DOUBLE)) AS cv
       |  FROM embeddings),
       |grid(cid, gv) AS (VALUES
       |    $gridRows),
       |scored AS (
       |  SELECT g.vec_id, g.cv, grid.cid,
       |    CAST(list_sum(list_transform(range(1, 65),
       |      i -> CAST(g.cv[i] AS BIGINT) * grid.gv[i])) AS BIGINT) AS score
       |  FROM g, grid),
       |assign AS (
       |  SELECT vec_id, cv, cid FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |      ORDER BY score DESC, cid) AS rn FROM scored)
       |  WHERE rn = 1),
       |n AS (SELECT vec_id, cid, cv,
       |        sqrt(list_dot_product(cv, cv)) AS nn FROM assign),
       |dropped AS (
       |  SELECT DISTINCT y.vec_id FROM n x JOIN n y
       |    ON x.cid = y.cid AND x.vec_id < y.vec_id
       |  WHERE list_dot_product(x.cv, y.cv) / (x.nn * y.nn) > 0.92)
       |SELECT a.vec_id, CAST(a.cid AS BIGINT) AS cid,
       |  d.vec_id IS NULL AS keep
       |FROM assign a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin
  }

  /** DuckDB mirror of ann_hamming: the 32 plane literals come from the
    * same [[Similarity.planeSign]] source as the Catalyst sketch
    * expression (identical IEEE accumulation order ⇒ identical sign
    * bits), then XOR-popcount ranking in plain SQL.
    */
  private def hammingOracleSql: String = {
    val bits = 32
    val planes = (0 until bits).map { i =>
      (0 until 64).map(j =>
        if (Similarity.planeSign(i, j) > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
    }
    val sketchBits = planes.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(v, $p) > 0 THEN CAST(1 AS UBIGINT) << $i END"
    }.mkString(",\n       |      ")
    s"""WITH v AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |),
       |sk AS (
       |  SELECT id, COALESCE(bit_or(b), CAST(0 AS UBIGINT)) AS s
       |  FROM (
       |    SELECT id, unnest([
       |      $sketchBits
       |    ]) AS b
       |    FROM v
       |  ) GROUP BY id
       |),
       |q AS (SELECT id AS query_id, s AS qs FROM sk WHERE id < 8),
       |d AS (
       |  SELECT q.query_id, c.id AS neighbor_id,
       |    CAST(bit_count(xor(q.qs, c.s)) AS BIGINT) AS hamming
       |  FROM q, sk c WHERE c.id <> q.query_id),
       |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY hamming, neighbor_id) AS rank FROM d)
       |SELECT query_id, neighbor_id, hamming, CAST(rank AS BIGINT) AS rank
       |FROM r WHERE rank <= 5""".stripMargin
  }

  /** Full DuckDB mirror of [[Similarity.lshTopK]] (bits=24, bands=3,
    * k=5): the hyperplane sketch is reproducible because bit i is just
    * `list_dot_product(v, plane_i) > 0` with the ±1 plane literals
    * generated from the SAME [[Similarity.planeSign]] the Catalyst
    * expression uses — identical IEEE accumulation order, identical sign.
    * Banding, candidate join, exact rerank, and rank≤k are plain SQL.
    */
  private def lshTopKOracleSql: String = {
    val bits = 24
    val bands = 3
    val planes = (0 until bits).map { i =>
      (0 until 64).map(j =>
        if (Similarity.planeSign(i, j) > 0) "1.0" else "-1.0")
        .mkString("[", ",", "]")
    }
    val sketchBits = planes.zipWithIndex.map { case (p, i) =>
      s"CASE WHEN list_dot_product(v, $p) > 0 THEN CAST(1 AS UBIGINT) << $i END"
    }.mkString(",\n       |      ")
    val bandRows = (0 until bands).map { b =>
      s"SELECT id, $b AS band, (s >> ${b * 8}) & 255 AS bucket FROM sk"
    }.mkString("\n  UNION ALL ")
    s"""WITH v AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
       |),
       |sk0 AS (
       |  SELECT id, COALESCE(bit_or(b), CAST(0 AS UBIGINT)) AS s
       |  FROM (
       |    SELECT id, unnest([
       |      $sketchBits
       |    ]) AS b
       |    FROM v
       |  ) GROUP BY id
       |),
       |sk AS (
       |  SELECT v.id, v.v, sqrt(list_dot_product(v.v, v.v)) AS n, sk0.s
       |  FROM v JOIN sk0 ON v.id = sk0.id
       |),
       |banded AS (
       |  $bandRows
       |),
       |cand AS (
       |  SELECT DISTINCT x.id AS query_id, y.id AS neighbor_id
       |  FROM banded x JOIN banded y
       |    ON x.band = y.band AND x.bucket = y.bucket AND x.id <> y.id
       |),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         list_dot_product(a.v, b.v) / (a.n * b.n) AS sim
       |  FROM cand c JOIN sk a ON c.query_id = a.id JOIN sk b ON c.neighbor_id = b.id
       |),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** DuckDB mirror of [[Similarity.ivfTopKWith]] over [[FixedCentroids]]:
    * assignment = first argmax of the 16 literal dot products (row_number
    * by d DESC, idx ASC), probes = top-4 lists per query, then the
    * candidate join and exact rerank in plain SQL.
    */
  private def ivfFixedOracleSql: String = {
    val centRows = FixedCentroids.zipWithIndex.map { case (c, i) =>
      s"($i, ${c.map(x => if (x > 0) "0.125" else "-0.125").mkString("[", ",", "]")})"
    }.mkString(",\n  ")
    s"""WITH v AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
       |         sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                               CAST(embedding AS DOUBLE[]))) AS n
       |  FROM embeddings
       |),
       |cents(idx, cv) AS (VALUES
       |  $centRows
       |),
       |dots AS (
       |  SELECT v.id, c.idx, list_dot_product(v.v, c.cv) AS d,
       |         ROW_NUMBER() OVER (PARTITION BY v.id
       |                            ORDER BY list_dot_product(v.v, c.cv) DESC, c.idx) AS rn
       |  FROM v CROSS JOIN cents c
       |),
       |assigned AS (SELECT id, idx AS list FROM dots WHERE rn = 1),
       |probes AS (SELECT id, idx AS list FROM dots WHERE rn <= 4),
       |cand AS (
       |  SELECT p.id AS query_id, a.id AS neighbor_id
       |  FROM probes p JOIN assigned a ON p.list = a.list AND p.id <> a.id
       |),
       |scored AS (
       |  SELECT c.query_id, c.neighbor_id,
       |         list_dot_product(x.v, y.v) / (x.n * y.n) AS sim
       |  FROM cand c JOIN v x ON c.query_id = x.id JOIN v y ON c.neighbor_id = y.id
       |),
       |ranked AS (
       |  SELECT *, ROW_NUMBER() OVER (
       |    PARTITION BY query_id ORDER BY sim DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank, sim
       |FROM ranked WHERE rank <= 5""".stripMargin
  }

  /** Exact cosine-threshold near-dup pairs over the deterministic subset,
    * shared by embed_neardup and (as the edge source)
    * embed_dedup_canonical.
    */
  private def neardupOracleSql: String =
    """WITH v AS (
      |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v
      |  FROM embeddings WHERE vec_id % 4 = 0
      |),
      |n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nn FROM v)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       list_dot_product(a.v, b.v) / (a.nn * b.nn) AS sim
      |FROM n a JOIN n b ON a.id < b.id
      |WHERE list_dot_product(a.v, b.v) / (a.nn * b.nn) > 0.4""".stripMargin
}
