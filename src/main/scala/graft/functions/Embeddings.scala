package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Embedding-column aggregation: per-label centroids (element-wise
  * means), the building block of class analysis, cluster drift checks,
  * and label-conditioned near-dup thresholds.
  *
  * [[labelCentroids]] is oracle-exact: element sums evaluate as a
  * SEQUENTIAL fold in pinned `vec_id` order (window cumsum), so the
  * float-addition order — and therefore every last bit of the double
  * result — is identical in any engine that follows the same order. It
  * costs a (label, dim) shuffle without map-side combine.
  *
  * Output long-form: (label, pos, mean_v, n_vecs) — reassembly into an
  * array column is a `collect_list` over pos when callers want it.
  */
object Embeddings {

  private def exploded(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String) =
    df.select(col(labelCol), col(idCol),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(labelCol), col(idCol),
        col("pos").cast("long").as("pos"), col("v").cast("double").as("v"))
      // drop null elements HERE: the window sum skips nulls but its
      // count(*) would not, so a ragged/null element would skew the mean
      .filter(col("v").isNotNull)

  /** Deterministic bit-exact centroids (see object doc). */
  def labelCentroids(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val w = Window.partitionBy(col(labelCol), col("pos"))
      .orderBy(col(idCol))
    val grp = Window.partitionBy(col(labelCol), col("pos"))
    exploded(df, idCol, vecCol, labelCol)
      .withColumn("cs", sum(col("v")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(w))
      .withColumn("cnt", count(lit(1)).over(grp))
      .filter(col("rn") === col("cnt"))
      .select(col(labelCol), col("pos"),
        (col("cs") / col("cnt")).as("mean_v"),
        col("cnt").as("n_vecs"))
  }

  // --- int8 quantization -------------------------------------------------
  //
  // Symmetric per-vector int8 quantization — the standard 4× memory/IO
  // reduction for ANN at scale (a 100 TB float corpus becomes 25 TB of
  // int8 + one scale per vector; candidate scoring runs on integers).
  // Everything is deterministic integer/double arithmetic: quantized
  // dot products are integer-valued and therefore EXACT cross-engine,
  // which makes the whole quantized search path hash-checkable — unlike
  // trained-float pipelines that can only self-grade.

  /** Per-vector symmetric scale: max |element| (as double). */
  def absMax(vec: Column): Column =
    array_max(transform(vec, x => abs(x.cast("double"))))

  /** Quantize to int8-valued longs: q_i = floor(v_i * 127 / scale + 0.5)
    * (explicit half-up — `floor(x + 0.5)` is bit-identical in DuckDB,
    * unlike engine-native `round`s that differ on ties). A zero-scale
    * (all-zero) vector quantizes to zeros. Values land in [-127, 127];
    * the byte cast is a storage choice left to the sink.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    when(scale === 0d, transform(vec, _ => lit(0L)))
      .otherwise(transform(vec, x =>
        floor(x.cast("double") * lit(127.0) / scale + lit(0.5))))

  // --- product quantization (PQ) -----------------------------------------
  //
  // The memory-scale ANN path past IVF: each 64-dim vector compresses to
  // PqM subspace codes (one byte each at PqKsub <= 256), and search
  // scores candidates against codeword reconstructions — the corpus
  // ships M bytes per vector instead of 4·dims. Kept INTEGER end to end
  // (fixed-grid quantization + integer codebook), so encoding, the
  // argmin tie-break, and every distance are bit-reproducible
  // cross-engine — same pattern as ann_ivf_fixed: literal codebook =
  // full mechanics oracle-checked; per-subspace k-means training slots
  // in upstream exactly like [[Similarity.trainCentroids]]. The encode
  // and distance kernels over this codebook are [[IvfPq]]'s.

  val PqM = 8; val PqKsub = 8; val PqDsub = 8

  /** Deterministic codebook literal: ±48 sign patterns from the same
    * splitmix source as the LSH planes (decoupled by offset), on the ×64
    * grid the data quantizes to — 8 orthogonal-ish codewords per
    * subspace that straddle a σ≈1 float distribution.
    */
  def pqCodebook: Array[Array[Array[Int]]] =
    Array.tabulate(PqM, PqKsub, PqDsub)((m, c, d) =>
      Similarity.planeSign(1000 + m * PqKsub + c, d).toInt * 48)

  /** Signed Johnson–Lindenstrauss random projection: out dim d is
    * `Σ_i sign(d, i) · q(vec, i)`, q the ×64 grid value of element i,
    * with the deterministic ±1 signs of [[Similarity.planeSign]]
    * (splitmix64 — no RNG state, identical on every engine).
    * Projecting the ×64-quantized vector keeps the
    * arithmetic INTEGER, so projections are bit-exact cross-engine and
    * the operator is oracle-gateable — the classic dense-JL dimension
    * reduction (Achlioptas' ±1 construction) that prefilters ANN /
    * clustering at a fraction of the full-dimension cost.
    *
    * Scale shape: entirely scan-local — the whole projection is ONE
    * native kernel call per row ([[Sketches.jlProject]]: grid-quantize
    * + signed sums in a single tight loop, generated code), where the
    * declarative 16-columns-of-64-element_at-terms formulation left the
    * optimizer free to re-inline the grid array into every term (the
    * round-8 PQ trap). No exchange at any scale; at the bench scale
    * factor the embeddings table is tiny, so measured time there is
    * fixed stage overhead, not compute.
    *
    * Output: (idCol, p0 … p{outDims-1}) — one Long column per output
    * dimension.
    */
  def randomProjection(df: DataFrame, idCol: String, vecCol: String,
      outDims: Int, inDims: Int = 64): DataFrame = {
    require(outDims >= 1 && inDims >= 1, "dims must be positive")
    val g = df.select(col(idCol),
      Sketches.jlProject(col(vecCol), outDims, inDims).as("__p"))
    g.select(col(idCol) +:
      (0 until outDims).map(d => element_at(col("__p"), d + 1).as(s"p$d")): _*)
  }

  /** Embedding-distribution drift between two corpus snapshots: cosine
    * of the per-label mean vectors — the "did my embedding distribution
    * move between crawls / pipeline versions" monitor (drift in a
    * label's centroid flags upstream model or corpus changes before any
    * downstream metric does).
    *
    * Exactness: works on the ×64 integer grid, and NEVER sums floats —
    * `cos(mean_a, mean_b) = Σ sa·sb / (√Σ sa² · √Σ sb²)` where `sa(pos)`
    * is the per-(label, pos) integer SUM of grid values (the 1/n mean
    * factors cancel), so the whole statistic is exact longs + three
    * IEEE ops. Bounds: |s| ≤ 127·n, Σ over 64 dims of s² ≤ 64·127²·n² —
    * inside a long up to n ≈ 10⁸ rows per label; past that, the same
    * mechanics move onto decimal(38,0).
    *
    * Scale shape: each snapshot is one partial-aggregating
    * (label, pos) groupBy — |labels|×dims rows out; everything after
    * joins/aggregates those tiny frames.
    *
    * Output: (label, n_a, n_b, centroid_cos).
    */
  def centroidDrift(a: DataFrame, b: DataFrame, idCol: String,
      vecCol: String, labelCol: String, dims: Int = 64): DataFrame = {
    def sums(df: DataFrame) = df
      .select(col(labelCol).as("label"),
        posexplode(slice(IvfPq.gridQuant(col(vecCol)), 1, dims))
          .as(Seq("pos", "g")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("g")).as("s"), count(lit(1)).as("n"))
    sums(a).withColumnRenamed("s", "sa").withColumnRenamed("n", "na")
      .join(sums(b).withColumnRenamed("s", "sb").withColumnRenamed("n", "nb"),
        Seq("label", "pos"))
      .groupBy(col("label"))
      .agg(max(col("na")).as("n_a"), max(col("nb")).as("n_b"),
        sum(col("sa") * col("sb")).as("__dot"),
        sum(col("sa") * col("sa")).as("__a2"),
        sum(col("sb") * col("sb")).as("__b2"))
      .withColumn("centroid_cos", col("__dot").cast("double") /
        (sqrt(col("__a2").cast("double")) * sqrt(col("__b2").cast("double"))))
      .select("label", "n_a", "n_b", "centroid_cos")
  }

  /** Embedding isotropy / anisotropy profile per label.
    *
    * Measures how directionally concentrated each label's embedding
    * cloud is: the mean pairwise dot product over all ordered pairs
    * i ≠ j — derived WITHOUT a pair join from the Gram identity
    * `Σ_{i≠j} vᵢ·vⱼ = ‖Σv‖² − Σ‖vᵢ‖²` — and the anisotropy ratio
    * (mean pair dot over mean self dot): ~0 for an isotropic cloud,
    * → 1 as vectors collapse onto one shared direction (the common
    * embedding-degeneration diagnostic, computed exactly instead of by
    * sampled cosine pairs).
    *
    * Exactness: ×64 integer grid. `s(label,pos) = Σ grid` and
    * `e(label,pos) = Σ grid²` are exact longs (|s| ≤ 127·n,
    * Σ s² ≤ 64·127²·n² — inside a long to n ≈ 10⁸ per label); the two
    * final statistics are a pinned sequence of IEEE double ops over
    * those longs, so they hash-match any engine mirroring the same
    * expression order.
    *
    * Scale shape: one partial-aggregating (label, pos) groupBy —
    * |labels|×dims rows out — then a |labels|-row agg. No pair join, no
    * vector shuffle: the 100 TB cost is the scan, which is why the Gram
    * identity beats the O(n²) definition it replaces.
    *
    * Output: (label, n, gram, self_energy, mean_pair_dot, anisotropy).
    */
  def isotropyStats(df: DataFrame, vecCol: String, labelCol: String,
      dims: Int = 64): DataFrame =
    df.select(col(labelCol).as("label"),
        posexplode(slice(IvfPq.gridQuant(col(vecCol)), 1, dims))
          .as(Seq("pos", "g")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("g")).as("s"),
        sum(col("g") * col("g")).as("e"),
        count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(max(col("n")).as("n"),
        sum(col("s") * col("s")).as("gram"),
        sum(col("e")).as("self_energy"))
      .withColumn("mean_pair_dot",
        (col("gram") - col("self_energy")).cast("double") /
          (col("n") * (col("n") - lit(1L))).cast("double"))
      .withColumn("anisotropy",
        col("mean_pair_dot") /
          (col("self_energy").cast("double") / col("n").cast("double")))
      .select("label", "n", "gram", "self_energy", "mean_pair_dot",
        "anisotropy")

  /** The DuckDB mirror of [[randomProjection]]'s dim-`d` sum over a
    * quantized-vector SQL array expression `cv` (1-indexed).
    */
  def randomProjectionSql(cv: String, d: Int, inDims: Int = 64): String =
    "0 " + (0 until inDims).map { i =>
      val s = if (Similarity.planeSign(d, i) > 0) "+" else "-"
      s"$s $cv[${i + 1}]"
    }.mkString(" ")
}
