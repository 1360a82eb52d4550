package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Native per-row sketch expressions.
  *
  * SimHash, MinHash signatures, and random-hyperplane sketches are pure
  * per-document functions, so they belong in the row pipeline — inside
  * the scan's project, before any exchange. The earlier explode+groupBy
  * formulation was codegen-friendly but shuffled the entire tokenized
  * corpus (every token/shingle/vector element as a row) just to reduce it
  * back to one row per document; at 100 TB that exchange IS the query
  * cost. These expressions evaluate as tight loops over the unsafe array
  * data and keep the plan narrow: scan → project → (LSH band join).
  *
  * Hash compatibility: token/shingle hashing is Spark's own `xxhash64`
  * (seed 42, via [[XXH64.hashUTF8String]]), bit-identical to the previous
  * aggregate formulation, so banding/recall behavior is unchanged.
  */
object Sketches {

  /** 64-bit SimHash over a token array: counter c_i sums +1/-1 for bit i
    * of hash(token) across tokens; result bit i is set iff c_i > 0. The
    * token hash is xxhash64 (seed 42) by default; `useMd5` switches to
    * the cross-engine md5-derived hash ([[SketchKernels.md5Hash64]]) so
    * the sketch is reproducible in DuckDB SQL for oracle checks.
    */
  def simhash64(tokens: Column, useMd5: Boolean = false): Column =
    GraftColumnBridge.column(
      SimHash64Expr(GraftColumnBridge.expression(tokens), useMd5))

  /** k-wide MinHash signature over a shingle array: for permutation
    * h_i(x) = (a_i * x + b_i) mod p over hash(shingle) mod p. Same
    * `useMd5` contract as [[simhash64]].
    */
  def minHashSig(shingles: Column, k: Int, useMd5: Boolean = false): Column =
    GraftColumnBridge.column(
      MinHashSigExpr(GraftColumnBridge.expression(shingles), k, useMd5))

  /** Random-hyperplane LSH sketch over an embedding array: bit i = sign
    * of the dot product with deterministic ±1 plane i (splitmix64 signs,
    * [[Similarity.planeSign]]). Accumulates left-to-right in double
    * precision — the identical IEEE sequence as a sequential fold.
    */
  def hyperplaneSketch(vec: Column, bits: Int, dims: Int): Column =
    GraftColumnBridge.column(
      HyperplaneSketchExpr(GraftColumnBridge.expression(vec), bits, dims))

  /** Signed JL projection of the ×64-grid-quantized vector: out dim d =
    * Σ_j sign(d, j) · grid(vec[j]) — one tight loop per row. The
    * declarative 16×64 element_at formulation leaves the optimizer free
    * to re-inline the grid array into every term (the PQ codegen trap);
    * the kernel guarantees one evaluation per row at any scale. Signs
    * are [[Similarity.planeSign]].
    */
  def jlProject(vec: Column, outDims: Int, dims: Int): Column =
    GraftColumnBridge.column(
      JlProjectExpr(GraftColumnBridge.expression(vec), outDims, dims))

  /** Word n-gram shingles over a word array: shingle i =
    * words[i..i+n-1] joined by single spaces; arrays shorter than n
    * collapse to one shingle of all words (concat_ws semantics — null
    * words skipped).
    */
  def wordShingles(words: Column, n: Int): Column =
    GraftColumnBridge.column(
      WordShinglesExpr(GraftColumnBridge.expression(words), n))

  /** Distinct winnowing fingerprints of a shingle array: 60-bit md5
    * hashes, w-wide window minima, first-appearance dedup — evaluated by
    * the native [[WinnowExpr]].
    */
  def winnowFingerprints(shingles: Column, w: Int): Column =
    GraftColumnBridge.column(
      WinnowExpr(GraftColumnBridge.expression(shingles), w))

  /** Content-defined-chunking cut points of a shingle array: the
    * 1-based indices whose 60-bit md5 hash is ≡ 0 mod m — evaluated by
    * the native [[CdcBoundariesExpr]].
    */
  def cdcBoundaries(shingles: Column, m: Int): Column =
    GraftColumnBridge.column(
      CdcBoundariesExpr(GraftColumnBridge.expression(shingles), m))

  /** Multiplicity of the most frequent element of a string array (0 for
    * empty; null elements count as one group, matching a null-safe
    * equality fold) — evaluated by the native [[ModeCountExpr]].
    */
  def modeCount(arr: Column): Column =
    GraftColumnBridge.column(
      ModeCountExpr(GraftColumnBridge.expression(arr)))

  /** The engine-portable 60-bit md5 hash of a STRING column — the native
    * evaluation of `conv(substring(md5(s), 1, 15), 16, 10)` (identical
    * value: the first 15 hex chars ARE the digest's first 60 bits, i.e.
    * bytes 0..7 big-endian shifted right 4). The declarative form
    * materializes a 32-char hex string and re-parses it per call — this
    * is the hash under every blocking/sampling/bloom operator, so the
    * digest-direct kernel is a corpus-wide scan win.
    */
  def keyHash60(s: Column): Column =
    GraftColumnBridge.column(
      KeyHash60Expr(GraftColumnBridge.expression(s)))

  /** Both independent 60-bit halves of md5(s) as struct<h1, h2> from ONE
    * digest: h1 = bits 0–59 (identical to [[keyHash60]] / the DuckDB
    * `keyHash60Sql` mirror), h2 = bits 60–119 (hex chars 16–30,
    * `keyHash60bSql`). Joining/grouping on the (h1, h2) composite gives a
    * ~120-bit effective key, so a blocking operator whose correctness
    * claim is "exact" (ExactSubstr) can keep hash-only exchanges without
    * the 60-bit birthday-collision risk at >= 1e10 keys.
    */
  def keyHash120(s: Column): Column =
    GraftColumnBridge.column(
      KeyHash120Expr(GraftColumnBridge.expression(s)))

  /** Dense `long[size]` from sparse (index, value) struct entries —
    * the O(entries) replacement for the
    * `transform(sequence(0, size-1), i -> element_at(map, i))` idiom:
    * a lambda inside a higher-order function always evaluates
    * INTERPRETED, and `element_at` on a map is a linear key scan, so
    * the declarative form costs O(entries × size) boxed probes
    * (measured: 3.8 s of decontaminate_bloom's 5.1 s floor spent
    * densifying one 8192-word Bloom bitmap). Missing indices stay 0;
    * out-of-range indices throw (the caller derives indices as
    * `pos / 32 < size` by construction, so a throw means a bug, not
    * data).
    */
  def denseLongArray(entries: Column, size: Int): Column =
    GraftColumnBridge.column(
      DenseLongArrayExpr(GraftColumnBridge.expression(entries), size))
}

/** Static per-row kernels shared by interpreted eval and generated code
  * (whole-stage codegen emits one static call per row; the loop itself is
  * a JIT-compiled monomorphic method, no boxing, no fallback row).
  */
object SketchKernels {

  private val Space = UTF8String.fromString(" ")

  private val Md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  /** Cross-engine 64-bit hash: the first 8 bytes of md5(utf8 bytes),
    * big-endian — identical to DuckDB's
    * `CAST('0x' || substr(md5(s), 1, 16) AS UBIGINT)` bit-for-bit (the
    * hex string IS the digest in byte order), which is what makes
    * md5-mode sketches oracle-checkable. ~3× the cost of xxh64; the
    * default xxh64 mode stays the 100 TB path.
    */
  def md5Hash64(u: UTF8String): Long = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(u.getBytes)
    ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
      ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
      ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
  }

  /** First 60 bits of md5 as a nonnegative long — bit-identical to
    * `CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)` (15 hex
    * chars = bytes 0..7 big-endian >>> 4) and to the DuckDB
    * `keyHash60Sql` mirror, with no hex-string round trip.
    */
  def keyHash60(u: UTF8String): Long = md5Hash64(u) >>> 4

  /** Bits 0–59 and 60–119 of md5 as two nonnegative longs from a single
    * digest — h1 identical to [[keyHash60]], h2 identical to
    * `CAST('0x' || substr(md5(s), 16, 15) AS UBIGINT)` (hex chars 16–30 =
    * byte 7's low nibble then bytes 8–14). One md5 per row even when the
    * caller projects both halves (the two GetStructField instances share
    * the digest via codegen subexpression elimination).
    */
  def keyHash120(u: UTF8String): InternalRow = {
    val md = Md5.get()
    md.reset()
    val d = md.digest(u.getBytes)
    val h1 = (((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
      ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
      ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
      ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)) >>> 4
    val h2 = ((d(7) & 0x0FL) << 56) | ((d(8) & 0xFFL) << 48) |
      ((d(9) & 0xFFL) << 40) | ((d(10) & 0xFFL) << 32) |
      ((d(11) & 0xFFL) << 24) | ((d(12) & 0xFFL) << 16) |
      ((d(13) & 0xFFL) << 8) | (d(14) & 0xFFL)
    new GenericInternalRow(Array[Any](h1, h2))
  }

  /** One-pass dense fill: `out[idx] = v` for each (idx, v) entry, zeros
    * elsewhere. See [[Sketches.denseLongArray]] for why this exists.
    * Null entries and null idx/value fields are REJECTED loudly: the
    * replaced map_from_entries path failed on null keys, and a silent
    * null-as-0 read here would clobber word 0's real bits.
    */
  def denseLongArray(entries: ArrayData, size: Int): GenericArrayData = {
    val out = new Array[Long](size)
    val n = entries.numElements()
    var i = 0
    while (i < n) {
      if (entries.isNullAt(i))
        throw new IllegalArgumentException(
          s"dense_long_array: null entry at position $i")
      val e = entries.getStruct(i, 2)
      if (e.isNullAt(0) || e.isNullAt(1))
        throw new IllegalArgumentException(
          s"dense_long_array: null idx/value field at position $i")
      val idx = e.getLong(0)
      if (idx < 0 || idx >= size)
        throw new IllegalArgumentException(
          s"dense_long_array: index $idx out of [0, $size)")
      out(idx.toInt) = e.getLong(1)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of the most frequent element: one hash-map pass, no sort.
    * Null elements form one group (the null-safe-equality convention of
    * the sorted-run fold this replaces — measured ~2 ms/document
    * interpreted, the whole text_repetition budget).
    */
  def modeCount(arr: ArrayData): Long = {
    val n = arr.numElements()
    if (n == 0) return 0L
    val m = new java.util.HashMap[UTF8String, Int](n * 2)
    var best = 0
    var nulls = 0
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) {
        nulls += 1
        if (nulls > best) best = nulls
      } else {
        val c = m.merge(arr.getUTF8String(i), 1, (a, b) => a + b)
        if (c > best) best = c
      }
      i += 1
    }
    best.toLong
  }

  /** n-word shingles joined by spaces; < n words collapse to one shingle
    * of the whole array. Mirrors `transform(sequence(...), i ->
    * concat_ws(' ', slice(words, i+1, n)))` exactly (concat_ws skips
    * nulls), in one tight loop instead of interpreted lambdas.
    */
  def wordShingles(arr: ArrayData, n: Int): GenericArrayData = {
    val nw = arr.numElements()
    def word(i: Int): UTF8String =
      if (arr.isNullAt(i)) null else arr.getUTF8String(i)
    if (nw < n) {
      val all = new Array[UTF8String](nw)
      var i = 0
      while (i < nw) { all(i) = word(i); i += 1 }
      new GenericArrayData(Array[Any](UTF8String.concatWs(Space, all: _*)))
    } else {
      val out = new Array[Any](nw - n + 1)
      val win = new Array[UTF8String](n)
      var i = 0
      while (i <= nw - n) {
        var j = 0
        while (j < n) { win(j) = word(i + j); j += 1 }
        out(i) = UTF8String.concatWs(Space, win: _*)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  def simhash64(arr: ArrayData, useMd5: Boolean): Long = {
    val n = arr.numElements()
    val counters = new Array[Int](64)
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        val u = arr.getUTF8String(t)
        val h = if (useMd5) md5Hash64(u) else XXH64.hashUTF8String(u, 42L)
        var i = 0
        while (i < 64) {
          counters(i) += (if (((h >>> i) & 1L) == 1L) 1 else -1)
          i += 1
        }
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (counters(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** Returns null when the shingle array is empty / all-null. */
  def minHashSig(arr: ArrayData, as: Array[Long], bs: Array[Long],
      useMd5: Boolean): GenericArrayData = {
    val p = Dedup.MinHashPrime
    val k = as.length
    val n = arr.numElements()
    val mins = Array.fill(k)(Long.MaxValue)
    var seen = false
    var t = 0
    while (t < n) {
      if (!arr.isNullAt(t)) {
        seen = true
        val u = arr.getUTF8String(t)
        // md5 mode reduces the UNSIGNED 64-bit value mod p (mirrors
        // DuckDB's UBIGINT % p); xxh64 mode keeps the historical
        // signed-then-fix reduction
        val h =
          if (useMd5) java.lang.Long.remainderUnsigned(md5Hash64(u), p)
          else {
            val raw = XXH64.hashUTF8String(u, 42L)
            ((raw % p) + p) % p
          }
        var i = 0
        while (i < k) {
          // h < p < 2^31 and a_i small, so h * a_i + b_i stays in Long
          val v = (h * as(i) + bs(i)) % p
          if (v < mins(i)) mins(i) = v
          i += 1
        }
      }
      t += 1
    }
    if (!seen) null else new GenericArrayData(mins)
  }

  /** Winnowing fingerprints over a shingle array: hash every shingle to
    * the cross-engine 60-bit md5 value ([[md5Hash64]] >>> 4 — identical
    * to `conv(substr(md5(s),1,15),16,10)`), take the minimum of each
    * w-wide window of consecutive hashes (one whole-array window when
    * fewer than w shingles), and emit the distinct minima. Mirrors
    * `array_distinct(transform(sequence(1, greatest(n-w+1, 1)),
    * i -> array_min(slice(hashes, i, w))))` exactly, in one tight loop
    * instead of ~n·w interpreted lambda frames with a per-element md5
    * dispatch (measured 17.7 s → sub-second at sf0.1).
    */
  def winnowFingerprints(arr: ArrayData, w: Int): GenericArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) =
        if (arr.isNullAt(i)) Long.MaxValue
        else md5Hash64(arr.getUTF8String(i)) >>> 4
      i += 1
    }
    val nw = math.max(n - w + 1, 1)
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new scala.collection.mutable.ArrayBuffer[Any](nw)
    var s = 0
    while (s < nw) {
      val end = math.min(s + w, n)
      var m = Long.MaxValue
      var j = s
      while (j < end) { if (hs(j) < m) m = hs(j); j += 1 }
      if (seen.add(m)) out += m
      s += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Content-defined-chunking cut points: 1-based indices i of the
    * shingle array whose cross-engine 60-bit md5 hash satisfies
    * `hash % m == 0` — the Rabin-style "hash of the local window picks
    * the boundary" rule, so cut points depend only on local content and
    * survive insertions/deletions elsewhere in the document (the CDC
    * property fixed-stride chunking lacks). Mirrors
    * `filter(sequence(...), i -> keyHash60(sh[i]) % m = 0)` in one loop.
    */
  def cdcBoundaries(arr: ArrayData, m: Int): GenericArrayData = {
    val n = arr.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i) &&
          (md5Hash64(arr.getUTF8String(i)) >>> 4) % m == 0L)
        out += (i + 1).toLong
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** Kernel for [[JlProjectExpr]]: grid-quantize + signed sums in one
    * pass. Integer arithmetic after the grid step — bit-exact with the
    * `least(greatest(floor(x·64+0.5), -127), 127)` SQL idiom.
    */
  def jlProject(arr: ArrayData, signs: Array[Array[Double]],
      dims: Int, isFloat: Boolean): GenericArrayData = {
    val outDims = signs.length
    val out = new Array[Long](outDims)
    val n = math.min(arr.numElements(), dims)
    var j = 0
    while (j < n) {
      val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      var g = math.floor(x * 64 + 0.5)
      if (g < -127) g = -127 else if (g > 127) g = 127
      val gi = g.toLong
      var d = 0
      while (d < outDims) {
        out(d) += (if (signs(d)(j) > 0) gi else -gi)
        d += 1
      }
      j += 1
    }
    new GenericArrayData(out.map(x => x: Any))
  }

  def hyperplaneSketch(arr: ArrayData, planes: Array[Array[Double]],
      dims: Int, isFloat: Boolean): Long = {
    val bits = planes.length
    val n = math.min(arr.numElements(), dims)
    val sums = new Array[Double](bits)
    var j = 0
    while (j < n) {
      val x = if (isFloat) arr.getFloat(j).toDouble else arr.getDouble(j)
      var i = 0
      while (i < bits) {
        sums(i) += x * planes(i)(j)
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < bits) {
      if (sums(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }
}

case class WordShinglesExpr(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if n > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"word_shingles expects array<string> and n > 0, got $t / n=$n")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.wordShingles(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.wordShingles($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class KeyHash60Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"key_hash60 expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.keyHash60(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.keyHash60($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class KeyHash120Expr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StructType(Seq(
    StructField("h1", LongType, nullable = false),
    StructField("h2", LongType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"key_hash120 expects string, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.keyHash120(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.keyHash120($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class DenseLongArrayExpr(child: Expression, size: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // nullable SCHEMAS are accepted (the bloom caller's hash/agg columns
  // are formally nullable even though no null value can occur), but the
  // kernel rejects an actual null element/field with a descriptive
  // error rather than NPE-ing or silently reading a null field as 0
  // (which would clobber word 0's real bits).
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(fields), _)
        if fields.length == 2 && fields(0).dataType == LongType &&
          fields(1).dataType == LongType && size > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"dense_long_array expects array<struct<long,long>> and size > 0, " +
        s"got $t / size=$size")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.denseLongArray(input.asInstanceOf[ArrayData], size)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.denseLongArray($c, $size)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class ModeCountExpr(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"mode_count expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.modeCount(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.modeCount($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class WinnowExpr(child: Expression, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if w > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"winnow expects array<string> and w > 0, got $t / w=$w")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.winnowFingerprints(input.asInstanceOf[ArrayData], w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.winnowFingerprints($c, $w)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class CdcBoundariesExpr(child: Expression, m: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if m > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"cdc_boundaries expects array<string> and m > 0, got $t / m=$m")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.cdcBoundaries(input.asInstanceOf[ArrayData], m)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SketchKernels.cdcBoundaries($c, $m)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class SimHash64Expr(child: Expression, useMd5: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash64 expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    SketchKernels.simhash64(input.asInstanceOf[ArrayData], useMd5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SketchKernels.simhash64($c, $useMd5)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class MinHashSigExpr(child: Expression, k: Int, useMd5: Boolean = false)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  // null on empty/all-null shingle arrays even when the child is non-null
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) if k > 0 => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_signature expects array<string> and k > 0, got $t / k=$k")
  }

  // permutation constants fixed at plan time (Dedup.perm)
  @transient private lazy val as: Array[Long] =
    (0 until k).map(i => Dedup.perm(i)._1).toArray
  @transient private lazy val bs: Array[Long] =
    (0 until k).map(i => Dedup.perm(i)._2).toArray

  override def nullSafeEval(input: Any): Any =
    SketchKernels.minHashSig(input.asInstanceOf[ArrayData], as, bs, useMd5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val asRef = ctx.addReferenceObj("mhAs", as, "long[]")
    val bsRef = ctx.addReferenceObj("mhBs", bs, "long[]")
    nullSafeCodeGen(ctx, ev, c => s"""
      |${ev.value} = graft.functions.SketchKernels.minHashSig($c, $asRef, $bsRef, $useMd5);
      |${ev.isNull} = (${ev.value} == null);
      |""".stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Signed JL projection expression — see [[Sketches.jlProject]]. */
case class JlProjectExpr(child: Expression, outDims: Int, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if outDims > 0 && dims > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"jl_project expects array<float|double>, positive dims, got $t")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val signs: Array[Array[Double]] =
    Array.tabulate(outDims, dims)((d, j) => Similarity.planeSign(d, j))

  override def nullSafeEval(input: Any): Any =
    SketchKernels.jlProject(input.asInstanceOf[ArrayData], signs, dims, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("jlSigns", signs, "double[][]")
    val fl = if (isFloat) "true" else "false"
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchKernels.jlProject($c, $signsRef, $dims, $fl)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

case class HyperplaneSketchExpr(child: Expression, bits: Int, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _)
        if bits > 0 && bits <= 64 && dims > 0 =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sketch expects array<float|double>, 0 < bits <= 64, got $t / bits=$bits")
  }

  @transient private lazy val isFloat =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  // plane signs fixed at plan time: planes(i)(j) = ±1.0
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(bits, dims)((i, j) => Similarity.planeSign(i, j))

  override def nullSafeEval(input: Any): Any =
    SketchKernels.hyperplaneSketch(input.asInstanceOf[ArrayData], planes, dims, isFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("hpPlanes", planes, "double[][]")
    val fl = if (isFloat) "true" else "false"
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.SketchKernels.hyperplaneSketch($c, $planesRef, $dims, $fl)")
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
