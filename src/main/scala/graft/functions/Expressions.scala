package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

// Native Catalyst expressions for the extension-tier hot paths.
//
// The built-in higher-order functions (`zip_with`/`aggregate`) are
// interpreted per-element; at ~25M candidate pairs x 64 dims (cosine) or
// ~5M shingles x 32 permutations (MinHash) the lambda-dispatch overhead
// dominates. These expressions run the same arithmetic as tight JVM loops,
// and `CosineSim` generates code inline so the kNN stage stays inside
// whole-stage codegen.

/** Cosine similarity of two double arrays.
  *
  * Accumulation order is the IEEE-deterministic sequential fold
  * `((0+x0*y0)+x1*y1)+...`, identical to both the higher-order-function
  * formulation it replaces and the DuckDB oracle's `list_sum(list_transform)`
  * — results are bit-exact across engines, which the oracle compare relies
  * on. Arrays are assumed element-non-null (embeddings).
  */
case class CosineSim(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cosine_sim expects array<double>, got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getDouble(i)
      val yi = y.getDouble(i)
      dot += xi * yi
      na += xi * xi
      nb += yi * yi
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
        int $n = java.lang.Math.min($x.numElements(), $y.numElements());
        double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          double $xi = $x.getDouble($i);
          double $yi = $y.getDouble($i);
          $dot += $xi * $yi; $na += $xi * $xi; $nb += $yi * $yi;
        }
        ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct hashes of the word n-gram shingles of a string array — the
  * allocation-free MinHash front end. Each word is hashed once; a shingle
  * hash is the XXH64-style mix of its n word hashes, so no shingle string
  * is ever materialized (the string formulation allocates ~#words UTF8
  * strings per doc and dominated the LSH stage's profile).
  */
case class ShingleHashes(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  private def mix(z0: Long): Long = {
    // xxh64-finalizer-style avalanche
    var z = z0
    z ^= z >>> 33
    z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33
    z *= 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val nw = arr.numElements()
    val wh = new Array[Long](nw)
    var i = 0
    while (i < nw) {
      val s = arr.getUTF8String(i)
      wh(i) = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      i += 1
    }
    val count = math.max(nw - n + 1, if (nw > 0) 1 else 0)
    val seen = new java.util.HashSet[java.lang.Long](count * 2)
    val out = new Array[Long](count)
    var k = 0
    i = 0
    while (i < count) {
      var h = 0x27d4eb2f165667c5L
      var j = i
      val end = math.min(i + n, nw)
      while (j < end) {
        h = mix(h ^ wh(j))
        j += 1
      }
      if (seen.add(h)) { out(k) = h; k += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, k))
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature over pre-hashed shingles (array<long>): double hashing
  * sig_j = min(h1 + j*h2) with h2 an avalanche of h1 — one scan, no string
  * work. Pairs with [[ShingleHashes]].
  */
case class MinHashSigLongs(child: Expression, k: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new Array[Long](k)
    java.util.Arrays.fill(out, Long.MaxValue)
    var i = 0
    while (i < arr.numElements()) {
      val h1 = arr.getLong(i)
      var h2 = h1
      h2 ^= h2 >>> 33; h2 *= 0xff51afd7ed558ccdL; h2 ^= h2 >>> 33
      var j = 0
      while (j < k) {
        val h = h1 + j * h2
        if (h < out(j)) out(j) = h
        j += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Random-hyperplane LSH signature of a dense vector: bit p =
  * sign(sum_d vec[d] * r(d, p)) with Rademacher entries r in {-1, +1}
  * derived by avalanche-mixing (d, p) — no hyperplane matrix is ever
  * materialized or shipped, so the signature is reproducible on any
  * executor with zero driver state. Tight planes x dims loop; replaces an
  * interpreted higher-order double fold (~dims x planes lambda dispatches
  * per row). For vectors with cosine theta, P[bit match] = 1 - theta/pi,
  * which is what the banded search in Similarity.qKnnLsh builds on.
  */
case class HyperplaneSig(child: Expression, planes: Int)
    extends UnaryExpression with CodegenFallback {

  require(planes > 0 && planes <= 64, "hyperplane_sig supports 1..64 planes")

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"hyperplane_sig expects array<double>, got $other")
  }

  private def mix(z0: Long): Long = {
    var z = z0
    z ^= z >>> 33
    z *= 0xff51afd7ed558ccdL
    z ^= z >>> 33
    z *= 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    var sig = 0L
    var p = 0
    while (p < planes) {
      var s = 0.0
      var d = 0
      while (d < n) {
        val r = if ((mix((d.toLong << 32) | p.toLong) & 1L) == 1L) 1.0 else -1.0
        s += arr.getDouble(d) * r
        d += 1
      }
      if (s > 0) sig |= (1L << p)
      p += 1
    }
    java.lang.Long.valueOf(sig)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Word n-gram shingle STRINGS in one pass over the word array — the
  * lambda-free twin of the `transform(sequence, i -> array_join(slice))`
  * formulation, whose captured `split()` child the interpreted
  * higher-order lambda re-evaluates PER ELEMENT (re-splitting the text
  * once per gram, O(words^2) work per document). Semantics match that
  * formulation exactly: a doc shorter than n yields one whole-doc gram,
  * an empty word array yields one empty gram, grams are not deduplicated.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val nw = arr.numElements()
    val words = new Array[UTF8String](nw)
    var i = 0
    while (i < nw) { words(i) = arr.getUTF8String(i); i += 1 }
    val count = math.max(nw - n, 0) + 1
    val sep = UTF8String.fromString(" ")
    val out = new Array[AnyRef](count)
    i = 0
    while (i < count) {
      val end = math.min(i + n, nw)
      out(i) = UTF8String.concatWs(sep, java.util.Arrays.copyOfRange(words, i, end).toSeq: _*)
      i += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Polynomial rolling hash over a string's UTF-8 bytes:
  * h = fold(h * 31 + byte) from h0 = 17, wrapping in 64 bits — the classic
  * order-sensitive document fingerprint. Single pass, no allocation.
  */
case class PolyHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String]
    val bytes = s.getBytes
    var h = 17L
    var i = 0
    while (i < bytes.length) {
      h = h * 31L + (bytes(i) & 0xffL)
      i += 1
    }
    java.lang.Long.valueOf(h)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Index of the nearest centroid by cosine similarity: argmax over a
  * FOLDABLE centroid matrix (array<array<double>>), first-max-wins.
  *
  * Replaces the `array_position(array(cosine_sim(v, lit(c0)), ...),
  * array_max(...))` formulation, which (a) recomputes norm(v) once per
  * centroid and (b) inlines k separate 64-element literals into the
  * generated code — a fresh large Janino compile on EVERY Lloyd's round
  * because the literals change per round. Here the matrix is one boxed
  * literal (tiny codegen), centroid norms are computed once per expression
  * instance, and norm(v) once per row. Per-centroid dot products accumulate
  * in the same sequential IEEE order as [[CosineSim]], so the argmax
  * decision is bit-identical to the formulation it replaces; ties and NaN
  * follow Spark's `array_max`/`array_position` (NaN greatest, first index
  * wins).
  */
case class NearestCentroid(vec: Expression, cents: Expression)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = vec
  override def right: Expression = cents
  override def dataType: DataType = IntegerType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, cents.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(ArrayType(DoubleType, _), _))
          if cents.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "nearest_centroid expects (array<double>, foldable " +
            s"array<array<double>>), got $other")
    }

  @transient private lazy val centroids: Array[Array[Double]] = {
    val ad = cents.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toDoubleArray())
  }
  @transient private lazy val centNorms: Array[Double] = centroids.map { c =>
    var s = 0.0
    var i = 0
    while (i < c.length) { s += c(i) * c(i); i += 1 }
    math.sqrt(s)
  }

  override def nullSafeEval(v: Any, ignored: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val nx = x.numElements()
    var nv = 0.0
    var i = 0
    while (i < nx) { val xi = x.getDouble(i); nv += xi * xi; i += 1 }
    val normV = math.sqrt(nv)
    var best = Double.NegativeInfinity
    var bestIdx = 0
    var c = 0
    while (c < centroids.length) {
      val cent = centroids(c)
      val n = math.min(nx, cent.length)
      var dot = 0.0
      i = 0
      while (i < n) { dot += x.getDouble(i) * cent(i); i += 1 }
      val sim = dot / (normV * centNorms(c))
      // Double.compare puts NaN above +Inf — same total order as array_max;
      // strict > keeps the FIRST index on ties, matching array_position
      if (java.lang.Double.compare(sim, best) > 0) { best = sim; bestIdx = c }
      c += 1
    }
    java.lang.Integer.valueOf(bestIdx)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(vec = newLeft, cents = newRight)
}

/** Argmin squared-L2 cell assignment against a PER-SUBSPACE codebook:
  * `nearest_cell_l2(sub, s, ids, vecs)` returns struct(cell, dist) — the
  * id of the closest codebook cell for subspace `s` and its exact squared
  * distance. `ids`/`vecs` are one foldable literal each (array-of-arrays
  * indexed by subspace, cells pre-sorted ascending by the caller), so the
  * whole PQ assignment is a map-side projection: no codebook broadcast
  * join and no per-(vector, subspace) ranking window — the shapes the
  * HOF + window formulation it replaces paid on every Lloyd round.
  *
  * Ties: cells are visited in ascending id order with a strict `<`, so
  * the LOWEST cell id wins on equal distance — identical to the
  * `ROW_NUMBER() OVER (ORDER BY dist ASC, cell ASC)` argmin it replaces
  * (distances are exact integers in the micro-unit domain, so equality
  * is meaningful and engine-independent).
  */
case class NearestCellL2(
    vec: Expression, sIdx: Expression, ids: Expression, vecs: Expression)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, sIdx, ids, vecs)
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("dist", DoubleType, nullable = false)))

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (vec.dataType, sIdx.dataType, ids.dataType, vecs.dataType) match {
      case (ArrayType(DoubleType, _), IntegerType,
          ArrayType(ArrayType(IntegerType, _), _),
          ArrayType(ArrayType(ArrayType(DoubleType, _), _), _))
          if ids.foldable && vecs.foldable =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          "nearest_cell_l2 expects (array<double>, int, foldable " +
            "array<array<int>>, foldable array<array<array<double>>>), " +
            s"got $other")
    }

  @transient private lazy val cellIds: Array[Array[Int]] = {
    val ad = ids.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements())(i => ad.getArray(i).toIntArray())
  }
  @transient private lazy val cellVecs: Array[Array[Array[Double]]] = {
    val ad = vecs.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(ad.numElements()) { i =>
      val inner = ad.getArray(i)
      Array.tabulate(inner.numElements())(j => inner.getArray(j).toDoubleArray())
    }
  }

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    val s = sIdx.eval(input)
    if (v == null || s == null) return null
    val x = v.asInstanceOf[ArrayData]
    val si = s.asInstanceOf[Int]
    if (si < 0 || si >= cellIds.length || cellIds(si).isEmpty) return null
    val idsS = cellIds(si)
    val vecsS = cellVecs(si)
    val nx = x.numElements()
    var best = Double.PositiveInfinity
    var bestId = idsS(0)
    var c = 0
    while (c < idsS.length) {
      val cent = vecsS(c)
      val n = math.min(nx, cent.length)
      var d = 0.0
      var i = 0
      while (i < n) {
        val diff = x.getDouble(i) - cent(i)
        d += diff * diff
        i += 1
      }
      if (d < best) { best = d; bestId = idsS(c) }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(bestId, best)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), sIdx = newChildren(1),
      ids = newChildren(2), vecs = newChildren(3))
}

/** 64-bit SimHash over a string array (words): one hash per word, then the
  * sign of per-bit vote counts. Replaces the 64-aggregate-passes
  * formulation (64 hashes per word) with a single pass.
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i)
      val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** ENGINE-PORTABLE 60-bit simhash over a string array (words): bit j of
  * the fingerprint is the sign of the vote sum over the array's DISTINCT
  * words, where word w votes +1 on bit j iff bit j of the leading 15 hex
  * digits of md5(w) is set — the construction any SQL engine replays
  * from md5 + integer arithmetic (DuckDB oracle: strpos/nibble form).
  * The 15-hex-digit value equals the big-endian u64 of the digest's
  * first 8 bytes shifted right 4 (dropping the 16th nibble). One MD5 per
  * distinct word; the vote loop runs on plain longs. Bit-identical to
  * the higher-order-function formulation ([[graft.ext.Dedup
  * .portableSimhashColHof]], parity-tested) at ~10x its throughput —
  * interpreted lambdas re-evaluate per element, this is one tight pass.
  */
case class PortableSimhash60(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < arr.numElements()) {
      val w = arr.getUTF8String(i).toString
      if (seen.add(w)) {
        md.reset()
        val d = md.digest(w.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var h = 0L
        var k = 0
        while (k < 8) { h = (h << 8) | (d(k) & 0xFFL); k += 1 }
        h = h >>> 4
        var b = 0
        while (b < 60) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var b = 0
    while (b < 60) {
      if (votes(b) >= 0) fp |= (1L << b)
      b += 1
    }
    java.lang.Long.valueOf(fp)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Point-frequency estimate from a serialized `CountMinSketch`
  * (`count_min_sketch` aggregate output): `cms_estimate(sketch, key)` ->
  * the sketch's overestimate-only count for `key`.
  *
  * The sketch argument must be query-constant (a literal or a scalar
  * subquery result, the same contract as Spark's own
  * `BloomFilterMightContain`): the bytes are deserialized once per
  * expression instance and reused for every probed row, so probing a
  * dimension of keys against one corpus sketch is a map-only pass over
  * the dimension — the corpus itself is never reshuffled.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (BinaryType, LongType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"cms_estimate expects (binary, bigint), got $other")
    }

  @transient private var sketch: org.apache.spark.util.sketch.CountMinSketch = _

  override def nullSafeEval(sketchBytes: Any, key: Any): Any = {
    if (sketch == null) {
      sketch = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(sketchBytes.asInstanceOf[Array[Byte]]))
    }
    java.lang.Long.valueOf(sketch.estimateCount(key.asInstanceOf[java.lang.Long]))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Jaro-Winkler similarity of two strings, matching DuckDB's
  * `jaro_winkler_similarity` exactly (verified bit-exact over randomized
  * inputs): zero-length input on either side yields 0.0; the Winkler
  * prefix bonus (up to 4 chars, p = 0.1) applies only when the Jaro score
  * exceeds 0.7; the Jaro term is the textbook
  * `(m/l1 + m/l2 + (m-t)/m) / 3` evaluated in that order.
  *
  * The kernel lives in [[JaroWinklerImpl]] as a static call so codegen can
  * inline the invocation — the expression stays inside whole-stage codegen
  * with primitive (UTF8String, UTF8String) -> double signature, no boxing
  * per pair. Cost is O(len1*len2) per pair like every Jaro variant; callers
  * must block candidate pairs first (same contract as the levenshtein
  * fuzzy-join).
  */
case class JaroWinkler(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, StringType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"jaro_winkler expects (string, string), got $other")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    JaroWinklerImpl.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) =>
      s"graft.functions.JaroWinklerImpl$$.MODULE$$.jw($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Static Jaro-Winkler kernel shared by interpreted eval and generated
  * code. Operates on UTF-16 chars — identical to byte-wise comparison for
  * the ASCII identifiers this engine fuzzy-joins (and to DuckDB on them).
  */
object JaroWinklerImpl {
  def jw(u1: UTF8String, u2: UTF8String): Double = {
    val s1 = u1.toString
    val s2 = u2.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val md = math.max(math.max(l1, l2) / 2 - 1, 0)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - md)
      val hi = math.min(l2, i + md + 1)
      var j = lo
      var matched = false
      while (j < hi && !matched) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; matched = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    t /= 2
    val jaro = (m.toDouble / l1 + m.toDouble / l2 +
      (m - t).toDouble / m) / 3.0
    if (jaro > 0.7) {
      var p = 0
      val pmax = math.min(4, math.min(l1, l2))
      while (p < pmax && s1.charAt(p) == s2.charAt(p)) p += 1
      jaro + p * 0.1 * (1.0 - jaro)
    } else jaro
  }
}

/** 64-bit Morton (Z-order) interleave of two keys' low 31 bits: bit `i`
  * of the first key lands at position `2i`, of the second at `2i + 1`.
  * Rows sorted (or range-partitioned) by the result interleave BOTH key
  * dimensions, so per-file min/max ranges stay tight in each dimension
  * simultaneously — the property multi-column data skipping needs, which
  * a lexicographic sort only provides for its leading column. Inputs are
  * masked to 31 bits so the interleave tops out at bit 62 and the result
  * is always a non-negative long in every engine. Bit-spreading uses the
  * 5-step magic-number ladder; fully code-generated so clustering-key
  * computation stays inside whole-stage codegen.
  */
case class MortonCode(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType == LongType)
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"morton_code expects (bigint, bigint), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Long.valueOf(
      MortonCode.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long]))

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.MortonCode.interleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object MortonCode {
  /** Spread the low 31 bits of `v` to even bit positions (0, 2, ..., 60). */
  def spread(v: Long): Long = {
    var x = v & 0x7FFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}
