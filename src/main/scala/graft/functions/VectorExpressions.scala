package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StringType}

/** Input-type validation for graft's native expressions.
  *
  * `AbstractDataType` (and thus `ExpectsInputTypes`) is private[sql],
  * but `checkInputDataTypes` is public Expression API — these helpers
  * fail ANALYSIS (not runtime, not silent garbage) when raw SQL calls
  * e.g. `graft_dot(embedding, embedding)` on an array<float> column,
  * which `ArrayData.getDouble` would otherwise reinterpret bytewise.
  */
private[functions] object InputChecks {
  def expect(fn: String, pos: Int, e: Expression, ok: DataType => Boolean,
             expected: String): TypeCheckResult =
    if (ok(e.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$fn argument ${pos + 1} requires $expected, got ${e.dataType.catalogString}")

  def isDoubleArray(dt: DataType): Boolean = dt match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  def isLongArray(dt: DataType): Boolean = dt match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  def firstFailure(checks: TypeCheckResult*): TypeCheckResult =
    checks.find(_ != TypeCheckResult.TypeCheckSuccess)
      .getOrElse(TypeCheckResult.TypeCheckSuccess)
}

/** Native Catalyst expression for the dense dot product.
  *
  * The composable form (`aggregate(zip_with(a, b, *), 0.0, +)`)
  * allocates an intermediate 64-element array per pair and walks it
  * through generic SQL arithmetic — measured ~10× slower on the
  * quadratic near-dup scan. This expression generates a tight
  * primitive loop inside whole-stage codegen: no allocation, no
  * boxing, strict left-to-right accumulation (bit-identical to the
  * composable form and to a sequential SQL oracle).
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // inputs must already be array<double> — Vectors.asDouble casts at
  // the scan edge; raw-SQL callers are rejected at analysis below
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, left, InputChecks.isDoubleArray,
        "array<double> (cast array<float> embeddings first)"),
      InputChecks.expect(prettyName, 1, right, InputChecks.isDoubleArray,
        "array<double> (cast array<float> embeddings first)"))

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $s += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Full MinHash signature in one pass: for an array of raw 64-bit
  * shingle hashes, computes `perms` permutation minima with a tight
  * primitive loop. The composable form (64 × `array_min(transform)`)
  * walks the array through interpreted higher-order functions — Spark
  * does not codegen HOFs — costing ~50ns per element per perm; this
  * evaluates the whole 64-perm signature in one JIT'd nested loop.
  * Coefficients are derived from the permutation index (splitmix-type
  * constants mod p), identical on every executor.
  */
/** THE MinHash permutation family — single source of truth for the
  * prime and the (a, b) coefficient derivation (JVM wrap-around
  * multiply included). [[MinHashSignature]] (the production Catalyst
  * expression) and the calibration tables in `operators.Dedup` both
  * consume THIS object, so a change to the family cannot silently
  * decouple what the calibration exercises from what production
  * runs (DedupSpec pins the coupling with an equality test).
  */
object MinHashFamily {
  val P = 2038074743L
  def coeffs(perms: Int): Array[(Long, Long)] =
    Array.tabulate(perms) { i =>
      val a = 2862933555777941757L * (i + 1) % P
      val b = 3037000493L * (i + 7) % P
      (math.abs(a) max 1L, math.abs(b))
    }
}

case class MinHashSignature(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  private val P = MinHashFamily.P

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_sig"

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, left, InputChecks.isLongArray,
        "array<bigint> of shingle hashes"),
      InputChecks.expect(prettyName, 1, right,
        dt => dt == IntegerType && right.foldable, "a literal int perm count"))

  @transient private lazy val perms: Int =
    right.eval(null).asInstanceOf[Int]
  @transient private lazy val coeffs: Array[(Long, Long)] =
    MinHashFamily.coeffs(perms)

  override def nullSafeEval(arr: Any, p: Any): Any = {
    val hs = arr.asInstanceOf[ArrayData]
    val n = hs.numElements()
    val sig = Array.fill(perms)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      val hp = { val m = h % P; if (m < 0) m + P else m }
      var j = 0
      while (j < perms) {
        val v = (hp * coeffs(j)._1 + coeffs(j)._2) % P
        if (v < sig(j)) sig(j) = v
        j += 1
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Distinct rolling-hash character shingles in one pass: lowercases
  * the text, computes a polynomial rolling hash of every n-char
  * window (finalized with a splitmix64-style mixer), and returns the
  * sorted-distinct hash array. Replaces
  * `array_distinct(transform(sequence, substring)) + xxhash64` — four
  * interpreted HOF passes materializing a string array per row — with
  * one JIT'd loop producing longs directly. Set semantics (distinct,
  * unordered) are what every consumer (Jaccard counts, MinHash,
  * intersections) needs, so the hash basis change is invisible.
  */
case class ShingleHashes(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_hashes"

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, left, _ == StringType, "a string"),
      InputChecks.expect(prettyName, 1, right,
        dt => dt == IntegerType && right.foldable, "a literal int shingle width"))

  @transient private lazy val n: Int = right.eval(null).asInstanceOf[Int]

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  override def nullSafeEval(textAny: Any, nAny: Any): Any = {
    val text = textAny.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toLowerCase.toString
    val len = text.length
    val B = 1099511628211L // FNV prime as the rolling base
    if (len <= n) {
      var h = 0L
      var i = 0
      while (i < len) { h = h * B + text.charAt(i); i += 1 }
      return new GenericArrayData(Array(mix(h)))
    }
    val count = len - n + 1
    val out = new Array[Long](count)
    // B^(n-1) for the roll-off term (wrapping arithmetic is fine here:
    // this is JVM code, not ANSI SQL)
    var bPow = 1L
    var j = 0
    while (j < n - 1) { bPow *= B; j += 1 }
    var h = 0L
    var i = 0
    while (i < n) { h = h * B + text.charAt(i); i += 1 }
    out(0) = mix(h)
    i = 1
    while (i < count) {
      h = (h - text.charAt(i - 1) * bPow) * B + text.charAt(i + n - 1)
      out(i) = mix(h)
      i += 1
    }
    java.util.Arrays.sort(out)
    var uniq = 1
    i = 1
    while (i < count) {
      if (out(i) != out(uniq - 1)) { out(uniq) = out(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, uniq))
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** 64-bit SimHash of a document in one pass: hash each whitespace
  * token (first 8 md5 bytes, big-endian — a uniform 64-bit hash any
  * engine can reproduce, which is what makes the output
  * oracle-checkable), accumulate ±1 bit votes, emit the sign
  * fingerprint. SimHash is a per-document scalar — the explode →
  * groupBy → 64-conditional-sums formulation shuffles every token;
  * this expression keeps it map-side with zero shuffle.
  */
/** Per-document repetition statistics in ONE pass —
  * `graft_rep_stats(text)` → `[top_token_ct, n_tokens,
  * top_bigram_ct, n_bigrams, distinct_bigrams]`. These are
  * per-document scalars (the Gopher-rules repetition screens), so
  * the explode → (doc, gram) groupBy → per-doc max formulation pays
  * two corpus-wide shuffles for numbers each row could compute
  * locally; this expression tokenizes once (same contract as
  * `Text.wsTokens`: lowercase, single-space split, empties dropped)
  * and counts tokens + adjacent bigrams in per-row hash maps — zero
  * shuffle, the whole query becomes a scan. Same discipline as
  * [[SimHash64]] one paragraph up.
  */
case class RepStats(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType =
    ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_rep_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.expect(prettyName, 0, child, _ == StringType, "a string")

  override def nullSafeEval(textAny: Any): Any = {
    val text = textAny.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toLowerCase.toString
    val tokCt = new java.util.HashMap[String, Integer]()
    val bgCt = new java.util.HashMap[String, Integer]()
    var nTokens = 0L
    var nBigrams = 0L
    var prev: String = null
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && text.charAt(i) == ' ') i += 1
      if (i < len) {
        val start = i
        while (i < len && text.charAt(i) != ' ') i += 1
        val tok = text.substring(start, i)
        nTokens += 1
        tokCt.merge(tok, 1, (a, b) => a + b)
        if (prev != null) {
          nBigrams += 1
          bgCt.merge(prev + " " + tok, 1, (a, b) => a + b)
        }
        prev = tok
      }
    }
    def maxV(m: java.util.HashMap[String, Integer]): Long = {
      var mx = 0L
      val it = m.values().iterator()
      while (it.hasNext) { val v = it.next().longValue(); if (v > mx) mx = v }
      mx
    }
    new GenericArrayData(Array(maxV(tokCt), nTokens, maxV(bgCt),
      nBigrams, bgCt.size.toLong))
  }

  override protected def withNewChildInternal(c: Expression): RepStats =
    copy(child = c)
}

case class SimHash64(child: Expression) extends UnaryExpression
    with CodegenFallback {

  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash64"

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.expect(prettyName, 0, child, _ == StringType, "a string")

  override def nullSafeEval(textAny: Any): Any = {
    val text = textAny.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toLowerCase.toString
    val votes = new Array[Int](64)
    val md = SimHash64.digest.get()
    var i = 0
    val len = text.length
    while (i < len) {
      while (i < len && text.charAt(i) == ' ') i += 1
      if (i < len) {
        val start = i
        while (i < len && text.charAt(i) != ' ') i += 1
        md.reset()
        val dig = md.digest(text.substring(start, i)
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var th = 0L
        var k = 0
        while (k < 8) { th = (th << 8) | (dig(k) & 0xffL); k += 1 }
        var b = 0
        while (b < 64) {
          if (((th >>> b) & 1L) != 0L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
    }
    var fp = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) fp |= (1L << b)
      b += 1
    }
    fp
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHash64 {
  private val digest: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() => java.security.MessageDigest.getInstance("MD5"))
}

/** Shared shape for the PQ family: a per-row vector against a LITERAL
  * flattened codebook (ks full-dim seed vectors, row-major), with m
  * subspaces of dim/m dimensions. The codebook/params are foldable and
  * cached once per expression instance; per row only a tight primitive
  * loop runs. The composable form (m×ks `array(...)` sub-expressions)
  * blows past codegen method limits and re-evaluates interpreted —
  * measured 23s → ~2s at sf0.1 for the encode scan.
  */
private[functions] trait PqParams { self: Expression =>
  def cb: Expression
  def mExpr: Expression
  def ksExpr: Expression
  @transient protected lazy val mV: Int = mExpr.eval(null).asInstanceOf[Int]
  @transient protected lazy val ksV: Int = ksExpr.eval(null).asInstanceOf[Int]
  @transient protected lazy val cbV: Array[Double] =
    cb.eval(null).asInstanceOf[ArrayData].toDoubleArray()
  @transient protected lazy val dim: Int = cbV.length / ksV
  @transient protected lazy val sub: Int = dim / mV

  protected def paramChecks(fn: String): TypeCheckResult = {
    val typed = InputChecks.firstFailure(
      InputChecks.expect(fn, 1, cb,
        dt => InputChecks.isDoubleArray(dt) && cb.foldable,
        "a literal array<double> flattened (ks x dim) codebook"),
      InputChecks.expect(fn, 2, mExpr,
        dt => dt == IntegerType && mExpr.foldable, "a literal int m"),
      InputChecks.expect(fn, 3, ksExpr,
        dt => dt == IntegerType && ksExpr.foldable, "a literal int ks"))
    if (typed != TypeCheckResult.TypeCheckSuccess) typed
    else {
      // shape validation at ANALYSIS time: a truncated/mis-sized
      // codebook would otherwise silently derive a wrong dim/sub and
      // produce garbage codes instead of an error
      val mv = mExpr.eval(null)
      val kv = ksExpr.eval(null)
      val cv = cb.eval(null)
      if (mv == null || kv == null || cv == null)
        TypeCheckResult.TypeCheckFailure(s"$fn arguments must be non-null")
      else {
        val (m, ks) = (mv.asInstanceOf[Int], kv.asInstanceOf[Int])
        val n = cv.asInstanceOf[ArrayData].numElements()
        if (m <= 0 || ks <= 0)
          TypeCheckResult.TypeCheckFailure(s"$fn requires m > 0 and ks > 0")
        else if (n == 0 || n % ks != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$fn codebook length $n is not a positive multiple of ks=$ks")
        else if ((n / ks) % m != 0)
          TypeCheckResult.TypeCheckFailure(
            s"$fn codebook dim ${n / ks} is not a multiple of m=$m")
        else TypeCheckResult.TypeCheckSuccess
      }
    }
  }

  /** Exact-integer squared L2 between v's subspace u and seed j's. */
  protected def subDist(a: ArrayData, u: Int, j: Int): Double = {
    var s = 0.0
    var i = 0
    val off = u * sub
    while (i < sub) {
      val diff = a.getDouble(off + i) - cbV(j * dim + off + i)
      s += diff * diff
      i += 1
    }
    s
  }
}

/** PQ encode: per subspace, the first-minimum centroid index —
  * `array<int>` of m codes per vector.
  */
case class PqEncode(vec: Expression, cb: Expression, mExpr: Expression,
    ksExpr: Expression) extends Expression with CodegenFallback
    with PqParams {
  override def children: Seq[Expression] = Seq(vec, cb, mExpr, ksExpr)
  override def nullable: Boolean = vec.nullable
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"
  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, vec, InputChecks.isDoubleArray,
        "array<double> (cast array<float> embeddings first)"),
      paramChecks(prettyName))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val codes = new Array[Int](mV)
    var u = 0
    while (u < mV) {
      var best = 0
      var bestD = Double.MaxValue
      var j = 0
      while (j < ksV) {
        val s = subDist(a, u, j)
        if (s < bestD) { bestD = s; best = j }
        j += 1
      }
      codes(u) = best
      u += 1
    }
    new GenericArrayData(codes)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(vec = c(0), cb = c(1), mExpr = c(2), ksExpr = c(3))
}

/** PQ lookup table for a query vector: all m×ks subspace distances,
  * flattened `lut[u*ks + j]` — computed once per query row, read per
  * candidate by [[PqAdc]].
  */
case class PqLut(vec: Expression, cb: Expression, mExpr: Expression,
    ksExpr: Expression) extends Expression with CodegenFallback
    with PqParams {
  override def children: Seq[Expression] = Seq(vec, cb, mExpr, ksExpr)
  override def nullable: Boolean = vec.nullable
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "graft_pq_lut"
  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, vec, InputChecks.isDoubleArray,
        "array<double> (cast array<float> embeddings first)"),
      paramChecks(prettyName))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) return null
    val a = v.asInstanceOf[ArrayData]
    val lut = new Array[Double](mV * ksV)
    var u = 0
    while (u < mV) {
      var j = 0
      while (j < ksV) { lut(u * ksV + j) = subDist(a, u, j); j += 1 }
      u += 1
    }
    new GenericArrayData(lut)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(vec = c(0), cb = c(1), mExpr = c(2), ksExpr = c(3))
}

/** ADC: sum the m LUT entries selected by a candidate's codes —
  * the per-pair O(m) inner loop of PQ search.
  */
case class PqAdc(lut: Expression, codes: Expression, ksExpr: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(lut, codes, ksExpr)
  override def nullable: Boolean = lut.nullable || codes.nullable
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_pq_adc"
  @transient private lazy val ksV: Int = ksExpr.eval(null).asInstanceOf[Int]
  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, lut, InputChecks.isDoubleArray,
        "array<double> LUT from graft_pq_lut"),
      InputChecks.expect(prettyName, 1, codes,
        dt => dt == ArrayType(IntegerType, containsNull = false) ||
          dt == ArrayType(IntegerType, containsNull = true),
        "array<int> codes from graft_pq_encode"),
      InputChecks.expect(prettyName, 2, ksExpr,
        dt => dt == IntegerType && ksExpr.foldable, "a literal int ks"))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val l = lut.eval(input)
    val c = codes.eval(input)
    if (l == null || c == null) return null
    val la = l.asInstanceOf[ArrayData]
    val ca = c.asInstanceOf[ArrayData]
    var s = 0.0
    var u = 0
    val m = ca.numElements()
    // raw-SQL callers can hand mismatched arrays — fail loudly, not
    // with a bare ArrayIndexOutOfBounds from ArrayData internals
    if (m * ksV != la.numElements())
      throw new IllegalArgumentException(
        s"graft_pq_adc: lut has ${la.numElements()} entries, expected " +
          s"codes(${m}) * ks($ksV)")
    while (u < m) {
      val code = ca.getInt(u)
      if (code < 0 || code >= ksV)
        throw new IllegalArgumentException(
          s"graft_pq_adc: code $code out of [0, $ksV) at subspace $u")
      s += la.getDouble(u * ksV + code)
      u += 1
    }
    s
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(lut = c(0), codes = c(1), ksExpr = c(2))
}

/** Intersection of two SORTED long arrays, keeping elements greater
  * than a threshold — the per-edge kernel of triangle counting
  * (common neighbors above the closing vertex). The composable form
  * (`filter(array_intersect(a, b), x -> x > t)`) walks boxed
  * ArrayData through two interpreted higher-order functions per row;
  * this is one primitive merge walk, O(|a|+|b|), no allocation
  * beyond the result.
  */
case class SortedIntersectGreater(a: Expression, b: Expression,
    t: Expression) extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(a, b, t)
  override def nullable: Boolean = a.nullable || b.nullable || t.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_sorted_intersect_gt"

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, a, InputChecks.isLongArray,
        "a sorted array<bigint>"),
      InputChecks.expect(prettyName, 1, b, InputChecks.isLongArray,
        "a sorted array<bigint>"),
      InputChecks.expect(prettyName, 2, t,
        dt => dt == LongType, "a bigint threshold"))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val av = a.eval(input); val bv = b.eval(input); val tv = t.eval(input)
    if (av == null || bv == null || tv == null) return null
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val thr = tv.asInstanceOf[Long]
    val nx = x.numElements(); val ny = y.numElements()
    val out = new scala.collection.mutable.ArrayBuffer[Long](8)
    var i = 0; var j = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi < yj) i += 1
      else if (xi > yj) j += 1
      else { if (xi > thr) out += xi; i += 1; j += 1 }
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(a = c(0), b = c(1), t = c(2))
}

/** Winnowing fingerprints of a text in one native pass: k-gram
  * polynomial hashes (the exact Text.polyHash fold for k ≤ 12, the
  * mod-2^53-prime Text.polyHashMod fold above — bit-identical to
  * what a SQL oracle's list_reduce computes), then distinct
  * window-of-w minima in first-occurrence order (what
  * `array_distinct(transform(...))` yields).
  *
  * Exists because the compositional form
  * (transform ∘ aggregate ∘ slice ∘ array_min) is interpreted
  * per-element: ~200k boxed expression evals per 300-char document,
  * and worse, a filter pushed into the projection re-inlines the
  * whole gram build inside the window lambda — re-evaluated per
  * window, the O(L²·k) cliff that turned a 500-doc corpus into a
  * 333-second stage. One native eval is O(L·(k+w)) with zero
  * allocation beyond the output array.
  */
case class WinnowFps(text: Expression, kExpr: Expression,
    wExpr: Expression) extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(text, kExpr, wExpr)
  override def nullable: Boolean = text.nullable
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow_fps"

  @transient private lazy val k: Int = kExpr.eval(null).asInstanceOf[Int]
  @transient private lazy val w: Int = wExpr.eval(null).asInstanceOf[Int]
  private val P = 9007199254740881L // == Text.PolyHashP

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, text, _ == StringType, "a string"),
      InputChecks.expect(prettyName, 1, kExpr,
        dt => dt == IntegerType && kExpr.foldable, "a literal int gram size"),
      InputChecks.expect(prettyName, 2, wExpr,
        dt => dt == IntegerType && wExpr.foldable, "a literal int window"))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val tv = text.eval(input)
    if (tv == null) return null
    val lo = tv.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
      .toLowerCase.toString
    // code points, matching ascii(substring(lo, i, 1)) per position
    val n = lo.codePointCount(0, lo.length)
    val cps = new Array[Int](n)
    var ci = 0; var off = 0
    while (off < lo.length) {
      val cp = lo.codePointAt(off)
      cps(ci) = cp; ci += 1; off += Character.charCount(cp)
    }
    val useMod = k > 12
    val nG = math.max(n - k + 1, 1)
    val h = new Array[Long](nG)
    var i = 0
    while (i < nG) {
      var acc = 0L
      var j = 0
      while (j < k) {
        val c = if (i + j < n) cps(i + j) else 0 // ascii('') == 0 pad
        acc = acc * 31 + c
        if (useMod) acc %= P
        j += 1
      }
      h(i) = acc
      i += 1
    }
    val nWin = math.max(nG - w + 1, 1)
    val out = new scala.collection.mutable.ArrayBuffer[Long](nWin min 64)
    val seen = new java.util.HashSet[Long]()
    i = 0
    while (i < nWin) {
      var m = Long.MaxValue
      var j = i
      val hi = math.min(i + w, nG)
      while (j < hi) { if (h(j) < m) m = h(j); j += 1 }
      if (seen.add(m)) out += m
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression =
    copy(text = c(0), kExpr = c(1), wExpr = c(2))
}

/** |a ∩ b| for two SORTED long arrays — one merge walk, zero
  * allocation. The confirm kernel of the prefix-filtered winnow join
  * (per-candidate exact shared-fingerprint count): the composable
  * `size(array_intersect(a, b))` walks boxed ArrayData and builds a
  * throwaway array per row; at millions of candidate pairs that
  * garbage dominates the join.
  */
case class SortedIntersectCount(a: Expression, b: Expression)
    extends Expression with CodegenFallback {
  override def children: Seq[Expression] = Seq(a, b)
  override def nullable: Boolean = a.nullable || b.nullable
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_intersect_count"

  override def checkInputDataTypes(): TypeCheckResult =
    InputChecks.firstFailure(
      InputChecks.expect(prettyName, 0, a, InputChecks.isLongArray,
        "a sorted array<bigint>"),
      InputChecks.expect(prettyName, 1, b, InputChecks.isLongArray,
        "a sorted array<bigint>"))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val av = a.eval(input); val bv = b.eval(input)
    if (av == null || bv == null) return null
    val x = av.asInstanceOf[ArrayData]
    val y = bv.asInstanceOf[ArrayData]
    val nx = x.numElements(); val ny = y.numElements()
    var n = 0L
    var i = 0; var j = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi < yj) i += 1
      else if (xi > yj) j += 1
      else { n += 1L; i += 1; j += 1 }
    }
    n
  }

  override protected def withNewChildrenInternal(
      c: IndexedSeq[Expression]): Expression = copy(a = c(0), b = c(1))
}
