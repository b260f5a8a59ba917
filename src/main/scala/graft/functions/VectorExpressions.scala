package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.PlanBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

/** Native Catalyst expressions for the vector kernels (SURVEY.md §2.K
  * contingency — promoted to production because the interpreted HOF
  * (`aggregate(zip_with(...))`) dominated BENCH on the O(n²) pair queries).
  *
  * Scale notes (100 TB): `DotProductD` compiles to a tight primitive loop
  * inside whole-stage codegen — no per-element boxing, no lambda dispatch,
  * no intermediate zipped array. The evaluation order (sequential left fold)
  * is IDENTICAL to the HOF it replaces and to DuckDB's
  * list_cosine_similarity inner loop, so cross-engine parity at 6 dp is
  * preserved. On a 1000-executor cluster this is the difference between the
  * similarity join being compute-bound at memory bandwidth vs interpreter-
  * bound 10× slower.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  // ExpectsInputTypes is private[sql] territory in Spark 4 (AbstractDataType
  // is not visible outside org.apache.spark.sql) — validate directly instead.
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects (array<double>, array<double>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      code"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        double $acc = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $acc += $a.getDouble($i) * $b.getDouble($i);
        }
        ${ev.value} = $acc;
      """.toString
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** JIT-compiled kernel bodies shared by interpreted eval and generated code
  * (doGenCode emits a single static call — the loop itself is always this
  * JVM code, so eval and codegen paths cannot diverge). */
object VectorKernels {
  private def splitmix64(seed: Long): Long = {
    var z = seed + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  private val NumPerms = 64
  private val A: Array[Long] = Array.tabulate(NumPerms)(i => splitmix64(2L * i + 1) | 1L)
  private val B: Array[Long] = Array.tabulate(NumPerms)(i => splitmix64(2L * i + 2))

  /** 64 minhashes from pre-hashed shingles via the universal family
    * h_i(x) = a_i*x + b_i — one pass over the shingle hashes instead of 64
    * string re-hashes per shingle. */
  def minhash64(hashes: ArrayData): ArrayData = {
    val n = hashes.numElements()
    val out = Array.fill(NumPerms)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < NumPerms) {
        val v = A(i) * h + B(i)
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** FNV-1a 64 over a UTF8String's bytes without copying. */
  private def fnv64(s: org.apache.spark.unsafe.types.UTF8String): Long = {
    var h = 0xcbf29ce484222325L
    val n = s.numBytes()
    var i = 0
    while (i < n) { h ^= (s.getByte(i) & 0xffL); h *= 0x100000001b3L; i += 1 }
    h
  }

  /** 64 minhashes straight from the shingle strings: one FNV pass per
    * string (no byte-array copies, no per-element lambda dispatch) feeding
    * the universal-family mins. */
  def minhash64Str(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val out = Array.fill(NumPerms)(Long.MaxValue)
    var j = 0
    while (j < n) {
      val h = fnv64(shingles.getUTF8String(j))
      var i = 0
      while (i < NumPerms) {
        val v = A(i) * h + B(i)
        if (v < out(i)) out(i) = v
        i += 1
      }
      j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** 64-bit SimHash from pre-hashed tokens: sign of per-bit vote counts. */
  def simhash64(hashes: ArrayData): Long = {
    val counts = new Array[Int](64)
    val n = hashes.numElements()
    var j = 0
    while (j < n) {
      val h = hashes.getLong(j)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) counts(i) += 1 else counts(i) -= 1
        i += 1
      }
      j += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) { if (counts(i) > 0) sig |= (1L << i); i += 1 }
    sig
  }

  /** |A ∩ B| for two ASC-sorted distinct string arrays (merge count). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val cmp = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (cmp == 0) { c += 1; i += 1; j += 1 }
      else if (cmp < 0) i += 1
      else j += 1
    }
    c
  }

  /** FNV-hash every shingle and return the hashes ASC-sorted — the compact
    * set representation for exact-Jaccard verification (primitive longs:
    * no per-comparison UTF8String allocation in the merge). */
  def shingleHashes(shingles: ArrayData): ArrayData = {
    val n = shingles.numElements()
    val out = new Array[Long](n)
    var j = 0
    while (j < n) { out(j) = fnv64(shingles.getUTF8String(j)); j += 1 }
    java.util.Arrays.sort(out)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** |A ∩ B| for two ASC-sorted long arrays (merge count, allocation-free). */
  def sortedIntersectCountLong(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** A ∩ B as an ASC-sorted long array for two ASC-sorted long arrays —
    * the element-yielding sibling of [[sortedIntersectCountLong]] for
    * consumers that must ATTRIBUTE the common elements (clustering
    * coefficient credits the third triangle corner), not just count them.
    * One merge walk into a right-sized copy: builtin array_intersect
    * builds a hash set per row, which at Σ|E| ~60-element adjacency
    * intersections dominated the whole clustering-coefficient stage
    * (measured 1.04 s of a 2.7 s query at sf0.1). Inputs are sorted and
    * distinct (sort_array over per-vertex neighbor lists), so output
    * order equals array_intersect's first-argument order — identical
    * results either way, and every consumer is order-independent
    * (size / explode→groupBy). */
  def sortedIntersectArrLong(a: ArrayData, b: ArrayData): ArrayData = {
    val na = a.numElements(); val nb = b.numElements()
    val buf = new Array[Long](math.min(na, nb))
    var i = 0; var j = 0; var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { buf(c) = x; c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      java.util.Arrays.copyOf(buf, c))
  }

  /** Σ min(wa[i], wb[j]) over the merge-intersection of two ASC-sorted
    * long-id arrays with PARALLEL weight arrays (wa aligns with ida, wb
    * with idb). The weighted-triangle workhorse: at the oriented root edge
    * (u,v) this sums min(w_uz, w_vz) over common out-neighbors z without
    * materializing a single wedge or triangle row — the weighted analogue
    * of [[sortedIntersectCountLong]], same O(|A|+|B|) merge, same
    * allocation-free primitive loop. Integer weights keep the sum exact
    * and engine-independent. */
  def sortedIntersectMinWeightSum(ida: ArrayData, wa: ArrayData,
      idb: ArrayData, wb: ArrayData): Long = {
    val na = ida.numElements(); val nb = idb.numElements()
    var i = 0; var j = 0; var s = 0L
    while (i < na && j < nb) {
      val x = ida.getLong(i); val y = idb.getLong(j)
      if (x == y) {
        s += math.min(wa.getLong(i), wb.getLong(j)); i += 1; j += 1
      }
      else if (x < y) i += 1
      else j += 1
    }
    s
  }

  /** Winnowing fingerprints (k=3-token grams, w=4-gram windows) from a
    * token array: the exact polynomial gram hash (a·31+codepoint mod
    * 1e9+7, tokens joined by ' ') of llm_fingerprint's family, then the
    * min of each window, distinct and ascending. Code-point iteration is
    * char-for-char identical to the `split('')` + `ascii()` HOF form (and
    * the DuckDB oracle) on all BMP text — the interpreted HOF dispatched
    * a lambda per character, this is one fused primitive loop per row.
    * Returns an empty array when fewer than k+w-1 tokens (callers
    * pre-filter, mirroring TextDedup.atLeast's rule). */
  def winnowFingerprints(toks: ArrayData): ArrayData = {
    val K = 3; val W = 4; val M = 1000000007L
    val n = toks.numElements()
    val g = n - K + 1
    val wins = g - W + 1
    if (wins <= 0)
      return new org.apache.spark.sql.catalyst.util.GenericArrayData(Array.empty[Long])
    val gh = new Array[Long](g)
    var i = 0
    while (i < g) {
      var a = 0L
      var t = 0
      while (t < K) {
        if (t > 0) a = (a * 31 + 32L) % M // the ' ' joiner, ascii 32
        val s = toks.getUTF8String(i + t).toString
        var ci = 0
        while (ci < s.length) {
          val cp = s.codePointAt(ci)
          a = (a * 31 + cp) % M
          ci += Character.charCount(cp)
        }
        t += 1
      }
      gh(i) = a
      i += 1
    }
    val seen = new java.util.TreeSet[java.lang.Long]()
    var j = 0
    while (j < wins) {
      var m = Long.MaxValue
      var x = 0
      while (x < W) { val v = gh(j + x); if (v < m) m = v; x += 1 }
      seen.add(m)
      j += 1
    }
    val out = new Array[Long](seen.size())
    val it = seen.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Holt linear (double exponential, α = β = ½) smoothing states over an
    * integer series: returns [l₁, b₁, l₂, b₂, …] interleaved, seeded
    * l₁ = x₁, b₁ = 0, stepping l = ⌊(x + l′ + b′)/2⌋,
    * b = ⌊(l − l′ + b′)/2⌋ with arithmetic shift (>> 1 floors for every
    * sign — the exact twin of the oracle's floor-division emulation; a
    * truncating division would diverge on negative trends). One O(n) pass
    * — replaces the aggregate()-HOF fold whose array append is O(n²)
    * (measured 2.3 s → see ts_holt_linear). */
  /** Double → scale-12 unscaled long, exactly as Spark's Cast to
    * DECIMAL(·,12) rounds: BigDecimal.valueOf (the Double.toString
    * canonical form — what scala.math.BigDecimal.decimal and therefore
    * Decimal.apply(Double) use) then setScale(12, HALF_UP)
    * (Decimal.changePrecision's rounding mode). Applied ONCE per lookup
    * table entry at build time — per-row BigDecimal.valueOf measured
    * ~350 ns/term (Double.toString + parse), which dominated the scorer.
    * longValueExact throws on magnitude ≥ ~9.2e6, far above any
    * subvector dot here; [[ivfpqTerms]] sums ≤ pqM of these in a long —
    * overflow-free by the same bound. */
  def dec12Scaled(d: Double): Long =
    java.math.BigDecimal.valueOf(d)
      .setScale(12, java.math.RoundingMode.HALF_UP)
      .unscaledValue().longValueExact()

  /** The six per-pair IVF-PQ reconstruction terms in one pass:
    * [Σ_m sdc(m, ka_m, kb_m), Σ_m cd(cb, m, ka_m), Σ_m cd(ca, m, kb_m),
    *  ccij(ca, cb), cssq(ca), cssq(cb)]
    * — SDC residual dot, the two centroid-cross-residual dots, the
    * centroid-pair dot and the two centroid self-dots. The decimal sums
    * run over lookup tables PRE-ROUNDED to scale-12 unscaled longs
    * ([[dec12Scaled]]), so the accumulation is plain long addition: exact,
    * order-independent, ≡ the shuffle-order sum(CAST(… AS DECIMAL(30,12)))
    * of the join-based scorer bit-for-bit. Results return as doubles via
    * BigDecimal.valueOf(acc, 12).doubleValue (≡ Decimal.toDouble); the
    * ccij/cssq terms are PURE double lookups (no rounding — bit-identical
    * to the element_at(typedlit(...)) columns they replaced, which at the
    * 4096-list cap would have serialized ~134 MB of nlist² literals into
    * the plan; here they ride the codegen reference array like the other
    * LUTs). k codes are 1-based (PQ codebook row_number); cid is the
    * 0-based array index of the 1-based cell id minus one as built by the
    * caller. This is the graft_holt discipline applied to the PQ scorer:
    * the interpreted HOF equivalent measured ~650 ns per step at sf0.1. */
  def ivfpqTerms(sdc12: Array[Long], cd12: Array[Long], ccij: Array[Double],
      cssq: Array[Double], nC: Int, pqM: Int, pqK: Int,
      codesA: ArrayData, codesB: ArrayData, ca: Int, cb: Int): ArrayData = {
    var sdcAcc = 0L
    var cxaAcc = 0L
    var cxbAcc = 0L
    var m = 0
    while (m < pqM) {
      val ka = codesA.getInt(m)
      val kb = codesB.getInt(m)
      sdcAcc += sdc12((m * pqK + ka - 1) * pqK + kb - 1)
      cxaAcc += cd12((cb * pqM + m) * pqK + ka - 1)
      cxbAcc += cd12((ca * pqM + m) * pqK + kb - 1)
      m += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(Array(
      java.math.BigDecimal.valueOf(sdcAcc, 12).doubleValue(),
      java.math.BigDecimal.valueOf(cxaAcc, 12).doubleValue(),
      java.math.BigDecimal.valueOf(cxbAcc, 12).doubleValue(),
      ccij(ca * nC + cb), cssq(ca), cssq(cb)))
  }

  def holtStates(iv: ArrayData): ArrayData = {
    val n = iv.numElements()
    val out = new Array[Long](2 * n)
    var l = 0L
    var b = 0L
    var i = 0
    while (i < n) {
      val x = iv.getLong(i)
      if (i == 0) { l = x; b = 0L }
      else {
        val l1 = (x + l + b) >> 1
        b = (l1 - l + b) >> 1
        l = l1
      }
      out(2 * i) = l
      out(2 * i + 1) = b
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Holt–Winters ADDITIVE-SEASONAL (triple exponential, α = β = γ = ½,
    * period p) states over an integer series: returns [l₁, b₁, s₁, l₂, …]
    * interleaved. Seed rows t ≤ p: l_t = x_t, b_t = 0, s_t = 0; past the
    * seed:
    *   l_t = ⌊(x_t − s_{t−p} + l_{t−1} + b_{t−1}) / 2⌋
    *   b_t = ⌊(l_t − l_{t−1} + b_{t−1}) / 2⌋
    *   s_t = ⌊(x_t − l_t + s_{t−p}) / 2⌋
    * every division an arithmetic shift (>> 1 floors for every sign — the
    * [[holtStates]] sign-safe twin rule; level MINUS a seasonal term goes
    * negative even on positive data). One O(n) pass; the s_{t−p} lookback
    * reads the already-written output slot — the same memory the oracle's
    * recursive CTE carries as its rolling seasonal list. */
  def holtWintersStates(iv: ArrayData, p: Int): ArrayData = {
    val n = iv.numElements()
    val out = new Array[Long](3 * n)
    var l = 0L
    var b = 0L
    var i = 0
    while (i < n) {
      val x = iv.getLong(i)
      var s = 0L
      if (i < p) { l = x; b = 0L }
      else {
        val sp = out(3 * (i - p) + 2)
        val l1 = (x - sp + l + b) >> 1
        b = (l1 - l + b) >> 1
        s = (x - l1 + sp) >> 1
        l = l1
      }
      out(3 * i) = l
      out(3 * i + 1) = b
      out(3 * i + 2) = s
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }
}

/** 64-long minhash signature of an array<long> of shingle hashes. */
case class MinHashSig(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_minhash expects array<bigint>, got ${t.simpleString}")
  }
  override def nullSafeEval(h: Any): Any = VectorKernels.minhash64(h.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.minhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** 64-long minhash signature directly from an array<string> of shingles. */
case class MinHashSigStr(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_minhash_str expects array<string>, got ${t.simpleString}")
  }
  override def nullSafeEval(h: Any): Any = VectorKernels.minhash64Str(h.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.minhash64Str($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** 64-bit SimHash of an array<long> of token hashes. */
case class SimHash64(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_simhash expects array<bigint>, got ${t.simpleString}")
  }
  override def nullSafeEval(h: Any): Any = VectorKernels.simhash64(h.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.simhash64($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** Merge-count intersection size of two sorted distinct string arrays. */
case class SortedIntersectCount(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.StringType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_sorted_intersect expects two array<string>")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersectCount(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.sortedIntersectCount($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Sorted FNV-64 hashes of an array<string> of shingles. */
case class ShingleHashes(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_shingle_hashes expects array<string>, got ${t.simpleString}")
  }
  override def nullSafeEval(h: Any): Any = VectorKernels.shingleHashes(h.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.shingleHashes($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** Distinct ascending winnowing fingerprints of an array<string> of tokens
  * (k=3-token grams, w=4-gram windows; see VectorKernels.winnowFingerprints
  * for the exact-hash parity argument). */
case class WinnowFp(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_winnow expects array<string>, got ${t.simpleString}")
  }
  override def nullSafeEval(h: Any): Any = VectorKernels.winnowFingerprints(h.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.winnowFingerprints($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** Merge-count intersection size of two sorted long arrays. */
case class SortedIntersectCountLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("graft_sorted_intersect_long expects two array<bigint>")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersectCountLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.sortedIntersectCountLong($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Merge-intersection ELEMENTS of two sorted long arrays (see
  * [[VectorKernels.sortedIntersectArrLong]]). The kernel reads primitive
  * longs, so an array type whose elements may be null is rejected at
  * analysis instead of reading each null as 0. */
case class SortedIntersectArrLong(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, false) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_sorted_intersect_arr expects two array<bigint> without null elements")
  }
  override def nullSafeEval(a: Any, b: Any): Any =
    VectorKernels.sortedIntersectArrLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.VectorKernels.sortedIntersectArrLong($a, $b)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Weighted merge-intersection sum (see
  * [[VectorKernels.sortedIntersectMinWeightSum]]): arguments are
  * (ids_a, weights_a, ids_b, weights_b), all array<bigint>, the id arrays
  * ASC-sorted with weights parallel to them. */
case class SortedIntersectMinWeightSum(first: Expression, second: Expression,
    third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = children.forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.LongType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_sorted_intersect_minw expects four array<bigint>")
  }
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    VectorKernels.sortedIntersectMinWeightSum(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData], d.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b, c, d) =>
      s"graft.functions.VectorKernels.sortedIntersectMinWeightSum($a, $b, $c, $d)")
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Immutable LUT payload for [[IvfPqTerms]]: the four driver-collected
  * lookup tables plus their dimensions, with CONTENT equality and the
  * hash computed ONCE here at construction. The holder is what makes
  * content equality cheap on the expression side — Catalyst re-hashes
  * expressions repeatedly during canonicalization and every
  * withNewChildren copy is a fresh IvfPqTerms instance, but all copies
  * share this one instance, so no copy ever re-scans the arrays. */
final class IvfPqLut(val sdc: Array[Long], val cd: Array[Long],
    val ccij: Array[Double], val cssq: Array[Double],
    val nC: Int, val pqM: Int, val pqK: Int) extends Serializable {
  private val lutHash: Int =
    java.util.Objects.hash(
      Integer.valueOf(java.util.Arrays.hashCode(sdc)),
      Integer.valueOf(java.util.Arrays.hashCode(cd)),
      Integer.valueOf(java.util.Arrays.hashCode(ccij)),
      Integer.valueOf(java.util.Arrays.hashCode(cssq)),
      Integer.valueOf(nC), Integer.valueOf(pqM), Integer.valueOf(pqK))
  override def hashCode(): Int = lutHash
  override def equals(other: Any): Boolean = other match {
    case o: IvfPqLut =>
      (this eq o) || (lutHash == o.lutHash &&
        nC == o.nC && pqM == o.pqM && pqK == o.pqK &&
        java.util.Arrays.equals(sdc, o.sdc) &&
        java.util.Arrays.equals(cd, o.cd) &&
        java.util.Arrays.equals(ccij, o.ccij) &&
        java.util.Arrays.equals(cssq, o.cssq))
    case _ => false
  }
}

/** IVF-PQ per-pair decimal-exact term sums plus centroid-dot lookups (see
  * [[VectorKernels.ivfpqTerms]]): children are
  * (codes_a array<int>, codes_b array<int>, ca int, cb int); ALL four
  * lookup tables ride as CONSTRUCTOR payloads (driver-collected index
  * metadata, bounded at pqM·pqK² + nlist·pqM·pqK + nlist² + nlist
  * entries — shipped once per task via the codegen reference array, never
  * per row and never as plan literals, which at the 4096-list cap would
  * canonicalize ~134 MB of nlist² typedlit doubles into every task
  * binary). Built through PlanBridge.column because the string-keyed
  * function registry cannot carry array payloads. */
case class IvfPqTerms(lut: IvfPqLut,
    first: Expression, second: Expression, third: Expression, fourth: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression {
  // Case-class equality on bare Array fields would be REFERENCE equality,
  // which would make two semantically identical instances never compare
  // equal in Catalyst — blocking subexpression elimination and
  // plan-fragment reuse. The LUTs therefore ride in an [[IvfPqLut]]
  // HOLDER with content equality and a hash precomputed at call-site
  // construction: every Catalyst copy (canonicalized, withNewChildren
  // during rule application) shares the SAME holder instance, so the
  // up-to-~4.5M-entry hash scan runs once per built index, not once per
  // plan-rule copy (ADVICE r16). The synthesized case-class
  // equals/hashCode are then correct as-is (holder content + children).
  private def sdc: Array[Long] = lut.sdc
  private def cd: Array[Long] = lut.cd
  private def ccij: Array[Double] = lut.ccij
  private def cssq: Array[Double] = lut.cssq
  private def nC: Int = lut.nC
  private def pqM: Int = lut.pqM
  private def pqK: Int = lut.pqK
  override def dataType: DataType = ArrayType(DoubleType)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = {
    val ok = Seq(first, second).forall(_.dataType match {
      case ArrayType(org.apache.spark.sql.types.IntegerType, _) => true
      case _ => false
    }) && Seq(third, fourth).forall(
      _.dataType == org.apache.spark.sql.types.IntegerType)
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_ivfpq_terms expects (array<int>, array<int>, int, int)")
  }
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    VectorKernels.ivfpqTerms(sdc, cd, ccij, cssq, nC, pqM, pqK,
      a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], c.asInstanceOf[Int], d.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sdcRef = ctx.addReferenceObj("sdcLut", sdc, "long[]")
    val cdRef = ctx.addReferenceObj("cdLut", cd, "long[]")
    val ccijRef = ctx.addReferenceObj("ccijLut", ccij, "double[]")
    val cssqRef = ctx.addReferenceObj("cssqLut", cssq, "double[]")
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"${ev.value} = graft.functions.VectorKernels.ivfpqTerms(" +
        s"$sdcRef, $cdRef, $ccijRef, $cssqRef, $nC, $pqM, $pqK, $a, $b, $c, $d);")
  }
  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression, newFourth: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

/** Interleaved Holt level/trend states of an array<bigint> series (see
  * [[VectorKernels.holtStates]]). */
case class HoltStates(child: Expression) extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(org.apache.spark.sql.types.LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"graft_holt expects array<bigint>, got ${t.simpleString}")
  }
  override def nullSafeEval(h: Any): Any = VectorKernels.holtStates(h.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.VectorKernels.holtStates($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression = copy(child = newChild)
}

/** Interleaved Holt–Winters level/trend/seasonal states of an
  * array<bigint> series with an integer period (see
  * [[VectorKernels.holtWintersStates]]). */
case class HoltWintersStates(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = ArrayType(org.apache.spark.sql.types.LongType)
  override def nullIntolerant: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(org.apache.spark.sql.types.LongType, _),
      org.apache.spark.sql.types.IntegerType) => TypeCheckResult.TypeCheckSuccess
    case (a, b) => TypeCheckResult.TypeCheckFailure(
      s"graft_holt_winters expects (array<bigint>, int), got (${a.simpleString}, ${b.simpleString})")
  }
  override def nullSafeEval(a: Any, p: Any): Any =
    VectorKernels.holtWintersStates(a.asInstanceOf[ArrayData], p.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, p) => s"graft.functions.VectorKernels.holtWintersStates($a, $p)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** The builder of the native kernel `name`, which takes exactly `arity`
  * arguments. Every path that builds a kernel expression calls it, so a
  * wrong argument count is one IllegalArgumentException naming the kernel
  * and the count it takes, never an index error inside `make`. */
final case class Kernel(name: String, arity: Int)(make: Seq[Expression] => Expression)
    extends (Seq[Expression] => Expression) {
  def apply(args: Seq[Expression]): Expression = {
    if (args.size != arity) throw new IllegalArgumentException(
      s"$name takes $arity argument${if (arity == 1) "" else "s"}, got ${args.size}")
    make(args)
  }
}

object VectorFunctions {
  /** The native kernels, SQL name -> builder (with its arity). Query code calls
    * them through [[kernel]]. The two SQL paths iterate this same table:
    * [[register]] for sessions built without extensions,
    * [[graft.GraftExtensions]] for sessions configured with
    * `spark.sql.extensions`. `IvfPqTerms` is not here: it carries
    * driver-collected lookup arrays that a name -> builder table cannot
    * pass, so callers build it directly through `PlanBridge.column`.
    *
    * Input precondition of the merge kernels (`graft_sorted_intersect*`):
    * every id array is sorted ascending and DISTINCT, e.g.
    * `sort_array(collect_set(..))`. Unsorted input gives a wrong answer
    * without an error. Duplicates are not removed: a value present m
    * times in one array and n times in the other counts min(m, n) times,
    * where `array_intersect` keeps it once. */
  val kernels: Seq[(String, Kernel)] = Seq(
    Kernel("graft_dot", 2)(e => DotProductD(e.head, e(1))),
    Kernel("graft_minhash", 1)(e => MinHashSig(e.head)),
    Kernel("graft_minhash_str", 1)(e => MinHashSigStr(e.head)),
    Kernel("graft_simhash", 1)(e => SimHash64(e.head)),
    Kernel("graft_sorted_intersect", 2)(e => SortedIntersectCount(e.head, e(1))),
    Kernel("graft_shingle_hashes", 1)(e => ShingleHashes(e.head)),
    Kernel("graft_sorted_intersect_long", 2)(e => SortedIntersectCountLong(e.head, e(1))),
    Kernel("graft_winnow", 1)(e => WinnowFp(e.head)),
    Kernel("graft_sorted_intersect_minw", 4)(e =>
      SortedIntersectMinWeightSum(e.head, e(1), e(2), e(3))),
    Kernel("graft_sorted_intersect_arr", 2)(e => SortedIntersectArrLong(e.head, e(1))),
    Kernel("graft_holt", 1)(e => HoltStates(e.head)),
    Kernel("graft_holt_winters", 2)(e => HoltWintersStates(e.head, e(1))))
    .map(k => k.name -> k)

  /** A call of the kernel `name` from [[kernels]] as a Column. Query code
    * calls kernels this way, never by SQL name: the Column resolves to the
    * same expression the registry builder returns, and it needs no session
    * state, so it works alike in a batch query and inside a `foreachBatch`
    * sink. Throws IllegalArgumentException on a name that is not in
    * [[kernels]] or a wrong argument count. */
  def kernel(name: String, args: Column*): Column = {
    val build = kernels.toMap.getOrElse(name,
      throw new IllegalArgumentException(s"unknown graft kernel: $name"))
    PlanBridge.column(build(args.map(PlanBridge.expression)))
  }

  /** Register [[kernels]] in the session's function registry, for SQL
    * text on a session built without `spark.sql.extensions` (SQL users and
    * specs; query code uses [[kernel]]). Replaces any previous entries. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    kernels.foreach { case (name, build) =>
      reg.createOrReplaceTempFunction(name, build, "built-in")
    }
  }
}
