package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Unit tests for the native vector kernels: algebraic properties, parity
  * between direct kernel calls and SQL-registered expressions (i.e. the
  * interpreted and codegen paths agree), and parity with the HOF forms the
  * kernels replaced. */
class VectorKernelsSpec extends SparkSpec {

  private def longs(xs: Long*) = new GenericArrayData(xs.toArray)
  private def strs(xs: String*) =
    new GenericArrayData(xs.map(UTF8String.fromString).toArray)

  test("sortedIntersectCountLong: merge semantics") {
    assert(VectorKernels.sortedIntersectCountLong(longs(1, 3, 5), longs(2, 3, 5, 9)) === 2)
    assert(VectorKernels.sortedIntersectCountLong(longs(), longs(1)) === 0)
    assert(VectorKernels.sortedIntersectCountLong(longs(1, 2), longs(1, 2)) === 2)
  }

  test("sortedIntersectArrLong: elements match array_intersect on sorted distinct inputs") {
    // direct-call edge cases: disjoint, empty, identical, partial
    assert(VectorKernels.sortedIntersectArrLong(longs(1, 3, 5), longs(2, 4, 6))
      .toLongArray().toSeq === Seq.empty)
    assert(VectorKernels.sortedIntersectArrLong(longs(), longs(1, 2))
      .toLongArray().toSeq === Seq.empty)
    assert(VectorKernels.sortedIntersectArrLong(longs(1, 2), longs(1, 2))
      .toLongArray().toSeq === Seq(1L, 2L))
    assert(VectorKernels.sortedIntersectArrLong(longs(1, 3, 5), longs(2, 3, 5, 9))
      .toLongArray().toSeq === Seq(3L, 5L))
    // seeded differential vs builtin array_intersect through SQL (codegen
    // parity for the registered form — the clusteringCoeff consumer path)
    VectorFunctions.register(spark)
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (1 to 50).map { _ =>
      def arr() = Seq.fill(rnd.nextInt(12))(rnd.nextInt(30).toLong)
        .distinct.sorted
      (arr(), arr())
    }
    val got = rows.toDF("a", "b")
      .selectExpr("graft_sorted_intersect_arr(a, b) AS k",
        "array_intersect(a, b) AS r")
      .collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1),
        "merge kernel diverged from array_intersect")
    }
  }

  test("sortedIntersectArrLong: duplicates pair off min(m, n) times, unlike array_intersect; null-element arrays are rejected") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val r = Seq((Seq(1L, 1L, 2L, 3L, 3L), Seq(1L, 1L, 1L, 3L)))
      .toDF("a", "b")
      .selectExpr("graft_sorted_intersect_arr(a, b) AS k",
        "array_intersect(a, b) AS r")
      .head()
    assert(r.getSeq[Long](0) === Seq(1L, 1L, 3L))
    assert(r.getSeq[Long](1) === Seq(1L, 3L))
    // the kernel reads primitive longs: an element type that admits null
    // must fail analysis instead of reading each null as 0
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT graft_sorted_intersect_arr(array(1L, CAST(NULL AS BIGINT)), array(0L, 1L))")
        .collect()
    }
    assert(e.getMessage.contains("without null elements"), e.getMessage)
  }

  test("sortedIntersectMinWeightSum: weighted merge semantics") {
    // ids {1,3,5} ∩ {2,3,5,9} = {3,5}: min(10,1) + min(30,2) = 3
    assert(VectorKernels.sortedIntersectMinWeightSum(
      longs(1, 3, 5), longs(7, 10, 30), longs(2, 3, 5, 9), longs(9, 1, 2, 4)) === 3L)
    assert(VectorKernels.sortedIntersectMinWeightSum(
      longs(), longs(), longs(1), longs(5)) === 0L)
    // full overlap: Σ min pairs
    assert(VectorKernels.sortedIntersectMinWeightSum(
      longs(1, 2), longs(4, 9), longs(1, 2), longs(6, 3)) === 4L + 3L)
    // SQL-registered form agrees with the direct call (codegen parity)
    VectorFunctions.register(spark)
    import spark.implicits._
    val r = Seq((Seq(1L, 3L, 5L), Seq(7L, 10L, 30L), Seq(2L, 3L, 5L, 9L),
        Seq(9L, 1L, 2L, 4L)))
      .toDF("ia", "wa", "ib", "wb")
      .selectExpr("graft_sorted_intersect_minw(ia, wa, ib, wb) AS s").head()
    assert(r.getLong(0) === 3L)
  }

  test("sortedIntersectCount (strings) matches long variant through hashing") {
    val a = strs("apple", "mango", "zebra")
    val b = strs("apple", "zebra")
    assert(VectorKernels.sortedIntersectCount(a, b) === 2)
    val ha = VectorKernels.shingleHashes(a)
    val hb = VectorKernels.shingleHashes(b)
    assert(VectorKernels.sortedIntersectCountLong(ha, hb) === 2)
  }

  test("shingleHashes returns sorted distinct-preserving hashes") {
    val h = VectorKernels.shingleHashes(strs("c", "a", "b"))
    val arr = h.toLongArray()
    assert(arr.length === 3)
    assert(arr.sorted.toSeq === arr.toSeq)
  }

  test("minhash64 is permutation-invariant and monotone under union") {
    val h1 = VectorKernels.minhash64(longs(7, 3, 9)).toLongArray()
    val h2 = VectorKernels.minhash64(longs(9, 7, 3)).toLongArray()
    assert(h1.toSeq === h2.toSeq) // set semantics: order-independent
    val h3 = VectorKernels.minhash64(longs(7, 3, 9, 11)).toLongArray()
    h1.zip(h3).foreach { case (a, b) => assert(b <= a) } // mins only decrease
  }

  test("simhash64: identical inputs collide, sign structure holds") {
    val s1 = VectorKernels.simhash64(longs(1, 2, 3))
    val s2 = VectorKernels.simhash64(longs(3, 2, 1))
    assert(s1 === s2)
    val single = VectorKernels.simhash64(longs(0x0F0FL))
    assert(single === 0x0F0FL) // one input: sign bits == its bits
  }

  test("registered SQL expressions agree with direct kernel calls") {
    VectorFunctions.register(spark)
    import spark.implicits._
    val row = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS d").head()
    assert(row.getDouble(0) === 1.0 * 4 + 2 * 5 + 3 * 6)

    val mh = Seq(Tuple1(Seq("x y z", "y z w"))).toDF("sh")
      .selectExpr("graft_minhash_str(sh) AS sig",
        "graft_minhash(graft_shingle_hashes(sh)) AS sig2").head()
    assert(mh.getSeq[Long](0) === mh.getSeq[Long](1))
  }

  test("kernel is the registry's expression as a Column, needs no registration, rejects unknown names") {
    VectorFunctions.register(spark)
    val df = spark.createDataFrame(Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))))
      .toDF("a", "b")
    def resolved(q: org.apache.spark.sql.DataFrame) =
      q.queryExecution.analyzed.expressions.head.children.head
    val viaKernel = resolved(df.select(VectorFunctions.kernel("graft_dot", col("a"), col("b"))))
    assert(viaKernel.isInstanceOf[DotProductD])
    assert(viaKernel === resolved(df.selectExpr("graft_dot(a, b)")))

    // a session that never registered the kernels still runs the Column
    val fresh = spark.newSession()
    intercept[org.apache.spark.sql.AnalysisException](
      fresh.sql("SELECT graft_dot(array(1D), array(1D))").collect())
    val row = fresh.createDataFrame(Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))))
      .toDF("a", "b").select(VectorFunctions.kernel("graft_dot", col("a"), col("b"))).head()
    assert(row.getDouble(0) === 32.0)

    intercept[IllegalArgumentException](VectorFunctions.kernel("graft_nope", col("a")))
  }

  test("a wrong argument count names the kernel and its arity, on the Column and SQL paths") {
    val fresh = spark.newSession()
    VectorFunctions.register(fresh)
    assert(VectorFunctions.kernels.size === 12)
    for ((name, k) <- VectorFunctions.kernels; n <- Seq(k.arity - 1, k.arity + 1)) {
      val expected = s"$name takes ${k.arity} argument"
      val viaColumn = intercept[IllegalArgumentException](
        VectorFunctions.kernel(name, Seq.fill(n)(lit(1)): _*))
      assert(viaColumn.getMessage.startsWith(expected), viaColumn.getMessage)
      val viaSql = intercept[Exception](
        fresh.sql(s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})").collect())
      val cause = Iterator.iterate[Throwable](viaSql)(_.getCause).takeWhile(_ != null)
        .collectFirst { case e: IllegalArgumentException => e }
      assert(cause.exists(_.getMessage.startsWith(expected)), s"$name($n args): $viaSql")
    }
  }

  test("graft_dot matches the HOF aggregate(zip_with(...)) bit-for-bit") {
    VectorFunctions.register(spark)
    val df = graft.Tables.embeddings(spark, sf)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .selectExpr(
        "graft_dot(e, e) AS native",
        "aggregate(zip_with(e, e, (x, y) -> x * y), CAST(0 AS DOUBLE), (a, x) -> a + x) AS hof")
    assert(df.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("winnowFingerprints: guarantee, compression, and degenerate inputs") {
    def fps(s: String) =
      VectorKernels.winnowFingerprints(strs(s.split(" ").toSeq: _*))
        .toLongArray().toSeq
    // fewer than 6 tokens -> empty, never a crash
    assert(fps("a b c d e") === Seq.empty)
    // output is distinct ascending
    val f = fps("a b a b a b a b a b")
    assert(f === f.distinct.sorted)
    // shared >= 6-token run -> shared fingerprint (the winnowing guarantee)
    val run = "alpha beta gamma delta epsilon zeta"
    val shared = fps(s"x1 x2 $run y1") intersect fps(s"z1 $run w1 w2")
    assert(shared.nonEmpty)
    // compression: fewer fingerprints than grams
    val nine = "m1 m2 m3 m4 m5 m6 m7 m8 m9"
    assert(fps(nine).size < 7)
  }

  test("kernels stay inside whole-stage codegen") {
    VectorFunctions.register(spark)
    val df = graft.Tables.embeddings(spark, sf)
      .selectExpr("transform(embedding, x -> CAST(x AS DOUBLE)) AS e")
      .selectExpr("graft_dot(e, e) AS d")
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(") || plan.contains("WholeStageCodegen"),
      s"graft_dot fell out of codegen:\n$plan")
  }

  test("holtStates: hand-computed recurrence, FLOOR (not truncating) steps on negative trends") {
    def run(xs: Long*): Seq[Long] = {
      val out = VectorKernels.holtStates(new GenericArrayData(xs.toArray))
      (0 until out.numElements()).map(out.getLong(_))
    }
    // seed: l1 = x1, b1 = 0
    assert(run(10L) === Seq(10L, 0L))
    // rising series, hand-stepped: l2=⌊(20+10+0)/2⌋=15, b2=⌊(15−10+0)/2⌋=2
    //                              l3=⌊(30+15+2)/2⌋=23, b3=⌊(23−15+2)/2⌋=5
    assert(run(10L, 20L, 30L) === Seq(10L, 0L, 15L, 2L, 23L, 5L))
    // THE cross-engine trap this kernel exists to pin: a falling series
    // drives the trend negative, where floor and truncate diverge.
    // l2=⌊(0+10+0)/2⌋=5, b2=⌊(5−10+0)/2⌋=⌊−2.5⌋=−3 (truncation says −2)
    assert(run(10L, 0L) === Seq(10L, 0L, 5L, -3L))
    // and the divergence compounds: l3=⌊(0+5−3)/2⌋=1, b3=⌊(1−5−3)/2⌋=⌊−3.5⌋=−4
    assert(run(10L, 0L, 0L) === Seq(10L, 0L, 5L, -3L, 1L, -4L))
    // empty series → empty states
    assert(run() === Seq.empty)
  }

  test("holtWintersStates: hand-computed seasonal recurrence, driver-side floorDiv differential") {
    def run(p: Int, xs: Long*): Seq[Long] = {
      val out = VectorKernels.holtWintersStates(new GenericArrayData(xs.toArray), p)
      (0 until out.numElements()).map(out.getLong(_))
    }
    // seed rows (t <= p): l = x, b = s = 0
    assert(run(2, 10L, 20L) === Seq(10L, 0L, 0L, 20L, 0L, 0L))
    // p=2, hand-stepped past the seed (s_{t-2} of row 3 is row 1's s = 0):
    // l3=⌊(8−0+20+0)/2⌋=14, b3=⌊(14−20+0)/2⌋=⌊−3⌋=−3, s3=⌊(8−14+0)/2⌋=−3
    // row 4 looks back to row 2 (s=0):
    // l4=⌊(4−0+14−3)/2⌋=7, b4=⌊(7−14−3)/2⌋=⌊−5⌋=−5, s4=⌊(4−7+0)/2⌋=⌊−1.5⌋=−2
    assert(run(2, 10L, 20L, 8L, 4L) ===
      Seq(10L, 0L, 0L, 20L, 0L, 0L, 14L, -3L, -3L, 7L, -5L, -2L))
    // row 5 looks back to row 3's s = −3: x−s goes UP by 3 —
    // l5=⌊(6+3+7−5)/2⌋=5, b5=⌊(5−7−5)/2⌋=⌊−3.5⌋=−4, s5=⌊(6−5−3)/2⌋=−1
    assert(run(2, 10L, 20L, 8L, 4L, 6L) ===
      Seq(10L, 0L, 0L, 20L, 0L, 0L, 14L, -3L, -3L, 7L, -5L, -2L, 5L, -4L, -1L))
    // seeded random differential against a driver-side Math.floorDiv replay
    val rnd = new scala.util.Random(4242L)
    for (trial <- 1 to 5) {
      val xs = Array.fill(50)(rnd.nextLong(20001L) - 10000L)
      val p = 4
      val l = new Array[Long](50); val b = new Array[Long](50); val s = new Array[Long](50)
      for (i <- 0 until 50) {
        if (i < p) { l(i) = xs(i); b(i) = 0; s(i) = 0 }
        else {
          val sp = s(i - p)
          l(i) = Math.floorDiv(xs(i) - sp + l(i - 1) + b(i - 1), 2L)
          b(i) = Math.floorDiv(l(i) - l(i - 1) + b(i - 1), 2L)
          s(i) = Math.floorDiv(xs(i) - l(i) + sp, 2L)
        }
      }
      val expect = (0 until 50).flatMap(i => Seq(l(i), b(i), s(i)))
      assert(run(p, xs.toIndexedSeq: _*) === expect, s"trial $trial")
    }
    assert(run(4) === Seq.empty)
  }

  test("holt forecast projections: hand-computed from the final kernel states") {
    // ts_holt_forecast reads (l_T, b_T) off the interleaved state array
    // and emits l_T + h·b_T. For xs = (10, 20, 30): l3 = 23, b3 = 5
    // (hand-stepped above) → forecasts 28, 33, 38, 43.
    val st = VectorKernels.holtStates(new GenericArrayData(Array(10L, 20L, 30L)))
    val n = 3
    val lT = st.getLong(2 * n - 2); val bT = st.getLong(2 * n - 1)
    assert((1 to 4).map(h => lT + h * bT) === Seq(28L, 33L, 38L, 43L))
    // ts_holt_winters_forecast adds s_{T−4+h}. For p=4 and 6 rows the
    // final states come from the seeded recurrence; recompute them with
    // the driver-side floorDiv replay and check the projection indexes
    // the seasonal slots the query's element_at arithmetic names.
    val xs = Array(10L, 20L, 8L, 4L, 6L, 12L)
    val out = VectorKernels.holtWintersStates(new GenericArrayData(xs), 4)
    val l = new Array[Long](6); val b = new Array[Long](6); val s = new Array[Long](6)
    for (i <- 0 until 6) {
      if (i < 4) { l(i) = xs(i); b(i) = 0; s(i) = 0 }
      else {
        val sp = s(i - 4)
        l(i) = Math.floorDiv(xs(i) - sp + l(i - 1) + b(i - 1), 2L)
        b(i) = Math.floorDiv(l(i) - l(i - 1) + b(i - 1), 2L)
        s(i) = Math.floorDiv(xs(i) - l(i) + sp, 2L)
      }
    }
    val T = 6
    // query arithmetic: lt = st[3n−2], bt = st[3n−1], sh = st[3(n−4+h)]
    // (1-based element_at ↔ 0-based getLong here)
    assert(out.getLong(3 * T - 3) === l(T - 1))
    assert(out.getLong(3 * T - 2) === b(T - 1))
    val fc = (1 to 4).map { h =>
      out.getLong(3 * T - 3) + h * out.getLong(3 * T - 2) +
        out.getLong(3 * (T - 4 + h) - 1)
    }
    val expect = (1 to 4).map(h => l(T - 1) + h * b(T - 1) + s(T - 4 + h - 1))
    assert(fc === expect)
  }

  test("dec12Scaled long sums match Spark's sum(CAST(x AS DECIMAL(30,12))) bit-for-bit") {
    // the IvfPqTerms contract: pre-rounding doubles to scale-12 unscaled
    // longs and summing with plain long addition must equal the decimal
    // aggregate the kernel replaced — including the HALF_UP rounding edge
    // (5e-13 rounds UP to 1e-12) and negatives. Differential against
    // Spark itself on adversarial + seeded-random values.
    import spark.implicits._
    val rnd = new scala.util.Random(4242L)
    val edge = Seq(5e-13, -5e-13, 1.5e-12, 0.0, 1.0000000000005,
      -2.3456789012345, 123.456789012345678, 1e-15)
    val vals = edge ++ Seq.fill(500)((rnd.nextDouble() - 0.5) * 20.0)
    val sparkSum = vals.toDF("x")
      .agg(sum(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 12)))
        .cast("double")).head().getDouble(0)
    val longAcc = vals.map(VectorKernels.dec12Scaled).sum
    val kernelSum = java.math.BigDecimal.valueOf(longAcc, 12).doubleValue()
    assert(kernelSum === sparkSum, "scaled-long fold diverged from the decimal aggregate")
    // and the per-element rounding matches Spark's Cast exactly
    val sparkEach = vals.toDF("x")
      .select(col("x").cast(org.apache.spark.sql.types.DecimalType(30, 12))
        .cast("double")).collect().map(_.getDouble(0))
    val kernelEach = vals.map(v =>
      java.math.BigDecimal.valueOf(VectorKernels.dec12Scaled(v), 12).doubleValue())
    assert(kernelEach === sparkEach.toSeq, "per-element dec12 rounding diverged")
  }
}
