package graft.functions

import graft.SparkSpec
import org.apache.datasketches.memory.Memory
import org.apache.datasketches.theta.{SetOperation, Sketch, Sketches}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Pins the theta-sketch properties the oracle CANNOT see: the
  * sf-fixture gate only ever exercises exact mode (every segment under
  * the lgK=14 nominal), so estimation-mode error bounds, reshuffle /
  * re-merge invariance, persisted-blob losslessness and the runtime
  * exact-mode tripwires are asserted here on synthetic corpora that
  * deliberately cross the nominal. */
class ThetaSketchSpec extends SparkSpec {

  private val Nom = 1 << ThetaSketch.LgK // 16384

  private def wrap(b: Array[Byte]): Sketch = Sketches.wrapSketch(Memory.wrap(b))

  /** n distinct longs, hashed into 8 groups, as (h, k) rows. */
  private def corpus(n: Long): DataFrame =
    spark.range(0, n).toDF("k").withColumn("h", pmod(col("k"), lit(8L)))

  private def partials(df: DataFrame, numPart: Int): DataFrame =
    df.repartition(numPart, col("k"))
      .groupBy(col("h"))
      .agg(ThetaSketch.thetaSketchAgg(col("k")).as("sk"))

  private def mergeFlat(p: DataFrame): Array[Byte] =
    p.agg(ThetaSketch.thetaUnionAgg(col("sk"))).head.getAs[Array[Byte]](0)

  test("estimation mode past the nominal: estimate brackets the truth at 3σ and ~4×RSE") {
    val n = 60000L // ≫ 16384 — forces theta < 1.0
    val blob = spark.range(0, n).toDF("k")
      .agg(ThetaSketch.thetaSketchAgg(col("k"))).head.getAs[Array[Byte]](0)
    val sk = wrap(blob)
    assert(sk.isEstimationMode, "60k distinct must push lgK=14 past exact mode")
    assert(sk.getLowerBound(3) <= n && n <= sk.getUpperBound(3),
      s"truth $n outside the sketch's own 3σ bracket " +
        s"[${sk.getLowerBound(3)}, ${sk.getUpperBound(3)}]")
    // RSE at lgK=14 ≈ 1/√16384 ≈ 0.78%; 4σ ≈ 3.2% — generous, not flaky
    assert(math.abs(sk.getEstimate - n) / n <= 0.04,
      s"estimate ${sk.getEstimate} off truth $n by more than 4×RSE")
    assert(ThetaSketch.estimate(blob) === Math.round(sk.getEstimate))
  }

  test("reshuffle + two-stage re-merge leave the compact blob byte-identical (estimation mode)") {
    // Theta retains the k smallest MurmurHash3 values — the union result
    // is a pure function of the input KEY SET, so the ordered compact
    // blob must not depend on partitioning, arrival order, or merge tree
    // shape, even past the nominal where trimming kicks in.
    val df = corpus(60000)
    val flat3 = mergeFlat(partials(df, 3))
    val flat11 = mergeFlat(partials(df, 11))
    assert(flat3.toSeq === flat11.toSeq,
      "blob changed under a different input partitioning")
    // two-stage: fold each group-half into one sketch, then union the halves
    val p = partials(df, 5)
    val twoStage = p.withColumn("g", col("h") < 4)
      .groupBy(col("g")).agg(ThetaSketch.thetaUnionAgg(col("sk")).as("sk"))
      .agg(ThetaSketch.thetaUnionAgg(col("sk"))).head.getAs[Array[Byte]](0)
    assert(twoStage.toSeq === flat3.toSeq,
      "re-merge of merged sketches diverged from the flat merge")
    assert(wrap(flat3).isEstimationMode, "the invariance must be tested PAST the nominal")
  }

  test("persisted partials: disk-merge ≡ inline-merge, blobs survive parquet byte-for-byte") {
    val dir = tempDir("graft_thetaspec")
    val p = partials(corpus(60000), 5)
    p.write.mode("overwrite").parquet(dir)
    val fromDisk = mergeFlat(spark.read.parquet(dir))
    assert(fromDisk.toSeq === mergeFlat(p).toSeq,
      "parquet roundtrip changed the merged sketch")
  }

  test("exact-mode set algebra equals true set cardinalities") {
    def blobOf(lo: Long, hi: Long): Array[Byte] =
      spark.range(lo, hi).toDF("k")
        .agg(ThetaSketch.thetaSketchAgg(col("k"))).head.getAs[Array[Byte]](0)
    val a = blobOf(0, 1000)    // {0..999}
    val b = blobOf(500, 2000)  // {500..1999}
    assert(ThetaSketch.estimate(a) === 1000L)
    assert(ThetaSketch.estimate(b) === 1500L)
    assert(ThetaSketch.unionEst(a, b) === 2000L)
    assert(ThetaSketch.unionEstExact(a, b) === 2000L)
    assert(ThetaSketch.intersectEst(a, b) === 500L)
    assert(ThetaSketch.aNotBEst(a, b) === 500L)
    assert(ThetaSketch.aNotBEst(b, a) === 1000L) // {1000..1999}
  }

  test("estimation-mode set algebra stays inside the library's 3σ brackets") {
    def blobOf(lo: Long, hi: Long): Array[Byte] =
      spark.range(lo, hi).toDF("k")
        .agg(ThetaSketch.thetaSketchAgg(col("k"))).head.getAs[Array[Byte]](0)
    val a = blobOf(0, 50000)      // {0..49999}
    val b = blobOf(25000, 75000)  // {25000..74999}
    val u = SetOperation.builder().setNominalEntries(Nom).buildUnion()
    u.union(wrap(a)); u.union(wrap(b))
    val ur = u.getResult()
    assert(ur.getLowerBound(3) <= 75000 && 75000 <= ur.getUpperBound(3))
    assert(ThetaSketch.unionEst(a, b) === Math.round(ur.getEstimate))
    val i = SetOperation.builder().setNominalEntries(Nom).buildIntersection()
    i.intersect(wrap(a)); i.intersect(wrap(b))
    val ir = i.getResult()
    assert(ir.getLowerBound(3) <= 25000 && 25000 <= ir.getUpperBound(3))
    assert(ThetaSketch.intersectEst(a, b) === Math.round(ir.getEstimate))
    val nr = SetOperation.builder().buildANotB().aNotB(wrap(a), wrap(b))
    assert(nr.getLowerBound(3) <= 25000 && 25000 <= nr.getUpperBound(3))
    assert(ThetaSketch.aNotBEst(a, b) === Math.round(nr.getEstimate))
  }

  test("runtime tripwires: exact blobs pass through, nominal-crossers fail loudly") {
    def blobOf(lo: Long, hi: Long): Array[Byte] =
      spark.range(lo, hi).toDF("k")
        .agg(ThetaSketch.thetaSketchAgg(col("k"))).head.getAs[Array[Byte]](0)
    val small = blobOf(0, 1000)
    assert(ThetaSketch.requireExactMode(small).toSeq === small.toSeq)
    val big = blobOf(0, 60000)
    val ex = intercept[IllegalArgumentException](ThetaSketch.requireExactMode(big))
    assert(ex.getMessage.contains("estimation mode"))
    // two individually-exact sketches whose UNION crosses the nominal:
    // the per-segment guard passes both, the pair guard must still trip
    val x = blobOf(0, 10000)
    val y = blobOf(10000, 20000)
    ThetaSketch.requireExactMode(x); ThetaSketch.requireExactMode(y)
    val ex2 = intercept[IllegalArgumentException](ThetaSketch.unionEstExact(x, y))
    assert(ex2.getMessage.contains("pair union"))
    assert(ThetaSketch.unionEst(x, y) > 19000L) // plain estimator still answers
  }
}
