package graft

import java.math.BigDecimal

import org.apache.spark.sql.functions._

/** Pins the numeric-determinism helpers of [[Tables]] — in particular the
  * documented 2^53 unscaled-sum bound on dsumD's cross-engine determinism
  * claim, with [[Tables.dsum]] as the decimal-output fallback that stays
  * exact beyond it. */
class TablesSpec extends SparkSpec {

  test("dsum decimal path stays exact past the 2^53 unscaled bound where the double path diverges") {
    import spark.implicits._
    // Sum = 900719925474.0995 money units: unscaled 9007199254740995
    // = 2^53 + 3, past the documented bound. Found by search: it is the
    // smallest unscaled value > 2^53 where single- and double-rounding to
    // binary64 disagree.
    val parts = Seq("900719925474.0000", "0.0995")
    val df = parts.map(new BigDecimal(_)).toDF("m")
    val exact = new BigDecimal("900719925474.0995")

    // 1. The decimal fallback (dsum) is exact — bit-identical BigDecimal.
    val gotDec = df.agg(Tables.dsum(col("m")).as("s")).collect()(0)
      .getDecimal(0)
    assert(gotDec.compareTo(exact.setScale(4)) === 0,
      s"decimal sum not exact: $gotDec")

    // 2. dsumD (Spark's path): exact decimal -> double in ONE rounding.
    val gotD = df.agg(Tables.dsumD(col("m")).as("s")).collect()(0).getDouble(0)
    assert(gotD === exact.doubleValue, "dsumD must round the decimal once")

    // 3. The divergence dsumD's scaladoc warns about: an engine that
    // converts the unscaled integer to double FIRST and divides by 10^4
    // after (DuckDB's HUGEINT path) double-rounds to a DIFFERENT double.
    val unscaled = 9007199254740995L // = exact.unscaledValue
    assert(new BigDecimal(java.math.BigInteger.valueOf(unscaled), 4)
      .compareTo(exact) === 0)
    val doubleRounded = unscaled.toDouble / 1e4
    assert(doubleRounded !== exact.doubleValue,
      "witness lost: single- and double-rounding agree for this value")
    // …so past the bound only the decimal output is cross-engine safe.

    // 4. Below the bound the two rounding orders agree (the determinism
    // claim dsumD actually relies on): same construction, unscaled < 2^53.
    val small = new BigDecimal("900719925474.0991") // unscaled 2^53 - 1
    assert(small.unscaledValue().longValueExact() === (1L << 53) - 1)
    assert(small.doubleValue === small.unscaledValue().longValueExact().toDouble / 1e4)
  }

  test("events loader handles both fixture ts layouts (epoch-nanos long and native timestamp)") {
    // The driver has shipped events.ts as parquet timestamp[ns] (read as
    // epoch-nanos LongType under nanosAsLong) and as timestamp[us] (read
    // natively). Both layouts must surface the SAME TIMESTAMP_NTZ column.
    import spark.implicits._
    import org.apache.spark.sql.types.TimestampNTZType
    val dir = tempDir("graft_tables_spec")
    val microsA = 1704067200000000L // 2024-01-01 00:00:00 UTC in µs
    val microsB = microsA + 86400L * 1000000L + 123456L
    // ns layout: a plain INT64 column named ts carrying epoch-nanos
    Seq((0L, microsA * 1000L), (1L, microsB * 1000L)).toDF("event_id", "ts")
      .write.mode("overwrite").parquet(s"$dir/ns/events.parquet")
    // µs layout: a native TIMESTAMP_NTZ column
    Seq((0L, microsA), (1L, microsB)).toDF("event_id", "us")
      .select(col("event_id"),
        expr("timestamp_micros(us)").cast(TimestampNTZType).as("ts"))
      .write.mode("overwrite").parquet(s"$dir/us/events.parquet")
    def rows(sub: String) = Tables.events(spark, s"$dir/$sub")
      .orderBy(col("event_id")).collect()
      .map(r => (r.getLong(0), r.getAs[java.time.LocalDateTime]("ts")))
    val (nsRows, usRows) = (rows("ns"), rows("us"))
    assert(Tables.events(spark, s"$dir/ns").schema("ts").dataType === TimestampNTZType)
    assert(Tables.events(spark, s"$dir/us").schema("ts").dataType === TimestampNTZType)
    assert(nsRows.toSeq === usRows.toSeq,
      "the two physical layouts must decode to identical NTZ timestamps")
    assert(nsRows(1)._2 === java.time.LocalDateTime.of(2024, 1, 2, 0, 0, 0, 123456000))
  }
}
