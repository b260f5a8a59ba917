package graft.ops

import graft.Tables
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** SURVEY.md §2.K — user-defined function surface.
  *
  * Scale notes (100 TB): a scalar Scala UDF breaks whole-stage codegen, so
  * UDFs are reserved for genuinely non-expressible logic; the protocol-name
  * mapping below exists to prove the Scala UDF path (the same mapping is
  * also expressible as CASE WHEN, which is what the oracle uses). The typed
  * Aggregator keeps its buffer exact (decimal sums) so the merge step is
  * order-independent — mandatory for distributed partial aggregation, where
  * partition merge order is nondeterministic.
  */
object Udfs {

  /** IANA protocol number → name (flow-log enrichment vocabulary). */
  val protocolName: Int => String = {
    case 1  => "ICMP"
    case 6  => "TCP"
    case 17 => "UDP"
    case _  => "OTHER"
  }

  /** Numerically-exact weighted mean: both sums accumulate as BigDecimal
    * (exact, order-independent merge), final division done once in double —
    * the same two correctly-rounded decimal→double conversions and one IEEE
    * division the oracle SQL performs. */
  class WeightedAvg extends Aggregator[(Double, Double), (java.math.BigDecimal, java.math.BigDecimal), Double] {
    private val Zero = java.math.BigDecimal.ZERO
    def zero: (java.math.BigDecimal, java.math.BigDecimal) = (Zero, Zero)
    def reduce(b: (java.math.BigDecimal, java.math.BigDecimal), in: (Double, Double)): (java.math.BigDecimal, java.math.BigDecimal) = {
      val x = java.math.BigDecimal.valueOf(in._1)
      val w = java.math.BigDecimal.valueOf(in._2)
      (b._1.add(x.multiply(w)), b._2.add(w))
    }
    def merge(a: (java.math.BigDecimal, java.math.BigDecimal), b: (java.math.BigDecimal, java.math.BigDecimal)): (java.math.BigDecimal, java.math.BigDecimal) =
      (a._1.add(b._1), a._2.add(b._2))
    def finish(r: (java.math.BigDecimal, java.math.BigDecimal)): Double =
      if (r._2.signum() == 0) Double.NaN
      else r._1.doubleValue() / r._2.doubleValue()
    def bufferEncoder: Encoder[(java.math.BigDecimal, java.math.BigDecimal)] =
      Encoders.tuple(Encoders.DECIMAL, Encoders.DECIMAL)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "udf_protocol_name" -> { (s, d) =>
      val f = udf(protocolName)
      Tables.lineitem(s, d)
        .withColumn("proto_num",
          element_at(array(lit(6), lit(17), lit(1)), (pmod(col("l_suppkey"), lit(3)) + 1).cast("int")))
        .withColumn("proto_name", f(col("proto_num")))
        .groupBy(col("proto_name"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("proto_name").asc)
    },

    "udaf_weighted_avg" -> { (s, d) =>
      val wavg = udaf(new WeightedAvg(), Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(wavg(col("l_quantity"), col("l_extendedprice")).as("w_avg_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc)
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "udf_protocol_name" ->
      """SELECT CASE ([6, 17, 1][(l_suppkey % 3)::INT + 1])
        |         WHEN 1 THEN 'ICMP' WHEN 6 THEN 'TCP' WHEN 17 THEN 'UDP'
        |         ELSE 'OTHER' END AS proto_name,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY proto_name
        |ORDER BY proto_name ASC NULLS FIRST""".stripMargin,

    "udaf_weighted_avg" ->
      """SELECT l_returnflag,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) /
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS w_avg_qty,
        |       count(*) AS n
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag ASC NULLS FIRST""".stripMargin
  )
}
