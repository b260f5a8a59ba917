package graft.ops

import graft.Tables
import graft.Tables.dsumD
import graft.store.SigStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.A — source scan shapes.
  *
  * Scale notes (100 TB): these three queries are the plan-shape probes for the
  * scan path. `src_scan_pruned` must show a 2-column ReadSchema (column
  * pruning into the vectorized Parquet reader) and `src_scan_partition_filter`
  * must show PushedFilters on l_shipdate — at 100 TB those two properties are
  * the difference between reading 2 columns of a few row groups and reading
  * the whole dataset. Verified via `.explain` in PlanSpec.
  */
object Sources {

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    "src_scan_parquet" -> { (s, d) =>
      Tables.lineitem(s, d).agg(
        count(lit(1)).as("n_rows"),
        sum(col("l_linenumber")).as("sum_linenumber"),
        sum(col("l_partkey")).as("sum_partkey"))
    },

    "src_scan_pruned" -> { (s, d) =>
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_quantity"))
        .orderBy(col("l_orderkey").asc, col("l_quantity").asc)
        .limit(1000)
    },

    "src_scan_partition_filter" -> { (s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1998-01-01").cast("timestamp_ntz"))
        .agg(count(lit(1)).as("n_rows"),
          dsumD(col("l_extendedprice")).as("sum_price"))
    },

    // CSV ingestion: orders re-encoded as headered CSV once per fixture
    // signature, read back with an EXPLICIT schema — never inferSchema,
    // which at 100 TB is a full extra pass over the data — and verified
    // value-identical against the parquet oracle. Doubles survive the
    // text roundtrip because Spark writes shortest-round-trip literals
    // (Double.toString) that parse back to the identical bits; the
    // timestamp/JSON-envelope ingestion path is the flow-log library's
    // territory (graft.flowlog).
    "src_scan_csv_roundtrip" -> { (s, d) =>
      val dir = SigStore.getOrBuild(d, "orders", "fmt_orders_csv") {
        Tables.orders(s, d)
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
          .write.mode("overwrite").option("header", "true").csv(_)
      }
      s.read.schema("o_orderkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")
        .option("header", "true").csv(dir)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsumD(col("o_totalprice")).as("sum_price"))
        .orderBy(col("o_orderstatus").asc)
    },

    // JSON-lines ingestion, same contract as the CSV roundtrip: explicit
    // schema (no sampling pass), value-identity proven by sharing the
    // parquet oracle.
    "src_scan_jsonl_roundtrip" -> { (s, d) =>
      val dir = SigStore.getOrBuild(d, "customer", "fmt_customer_jsonl") {
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
          .write.mode("overwrite").json(_)
      }
      s.read.schema("c_custkey BIGINT, c_mktsegment STRING, c_acctbal DOUBLE")
        .json(dir)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n"), dsumD(col("c_acctbal")).as("sum_bal"))
        .orderBy(col("c_mktsegment").asc)
    },

    // Dynamic partition pruning as a DECLARED query — the #1 scan lever
    // at 100 TB (SURVEY §4): the fact lives as a dt=yyyy-MM partitioned
    // layout (written once per source signature, a SigStore store),
    // the dim is a tiny FILE-BACKED month table (a LocalRelation dim
    // constant-folds its filter away and the DPP rule never sees a
    // filtered build side — the round-4 lesson), and the mth <= 3 dim
    // filter reaches the fact scan only at RUNTIME, as a
    // dynamicpruningexpression partition filter fed by the broadcast: the
    // fact's dt value set is not known until the dim side is evaluated,
    // so static pruning cannot do this. Reads ~3/12 of the partitions
    // instead of all of them; PlanSpec asserts `dynamicpruning` on the
    // finalized plan. Oracle = the identical join on the unpartitioned
    // table, so losslessness of the layout+pruning is driver-checked.
    "src_scan_partitioned_dpp" -> { (s, d) =>
      val factDir = SigStore.getOrBuild(d, "orders", "fmt_orders_dtpart") {
        Tables.orders(s, d)
          .withColumn("dt", date_format(col("o_orderdate"), "yyyy-MM"))
          .write.mode("overwrite").partitionBy("dt").parquet(_)
      }
      val dimDir = SigStore.getOrBuild(d, "orders", "fmt_orders_dppdim") {
        Tables.orders(s, d)
          .select(date_format(col("o_orderdate"), "yyyy-MM").as("dt"),
            month(col("o_orderdate")).cast("long").as("mth"))
          .distinct()
          .write.mode("overwrite").parquet(_)
      }
      s.read.parquet(factDir)
        .join(s.read.parquet(dimDir).filter(col("mth") <= 3), Seq("dt"))
        .agg(count(lit(1)).as("n_rows"),
          dsumD(col("o_totalprice")).as("sum_price"))
    },

    // SCHEMA EVOLUTION across parquet batches — the 100 TB reality that a
    // long-lived table's early files lack columns added later: the
    // pre-2000 batch is written WITHOUT o_orderpriority, the later batch
    // WITH it, and the query reads both through mergeSchema (an explicit
    // opt-in — schema merging is a footer pass over every file, so at
    // scale the union schema lives in a catalog and this flag is the
    // migration-time tool). Old rows surface NULL in the added column
    // and are bucketed under a sentinel; the oracle replays the split
    // from the unsplit table, so the write/merge/read cycle is proven
    // lossless for both the shared and the added column.
    "src_scan_schema_evolution" -> { (s, d) =>
      val split = lit("2000-01-01").cast("timestamp_ntz")
      val d1 = SigStore.getOrBuild(d, "orders", "fmt_orders_sev_v1") {
        Tables.orders(s, d).filter(col("o_orderdate") < split)
          .select(col("o_orderkey"), col("o_totalprice"))
          .write.mode("overwrite").parquet(_)
      }
      val d2 = SigStore.getOrBuild(d, "orders", "fmt_orders_sev_v2") {
        Tables.orders(s, d).filter(col("o_orderdate") >= split)
          .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority"))
          .write.mode("overwrite").parquet(_)
      }
      s.read.option("mergeSchema", "true").parquet(d1, d2)
        .groupBy(coalesce(col("o_orderpriority"), lit("<pre-schema>")).as("prio"))
        .agg(count(lit(1)).as("n"), dsumD(col("o_totalprice")).as("sum_price"))
        .orderBy(col("prio").asc)
    },

    // ORC ingestion roundtrip, same contract as CSV/JSONL: re-encode a
    // fixture table once (signature-keyed cache dir), read it back through
    // the columnar ORC reader, prove value identity by sharing the parquet
    // oracle. ORC carries its own schema + column stats, so unlike the
    // text formats no explicit read schema is needed and predicate
    // pushdown/column pruning work as for parquet.
    "src_scan_orc_roundtrip" -> { (s, d) =>
      val dir = SigStore.getOrBuild(d, "part", "fmt_part_orc") {
        Tables.part(s, d)
          .select(col("p_partkey"), col("p_brand"), col("p_retailprice"))
          .write.mode("overwrite").orc(_)
      }
      s.read.orc(dir)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), dsumD(col("p_retailprice")).as("sum_price"))
        .orderBy(col("p_brand").asc)
    }
  )

  val oracles: Seq[(String, String)] = Seq(
    "src_scan_parquet" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber,
        |       CAST(sum(l_partkey) AS BIGINT) AS sum_partkey
        |FROM lineitem""".stripMargin,

    "src_scan_pruned" ->
      """SELECT l_orderkey, l_quantity FROM lineitem
        |ORDER BY l_orderkey ASC NULLS FIRST, l_quantity ASC NULLS FIRST
        |LIMIT 1000""".stripMargin,

    "src_scan_partition_filter" ->
      """SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1998-01-01 00:00:00'""".stripMargin,

    // The roundtrip queries read the re-encoded copy; the oracle reads
    // the original parquet — equality IS the lossless-roundtrip proof.
    "src_scan_csv_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus ASC NULLS FIRST""".stripMargin,

    "src_scan_jsonl_roundtrip" ->
      """SELECT c_mktsegment, count(*) AS n,
        |       CAST(sum(CAST(c_acctbal AS DECIMAL(38,4))) AS DOUBLE) AS sum_bal
        |FROM customer
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC NULLS FIRST""".stripMargin,

    // The oracle runs the same dim-filtered join over the UNPARTITIONED
    // table: partition layout + DPP move the read set, never the rows.
    "src_scan_partitioned_dpp" ->
      """WITH f AS (SELECT o_totalprice, strftime(o_orderdate, '%Y-%m') AS dt
        |           FROM orders),
        |dim AS (SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS dt,
        |               CAST(month(o_orderdate) AS BIGINT) AS mth
        |        FROM orders)
        |SELECT count(*) AS n_rows,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM f JOIN dim USING (dt)
        |WHERE mth <= 3""".stripMargin,

    "src_scan_schema_evolution" ->
      """SELECT CASE WHEN o_orderdate < TIMESTAMP '2000-01-01 00:00:00'
        |            THEN '<pre-schema>' ELSE o_orderpriority END AS prio,
        |       count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM orders
        |GROUP BY 1
        |ORDER BY prio ASC NULLS FIRST""".stripMargin,

    "src_scan_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n,
        |       CAST(sum(CAST(p_retailprice AS DECIMAL(38,4))) AS DOUBLE) AS sum_price
        |FROM part
        |GROUP BY p_brand
        |ORDER BY p_brand ASC NULLS FIRST""".stripMargin
  )
}
