package graft.flowlog

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.util.zip.GZIPInputStream

import scala.util.Using

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** VPC flow-log domain library (SURVEY.md §2.L, public AWS formats).
  *
  * Pipeline: CloudWatch Logs → subscription filter → Kinesis → this library.
  * Kinesis delivers records as gzip-compressed JSON envelopes (base64 only on
  * the wire; the client API yields raw bytes):
  * {{{
  * {messageType, owner, logGroup, logStream, subscriptionFilters,
  *  logEvents: [{id, timestamp, message}]}
  * }}}
  * each `message` being one space-delimited flow-log line (v2 = 14 fields;
  * v3–v5 append extra fields).
  *
  * Scale notes (100 TB): decode is embarrassingly parallel (per-record UDF —
  * gunzip has no Catalyst builtin; this is the one justified UDF in the
  * engine). Parsing is pure Catalyst (split + element_at + casts, fully
  * codegen). Malformed lines quarantine into a `parse_error` column instead
  * of killing the job — at scale a poison record must never fail a batch.
  */
object FlowLog {

  val envelopeSchema: StructType = StructType(Seq(
    StructField("messageType", StringType),
    StructField("owner", StringType),
    StructField("logGroup", StringType),
    StructField("logStream", StringType),
    StructField("subscriptionFilters", ArrayType(StringType)),
    StructField("logEvents", ArrayType(StructType(Seq(
      StructField("id", StringType),
      StructField("timestamp", LongType),
      StructField("message", StringType)))))))

  /** Closes the stream on every path, so a payload that fails mid-read
    * ends its Inflater's native buffer at once instead of leaving it to
    * the GC cleaner. */
  private def gunzipBytes(bytes: Array[Byte]): String =
    Using.resource(new GZIPInputStream(new ByteArrayInputStream(bytes))) { in =>
      val out = new ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n > 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8)
    }

  /** gunzip as a UDF; returns null (→ quarantine) on corrupt payloads. */
  val gunzip = udf { (bytes: Array[Byte]) =>
    if (bytes == null) null
    else try gunzipBytes(bytes) catch { case _: Exception => null }
  }

  /** Decode a binary envelope column into one row per log event.
    * Input: a DataFrame with `value: BinaryType` (gzip JSON envelope).
    * CONTROL_MESSAGE envelopes and undecodable payloads are dropped.
    * Every flow-log sink and detector passes through here, so it also
    * makes the session's streaming checkpoints fork-free
    * ([[graft.streaming.ForklessLocalFs]]). */
  def decodeEnvelopes(raw: DataFrame, valueCol: String = "value"): DataFrame = {
    graft.streaming.ForklessLocalFs.install(raw.sparkSession)
    raw
      .withColumn("json", gunzip(col(valueCol)))
      .filter(col("json").isNotNull)
      .withColumn("env", from_json(col("json"), envelopeSchema))
      .filter(col("env.messageType") === "DATA_MESSAGE")
      .select(
        col("env.owner").as("owner"),
        col("env.logGroup").as("log_group"),
        col("env.logStream").as("log_stream"),
        explode(col("env.logEvents")).as("ev"))
      .select(col("owner"), col("log_group"), col("log_stream"),
        col("ev.id").as("event_id"),
        timestamp_millis(col("ev.timestamp")).as("event_ts"),
        col("ev.message").as("message"))
  }

  /** Base64-string variant (e.g. Firehose delivery or test fixtures). */
  def decodeBase64Envelopes(raw: DataFrame, valueCol: String = "value"): DataFrame =
    decodeEnvelopes(raw.withColumn("_bin", unbase64(col(valueCol))), "_bin")
      .drop("_bin")

  /** v2 core field names, in wire order (public AWS format). */
  val v2Fields: Seq[String] = Seq(
    "version", "account_id", "interface_id", "srcaddr", "dstaddr",
    "srcport", "dstport", "protocol", "packets", "bytes",
    "start", "end", "action", "log_status")

  /** v3–v5 extension field names appended after the 14 v2 fields. */
  val v5ExtraFields: Seq[String] = Seq(
    "vpc_id", "subnet_id", "instance_id", "tcp_flags", "type",
    "pkt_srcaddr", "pkt_dstaddr", "region", "az_id",
    "sublocation_type", "sublocation_id",
    "pkt_src_aws_service", "pkt_dst_aws_service",
    "flow_direction", "traffic_path")

  /** v7 ECS extension field names (public AWS custom-format fields for
    * Amazon ECS workloads), appended after the v5 extras in this
    * library's canonical custom-format field order — the same
    * append-in-version-order convention the v3–v5 extras follow. */
  val v7EcsFields: Seq[String] = Seq(
    "ecs_cluster_arn", "ecs_cluster_name",
    "ecs_container_instance_arn", "ecs_container_instance_id",
    "ecs_container_id", "ecs_second_container_id",
    "ecs_service_name", "ecs_task_definition_arn",
    "ecs_task_arn", "ecs_task_id")

  private def field(i: Int): Column = {
    // '-' means "no value" in every flow-log field (NODATA/SKIPDATA rows).
    val f = element_at(col("_toks"), i + 1)
    when(f === "-", lit(null).cast(StringType)).otherwise(f)
  }

  /** Parse flow-log `message` lines into typed columns.
    *
    * Lines with fewer than 14 tokens quarantine: typed columns null and
    * `parse_error` holds the raw line (PERMISSIVE-mode idiom). v3–v5 lines
    * (more than 14 tokens) parse the v2 core plus the named extras; v7
    * ECS lines additionally fill the ten `ecs_*` columns. Shorter lines
    * leave every unprovided extension column null — no token bleed.
    */
  def parseFlowLogs(events: DataFrame, messageCol: String = "message"): DataFrame = {
    val extraFields = v5ExtraFields ++ v7EcsFields
    val toked = events
      .withColumn("_alltoks", split(trim(col(messageCol)), "\\s+"))
      .withColumn("_ok", size(col("_alltoks")) >= 14)
      .withColumn("_toks", when(col("_ok"), col("_alltoks"))
        .otherwise(array_repeat(lit("-"), 14 + extraFields.size)))

    val typed = toked
      .withColumn("version", field(0).cast(IntegerType))
      .withColumn("account_id", field(1))
      .withColumn("interface_id", field(2))
      .withColumn("srcaddr", field(3))
      .withColumn("dstaddr", field(4))
      .withColumn("srcport", field(5).cast(IntegerType))
      .withColumn("dstport", field(6).cast(IntegerType))
      .withColumn("protocol", field(7).cast(IntegerType))
      .withColumn("packets", field(8).cast(LongType))
      .withColumn("bytes", field(9).cast(LongType))
      .withColumn("start_ts", timestamp_seconds(field(10).cast(LongType)))
      .withColumn("end_ts", timestamp_seconds(field(11).cast(LongType)))
      .withColumn("action", field(12))
      .withColumn("log_status", field(13))

    val withExtras = extraFields.zipWithIndex.foldLeft(typed) {
      case (df, (name, i)) =>
        df.withColumn(name,
          when(size(col("_alltoks")) > 14 + i, field(14 + i))
            .otherwise(lit(null).cast(StringType)))
    }

    withExtras
      .withColumn("parse_error",
        when(col("_ok"), lit(null).cast(StringType)).otherwise(col(messageCol)))
      .drop("_alltoks", "_ok", "_toks")
  }

  /** Typed v2 record for the Dataset core (SURVEY.md §1.2): use where
    * compile-time safety matters (library consumers, Aggregators); the
    * DataFrame surface remains primary for Catalyst optimization. */
  case class FlowLogRecord(
      version: Option[Int], account_id: Option[String],
      interface_id: Option[String], srcaddr: Option[String],
      dstaddr: Option[String], srcport: Option[Int], dstport: Option[Int],
      protocol: Option[Int], packets: Option[Long], bytes: Option[Long],
      start_ts: Option[java.sql.Timestamp], end_ts: Option[java.sql.Timestamp],
      action: Option[String], log_status: Option[String],
      parse_error: Option[String])

  /** Typed view of parsed flow logs. */
  def toTyped(parsed: DataFrame): Dataset[FlowLogRecord] = {
    val spark = parsed.sparkSession
    import spark.implicits._
    parsed.select(
      col("version"), col("account_id"), col("interface_id"),
      col("srcaddr"), col("dstaddr"), col("srcport"), col("dstport"),
      col("protocol"), col("packets"), col("bytes"),
      col("start_ts"), col("end_ts"), col("action"), col("log_status"),
      col("parse_error")).as[FlowLogRecord]
  }

  /** Derive hive-partition columns from the flow start time. */
  def withDatePartitions(df: DataFrame): DataFrame =
    df.withColumn("dt", date_format(col("start_ts"), "yyyy-MM-dd"))
      .withColumn("hr", date_format(col("start_ts"), "HH"))

  /** Partitioned Parquet sink — the reference pipeline's output layout
    * (`dt=YYYY-MM-DD/hr=HH/`). Under Spark's default static
    * `partitionOverwriteMode`, overwrite replaces EVERY partition under
    * `path`, not only the ones `df` touches, so `path` must hold this
    * write alone (both callers write into a fresh staging or temp dir). */
  def writePartitioned(df: DataFrame, path: String): Unit =
    df.write.partitionBy("dt", "hr").mode("overwrite").parquet(path)

  // ---- the analytic queries such pipelines exist to serve ----

  /** Top-k src→dst pairs by total bytes. */
  def topTalkers(parsed: DataFrame, k: Int = 10): DataFrame =
    parsed
      .filter(col("log_status") === "OK" && col("parse_error").isNull)
      .groupBy(col("srcaddr"), col("dstaddr"))
      .agg(sum(col("bytes")).as("total_bytes"), count(lit(1)).as("n_flows"))
      .orderBy(col("total_bytes").desc, col("srcaddr").asc, col("dstaddr").asc)
      .limit(k)

  /** REJECT count/bytes per ENI per hour. The hour is UTC-truncated and
    * emitted timestamp_ntz (date_trunc returns TIMESTAMP_LTZ — the repo
    * rule: cast straight back or the output type silently changes). */
  def rejectedTrafficReport(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("action") === "REJECT")
      .groupBy(col("interface_id"),
        date_trunc("hour", col("start_ts")).cast("timestamp_ntz").as("hour"))
      .agg(count(lit(1)).as("n_rejects"), sum(col("bytes")).as("reject_bytes"))
      .orderBy(col("interface_id").asc, col("hour").asc)

  /** Bytes / packets / flow count per ENI per hour over OK-status flows —
    * the capacity-trending view; same single-shuffle shape as
    * [[rejectedTrafficReport]]. */
  def bytesPerEniHour(parsed: DataFrame): DataFrame =
    parsed
      .filter(col("log_status") === "OK" && col("parse_error").isNull)
      .groupBy(col("interface_id"),
        date_trunc("hour", col("start_ts")).cast("timestamp_ntz").as("hour"))
      .agg(sum(col("bytes")).as("total_bytes"),
        sum(col("packets")).as("total_packets"),
        count(lit(1)).as("n_flows"))
      .orderBy(col("interface_id").asc, col("hour").asc)

  /** Pair each flow with its reverse direction (A:p1→B:p2 with B:p2→A:p1)
    * inside the same capture window — the standard bidirectional-session
    * reconstruction. Equi-join on the 5-tuple mirror (hash join at scale);
    * the lexicographic guard keeps one row per pair. */
  def pairBidirectional(parsed: DataFrame): DataFrame = {
    val f = parsed.filter(col("parse_error").isNull && col("srcaddr").isNotNull)
    f.as("a").join(f.as("b"),
        col("a.srcaddr") === col("b.dstaddr") &&
          col("a.dstaddr") === col("b.srcaddr") &&
          col("a.srcport") === col("b.dstport") &&
          col("a.dstport") === col("b.srcport") &&
          col("a.protocol") === col("b.protocol") &&
          col("a.start_ts") === col("b.start_ts") &&
          (col("a.srcaddr") < col("b.srcaddr") ||
            (col("a.srcaddr") === col("b.srcaddr") && col("a.srcport") < col("b.srcport"))))
      .select(
        col("a.srcaddr").as("addr_fwd"), col("a.srcport").as("port_fwd"),
        col("b.srcaddr").as("addr_rev"), col("b.srcport").as("port_rev"),
        col("a.bytes").as("bytes_fwd"), col("b.bytes").as("bytes_rev"),
        col("a.action").as("action_fwd"), col("b.action").as("action_rev"))
  }

  /** Exfiltration view over the flow_direction extension (v5+): per
    * destination /24 subnet (dstaddr's first three octets) and `keys`,
    * ingress and egress byte totals and the flow count, kept where BOTH
    * directions occurred, with exfil_ratio = egress / ingress (one double
    * division of exact BIGINTs). Bytes add only when flow_direction is
    * exactly 'ingress' or 'egress'; any other value counts in n_flows
    * alone. The batch `flowlog_exfil_ratio` query and
    * `FlowLogStream.streamExfilRatio` (keyed by its day window) are both
    * this definition, so stream ≡ batch holds by construction. */
  def exfilRatio(flows: DataFrame, keys: Column*): DataFrame = {
    def bytesTo(direction: String) =
      sum(when(col("flow_direction") === direction, col("bytes")).otherwise(0L))
    flows.filter(col("flow_direction").isNotNull)
      .groupBy(substring_index(col("dstaddr"), ".", 3).as("subnet") +: keys: _*)
      .agg(bytesTo("ingress").as("ingress_bytes"),
        bytesTo("egress").as("egress_bytes"), count(lit(1)).as("n_flows"))
      .filter(col("ingress_bytes") > 0 && col("egress_bytes") > 0)
      .withColumn("exfil_ratio",
        col("egress_bytes").cast("double") / col("ingress_bytes").cast("double"))
  }

  /** Port-scan heuristic: sources probing many distinct dst ports. */
  def portScanSuspects(parsed: DataFrame, minPorts: Int = 10): DataFrame =
    parsed
      .filter(col("parse_error").isNull && col("dstport").isNotNull)
      .groupBy(col("srcaddr"))
      .agg(countDistinct(col("dstport")).as("n_ports"),
        sum(when(col("action") === "REJECT", 1).otherwise(0)).as("n_rejects"))
      .filter(col("n_ports") >= minPorts)
      .orderBy(col("n_ports").desc, col("srcaddr").asc)
}
