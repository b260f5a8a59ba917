package graft.flowlog

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPOutputStream

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Golden-file tests for the flow-log library (FIXTURES.md §4 vectors). */
class FlowLogSpec extends SparkSpec {

  private def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8)); gz.close()
    bos.toByteArray
  }

  private val dataEnvelope =
    """{"messageType":"DATA_MESSAGE","owner":"123456789012",
      |"logGroup":"vpc-flow-logs","logStream":"eni-0abc-all",
      |"subscriptionFilters":["flowlogs-to-kinesis"],
      |"logEvents":[
      |{"id":"361","timestamp":1704067200000,
      | "message":"2 123456789012 eni-0abc1234 10.0.1.5 10.0.2.9 443 49152 6 10 8400 1704067140 1704067200 ACCEPT OK"},
      |{"id":"362","timestamp":1704067201000,
      | "message":"2 123456789012 eni-0abc1234 10.0.2.9 10.0.1.5 49152 443 6 2 120 1704067140 1704067200 REJECT OK"},
      |{"id":"363","timestamp":1704067202000,
      | "message":"2 123456789012 eni-0def5678 - - - - - - - 1704067140 1704067200 - NODATA"},
      |{"id":"364","timestamp":1704067203000,
      | "message":"2 123456789012 eni-0def5678 - - - - - - - 1704067140 1704067200 - SKIPDATA"},
      |{"id":"365","timestamp":1704067204000,
      | "message":"garbage line with too few"},
      |{"id":"366","timestamp":1704067205000,
      | "message":"5 123456789012 eni-0abc1234 10.0.1.5 10.0.2.9 443 49152 6 10 8400 1704067140 1704067200 ACCEPT OK vpc-0a sub-0b i-0c 19 IPv4 10.0.1.5 10.0.2.9 us-east-1 use1-az1 - - - - ingress 1"}
      |]}""".stripMargin.replace("\n", "")

  private val controlEnvelope =
    """{"messageType":"CONTROL_MESSAGE","owner":"123456789012","logGroup":"g","logStream":"s",
      |"subscriptionFilters":[],"logEvents":[{"id":"1","timestamp":0,"message":"CWL CONTROL MESSAGE"}]}"""
      .stripMargin.replace("\n", "")

  private def decoded() = {
    import spark.implicits._
    val raw = Seq(gzip(dataEnvelope), gzip(controlEnvelope),
      "not gzip at all".getBytes(UTF_8)).toDF("value")
    FlowLog.decodeEnvelopes(raw)
  }

  test("envelope decode: flattens DATA_MESSAGE events, drops CONTROL and corrupt") {
    val events = decoded().collect()
    assert(events.length === 6)
    assert(events.map(_.getAs[String]("event_id")).sorted ===
      Array("361", "362", "363", "364", "365", "366"))
    assert(events.forall(_.getAs[String]("log_group") == "vpc-flow-logs"))
  }

  test("base64 variant decodes the same events") {
    import spark.implicits._
    val b64 = java.util.Base64.getEncoder.encodeToString(gzip(dataEnvelope))
    val events = FlowLog.decodeBase64Envelopes(Seq(b64).toDF("value"))
    assert(events.count() === 6)
  }

  test("v2 parse: typed columns, ACCEPT/REJECT rows") {
    val parsed = FlowLog.parseFlowLogs(decoded()).collect()
      .map(r => r.getAs[String]("event_id") -> r).toMap
    val accept = parsed("361")
    assert(accept.getAs[Int]("version") === 2)
    assert(accept.getAs[String]("srcaddr") === "10.0.1.5")
    assert(accept.getAs[Int]("srcport") === 443)
    assert(accept.getAs[Int]("protocol") === 6)
    assert(accept.getAs[Long]("packets") === 10L)
    assert(accept.getAs[Long]("bytes") === 8400L)
    assert(accept.getAs[String]("action") === "ACCEPT")
    assert(accept.getAs[String]("log_status") === "OK")
    assert(accept.getAs[java.sql.Timestamp]("start_ts").toInstant.getEpochSecond === 1704067140L)
    assert(parsed("362").getAs[String]("action") === "REJECT")
  }

  test("NODATA/SKIPDATA rows: dashes become nulls, status preserved") {
    val parsed = FlowLog.parseFlowLogs(decoded()).collect()
      .map(r => r.getAs[String]("event_id") -> r).toMap
    val nodata = parsed("363")
    assert(nodata.getAs[String]("srcaddr") === null)
    assert(nodata.getAs[Any]("srcport") === null)
    assert(nodata.getAs[Any]("packets") === null)
    assert(nodata.getAs[String]("action") === null)
    assert(nodata.getAs[String]("log_status") === "NODATA")
    assert(parsed("364").getAs[String]("log_status") === "SKIPDATA")
  }

  test("malformed line quarantines without failing") {
    val parsed = FlowLog.parseFlowLogs(decoded()).collect()
      .map(r => r.getAs[String]("event_id") -> r).toMap
    val bad = parsed("365")
    assert(bad.getAs[String]("parse_error") === "garbage line with too few")
    assert(bad.getAs[Any]("version") === null)
    assert(parsed("361").getAs[String]("parse_error") === null)
  }

  test("v5 line: v2 core plus extension fields") {
    val parsed = FlowLog.parseFlowLogs(decoded()).collect()
      .map(r => r.getAs[String]("event_id") -> r).toMap
    val v5 = parsed("366")
    assert(v5.getAs[Int]("version") === 5)
    assert(v5.getAs[String]("vpc_id") === "vpc-0a")
    assert(v5.getAs[String]("instance_id") === "i-0c")
    assert(v5.getAs[String]("tcp_flags") === "19")
    assert(v5.getAs[String]("flow_direction") === "ingress")
    assert(v5.getAs[String]("traffic_path") === "1")
    assert(v5.getAs[String]("sublocation_type") === null) // '-' → null
  }

  test("v7 ECS line: v2 core + v5 extras + the ten ecs_* fields; shorter versions leave them null") {
    import spark.implicits._
    val v7line = "7 123456789012 eni-0abc1234 10.0.1.5 10.0.2.9 443 49152 " +
      "6 10 8400 1704067140 1704067200 ACCEPT OK " +
      "vpc-0a sub-0b i-0c 19 IPv4 10.0.1.5 10.0.2.9 us-east-1 use1-az1 " +
      "- - - - egress 2 " +
      "arn:aws:ecs:us-east-1:123456789012:cluster/prod prod " +
      "arn:aws:ecs:us-east-1:123456789012:container-instance/ci-9 ci-9 " +
      "cont-42 - svc-api " +
      "arn:aws:ecs:us-east-1:123456789012:task-definition/api:3 " +
      "arn:aws:ecs:us-east-1:123456789012:task/prod/task-1 task-1"
    val v7 = FlowLog.parseFlowLogs(Seq(v7line).toDF("message")).head()
    assert(v7.getAs[String]("parse_error") === null)
    assert(v7.getAs[Int]("version") === 7)
    // core and v5 extras parse unchanged through the longer line
    assert(v7.getAs[Long]("bytes") === 8400L)
    assert(v7.getAs[String]("flow_direction") === "egress")
    assert(v7.getAs[String]("traffic_path") === "2")
    // the ten ECS fields land in their named columns
    assert(v7.getAs[String]("ecs_cluster_arn") ===
      "arn:aws:ecs:us-east-1:123456789012:cluster/prod")
    assert(v7.getAs[String]("ecs_cluster_name") === "prod")
    assert(v7.getAs[String]("ecs_container_instance_id") === "ci-9")
    assert(v7.getAs[String]("ecs_container_id") === "cont-42")
    assert(v7.getAs[String]("ecs_second_container_id") === null) // '-' → null
    assert(v7.getAs[String]("ecs_service_name") === "svc-api")
    assert(v7.getAs[String]("ecs_task_definition_arn") ===
      "arn:aws:ecs:us-east-1:123456789012:task-definition/api:3")
    assert(v7.getAs[String]("ecs_task_arn") ===
      "arn:aws:ecs:us-east-1:123456789012:task/prod/task-1")
    assert(v7.getAs[String]("ecs_task_id") === "task-1")
    // v5 and v2 lines must leave every ECS column null (no token bleed)
    val parsed = FlowLog.parseFlowLogs(decoded()).collect()
      .map(r => r.getAs[String]("event_id") -> r).toMap
    assert(parsed("366").getAs[String]("ecs_cluster_arn") === null)
    assert(parsed("361").getAs[String]("ecs_task_id") === null)
  }

  test("partitioned sink round-trip preserves rows and layout") {
    val out = tempDir("flowlog_sink")
    val parsed = FlowLog.withDatePartitions(
      FlowLog.parseFlowLogs(decoded()).filter(col("parse_error").isNull))
    FlowLog.writePartitioned(parsed, out)
    val back = spark.read.parquet(out)
    assert(back.count() === parsed.count())
    // partition-column type inference reads dt back as DATE
    assert(back.select("dt").distinct().collect().map(_.get(0).toString) ===
      Array("2023-12-31"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory).map(_.getName)
    assert(dirs.exists(_.startsWith("dt=")))
  }

  test("typed Dataset core: parsed rows round-trip through FlowLogRecord") {
    val typed = FlowLog.toTyped(FlowLog.parseFlowLogs(decoded())).collect()
    assert(typed.length === 6)
    val accept = typed.find(_.srcport.contains(443)).get
    assert(accept.action === Some("ACCEPT"))
    assert(accept.bytes === Some(8400L))
    val nodata = typed.filter(_.log_status.contains("NODATA"))
    assert(nodata.nonEmpty && nodata.forall(_.srcaddr.isEmpty))
  }

  test("raw text-file read path: spark.read.text + parse (SURVEY §2.A source row)") {
    val dir = tempDir("flowlog_txt")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/flows.txt"),
      Seq(
        "2 1 eni-a 10.0.0.1 10.0.0.2 443 80 6 1 100 1704067140 1704067200 ACCEPT OK",
        "2 1 eni-b 10.0.0.3 10.0.0.4 22 4242 6 2 200 1704067140 1704067200 REJECT OK",
        "short bad line").mkString("\n"))
    val parsed = FlowLog.parseFlowLogs(
      spark.read.text(dir).withColumnRenamed("value", "message"))
    assert(parsed.count() === 3)
    assert(parsed.filter(col("parse_error").isNull).count() === 2)
    assert(parsed.filter(col("action") === "REJECT").head()
      .getAs[String]("interface_id") === "eni-b")
  }

  test("top talkers ranks by bytes") {
    val parsed = FlowLog.parseFlowLogs(decoded())
    val top = FlowLog.topTalkers(parsed, 2).collect()
    assert(top.length === 2)
    assert(top.head.getAs[String]("srcaddr") === "10.0.1.5")
    assert(top.head.getAs[Long]("total_bytes") === 16800L) // 8400 v2 + 8400 v5
  }

  test("rejected traffic report aggregates per ENI per hour") {
    val rep = FlowLog.rejectedTrafficReport(FlowLog.parseFlowLogs(decoded())).collect()
    assert(rep.length === 1)
    assert(rep.head.getAs[String]("interface_id") === "eni-0abc1234")
    assert(rep.head.getAs[Long]("n_rejects") === 1L)
    assert(rep.head.getAs[Long]("reject_bytes") === 120L)
  }

  test("from_csv space-separated parse agrees with the split parser on v2 lines") {
    import spark.implicits._
    val line = "2 1 eni-a 10.0.0.1 10.0.0.2 443 80 6 7 700 1704067140 1704067200 ACCEPT OK"
    val viaCsv = Seq(line).toDF("message")
      .select(from_csv(col("message"),
        org.apache.spark.sql.types.StructType(FlowLog.v2Fields.map(
          org.apache.spark.sql.types.StructField(_, org.apache.spark.sql.types.StringType))),
        Map("sep" -> " ")).as("r"))
      .select(col("r.*")).head()
    val viaSplit = FlowLog.parseFlowLogs(Seq(line).toDF("message")).head()
    assert(viaCsv.getAs[String]("srcaddr") === viaSplit.getAs[String]("srcaddr"))
    assert(viaCsv.getAs[String]("bytes") === viaSplit.getAs[Long]("bytes").toString)
    assert(viaCsv.getAs[String]("action") === viaSplit.getAs[String]("action"))
  }

  test("bidirectional pairing matches a flow with its reverse") {
    val pairs = FlowLog.pairBidirectional(FlowLog.parseFlowLogs(decoded())).collect()
    // fixture: 361 (v2) and 366 (v5) are both 10.0.1.5:443 → 10.0.2.9:49152;
    // 362 is the reverse — so the reverse pairs with each forward flow.
    assert(pairs.length === 2)
    pairs.foreach { p =>
      assert(p.getAs[String]("addr_fwd") === "10.0.1.5")
      assert(p.getAs[String]("addr_rev") === "10.0.2.9")
      assert(p.getAs[Long]("bytes_fwd") === 8400L)
      assert(p.getAs[Long]("bytes_rev") === 120L)
      assert(p.getAs[String]("action_rev") === "REJECT")
    }
  }

  test("port scan suspects: distinct-port threshold") {
    import spark.implicits._
    val lines = (1 to 15).map(p =>
      s"2 1 eni-scan 10.0.0.99 10.0.0.1 40000 $p 6 1 40 1704067140 1704067200 REJECT OK")
      .toDF("message")
    val sus = FlowLog.portScanSuspects(FlowLog.parseFlowLogs(lines), minPorts = 10).collect()
    assert(sus.length === 1)
    assert(sus.head.getAs[String]("srcaddr") === "10.0.0.99")
    assert(sus.head.getAs[Long]("n_ports") === 15L)
  }

  test("synthetic envelope fixture: line conservation and every parse branch fires") {
    // The declared flowlog_* queries ride this fixture; the oracle gate
    // pins values, this pins STRUCTURE: the gzip+JSON roundtrip conserves
    // exactly one parsed line per event row (control and non-gzip payloads
    // dropped), v2/v5/NODATA/SKIPDATA/quarantine all occur (the round-8
    // vacuity rule), and v5 extras parse into their named columns.
    val sf = "/root/testdata/sf0.001"
    val events = graft.Tables.events(spark, sf)
    val n = events.count()
    // one line per event + one reverse mirror per normal %11 row
    val nMirror = events.filter(expr(
      """event_id % 103 <> 0 AND event_id % 97 <> 0
        |AND event_id % 101 <> 0 AND event_id % 11 = 0"""
        .stripMargin.replace("\n", " "))).count()
    val parsed = FlowLog.parseFlowLogs(
      FlowLog.decodeEnvelopes(FlowLogQueries.syntheticEnvelopes(events)))
      .cache()
    try {
      assert(parsed.count() === n + nMirror,
        "envelope roundtrip lost or invented lines")
      assert(nMirror > 0, "no mirror sessions planted (vacuous bidir fixture)")
      val byStatus = parsed
        .groupBy(when(col("parse_error").isNotNull, lit("QUARANTINED"))
          .otherwise(col("log_status")).as("st"))
        .count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(byStatus.keySet === Set("OK", "NODATA", "SKIPDATA", "QUARANTINED"),
        s"missing parse branches: $byStatus")
      assert(byStatus.values.forall(_ > 0))
      // v2, v5 and v7 all occur, and extension rows carry parsed extras
      val v5 = parsed.filter(col("version") === 5)
      val v7 = parsed.filter(col("version") === 7)
      assert(v5.count() > 0 && v7.count() > 0 &&
        parsed.filter(col("version") === 2).count() > 0)
      assert(v5.filter(col("vpc_id") =!= "vpc-graft" ||
        col("flow_direction").isNull).count() === 0,
        "v5 extras failed to parse into named columns")
      // v7 rows carry BOTH extension layers, with the planted '-' null
      assert(v7.filter(col("flow_direction").isNull ||
        col("ecs_service_name").isNull || col("ecs_task_id").isNull ||
        col("ecs_second_container_id").isNotNull).count() === 0,
        "v7 ECS fields failed to parse into named columns")
      // v2/v5 rows must leave every unprovided extra null (no token bleed)
      assert(parsed.filter(col("version") === 2 &&
        col("parse_error").isNull && col("vpc_id").isNotNull).count() === 0)
      assert(parsed.filter(col("version") === 5 &&
        col("ecs_cluster_arn").isNotNull).count() === 0)
      // NAT branch (round 16): %8=6 extension rows carry a pkt_srcaddr
      // that DIVERGES from srcaddr (the unwrap population), all others
      // carry pkt_srcaddr = srcaddr — both branches must fire (vacuity)
      val ext = parsed.filter(col("pkt_srcaddr").isNotNull)
      val natRows = ext.filter(col("pkt_srcaddr") =!= col("srcaddr"))
      assert(natRows.count() > 0, "no NAT-unwrapped rows (vacuous fixture)")
      assert(ext.filter(col("pkt_srcaddr") === col("srcaddr")).count() > 0,
        "every extension row diverged — the non-NAT branch is vacuous")
      assert(natRows.filter(!col("pkt_srcaddr").startsWith("192.168.")).count() === 0,
        "NAT-unwrapped pkt_srcaddr escaped its address space")
      // SYN-no-ACK branch: both sides of the tcp_flags mask occur
      val flagsI = col("tcp_flags").cast("int")
      val synNoAck = (flagsI.bitwiseAND(lit(2)) =!= 0) &&
        (flagsI.bitwiseAND(lit(16)) === 0)
      assert(ext.filter(synNoAck).count() > 0, "no SYN-no-ACK rows")
      assert(ext.filter(!synNoAck).count() > 0, "all rows SYN-no-ACK")
      // pkt_dst_aws_service: both tagged classes and the untagged null
      // branch occur (round-16 service-endpoint population)
      val svc = ext.filter(col("pkt_dst_aws_service").isNotNull)
      assert(svc.select("pkt_dst_aws_service").distinct().collect()
        .map(_.getString(0)).toSet === Set("S3", "DYNAMODB"),
        "service-endpoint tags missing a class")
      assert(ext.filter(col("pkt_dst_aws_service").isNull).count() > 0,
        "every extension row got a service tag — the null branch is vacuous")
      // pkt_src_aws_service: the origin-side mirror population
      assert(ext.filter(col("pkt_src_aws_service").isNotNull)
        .select("pkt_src_aws_service").distinct().collect()
        .map(_.getString(0)).toSet === Set("S3", "CLOUDFRONT"),
        "service-origin tags missing a class")
      // dst-side translation: both branches, translated space 172.16.*
      val dstNat = ext.filter(col("pkt_dstaddr") =!= col("dstaddr"))
      assert(dstNat.count() > 0, "no dst-translated rows (vacuous fixture)")
      assert(ext.filter(col("pkt_dstaddr") === col("dstaddr")).count() > 0,
        "every extension row dst-diverged — the untranslated branch is vacuous")
      assert(dstNat.filter(!col("pkt_dstaddr").startsWith("172.16.")).count() === 0,
        "dst-translated pkt_dstaddr escaped its address space")
      // src/dst translation classes are disjoint by residue
      assert(dstNat.filter(col("pkt_srcaddr") =!= col("srcaddr")).count() === 0,
        "a row is both src- and dst-translated — residue classes overlap")
      // sublocation: all three public types, id paired with type
      val subl = ext.filter(col("sublocation_type").isNotNull)
      assert(subl.select("sublocation_type").distinct().collect()
        .map(_.getString(0)).toSet === Set("wavelength", "outpost", "localzone"),
        "sublocation types incomplete")
      assert(subl.filter(col("sublocation_id").isNull).count() === 0,
        "sublocation id missing where type present")
      assert(ext.filter(col("sublocation_type").isNull &&
        col("sublocation_id").isNotNull).count() === 0,
        "sublocation id present without a type")
    } finally parsed.unpersist()
  }

  test("partitioned sink readback prunes dt/hr partitions at the scan") {
    // flowlog_partitioned_sink_read declares the dt/hr parquet layout;
    // the oracle pins VALUES, this pins the layout's point — the dt/hr
    // predicates must land as PartitionFilters (directory pruning), not
    // row-level data filters. Execute first (round-4 AQE rule), widen the
    // metadata print limit (round-13 truncation rule).
    val sf = "/root/testdata/sf0.001"
    val prevMeta = spark.conf.get("spark.sql.maxMetadataStringLength", "100")
    spark.conf.set("spark.sql.maxMetadataStringLength", "4000")
    try {
      val q = graft.SparkEntry.queries("flowlog_partitioned_sink_read")(spark, sf)
      assert(q.collect().nonEmpty, "pruned readback returned no rows")
      val plan = q.queryExecution.executedPlan.toString
      val scanLines = plan.linesIterator
        .filter(_.contains("PartitionFilters")).toSeq
      assert(scanLines.nonEmpty, s"no partition filters in:\n$plan")
      assert(scanLines.exists(l => l.contains("dt") && l.contains("hr")),
        s"dt/hr not pruned at the scan:\n${scanLines.mkString("\n")}")
      // the partition predicates must NOT degrade to row-level filters
      assert(!plan.replaceAll("(?s)PartitionFilters.*", "")
        .contains("EqualTo(dt"), "dt filter applied row-level")
    } finally spark.conf.set("spark.sql.maxMetadataStringLength", prevMeta)
  }

  test("beacon regularity: a perfectly periodic channel scores dispersion 0 and ranks first") {
    // Hand-built parse input: channel A fires every 60 s (dispersion 0),
    // channel B fires with jitter (dispersion > 0), channel C has n < 5
    // (filtered). Pins the gap fold m·Σg²−(Σg)² independently of the
    // fixture arithmetic the oracle uses.
    val a = (0 until 6).map(i => s"2 123456789012 eni-1 10.0.0.1 10.1.0.1 1024 443 6 1 40 ${1000 + 60 * i} ${1000 + 60 * i + 1} ACCEPT OK")
    val b = Seq(0, 50, 130, 170, 260).map(t => s"2 123456789012 eni-1 10.0.0.2 10.1.0.2 1024 80 6 1 40 ${2000 + t} ${2000 + t + 1} ACCEPT OK")
    val c = Seq(0, 60).map(t => s"2 123456789012 eni-1 10.0.0.3 10.1.0.3 1024 22 6 1 40 ${3000 + t} ${3000 + t + 1} ACCEPT OK")
    import spark.implicits._
    val parsed = FlowLog.parseFlowLogs((a ++ b ++ c).toDF("message"))
      .select(col("srcaddr"), col("dstport").cast("long").as("dstport"),
        col("start_ts").cast("long").as("start_s"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("srcaddr"), col("dstport")).orderBy(col("start_s").asc)
    val got = parsed
      .withColumn("gap", col("start_s") - lag(col("start_s"), 1).over(w))
      .groupBy(col("srcaddr"), col("dstport"))
      .agg(count(lit(1)).as("n"), sum(col("gap")).as("sg"),
        sum(col("gap") * col("gap")).as("ss"))
      .filter(col("n") >= 5)
      .select(col("srcaddr"),
        ((col("n") - lit(1L)) * col("ss") - col("sg") * col("sg")).as("disp"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.keySet === Set("10.0.0.1", "10.0.0.2"), s"wrong channels: $got")
    assert(got("10.0.0.1") === 0L, "periodic channel must score 0")
    // B: gaps 50,80,40,90 → m=4, Σg=260, Σg²=18600 → 4·18600−260²=6800
    assert(got("10.0.0.2") === 6800L, s"jittered channel dispersion: $got")
  }
}
