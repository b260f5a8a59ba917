package perfbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

/** Seeded generator of CloudWatch Logs → Kinesis flow-log records: gzip JSON
  * envelopes as a Kinesis consumer receives them. Batch `i` depends only on
  * (seed, i), so a seed fixes every byte.
  *
  * The line population is the program's own envelope fixture
  * (`graft.flowlog.FlowLogQueries.syntheticLines`), the one its flow-log
  * reports and their DuckDB oracles are checked on: a batch's regular lines
  * take consecutive event ids from a seeded origin and every field is the
  * fixture's arithmetic on the id. That fixes
  *  - the line mix: CORRUPT lines (id % 103 = 0, quarantined), NODATA
  *    (% 97) and SKIPDATA (% 101) lines at about 1% each; of the rest, v7
  *    ECS lines for id % 10 = 4 (10%), v5 for other even ids (40%), v2 for
  *    odd ids (50%), plus a reverse-direction v2 mirror line for id % 11 = 0;
  *  - the v5 extras: NAT-unwrapped pkt_srcaddr (% 8 = 6), translated
  *    pkt_dstaddr (% 8 = 2), pkt_src/dst_aws_service (% 16), sublocations
  *    (% 24 = 18), flow_direction ingress/egress; the v7 ECS fields;
  *  - destinations (30 /24 subnets of 10.1.0.0/16), ports, protocol,
  *    packets, bytes and REJECTs;
  *  - envelopes of at most 50 events, one CONTROL_MESSAGE envelope and one
  *    non-gzip payload per batch.
  *
  * What a stream adds to the fixture:
  *  - sources: the fixture's 20 source hosts, drawn Zipf-skewed with s = 1
  *    (Zipf's law in its plain form; neither the fixture nor the query data
  *    has a measured skew to take);
  *  - planted patterns for the detectors, sized from their defaults in
  *    `FlowLogStream`: three port scanners probing 12 random ports a batch,
  *    so each passes `streamPortScan`'s minPorts = 10 in its first batch;
  *    beacons every 5, 10, 15 and 20 minutes (two more with up to 30 s of
  *    jitter), so every channel has `streamBeaconRegularity`'s minFlows = 5
  *    flows in one batch;
  *  - event time: batch `i` covers [T0 + i·SliceSec, T0 + (i+1)·SliceSec);
  *    a regular line starts up to MaxLateSec = 20 minutes before its nominal
  *    time, inside the detectors' 30-minute watermark; SliceSec is an eighth
  *    of a day, so a UTC day closes (and its state retires) within the ~9
  *    batches of a run;
  *  - arrival order shuffled inside each batch.
  */
final class FlowGen(seed: Long) {
  import FlowGen._

  private def rng(i: Long) = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i)

  /** One micro-batch: its payloads and the ground truth of its lines. */
  def batch(i: Int): Batch = {
    val r = rng(i)
    val base = T0 + i * SliceSec
    val lines = Array.newBuilder[Line]
    var n = 0
    def add(l: Line): Unit = { lines += l; n += 1 }
    for (s <- 0 until 3; _ <- 0 until 12) {
      val b = 40L + r.nextInt(40)
      add(v2Line(s"scan$i-$n", s"192.168.77.${s + 1}", s"10.1.${r.nextInt(30)}.${r.nextInt(25)}",
        40000 + r.nextInt(20000), 1 + r.nextInt(1024), 6, 1, b, base + r.nextLong(SliceSec),
        1, if (r.nextInt(10) < 8) "REJECT" else "ACCEPT"))
    }
    for ((period, c) <- Seq(300L, 600L, 900L, 1200L, 600L, 900L).zipWithIndex) {
      var t = base + ((period - base % period) % period)
      while (t < base + SliceSec) {
        add(v2Line(s"beacon$i-$n", s"10.9.0.${c + 1}", s"203.0.113.${c + 10}", 50000 + c,
          if (c % 2 == 0) 8443 else 4444, 6, 1, 300L + c, if (c >= 4) t + r.nextInt(30) else t,
          1, "ACCEPT"))
        t += period
      }
    }
    var id = r.nextLong(1L << 40)
    while (n < LinesPerBatch) {
      val start = base + r.nextLong(SliceSec) - r.nextInt(MaxLateSec)
      val src = source(r)
      add(fixtureLine(id, src, start))
      if (n < LinesPerBatch && id % 11 == 0 && id % 103 != 0 && id % 97 != 0 && id % 101 != 0)
        add(mirrorLine(id, src, start))
      id += 1
    }
    val all = lines.result()
    for (k <- all.length - 1 to 1 by -1) {
      val j = r.nextInt(k + 1); val t = all(k); all(k) = all(j); all(j) = t
    }
    val payloads = Array.newBuilder[Array[Byte]]
    all.grouped(EventsPerEnvelope).zipWithIndex.foreach { case (evs, e) =>
      payloads += envelope("DATA_MESSAGE", s"eni-stream-${e % 8}",
        evs.toSeq.map(l => (l.rid, l.start * 1000L, l.message)))
    }
    payloads += envelope("CONTROL_MESSAGE", "control", Seq.empty)
    payloads += "not-gzip".getBytes(UTF_8)
    Batch(payloads.result(), all.length, all.count(_.quarantined), all.map(_.bytes).sum)
  }

  /** A single v5 line two days past batch `last`: it advances every
    * detector's watermark beyond all earlier days, so they all close. */
  def flush(last: Int): Batch = {
    val l = fixtureLine(2L, "10.0.0.0", T0 + (last + 1) * SliceSec + 2 * 86400L)
    Batch(Array(envelope("DATA_MESSAGE", "flush", Seq(("flush", l.start * 1000L, l.message)))),
      1, 0, l.bytes)
  }
}

object FlowGen {
  val T0: Long = 1709251200L // 2024-03-01T00:00:00Z
  val Account = "123456789012"
  val LinesPerBatch = 2000
  val EventsPerEnvelope = 50
  val SliceSec: Long = 86400L / 8
  val MaxLateSec = 1200

  final case class Batch(payloads: Array[Array[Byte]], lines: Int,
      quarantined: Int, bytesSum: Long)

  /** A flow-log line, its envelope event id and start time, and its ground
    * truth: quarantined or not, and the bytes the sink should sum. */
  final case class Line(rid: String, start: Long, message: String,
      quarantined: Boolean, bytes: Long)

  /** Cumulative Zipf(s = 1) weights of the fixture's 20 source hosts. */
  private val SourceCdf: Array[Double] = {
    val w = Array.tabulate(20)(k => 1.0 / (k + 1))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum)
  }

  /** A Zipf-drawn source host, 10.0.0.0 the most frequent. */
  def source(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(SourceCdf, r.nextDouble())
    s"10.0.0.${math.min(SourceCdf.length - 1, if (i >= 0) i else -i - 1)}"
  }

  def v2Line(rid: String, src: String, dst: String, sport: Long, dport: Long,
      proto: Int, packets: Long, bytes: Long, start: Long, dur: Long,
      action: String, eni: String = "eni-planted", version: Int = 2): Line =
    Line(rid, start, s"$version $Account $eni $src $dst $sport $dport $proto $packets $bytes " +
      s"$start ${start + dur} $action OK", quarantined = false, bytes)

  /** The fixture's line for event id `id`, with source `src`. */
  def fixtureLine(id: Long, src: String, start: Long): Line = {
    val eni = s"eni-${id % 40}"
    val end = start + 1 + id % 59
    if (id % 103 == 0) Line(id.toString, start, s"CORRUPT $id x", quarantined = true, 0L)
    else if (id % 97 == 0 || id % 101 == 0)
      Line(id.toString, start, s"2 $Account $eni - - - - - - - $start $end - " +
        (if (id % 97 == 0) "NODATA" else "SKIPDATA"), quarantined = false, 0L)
    else {
      val dst = s"10.1.${(id / 20) % 30}.${id % 25}"
      val packets = 1 + id % 97
      val version = if (id % 10 == 4) 7 else if (id % 2 == 0) 5 else 2
      val core = v2Line(id.toString, src, dst, 1024 + id % 50000, dport(id),
        if (id % 3 == 0) 17 else 6, packets, 40 * packets + (id * 7) % 997, start,
        1 + id % 59, if (id % 5 == 0) "REJECT" else "ACCEPT", eni, version)
      if (version == 2) core
      else core.copy(message = core.message + " " + v5Extras(id, src, dst) +
        (if (version == 7) " " + ecsFields(id) else ""))
    }
  }

  /** The reverse-direction line the fixture plants for id % 11 = 0. */
  def mirrorLine(id: Long, src: String, start: Long): Line = {
    val packets = 1 + id % 97
    v2Line(s"${id}r", s"10.1.${(id / 20) % 30}.${id % 25}", src, dport(id), 1024 + id % 50000,
      if (id % 3 == 0) 17 else 6, packets, 40 * packets + (id * 7) % 997 + 7, start,
      1 + id % 59, "ACCEPT", s"eni-${id % 40}")
  }

  private def dport(id: Long): Long =
    if (id % 20 >= 12) 1 + (id * 13) % 1024 else Seq(80L, 443L, 22L, 53L)(((id / 20) % 4).toInt)

  private def v5Extras(id: Long, src: String, dst: String): String = {
    val subloc = id % 24 == 18
    Seq("vpc-graft", s"subnet-${id % 12}", s"i-${id % 500}", s"${id % 32}", "IPv4",
      if (id % 8 == 6) s"192.168.${(id / 16) % 10}.${id % 14}" else src,
      if (id % 8 == 2) s"172.16.${(id / 32) % 8}.${id % 12}" else dst,
      "us-east-1", s"use1-az${1 + id % 3}",
      if (subloc) Seq("wavelength", "outpost", "localzone")(((id / 48) % 3).toInt) else "-",
      if (subloc) s"subloc-${(id / 24) % 6}" else "-",
      if (id % 16 == 4) "S3" else if (id % 16 == 12) "CLOUDFRONT" else "-",
      if (id % 16 == 0) "S3" else if (id % 16 == 8) "DYNAMODB" else "-",
      if ((id / 2) % 2 == 0) "ingress" else "egress",
      s"${1 + id % 8}").mkString(" ")
  }

  private def ecsFields(id: Long): String = {
    val arn = s"arn:aws:ecs:us-east-1:$Account"
    val task = s"task-${id % 7}-${(id / 7) % 50}"
    Seq(s"$arn:cluster/graft-${id % 3}", s"graft-${id % 3}",
      s"$arn:container-instance/ci-${id % 40}", s"ci-${id % 40}", s"cont-${id % 500}", "-",
      s"svc-${id % 7}", s"$arn:task-definition/graft-${id % 7}:1",
      s"$arn:task/graft-${id % 3}/$task", task).mkString(" ")
  }

  def gzip(s: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(bos)
    gz.write(s.getBytes(UTF_8)); gz.close()
    bos.toByteArray
  }

  def envelope(kind: String, stream: String,
      events: Seq[(String, Long, String)]): Array[Byte] = gzip(
    s"""{"messageType":"$kind","owner":"$Account","logGroup":"/vpc/flowlogs/graft",""" +
      s""""logStream":"$stream","subscriptionFilters":["graft-subscription"],"logEvents":[""" +
      events.map { case (id, ts, m) =>
        s"""{"id":"$id","timestamp":$ts,"message":"$m"}""" }.mkString(",") + "]}")
}
