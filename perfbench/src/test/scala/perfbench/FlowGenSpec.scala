package perfbench

import java.io.ByteArrayInputStream
import java.nio.charset.StandardCharsets.UTF_8
import java.util.zip.GZIPInputStream

import org.scalatest.funsuite.AnyFunSuite

/** Pins the ingest generator: same seed, same bytes; and its ground truth
  * agrees with an independent reading of the envelopes it produced. */
class FlowGenSpec extends AnyFunSuite {

  private val Msg = "\"message\":\"([^\"]*)\"".r

  /** Flow-log lines of the DATA_MESSAGE envelopes; None for payloads a
    * consumer drops (control messages, bytes that are not gzip). */
  private def lines(payload: Array[Byte]): Option[Seq[String]] =
    try {
      val json = new String(
        new GZIPInputStream(new ByteArrayInputStream(payload)).readAllBytes(), UTF_8)
      if (!json.contains("\"messageType\":\"DATA_MESSAGE\"")) None
      else Some(Msg.findAllMatchIn(json).map(_.group(1)).toSeq)
    } catch { case _: java.io.IOException => None }

  test("a seed fixes every byte; another seed changes them") {
    val a = new FlowGen(7)
    val b = new FlowGen(7)
    for (i <- 0 until 3)
      assert(a.batch(i).payloads.map(_.toSeq).toSeq == b.batch(i).payloads.map(_.toSeq).toSeq)
    assert(a.batch(0).payloads.map(_.toSeq).toSeq != new FlowGen(8).batch(0).payloads.map(_.toSeq).toSeq)
  }

  test("ground truth matches the envelopes and the pinned seed-1 counts and mix") {
    val g = new FlowGen(1)
    val batches = (0 until 11).map(g.batch)
    var n, quarantined = 0L
    var bytes = 0L
    var dropped = 0
    val kinds = scala.collection.mutable.Map.empty[String, Int].withDefaultValue(0)
    batches.foreach { b =>
      b.payloads.foreach { p =>
        lines(p) match {
          case None => dropped += 1
          case Some(ls) => ls.foreach { l =>
            n += 1
            val t = l.trim.split("\\s+")
            kinds(if (t.length < 14) "malformed" else if (t(0) == "2") t(13) else t(0)) += 1
            if (t.length < 14) quarantined += 1
            else if (t(9) != "-") bytes += t(9).toLong
          }
        }
      }
    }
    assert(dropped == 2 * batches.size, "one control message and one non-gzip payload per batch")
    assert(n == batches.map(_.lines).sum && quarantined == batches.map(_.quarantined).sum &&
      bytes == batches.map(_.bytesSum).sum)
    assert((n, quarantined, bytes) == ((22000L, 181L, 49664031L)))
    // the fixture's mix: v5 and v7 lines, v2 OK lines (with mirrors and
    // planted traffic), about 1% each of NODATA, SKIPDATA and malformed
    assert(kinds.toMap == Map("5" -> 7287, "7" -> 1825, "OK" -> 12333,
      "NODATA" -> 191, "SKIPDATA" -> 183, "malformed" -> 181))
  }

  test("no line is later than the detectors' 30-minute watermark") {
    val g = new FlowGen(3)
    def starts(i: Int) = g.batch(i).payloads.toSeq.flatMap(lines).flatten
      .map(_.trim.split("\\s+")).filter(_.length >= 14).map(_(10)).filter(_ != "-").map(_.toLong)
    val s = (0 until 10).map(starts)
    for (i <- 1 until s.size) assert(s(i).min > s(i - 1).max - 1800)
  }
}
