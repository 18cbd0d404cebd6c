package fleetbench

import java.nio.charset.StandardCharsets
import java.util.Base64

/** The sensor fleet's frame generator. Every 802.11 probe-request frame
  * is built byte by byte from field values chosen here, in the layout of
  * the reference's `ssidentity.h:36-42` (0-based offsets): channel
  * frequency big-endian at 19-20, raw RSSI at 22, IP-protocol peek at
  * 23, frame control at 26, destination MAC 30-35, source MAC 36-41,
  * SSID length at 61, SSID bytes from 62.
  *
  * The seed picks the content (device MACs, SSIDs, which device speaks,
  * signal values); the volume and shape never depend on it: every file
  * has [[LinesPerFile]] lines, of which the last [[RejectsPerFile]] are
  * the fixed reject kinds, in a fixed order.
  *
  * Two file shapes: a fleet-wide file (the backlog a catching-up
  * uploader drains: any sensor, any device) and one sensor's upload
  * (probe bursts of [[DevicesPerUpload]] devices in that sensor's range,
  * so at most `DevicesPerUpload * 4` keys). The fleet's sizes are not
  * taken from a measured deployment; the README gives the reason for
  * each. */
object FleetGen {
  val LinesPerFile = 50
  /** non-probe subtype, unicast destination, known IP protocol, SSID
    * length 0, SSID length 33, malformed line (non-numeric capture time) */
  val RejectKinds = Seq("non_probe", "unicast_dest", "ip_proto", "ssid_len_0",
    "ssid_len_33", "malformed_line")
  val RejectsPerFile = RejectKinds.size
  val AcceptedPerFile = LinesPerFile - RejectsPerFile
  val Devices = 1500
  val SsidPool = 400
  val Sensors = 16
  /** devices whose probe bursts one sensor's upload carries */
  val DevicesPerUpload = 3
  /** capture clock: frames are 5 ms apart, so capture order is one
    * global order and per-key order is monotone across files */
  val CaptureBase = 1750000000000L
  val CaptureStepMs = 5L

  /** One accepted observation as the reference would store it. */
  final case class Obs(mac: String, ssid: String, ts: Long, rssi: Int,
      freq: Int, sensorId: Long, dist: Double)

  /** ssidentity.c:283-286 at the sink's 2-decimal precision. */
  def fsplDist(rssi: Int, freq: Int): Double = {
    val d = math.pow(10.0, (27.55 - 20.0 * math.log10(freq.toDouble) + math.abs(rssi)) / 20.0)
    BigDecimal(d).setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  def frame(freq: Int, rssiRaw: Int, proto: Int, frameControl: Int,
      dest: Array[Byte], src: Array[Byte], ssidLenField: Int,
      ssid: Array[Byte]): Array[Byte] = {
    val b = new Array[Byte](62 + ssid.length)
    b(19) = (freq >> 8).toByte; b(20) = freq.toByte
    b(22) = rssiRaw.toByte
    b(23) = proto.toByte
    b(26) = frameControl.toByte
    System.arraycopy(dest, 0, b, 30, 6)
    System.arraycopy(src, 0, b, 36, 6)
    b(61) = ssidLenField.toByte
    System.arraycopy(ssid, 0, b, 62, ssid.length)
    b
  }

  val Broadcast: Array[Byte] = Array.fill(6)(0xff.toByte)
  def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString

  /** One file of frame lines, with its accepted observations in line
    * order. */
  final case class FileOut(lines: Seq[String], accepted: Seq[Obs])
}

final class FleetGen(seed: Long) {
  import FleetGen._
  private val rng = new java.util.Random(seed)

  private val macs: Array[Array[Byte]] = {
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    while (seen.size < Devices) {
      val m = new Array[Byte](6); rng.nextBytes(m)
      m(0) = (m(0) & 0xfc).toByte // unicast, globally administered
      seen.getOrElseUpdate(hex(m), m)
    }
    seen.values.toArray
  }
  private val ssids: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < SsidPool) {
      val n = 1 + rng.nextInt(32)
      // printable ASCII, so the parser's SSID escaping is the identity
      seen += new String(Array.fill(n)((0x20 + rng.nextInt(0x7f - 0x20)).toChar))
    }
    seen.toArray
  }
  /** each device probes for 1-4 remembered networks */
  private val prefs: Array[Array[Int]] =
    Array.fill(Devices)(Array.fill(1 + rng.nextInt(4))(rng.nextInt(SsidPool)).distinct)
  /** Zipf(1.1) device activity: a few devices speak most of the time */
  private val cdf: Array[Double] = {
    val w = Array.tabulate(Devices)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  private def device(): Int = {
    val u = rng.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(Devices - 1, if (i >= 0) i else -i - 1)
  }

  /** each device's home sensor, the one whose range it is in: an equal
    * share of devices per sensor, assigned in a seeded order */
  private val home: Array[Int] = {
    val h = new Array[Int](Devices)
    new scala.util.Random(rng.nextLong()).shuffle((0 until Devices).toVector)
      .zipWithIndex.foreach { case (d, i) => h(d) = i % Sensors }
    h
  }

  private var frameNo = 0L

  /** The next file of the fleet's upload stream: fleet-wide when
    * `sensor` is empty, else one upload of sensor `sensor` (0-based),
    * whose accepted lines are bursts of [[DevicesPerUpload]] distinct
    * devices of that sensor's range, drawn by the same skew. */
  def nextFile(sensor: Option[Int] = None): FileOut = {
    val lines = Vector.newBuilder[String]
    val acc = Vector.newBuilder[Obs]
    val burst = sensor.map(s => Iterator.continually(device()).filter(home(_) == s)
      .distinct.take(DevicesPerUpload).toVector)
    for (i <- 0 until LinesPerFile) {
      val ts = CaptureBase + frameNo * CaptureStepMs
      frameNo += 1
      val d = burst.fold(device())(ds => ds(math.min(i, AcceptedPerFile - 1) * ds.size / AcceptedPerFile))
      val src = macs(d)
      val ssid = ssids(prefs(d)(rng.nextInt(prefs(d).length)))
      val ssidBytes = ssid.getBytes(StandardCharsets.US_ASCII)
      val freq = 2412 + 5 * rng.nextInt(13)
      val rssiRaw = 160 + rng.nextInt(61)
      val sensorId = sensor.fold(1L + rng.nextInt(Sensors))(_ + 1L)
      val reject = i - AcceptedPerFile
      val bytes = reject match {
        case 0 => frame(freq, rssiRaw, 0, 0x80, Broadcast, src, ssidBytes.length, ssidBytes)
        case 1 => frame(freq, rssiRaw, 0, 0x40, macs(device()), src, ssidBytes.length, ssidBytes)
        case 2 => frame(freq, rssiRaw, 6, 0x40, Broadcast, src, ssidBytes.length, ssidBytes)
        case 3 => frame(freq, rssiRaw, 0, 0x40, Broadcast, src, 0, Array.emptyByteArray)
        case 4 =>
          val long = Array.fill(33)((0x41 + rng.nextInt(26)).toByte)
          frame(freq, rssiRaw, 0, 0x40, Broadcast, src, 33, long)
        case _ => frame(freq, rssiRaw, 0, 0x40, Broadcast, src, ssidBytes.length, ssidBytes)
      }
      val b64 = Base64.getEncoder.encodeToString(bytes)
      lines += (if (reject == 5) s"$sensorId:t$ts:$b64" else s"$sensorId:$ts:$b64")
      if (reject < 0) {
        val rssi = rssiRaw - 255
        acc += Obs(hex(src), ssid, ts, rssi, freq, sensorId, fsplDist(rssi, freq))
      }
    }
    FileOut(lines.result(), acc.result())
  }
}
