package fleetbench

import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.FrameParser

/** Output checks computed apart from the program, run outside every
  * timed window. Each checker returns the problems it found (empty =
  * pass). `withSelfTest` also runs the checker on three perturbed
  * copies of the result (one changed value, one dropped key, and a
  * distance one rounding unit off, which must change the digest) and
  * reports a problem if the checker accepts any of them. */
object Checks {
  type Row7 = (String, String, Long, Int, Int, Long, Double)
  type Table = Map[(String, String), Row7]

  /** The generator's own last-writer-wins model per (mac, ssid):
    * capture order is global, so the last sighting of a key wins. */
  def lastWriter(obs: Seq[FleetGen.Obs]): Table =
    obs.foldLeft(Map.empty[(String, String), Row7]) { (m, o) =>
      m.updated((o.mac, o.ssid), (o.mac, o.ssid, o.ts, o.rssi, o.freq, o.sensorId, o.dist))
    }

  /** A store read as the same (mac, ssid) → row map. */
  def storeRows(df: DataFrame): Table =
    df.selectExpr("mac", "ssid", "unix_millis(ts) AS ts", "rssi", "freq", "sensorId",
        "dist").collect().map { r =>
      (r.getString(0), r.getString(1)) ->
        (r.getString(0), r.getString(1), r.getLong(2), r.getInt(3), r.getInt(4),
          r.getLong(5), r.getDouble(6))
    }.toMap

  def sameRow(a: Row7, b: Row7): Boolean =
    a._1 == b._1 && a._2 == b._2 && a._3 == b._3 && a._4 == b._4 && a._5 == b._5 &&
      a._6 == b._6 && math.abs(a._7 - b._7) <= 0.005 + 1e-9

  def compare(name: String, want: Table, got: Table): Seq[String] = {
    val missing = want.keySet -- got.keySet
    val extra = got.keySet -- want.keySet
    val wrong = want.keySet.intersect(got.keySet).filterNot(k => sameRow(want(k), got(k)))
    val digest = if (digest7(want) == digest7(got)) Nil
      else Seq(s"$name: digest differs")
    (if (missing.nonEmpty) Seq(s"$name: ${missing.size} keys missing, e.g. ${missing.head}") else Nil) ++
      (if (extra.nonEmpty) Seq(s"$name: ${extra.size} unexpected keys, e.g. ${extra.head}") else Nil) ++
      (if (wrong.nonEmpty) Seq(s"$name: ${wrong.size} rows differ, e.g. ${want(wrong.head)} vs ${got(wrong.head)}") else Nil) ++
      (if (missing.isEmpty && extra.isEmpty && wrong.isEmpty) digest else Nil)
  }

  /** Order-free digest of a table, distance rounded to its stored 2 dp. */
  def digest7(t: Table): String = digestOf(t.values.toSeq.map { r =>
    s"${r._1}|${r._2}|${r._3}|${r._4}|${r._5}|${r._6}|${BigDecimal(r._7).setScale(2, BigDecimal.RoundingMode.HALF_UP)}"
  })

  def digestOf(lines: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    lines.sorted.foreach(l => md.update((l + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Compare, then prove the comparison can fail. */
  def withSelfTest(name: String, want: Table, got: Table): Seq[String] = {
    val real = compare(name, want, got)
    if (got.isEmpty) return real :+ s"$name: empty result"
    if (real.nonEmpty) return real
    val k = got.keys.min
    val r = got(k)
    val changed = got.updated(k, r.copy(_4 = r._4 + 1))
    val dropped = got - k
    val selfTests = Seq(
      "changed_value" -> compare(name, want, changed).nonEmpty,
      "dropped_key" -> compare(name, want, dropped).nonEmpty,
      "wrong_digest" -> (digest7(want) != digest7(got.updated(k, r.copy(_7 = r._7 + 0.01)))))
    selfTests.collect { case (t, false) => s"$name: self-test '$t' was not detected" }
  }

  def expect(name: String, ok: Boolean, why: => String): Seq[String] =
    if (ok) Nil else Seq(s"$name: $why")

  /** The reference's four captured rows (FIXTURES.md §1), rebuilt as
    * frames and decoded by the program's parser: MAC, SSID, RSSI, FREQ
    * and the 2-dp distance must come back exactly. */
  def goldenRows(spark: SparkSession): Seq[String] = {
    import spark.implicits._
    val golden = Seq(
      ("28B2BDD02FC8", "OPTUSVD3DA15E0_EXT", -90, 2464, 306.1),
      ("D42C0F2F56BB", "FOSTER WIFI", -88, 2464, 243.14),
      ("D42C0F2F56BB", "FOSTER WIFI", -84, 2464, 153.41),
      ("D42C0F2F56BB", "FOSTER WIFI", -84, 2464, 153.41))
    val frames = golden.zipWithIndex.map { case ((mac, ssid, rssi, freq, _), i) =>
      val src = mac.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
      val s = ssid.getBytes("US-ASCII")
      (new java.sql.Timestamp(1469101260000L + i), i.toLong,
        FleetGen.frame(freq, rssi + 255, 0, 0x40, FleetGen.Broadcast, src, s.length, s))
    }.toDF("ts", "sensorId", "bytes")
    val got = FrameParser.parse(frames).orderBy("sensorId")
      .select("mac", "ssid", "rssi", "freq", "dist").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3), r.getDouble(4))).toSeq
    expect("golden_rows_decode_exactly", got == golden, s"decoded $got")
  }
}
