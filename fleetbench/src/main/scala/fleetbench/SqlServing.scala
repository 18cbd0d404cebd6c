package fleetbench

import org.apache.spark.sql.SparkSession

import graft.streaming.MergeSink

/** The serving phase of fleet_ingest: one closed-loop client issuing
  * plain SQL against a store holding the rows the stream ingested,
  * registered with `CREATE TABLE … USING graft`. Reads (point lookups on the full key,
  * an IN list, a range on a non-key column, VERSION AS OF, a small
  * aggregation) run beside writes (INSERT, UPDATE, DELETE and MERGE
  * INTO by key); OPTIMIZE and VACUUM alternate once per cycle. Every
  * result is checked against an in-memory shadow of the table, kept per
  * store version for the VERSION AS OF reads. */
object SqlServing {
  /** One cycle of the closed loop; the seed shuffles its order, and the
    * maintenance statement always closes it (a fixed cadence). */
  val Cycle: Seq[String] = Seq.fill(2)("point") ++ Seq("in", "range", "asof", "agg",
    "insert", "update", "delete", "merge")
  val ReadKinds = Set("point", "in", "range", "asof", "agg")
  val WriteKinds = Set("insert", "update", "delete", "merge")
  val MeasuredCycles = 1
  val Retain = 8
  /** the columns every statement reads, capture time as epoch millis */
  val Cols = "mac, ssid, unix_millis(ts) AS ts, rssi, freq, sensorId, dist"
  val WriteCols = "mac, ssid, ts, rssi, freq, sensorId, dist, valid"

  type Row = Checks.Row7
  type Table = Checks.Table

  def lit(r: Row): String =
    s"('${r._1}', '${r._2}', timestamp_millis(${r._3}L), ${r._4}, ${r._5}, ${r._6}L, ${r._7}D, true)"
  def render(r: Row): String = s"${r._1}|${r._2}|${r._3}|${r._4}|${r._5}|${r._6}|${r._7}"
  def render(r: org.apache.spark.sql.Row): String =
    (0 until r.length).map(r.get).map(String.valueOf).mkString("|")

  final case class Done(kind: String, ms: Double, planMs: Double, execMs: Double,
      group: String, ok: Boolean)
  final case class Served(measured: Seq[Done], cycleS: Seq[Double], checks: Seq[String],
      perLayer: Map[String, (Double, String)], detail: Map[String, (Double, String)])

  def serve(a: RunArgs, spark: SparkSession, ledger: Option[JobLedger],
      initial: Table): Served = {
    // the served store starts from the ingested rows in one MergeSink
    // commit, so its layout does not depend on where the live phase's
    // trigger boundaries fell; it sits in the graft catalog's warehouse
    val path = a.work.resolve("stores").resolve("obs").toString
    locally {
      import spark.implicits._
      MergeSink.applyBucketedBatch(initial.values.toSeq.map(r =>
          (r._1, r._2, "upsert", r._3, new java.sql.Timestamp(r._3), r._4, r._5, r._6, r._7, true))
        .toDF("mac", "ssid", "op", "ver", "ts", "rssi", "freq", "sensorId", "dist", "valid"),
        0L, path, FleetIngest.Key, "op", "ver", FleetIngest.ValueCols)
    }
    val rng = new java.util.Random(a.seed * 31 + 7)
    // SSIDs are printable ASCII; keys whose SSID holds a quote or a
    // backslash are left out of the SQL text rather than escaped
    def quotable(k: (String, String)) = !k._2.contains("'") && !k._2.contains("\\")
    val macs = initial.keys.map(_._1).toVector.distinct.sorted
    val ssids = initial.keys.filter(quotable).map(_._2).toVector.distinct.sorted
    var clock = initial.values.map(_._3).max
    def newRow(k: (String, String)): Row = {
      clock += 1 + rng.nextInt(50)
      val rssi = -95 + rng.nextInt(61)
      val freq = 2412 + 5 * rng.nextInt(13)
      (k._1, k._2, clock, rssi, freq, 1L + rng.nextInt(16), FleetGen.fsplDist(rssi, freq))
    }
    def freshKey(t: Table): (String, String) =
      Iterator.continually((macs(rng.nextInt(macs.size)), ssids(rng.nextInt(ssids.size))))
        .filterNot(t.contains).next()

    spark.sql(s"CREATE TABLE obs USING graft LOCATION '$path'")
    var shadow = initial
    val snapshots = scala.collection.mutable.Map(MergeSink.latestVersion(path).get -> shadow)
    var keys = shadow.keys.filter(quotable).toVector.sorted
    def someKeys(n: Int) = Iterator.continually(keys(rng.nextInt(keys.size))).distinct.take(n).toSeq
    def eqKey(k: (String, String)) = s"mac = '${k._1}' AND ssid = '${k._2}'"
    def keyIn(ks: Seq[(String, String)]) =
      ks.map { case (m, s) => s"('$m', '$s')" }.mkString("(mac, ssid) IN (", ", ", ")")
    def rowsOf(t: Table, ks: Seq[(String, String)]) = ks.flatMap(t.get).map(render).toSet
    var maintainTurn = 0

    /** One statement: its SQL, and the shadow's answer or update. */
    final case class Stmt(kind: String, sql: String, expect: Option[Set[String]],
        apply: Table => Table)

    def next(kind: String): Stmt = kind match {
      case "point" =>
        val k = someKeys(1)
        Stmt(kind, s"SELECT $Cols FROM obs WHERE ${eqKey(k.head)}", Some(rowsOf(shadow, k)), identity)
      case "in" =>
        val ks = someKeys(5)
        Stmt(kind, s"SELECT $Cols FROM obs WHERE ${keyIn(ks)}", Some(rowsOf(shadow, ks)), identity)
      case "range" =>
        val r = -95 + rng.nextInt(61)
        Stmt(kind, s"SELECT $Cols FROM obs WHERE rssi = $r",
          Some(shadow.values.filter(_._4 == r).map(render).toSet), identity)
      case "asof" =>
        val versions = snapshots.keys.toSeq.sorted.takeRight(4)
        val v = versions(rng.nextInt(versions.size))
        val then = snapshots(v)
        val ks = then.keys.filter(quotable).toVector.sorted
        val pick = Seq.fill(3)(ks(rng.nextInt(ks.size))).distinct
        // SQL time travel resolves through the graft catalog
        Stmt(kind, s"SELECT $Cols FROM graftwh.obs VERSION AS OF $v WHERE ${keyIn(pick)}",
          Some(rowsOf(then, pick)), identity)
      case "agg" =>
        val sid = 1L + rng.nextInt(16)
        val want = shadow.values.filter(_._6 == sid).groupBy(_._5).map { case (f, rs) =>
          s"$f|${rs.size}|${rs.map(_._4.toLong).sum}" }.toSet
        Stmt(kind, s"SELECT freq, count(*) AS n, sum(rssi) AS s FROM obs WHERE sensorId = $sid GROUP BY freq",
          Some(want), identity)
      case "insert" =>
        val rows = (someKeys(1) :+ freshKey(shadow)).map(newRow)
        Stmt(kind, s"INSERT INTO obs ($WriteCols) VALUES ${rows.map(lit).mkString(", ")}", None,
          t => rows.foldLeft(t)((m, r) => m.updated((r._1, r._2), r)))
      case "update" =>
        val k = someKeys(1).head
        val sid = 17L + rng.nextInt(16)
        Stmt(kind, s"UPDATE obs SET rssi = rssi - 1, sensorId = $sid WHERE ${eqKey(k)}",
          None, t => t.updatedWith(k)(_.map(r => r.copy(_4 = r._4 - 1, _6 = sid))))
      case "delete" =>
        val k = someKeys(1).head
        Stmt(kind, s"DELETE FROM obs WHERE ${eqKey(k)}", None, _ - k)
      case "merge" =>
        val rows = (someKeys(2) :+ freshKey(shadow)).map(newRow)
        Stmt(kind,
          s"""MERGE INTO obs t USING (SELECT * FROM VALUES ${rows.map(lit).mkString(", ")}
             |  AS s(mac, ssid, ts, rssi, freq, sensorId, dist, valid)) s
             |ON t.mac = s.mac AND t.ssid = s.ssid
             |WHEN MATCHED THEN UPDATE SET ts = s.ts, rssi = s.rssi, freq = s.freq,
             |  sensorId = s.sensorId, dist = s.dist, valid = s.valid
             |WHEN NOT MATCHED THEN INSERT ($WriteCols) VALUES (s.mac, s.ssid, s.ts, s.rssi,
             |  s.freq, s.sensorId, s.dist, s.valid)""".stripMargin, None,
          t => rows.foldLeft(t)((m, r) => m.updated((r._1, r._2), r)))
      case "maintain" =>
        maintainTurn += 1
        if (maintainTurn % 2 == 1) Stmt("optimize", s"OPTIMIZE '$path'", None, identity)
        else Stmt("vacuum", s"VACUUM '$path' RETAIN $Retain VERSIONS", None, identity)
    }

    var stmtNo = 0L
    val problems = Seq.newBuilder[String]

    def execute(kind: String): Done = {
      val st = next(kind)
      stmtNo += 1
      val group = s"sql-$stmtNo-${st.kind}"
      val layer = st.kind match {
        case k if ReadKinds(k) => "GraftDataSource.read"
        case "insert" => "GraftDataSource.insert"
        case "optimize" | "vacuum" => s"GraftMaintenanceSql.${st.kind}"
        case k => s"GraftDml.$k"
      }
      var planMs = 0.0; var execMs = 0.0
      val t0 = System.nanoTime()
      val res = try Right(Harness.inGroup(spark, group) {
        Trace.span(layer, group) {
          if (Trace.on && st.expect.isDefined) {
            val df = spark.sql(st.sql)
            val tp = System.nanoTime(); df.queryExecution.executedPlan
            val te = System.nanoTime(); planMs = (te - tp) / 1e6
            val rows = df.collect(); execMs = (System.nanoTime() - te) / 1e6
            rows
          } else spark.sql(st.sql).collect()
        }
      }) catch { case e: Exception => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      // ---- outside the timed statement: check it, or follow it in the shadow
      val ok = res match {
        case Left(e) =>
          problems += s"${st.kind} failed: ${String.valueOf(e.getMessage).take(300)}"; false
        case Right(rows) => st.expect match {
          case Some(want) =>
            val got = rows.map(render).toSet
            if (got != want) problems += s"${st.kind} result differs from the shadow: ${st.sql.take(200)}"
            got == want
          case None =>
            shadow = st.apply(shadow)
            if (st.kind != "update") keys = shadow.keys.filter(quotable).toVector.sorted
            snapshots(MergeSink.latestVersion(path).get) = shadow
            true
        }
      }
      Done(st.kind, ms, planMs, execMs, group, ok)
    }

    def cycle(): (Seq[Done], Double) = {
      val order = new scala.util.Random(rng.nextLong()).shuffle(Cycle) :+ "maintain"
      val t = System.nanoTime()
      val done = order.map(execute)
      (done, (System.nanoTime() - t) / 1e9)
    }

    // ---- warm-up: one statement of each kind, then the measured cycles
    val warmStart = System.nanoTime()
    (new scala.util.Random(rng.nextLong()).shuffle(Cycle.distinct) :+ "maintain").foreach(execute)
    Main.log(f"sql warm-up: ${(System.nanoTime() - warmStart) / 1e9}%.2f s")
    val cycles = (0 until MeasuredCycles).map(_ => cycle())
    Main.log(s"sql cycles: ${cycles.map(c => f"${c._2}%.2f").mkString(", ")} s")

    // ---- final state equals the shadow
    val finalRows = spark.sql(s"SELECT $Cols FROM obs").collect().map(render).toSet
    val want = shadow.values.map(render).toSet
    val checks = problems.result() ++
      Checks.expect("final_table_equals_shadow", finalRows == want,
        s"${(want -- finalRows).size} rows missing, ${(finalRows -- want).size} unexpected") ++
      selfTest(want, finalRows)

    val done = cycles.flatMap(_._1)
    val reads = done.filter(d => ReadKinds(d.kind)).map(_.ms)
    val writes = done.filter(d => WriteKinds(d.kind)).map(_.ms)
    val detail = Map(
      "sql_ops_per_s" -> ((Cycle.size + 1) / Stats.median(cycles.map(_._2)), "ops/s"),
      "read_p50_ms" -> (Stats.median(reads), "ms"),
      "read_samples" -> (reads.size.toDouble, "count"),
      "write_p50_ms" -> (Stats.median(writes), "ms"),
      "write_samples" -> (writes.size.toDouble, "count"),
      "sql_store_mb" -> (Harness.dirBytes(java.nio.file.Path.of(path)) / 1048576.0, "MB"))

    val perLayer = ledger.map { l =>
      def med(kinds: Set[String], f: Done => Double) = {
        val xs = done.filter(d => kinds(d.kind)).map(f); if (xs.isEmpty) 0.0 else Stats.median(xs)
      }
      def jobs(d: Done) = l.acc(d.group).jobs.get.toDouble
      Map(
        "GraftDataSource.plan_ms" -> (med(ReadKinds, _.planMs), "ms"),
        "GraftDataSource.exec_ms" -> (med(ReadKinds, _.execMs), "ms"),
        "GraftDataSource.files_read" -> (pointFilesRead(spark, keys.head), "count"),
        "GraftDataSource.jobs_per_read" -> (med(ReadKinds, jobs), "count"),
        "GraftDataSource.insert_ms" -> (med(Set("insert"), _.ms), "ms"),
        "GraftDml.update_ms" -> (med(Set("update"), _.ms), "ms"),
        "GraftDml.delete_ms" -> (med(Set("delete"), _.ms), "ms"),
        "GraftDml.merge_ms" -> (med(Set("merge"), _.ms), "ms"),
        "GraftDml.jobs_per_stmt" -> (med(Set("update", "delete", "merge"), jobs), "count"),
        "GraftMaintenanceSql.optimize_ms" -> (med(Set("optimize"), _.ms), "ms"),
        "GraftMaintenanceSql.vacuum_ms" -> (med(Set("vacuum"), _.ms), "ms"),
        "MergeSink.sql_commit_ms" -> (med(WriteKinds, _.ms), "ms"),
        "MergeSink.sql_commit_jobs" -> (med(WriteKinds, jobs), "count"))
    }.getOrElse(Map.empty)
    Served(done, cycles.map(_._2), checks, perLayer, detail)
  }

  /** Files a point read on the full key scans, from the executed plan's
    * scan metrics. */
  private def pointFilesRead(spark: SparkSession, k: (String, String)): Double = {
    val df = spark.sql(s"SELECT $Cols FROM obs WHERE mac = '${k._1}' AND ssid = '${k._2}'")
    df.collect()
    df.queryExecution.executedPlan.collectLeaves().flatMap(_.metrics.collect {
      case (n, m) if n.toLowerCase.contains("files") => m.value.toDouble }).sum
  }

  /** The final-state comparison must fail on a changed value, a dropped
    * key and a wrong digest. */
  private def selfTest(want: Set[String], got: Set[String]): Seq[String] =
    if (got != want || got.isEmpty) Nil
    else {
      val one = got.min
      // one more digit on the row's last field (its distance)
      val changed = got - one + (one + "1")
      Seq("changed_value" -> (changed != want), "dropped_key" -> ((got - one) != want),
        "wrong_digest" -> (Checks.digestOf(want.toSeq) != Checks.digestOf(changed.toSeq)))
        .collect { case (t, false) => s"final_table_equals_shadow: self-test '$t' was not detected" }
    }
}
