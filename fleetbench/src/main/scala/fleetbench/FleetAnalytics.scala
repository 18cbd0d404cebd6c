package fleetbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** fleet_analytics: a closed loop cycling a fixed list of
  * `SparkEntry.queries` over read-only sf tables, each forced through
  * the `noop` sink as the program's Bench does. The seed only orders the
  * queries within a cycle. After the window every query's collected
  * result is written out for the DuckDB twin check (`oracle.py`), and
  * the two geometry queries are checked against the synthetic device
  * positions they must recover. */
object FleetAnalytics {
  /** The reference's declared correlation analytics, plus the two
    * queries whose eager jobs make frame construction a large share of
    * their wall. */
  val Queries: Seq[String] = Seq("a5_active_hours", "a4_ts_lists", "a7_trilateration",
    "living_area", "st4_session_window", "st7_arrival_alerts", "st9_co_observation",
    "net_tree_edges", "w1_latest_per_key", "s2_frame_parse", "q3_profile", "l2q_setsim_join")
  val MeasuredCycles = 4
  /** Unmeasured `noop` cycles after the result-writing one: with none,
    * the first measured cycle ran up to 40% slower than the third. */
  val WarmCycles = 1

  final case class Exec(query: String, constructMs: Double, planMs: Double,
      execMs: Double, group: String, endMs: Long, ok: Boolean)

  def run(a: RunArgs, spark: SparkSession, ledger: Option[JobLedger]): Outcome = {
    val fns = Queries.map(q => q -> SparkEntry.queries(q)).toMap
    val setupS = Jvm.sinceStartMs / 1000.0
    val rng = new java.util.Random(a.seed)
    val problems = Seq.newBuilder[String]

    def runOne(q: String, cycle: Int): Exec = {
      val group = s"ana-$cycle-$q"
      val t0 = System.nanoTime()
      var tc = t0; var tp = t0
      val ok = try {
        Harness.inGroup(spark, s"$group-construct") {
          val df = Trace.span("SparkEntry.construct", group) { fns(q)(spark, a.data) }
          tc = System.nanoTime(); tp = tc
          Harness.inGroup(spark, group) {
            if (Trace.on) {
              Trace.span("SparkEntry.plan", group) { df.queryExecution.executedPlan }
              tp = System.nanoTime()
            }
            Trace.span("SparkEntry.exec", group) {
              df.write.format("noop").mode("overwrite").save()
            }
          }
        }
        true
      } catch { case e: Exception =>
        problems += s"$q failed: ${e.getMessage.take(300)}"; false
      }
      val t1 = System.nanoTime()
      Exec(q, (tc - t0) / 1e6, (tp - tc) / 1e6, (t1 - tp) / 1e6, group,
        System.currentTimeMillis(), ok)
    }
    def cycle(c: Int): (Seq[Exec], Double) = {
      val order = new scala.util.Random(rng.nextLong()).shuffle(Queries)
      val t = System.nanoTime()
      val ex = order.map(runOne(_, c))
      (ex, (System.nanoTime() - t) / 1e9)
    }

    // ---- warm-up: one cycle that writes each query's result for the
    // DuckDB twin check (the tables are read-only, so the result of a
    // later execution is the same) and WarmCycles `noop` cycles, then
    // the measured cycles
    val out = a.work.resolve("results")
    val warmStart = System.nanoTime()
    new scala.util.Random(rng.nextLong()).shuffle(Queries).foreach { q =>
      try Harness.inGroup(spark, s"warm-$q") {
        fns(q)(spark, a.data).coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
      } catch { case e: Exception => problems += s"$q failed in warm-up: ${e.getMessage.take(300)}" }
    }
    val warmS = (System.nanoTime() - warmStart) / 1e9
    Main.log(f"warm cycle: $warmS%.2f s")
    Files.writeString(out.resolve("oracle_sql.json"), Json.obj(Queries.map(q =>
      q -> Json.str(SparkEntry.oracleSql(q)))))
    val noopWarm = (0 until WarmCycles).map(c => cycle(-1 - c)._2)
    Main.log(s"noop warm cycles: ${noopWarm.map(c => f"$c%.2f").mkString(", ")} s")
    val window = new Window(ledger)
    val cycles = (0 until MeasuredCycles).map(cycle)
    val totals = window.close(spark)
    Main.log(s"measured cycles: ${cycles.map(c => f"${c._2}%.2f").mkString(", ")} s")

    val checks = problems.result() ++ geometry(spark, out)

    val done = cycles.flatMap(_._1)
    val perQuery = done.groupBy(_.query).map { case (q, es) => q -> Stats.median(es.map(e => e.execMs + e.constructMs)) }
    val perQueryExec = done.groupBy(_.query).map { case (q, es) => q -> Stats.median(es.map(_.execMs)) }
    val cycleS = Stats.median(cycles.map(_._2))
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      // queries per second of a cycle made of each query's median: one
      // stalled execution cannot move it
      "throughput_per_s" -> (Queries.size / (perQuery.values.sum / 1000.0), "1/s"),
      "latency_p50_ms" -> (Stats.median(perQuery.values.toSeq), "ms"))
    val detail = Map(
      "analytics_cycle_s" -> (cycleS, "s"),
      "exec_p50_ms" -> (Stats.median(perQueryExec.values.toSeq), "ms"),
      "cycles" -> (cycles.size.toDouble, "count"),
      "warm_s" -> (warmS, "s")) ++
      perQuery.map { case (q, ms) => s"query.$q.ms" -> (ms, "ms") }

    val perLayer = if (!a.trace) Map.empty[String, (Double, String)] else {
      val l = ledger.get
      def perCycle(f: Exec => Double) = Stats.median(cycles.map(_._1.map(f).sum))
      val taskMs = done.map(e => l.acc(e.group).runMs.get.toDouble).sum
      val wallMs = done.map(e => e.execMs).sum
      Map(
        "SparkEntry.construct_ms" -> (perCycle(_.constructMs), "ms"),
        "SparkEntry.construct_jobs" -> (perCycle(e => l.acc(s"${e.group}-construct").jobs.get.toDouble), "count"),
        "SparkEntry.plan_ms" -> (perCycle(_.planMs), "ms"),
        "SparkEntry.exec_ms" -> (perCycle(_.execMs), "ms"),
        "SparkEntry.jobs_per_cycle" -> (perCycle(e => l.acc(e.group).jobs.get.toDouble +
          l.acc(s"${e.group}-construct").jobs.get), "count"),
        "SparkEntry.driver_gap_ms" -> (perCycle(e => JobLedger.uncovered(
          l.acc(e.group).intervals.asScala, e.endMs - e.execMs.toLong, e.endMs)), "ms"),
        "SparkEntry.core_busy" -> (taskMs / (wallMs * a.cpus), "ratio"),
        "SparkEntry.task_ms" -> (taskMs, "ms"),
        "SparkEntry.wall_core_ms" -> (wallMs * a.cpus, "ms")) ++
        Queries.map(q => s"SparkEntry.$q.exec_ms" -> (Stats.median(done.filter(_.query == q).map(_.execMs)), "ms"))
    }
    Outcome(attempted = done.size.toLong, failed = done.count(!_.ok).toLong,
      correct = checks.isEmpty, checks = checks, endToEnd = e2e,
      perLayer = perLayer ++ totals, detail = detail)
  }

  /** `a7_trilateration` and `living_area` solve for device positions the
    * synthetic geometry fixes: device m sits at (m mod 10, 7m mod 10).
    * The estimates must land within 0.05 (trilateration, exact
    * distances) and on the right unit cell (living area). A perturbed
    * copy (one device moved by one cell) must fail the same check. */
  private def geometry(spark: SparkSession, out: java.nio.file.Path): Seq[String] = {
    def truth(m: Long) = ((m % 10).toDouble, ((m * 7) % 10).toDouble)
    def read(q: String, x: String, y: String) = spark.read.parquet(out.resolve(q).toString)
      .selectExpr("CAST(mac AS BIGINT)", s"CAST($x AS DOUBLE)", s"CAST($y AS DOUBLE)").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSeq
    def off(rows: Seq[(Long, Double, Double)], tol: Double) = rows.filter { case (m, x, y) =>
      val (tx, ty) = truth(m); math.abs(x - tx) > tol || math.abs(y - ty) > tol }
    Seq(("a7_trilateration", "est_x", "est_y", 0.05), ("living_area", "home_x", "home_y", 0.5))
      .flatMap { case (q, x, y, tol) =>
        val rows = try read(q, x, y) catch { case _: Exception => Nil }
        val moved = rows.headOption.map(r => rows.updated(0, r.copy(_2 = r._2 + 1.0))).getOrElse(Nil)
        Checks.expect(s"${q}_recovers_device_positions", rows.size == 50 && off(rows, tol).isEmpty,
          s"${rows.size} devices, ${off(rows, tol).size} off by more than $tol") ++
          Checks.expect(s"${q}_self_test", rows.isEmpty || off(moved, tol).nonEmpty,
            "a moved device was not detected")
      }
  }
}
