package fleetbench

import java.nio.file.Files

/** One workload in one fresh JVM:
  * `fleetbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --data DIR --out FILE --trace-out FILE --cpus N`.
  * Writes the outcome as JSON to `--out` (the Python entry point `run.py`
  * adds the DuckDB checks and prints the result line). */
object Main {
  /** Every per-layer metric, in report order, with its unit. A layer a
    * workload does not exercise reads 0 there. */
  val PerLayer: Seq[(String, String)] = Seq(
    "FrameParser.frames_in" -> "count", "FrameParser.rows_out" -> "count",
    "FrameParser.ms_per_1k_frames" -> "ms",
    "IngestPipeline.triggers" -> "count", "IngestPipeline.rows_per_trigger" -> "rows",
    "IngestPipeline.trigger_ms" -> "ms", "IngestPipeline.overhead_ms" -> "ms",
    "IngestPipeline.backlog_files_max" -> "count", "generator.lag_ms_max" -> "ms",
    "MergeSink.commits" -> "count", "MergeSink.commit_ms" -> "ms",
    "MergeSink.commit_jobs" -> "count", "MergeSink.commit_task_cpu_ms" -> "ms",
    "MergeSink.commit_shuffle_bytes" -> "bytes", "MergeSink.buckets_touched" -> "count",
    "MergeSink.tail_buckets_touched" -> "count", "MergeSink.tail_commit_ms" -> "ms",
    "MergeSink.store_files" -> "count", "MergeSink.live_bytes" -> "bytes",
    "MergeSink.versions_retained" -> "count",
    "MergeSink.sql_commit_ms" -> "ms", "MergeSink.sql_commit_jobs" -> "count",
    "GraftDataSource.plan_ms" -> "ms", "GraftDataSource.exec_ms" -> "ms",
    "GraftDataSource.files_read" -> "count", "GraftDataSource.jobs_per_read" -> "count",
    "GraftDataSource.insert_ms" -> "ms",
    "GraftDml.update_ms" -> "ms", "GraftDml.delete_ms" -> "ms", "GraftDml.merge_ms" -> "ms",
    "GraftDml.jobs_per_stmt" -> "count",
    "GraftMaintenanceSql.optimize_ms" -> "ms", "GraftMaintenanceSql.vacuum_ms" -> "ms",
    "SparkEntry.construct_ms" -> "ms", "SparkEntry.construct_jobs" -> "count",
    "SparkEntry.plan_ms" -> "ms", "SparkEntry.exec_ms" -> "ms",
    "SparkEntry.jobs_per_cycle" -> "count", "SparkEntry.driver_gap_ms" -> "ms",
    "SparkEntry.core_busy" -> "ratio", "SparkEntry.task_ms" -> "ms",
    "SparkEntry.wall_core_ms" -> "ms") ++
    FleetAnalytics.Queries.map(q => s"SparkEntry.$q.exec_ms" -> "ms") ++ Seq(
    "spark.task_cpu_ms" -> "ms", "spark.shuffle_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.heap_peak_mb" -> "MB")

  private val t0 = System.nanoTime()
  /** A timeline line on stderr (stdout is reserved for the result). */
  def log(msg: String): Unit =
    System.err.println(f"[fleetbench ${(System.nanoTime() - t0) / 1e9}%7.2f s] $msg")

  def main(argv: Array[String]): Unit = {
    val a = RunArgs.parse(argv)
    Jvm.watchHeap()
    Trace.on = a.trace
    Files.createDirectories(a.work)
    val spark = Harness.session(a)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val ledger = if (a.trace) Some(new JobLedger) else None
    ledger.foreach(spark.sparkContext.addSparkListener)
    val outcome =
      try a.workload match {
        case "fleet_ingest" => FleetIngest.run(a, spark, progress, ledger)
        case "fleet_analytics" => FleetAnalytics.run(a, spark, ledger)
        case w => sys.error(s"unknown workload $w")
      } finally {
        spark.streams.active.foreach(_.stop())
        spark.stop()
      }
    if (a.trace) Trace.write(a.traceOut)
    val layers = PerLayer.map { case (n, u) =>
      n -> outcome.perLayer.get(n).map(_._1).getOrElse(0.0) -> u }
    def metrics(ms: Seq[((String, Double), String)]) = Json.obj(ms.map { case ((n, v), u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })
    val out = Json.obj(Seq(
      "correct" -> outcome.correct.toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "checks" -> outcome.checks.map(Json.str).mkString("[", ",", "]"),
      "end_to_end" -> metrics(outcome.endToEnd.toSeq.map { case (n, (v, u)) => n -> v -> u }),
      "per_layer" -> metrics(if (a.trace) layers else Nil),
      "detail" -> metrics(outcome.detail.toSeq.sortBy(_._1).map { case (n, (v, u)) => n -> v -> u }),
      "self_ms" -> Json.obj(Trace.selfMs.toSeq.sortBy(_._1).map { case (n, v) => n -> Json.num(v) })))
    Files.writeString(a.out, out)
  }
}

/** The measured window's Spark and JVM totals (per-layer `spark.*` and
  * `jvm.*`): counters read at the window's start and end, except
  * `jvm.heap_peak_mb`, the heap's peak since the harness started. */
final class Window(ledger: Option[JobLedger]) {
  private val gc0 = Jvm.gcMs
  private val jit0 = Jvm.jitMs
  private def snap = ledger.map { l =>
    (l.total.cpuNs.get, l.total.shuffleBytes.get, l.total.spillBytes.get) }
    .getOrElse((0L, 0L, 0L))
  private val s0 = snap
  private var end: Option[Map[String, (Double, String)]] = None

  /** Close the window; later calls return the same figures. */
  def close(spark: org.apache.spark.sql.SparkSession): Map[String, (Double, String)] = {
    if (end.isEmpty) {
      Harness.drain(spark)
      val s1 = snap
      end = Some(Map(
        "spark.task_cpu_ms" -> ((s1._1 - s0._1) / 1e6, "ms"),
        "spark.shuffle_bytes" -> ((s1._2 - s0._2).toDouble, "bytes"),
        "spark.spill_bytes" -> ((s1._3 - s0._3).toDouble, "bytes"),
        "jvm.gc_ms" -> (Jvm.gcMs - gc0, "ms"),
        "jvm.jit_ms" -> (Jvm.jitMs - jit0, "ms"),
        "jvm.heap_peak_mb" -> (Jvm.heapPeakMb, "MB")))
    }
    end.get
  }
}
