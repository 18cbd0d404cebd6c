package fleetbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.FrameParser
import graft.streaming.{IngestPipeline, MergeSink}

/** fleet_ingest: a backlog of frame-line files drains through
  * `IngestPipeline.fromFileLog` → `IngestPipeline.parse` →
  * `MergeSink.bucketedMergeSink` keyed on (mac, ssid); then an
  * open-loop generator lands one sensor's uploads into the same running
  * query on a fixed schedule; then a tail of single uploads is committed
  * one at a time; last, the ingested rows are served to SQL
  * ([[SqlServing]]). Every program default (trigger, files per trigger,
  * bucket count) is left as the program ships it. */
object FleetIngest {
  /** Backlog files: five triggers at the file source's shipped
    * `maxFilesPerTrigger` of 100. The measured triggers are counted, not
    * assumed, so another default changes the count, not the run. */
  val BacklogFiles = 500
  /** backlog triggers that warm up before the drain rate is measured */
  val WarmTriggers = 2
  /** single uploads committed one at a time after the live phase */
  val TailUploads = 3
  /** The live phase's open-loop rate, in files per second, for
    * `--seconds` seconds: about a third of the drain capacity measured
    * on a 4-core host (see the README). */
  val LiveFilesPerSec = 10
  val Key = "mac,ssid"
  val ValueCols = Seq("ts", "rssi", "freq", "sensorId", "dist", "valid")

  final case class Landed(name: String, accepted: Int, dueMs: Long, landedMs: Long)

  private final class Stream(spark: SparkSession, root: Path, val store: Path) {
    val landing = root.resolve("landing")
    val staging = root.resolve("staging")
    val ckpt = root.resolve("checkpoint")
    Seq(landing, staging).foreach(Files.createDirectories(_))
    var query: StreamingQuery = _

    /** Write a file aside, then move it into the landing directory in
      * one step, so the source never lists a half-written file. */
    def land(name: String, lines: Seq[String], mtime: Option[Long]): Unit = {
      val tmp = staging.resolve(name)
      Files.writeString(tmp, lines.mkString("", "\n", "\n"), StandardCharsets.UTF_8)
      mtime.foreach(t => Files.setLastModifiedTime(tmp, FileTime.fromMillis(t)))
      Files.move(tmp, landing.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }

    def start(): Unit = {
      val obs = Trace.span("IngestPipeline.parse", "fleet") {
        IngestPipeline.parse(Trace.span("IngestPipeline.fromFileLog", "fleet") {
          IngestPipeline.fromFileLog(spark, landing.toString)
        })
      }.withColumn("op", lit("upsert"))
        .withColumn("ver", unix_millis(col("ts")))
      query = IngestPipeline.start(MergeSink.bucketedMergeSink(obs, store.toString,
        ckpt.toString, Key, "op", "ver", ValueCols))
    }

    /** file name → micro-batch id, from the query's checkpoint source
      * log (plain and compacted entries alike) */
    def fileBatches(): Map[String, Long] = {
      val dir = ckpt.resolve("sources").resolve("0")
      val s = Files.list(dir)
      val files = try s.iterator().asScala.toSeq
        .filter(_.getFileName.toString.matches("\\d+(\\.compact)?")) finally s.close()
      val PathRe = "\"path\":\"([^\"]+)\"".r
      val BatchRe = "\"batchId\":(\\d+)".r
      files.flatMap { f =>
        Files.readAllLines(f).asScala.flatMap { l =>
          for (p <- PathRe.findFirstMatchIn(l); b <- BatchRe.findFirstMatchIn(l))
            yield p.group(1).split('/').last -> b.group(1).toLong
        }
      }.toMap
    }
  }

  /** batch id → epoch ms at which the batch's commit had finished */
  private def batchEnds(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress]) =
    ps.filter(_.numInputRows > 0).map { p =>
      p.batchId -> (Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue)
    }.toMap

  /** The backlog triggers the drain rate is taken over: those after the
    * first [[WarmTriggers]], or the last one when the backlog drained in
    * fewer triggers than that. */
  def measuredDrain[P](drain: Seq[P]): Seq[P] =
    if (drain.size > WarmTriggers) drain.drop(WarmTriggers) else drain.takeRight(1)

  def run(a: RunArgs, spark: SparkSession, progress: ProgressLog,
      ledger: Option[JobLedger]): Outcome = {
    val root = a.work.resolve("ingest")
    val gen = new FleetGen(a.seed)
    val t00 = System.currentTimeMillis()

    // ---- set-up: the measured stream's backlog lands before it starts
    val stream = new Stream(spark, root, root.resolve("store"))
    val files = Vector.newBuilder[(String, FleetGen.FileOut)]
    val backlogBase = t00 - 10L * 60 * 1000
    for (i <- 0 until BacklogFiles) {
      val f = gen.nextFile(); val name = f"b$i%05d.txt"
      // strictly increasing mtimes: the source takes the oldest files
      // first, so per-key capture order is also commit order
      stream.land(name, f.lines, Some(backlogBase + i * 100L))
      files += name -> f
    }
    // the live uploads come from the sensors in turn, one sensor per file
    val liveFiles = Vector.tabulate(LiveFilesPerSec * a.seconds)(j => gen.nextFile(Some(j % FleetGen.Sensors)))
    val tailFiles = Vector.tabulate(TailUploads)(k => gen.nextFile(Some(k % FleetGen.Sensors)))
    val setupGenMs = System.currentTimeMillis() - t00

    val setupS = Jvm.sinceStartMs / 1000.0
    Main.log(f"set-up done: $setupS%.2f s")

    // ---- the backlog drain: the first WarmTriggers commits warm the
    // JVM and the commit path; the rate is measured over the rest
    val window = new Window(ledger)
    stream.start()
    stream.query.processAllAvailable()
    Harness.drain(spark)
    val drainAll = progress.of(stream.query.runId).filter(_.numInputRows > 0).sortBy(_.batchId)
    val drainEvents = measuredDrain(drainAll)
    Main.log(s"drain triggers (ms): ${drainAll.map(p => p.durationMs.get("triggerExecution")).mkString(",")}")
    val storeMbAfterDrain = Harness.dirBytes(stream.store) / 1048576.0
    val statsAfterDrain = Trace.span("MergeSink.storeStats", "fleet") {
      MergeSink.storeStats(spark, stream.store.toString).collect()
    }

    // ---- measured window 2: open-loop live phase
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Landed]()
    val t0 = System.currentTimeMillis() + 200
    val genThread = new Thread(() => {
      liveFiles.zipWithIndex.foreach { case (f, j) =>
        val due = t0 + j * 1000L / LiveFilesPerSec
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        val name = f"l$j%05d.txt"
        Trace.span("generator.land", s"live-$j") { stream.land(name, f.lines, None) }
        landed.add(Landed(name, f.accepted.size, due, System.currentTimeMillis()))
      }
    }, "fleetbench-generator")
    genThread.setDaemon(true)
    genThread.start()
    genThread.join()
    stream.query.processAllAvailable()
    Harness.drain(spark)
    val windowTotals = window.close(spark)
    Main.log("live phase done")

    // ---- outside every timed window: single uploads, each committed
    // alone, and the buckets its commit rewrote (those the latest
    // version owns in storeStats)
    val tail = tailFiles.zipWithIndex.map { case (f, k) =>
      val name = f"t$k%05d.txt"
      Trace.span("generator.land", s"tail-$k") { stream.land(name, f.lines, None) }
      stream.query.processAllAvailable()
      val latest = MergeSink.latestVersion(stream.store.toString).getOrElse(-1L)
      val owned = Trace.span("MergeSink.storeStats", s"tail-$k") {
        MergeSink.storeStats(spark, stream.store.toString).collect()
      }.count(_.getAs[Long]("owner_version") == latest)
      name -> owned.toDouble
    }
    stream.query.stop()
    Harness.drain(spark)

    // ---- outside every timed window: map files to batches, check
    val events = progress.of(stream.query.runId)
    val ends = batchEnds(events)
    val byFile = stream.fileBatches()
    val live = landed.asScala.toSeq
    val fresh = live.flatMap(l => byFile.get(l.name).flatMap(ends.get).map(_ - l.dueMs).map(_.toDouble))
    val failedFiles = (files.result().map(_._1) ++ live.map(_.name) ++ tail.map(_._1)).count(n =>
      byFile.get(n).flatMap(ends.get).isEmpty)
    val allFiles = files.result().map(_._2) ++ liveFiles ++ tailFiles
    val linesWritten = allFiles.map(_.lines.size).sum.toLong
    val acceptedByFile = files.result().map { case (n, f) => n -> f.accepted.size }.toMap

    val rates = drainEvents.map { p =>
      val acc = byFile.collect { case (n, b) if b == p.batchId => acceptedByFile(n) }.sum
      acc / (p.durationMs.get("triggerExecution").doubleValue / 1000.0)
    }
    val checks = Seq.newBuilder[String]
    val model = Checks.lastWriter(allFiles.flatMap(_.accepted))
    val storeRows = Trace.span("GraftDataSource.read", "check") {
      Checks.storeRows(spark.read.format("graft").load(stream.store.toString))
    }
    checks ++= Checks.withSelfTest("store_equals_last_writer_model", model, storeRows)
    val sumInput = events.map(_.numInputRows).sum
    checks ++= Checks.expect("sum_numInputRows_equals_lines_written", sumInput == linesWritten,
      s"progress says $sumInput, generator wrote $linesWritten")
    val (framesIn, rowsOut, parseMs) = parseAlone(spark, allFiles, a.trace)
    val rejected = allFiles.size.toLong * FleetGen.RejectsPerFile
    checks ++= Checks.expect("lines_written_equal_accepted_plus_rejected",
      rowsOut + rejected == linesWritten,
      s"accepted $rowsOut + rejected $rejected != written $linesWritten")
    checks ++= Checks.goldenRows(spark)
    checks ++= Checks.expect("every_landed_file_committed", failedFiles == 0,
      s"$failedFiles files never became visible")

    // ---- serving: SQL readers and writers on the store the stream built
    val served = SqlServing.serve(a, spark, ledger, storeRows)
    checks ++= served.checks

    // a stream that committed nothing reads 0 here, next to its failed
    // files and checks, rather than crashing the run
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    val e2e = Map(
      "setup_s" -> (setupS, "s"),
      "throughput_per_s" -> (med(rates), "1/s"),
      "latency_p50_ms" -> (med(fresh), "ms"))
    val liveBatchFiles = byFile.filter { case (n, _) => n.startsWith("l") }
      .groupBy(_._2).values.map(_.size.toDouble).toSeq
    val detail = Map(
      "ingest_rows_per_s" -> (med(rates), "rows/s"),
      "freshness_p50_ms" -> (med(fresh), "ms"),
      "freshness_p90_ms" -> (if (fresh.isEmpty) 0.0 else Stats.quantile(fresh, 0.9), "ms"),
      "freshness_samples" -> (fresh.size.toDouble, "count"),
      "store_mb" -> (storeMbAfterDrain, "MB"),
      "drain_triggers" -> (rates.size.toDouble, "count"),
      "drain_capacity_files_per_s" -> (med(drainEvents.map(p =>
        byFile.count(_._2 == p.batchId) / (p.durationMs.get("triggerExecution").doubleValue / 1000.0))), "1/s"),
      "live_rate_files_per_s" -> (LiveFilesPerSec.toDouble, "1/s"),
      "warm_commit_ms" -> (med(drainAll.take(WarmTriggers)
        .map(_.durationMs.get("addBatch").doubleValue)), "ms"),
      "setup_generate_ms" -> (setupGenMs.toDouble, "ms")) ++ served.detail

    val perLayer = if (!a.trace) Map.empty[String, (Double, String)] else {
      val l = ledger.get
      def acc(b: Long) = l.acc(s"stream:${stream.query.id}#$b")
      val measured = drainEvents
      def batchesOf(names: Seq[String]) = names.flatMap(byFile.get).toSet
      val liveBatches = batchesOf(live.map(_.name))
      val liveEvents = events.filter(p => p.numInputRows > 0 && liveBatches(p.batchId))
      val tailBatches = batchesOf(tail.map(_._1))
      def overhead(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        p.durationMs.get("triggerExecution").doubleValue - p.durationMs.get("addBatch").doubleValue
      val hist = Trace.span("MergeSink.storeHistory", "fleet") {
        MergeSink.storeHistory(spark, stream.store.toString).collect()
      }
      val lastVersion = statsAfterDrain.map(_.getAs[Long]("owner_version")).maxOption.getOrElse(-1L)
      Map(
        "FrameParser.frames_in" -> (framesIn.toDouble, "count"),
        "FrameParser.rows_out" -> (rowsOut.toDouble, "count"),
        "FrameParser.ms_per_1k_frames" -> (parseMs / framesIn * 1000.0, "ms"),
        "IngestPipeline.triggers" -> (measured.size.toDouble, "count"),
        "IngestPipeline.rows_per_trigger" -> (med(measured.map(_.numInputRows.toDouble)), "rows"),
        "IngestPipeline.trigger_ms" -> (med(liveEvents.map(_.durationMs.get("triggerExecution").doubleValue)), "ms"),
        "IngestPipeline.overhead_ms" -> (med((measured ++ liveEvents).map(overhead)), "ms"),
        "IngestPipeline.backlog_files_max" -> (if (liveBatchFiles.isEmpty) 0.0 else liveBatchFiles.max, "count"),
        "generator.lag_ms_max" -> (live.map(l => (l.landedMs - l.dueMs).toDouble).max, "ms"),
        "MergeSink.commits" -> (measured.size.toDouble, "count"),
        "MergeSink.commit_ms" -> (med(measured.map(_.durationMs.get("addBatch").doubleValue)), "ms"),
        "MergeSink.commit_jobs" -> (med(measured.map(p => acc(p.batchId).jobs.get.toDouble)), "count"),
        "MergeSink.commit_task_cpu_ms" -> (med(measured.map(p => acc(p.batchId).cpuNs.get / 1e6)), "ms"),
        "MergeSink.commit_shuffle_bytes" -> (med(measured.map(p => acc(p.batchId).shuffleBytes.get.toDouble)), "bytes"),
        "MergeSink.buckets_touched" -> (statsAfterDrain.count(_.getAs[Long]("owner_version") == lastVersion).toDouble, "count"),
        "MergeSink.tail_buckets_touched" -> (med(tail.map(_._2)), "count"),
        "MergeSink.tail_commit_ms" -> (med(events.filter(p => tailBatches(p.batchId))
          .map(_.durationMs.get("addBatch").doubleValue)), "ms"),
        "MergeSink.store_files" -> (statsAfterDrain.map(_.getAs[Long]("n_files")).sum.toDouble, "count"),
        "MergeSink.live_bytes" -> (statsAfterDrain.map(_.getAs[Long]("bytes")).sum.toDouble, "bytes"),
        "MergeSink.versions_retained" -> (hist.length.toDouble, "count"))
    }
    Outcome(attempted = allFiles.size.toLong + served.measured.size,
      failed = failedFiles.toLong + served.measured.count(!_.ok),
      correct = checks.result().isEmpty, checks = checks.result(),
      endToEnd = e2e, perLayer = perLayer ++ served.perLayer ++ windowTotals,
      detail = detail)
  }

  /** The backlog's frames through `FrameParser.parse` alone, forced
    * through `noop`: frames in, rows out, and the median wall of five
    * passes (traced runs only; untraced runs count once). */
  private def parseAlone(spark: SparkSession, files: Seq[FleetGen.FileOut],
      traced: Boolean): (Long, Long, Double) = {
    import spark.implicits._
    val frames = files.flatMap(_.lines).flatMap { l =>
      l.split(":", 3) match {
        case Array(s, t, b) if t.forall(_.isDigit) =>
          Some((new java.sql.Timestamp(t.toLong), s.toLong, java.util.Base64.getDecoder.decode(b)))
        case _ => None
      }
    }.toDF("ts", "sensorId", "bytes").cache()
    val framesIn = frames.count()
    val parsed = FrameParser.parse(frames)
    val rowsOut = parsed.count()
    val ms = if (!traced) 0.0 else Stats.median((0 until 5).map { i =>
      val t = System.nanoTime()
      Trace.span("FrameParser.parse", s"parse-$i") {
        FrameParser.parse(frames).write.format("noop").mode("overwrite").save()
      }
      (System.nanoTime() - t) / 1e6
    })
    frames.unpersist()
    (framesIn, rowsOut, ms)
  }
}
