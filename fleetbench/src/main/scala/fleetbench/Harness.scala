package fleetbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Shared pieces of every workload: the session, the run's fixed
  * settings, statistics, spans, the Spark listeners and the JVM
  * counters. Everything here observes the program from outside: it
  * calls public functions and reads Spark's own listener events. */
final case class RunArgs(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, data: String, out: Path, traceOut: Path,
    cpus: Int)

object RunArgs {
  def parse(args: Array[String]): RunArgs = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    RunArgs(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Path.of(need("work")), need("data"),
      Path.of(need("out")), Path.of(need("trace-out")), need("cpus").toInt)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile (the numpy default). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def ms(ns: Long): Double = ns / 1e6
}

/** Spans at each layer boundary, kept in memory and written at exit.
  * Off (the untraced runs) a span is just its body. */
object Trace {
  final case class Span(id: Long, parent: Long, op: String, name: String,
      start: Long, end: Long)
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def span[T](name: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, op, name, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: duration minus the part of its interval
    * that its child spans cover. */
  def selfMs: Map[String, Double] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(c => (c.start, c.end)).sortBy(_._1)
        var covered = 0L; var upTo = s.start
        kids.foreach { case (a, b) =>
          val lo = math.max(a, upTo); val hi = math.min(b, s.end)
          if (hi > lo) { covered += hi - lo; upTo = hi }
        }
        Stats.ms(s.end - s.start - covered)
      }.sum
    }
  }

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${Json.str(s.op)},"name":${Json.str(s.name)},"start_ns":${s.start},"end_ns":${s.end}}""" += '\n'
    }
    Files.writeString(path, sb.toString)
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < 0x20 => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) sys.error(s"non-finite metric $d") else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

/** Per-operation Spark accounting: one listener, keyed on the job group
  * the harness sets around each operation. Streaming jobs carry the
  * query id and micro-batch id, so they key as
  * `stream:<queryId>#<batchId>`. */
final class JobLedger extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong
    val cpuNs = new AtomicLong; val runMs = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
  }
  val byGroup = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val total = new Acc

  private def keyOf(p: java.util.Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("streaming.sql.batchId")) match {
      case Some(b) => s"stream:${p.getProperty("sql.streaming.queryId")}#$b"
      case None => Option(p.getProperty("spark.jobGroup.id")).getOrElse("none")
    }
  def acc(group: String): Acc = byGroup.computeIfAbsent(group, _ => new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = keyOf(e.properties)
    acc(g).jobs.incrementAndGet(); total.jobs.incrementAndGet()
    e.stageIds.foreach(s => stageGroup.put(s, g))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.getOrDefault(e.stageId, "none")
    Seq(acc(g), total).foreach { a =>
      val m = e.taskMetrics
      if (m != null) {
        a.cpuNs.addAndGet(m.executorCpuTime); a.runMs.addAndGet(m.executorRunTime)
        a.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten)
        a.spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
      val ti = e.taskInfo
      if (ti != null && ti.finishTime > 0) a.intervals.add((ti.launchTime, ti.finishTime))
    }
  }
}

object JobLedger {
  /** Milliseconds of [t0, t1] (epoch ms) covered by no task interval. */
  def uncovered(intervals: Iterable[(Long, Long)], t0: Long, t1: Long): Double = {
    var covered = 0L; var upTo = t0
    intervals.toSeq.sortBy(_._1).foreach { case (a, b) =>
      val lo = math.max(a, upTo); val hi = math.min(b, t1)
      if (hi > lo) { covered += hi - lo; upTo = hi }
    }
    math.max(0L, t1 - t0 - covered).toDouble
  }
}

/** Every progress event of every streaming query, in arrival order. */
final class ProgressLog extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  def of(runId: java.util.UUID) = events.asScala.toSeq.filter(_.runId == runId)
}

object Jvm {
  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum.toDouble
  def jitMs: Double = Option(ManagementFactory.getCompilationMXBean)
    .map(_.getTotalCompilationTime.toDouble).getOrElse(0.0)
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val heapBeforeGcMax = new AtomicLong(0)

  /** Record the heap in use just before every collection from now on.
    * Heap use only grows between collections, so the largest of these
    * and the use at the time of asking is the heap's peak. */
  def watchHeap(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageBeforeGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          heapBeforeGcMax.accumulateAndGet(used, (x: Long, y: Long) => math.max(x, y))
        }, null, null)
    case _ =>
  }
  def heapPeakMb: Double = math.max(heapBeforeGcMax.get,
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed) / 1048576.0
  /** Milliseconds since the JVM started: set-up is timed from here. */
  def sinceStartMs: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime).toDouble
}

object Harness {
  /** The session every graft deployment in this repository ships
    * (mirrors the program's Bench session): Spark's local master with
    * one task thread per core, the library's SQL extensions, and the
    * program's codegen-cache and coalescing settings. Scratch space
    * (spill, warehouse) stays inside the run's work directory. */
  def session(a: RunArgs): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName(s"fleetbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.sql.catalog.graftwh", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graftwh.warehouse", a.work.resolve("stores").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Run `body` with every Spark job it submits tagged `group`. */
  def inGroup[T](spark: SparkSession, group: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.graft.ListenerBridge.drain(spark.sparkContext)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }
}

/** What one workload run hands back to Main. `detail` carries every
  * workload-specific figure under its own name, printed on
  * the line before the result; `endToEnd` and `perLayer` feed the
  * result line. */
final case class Outcome(attempted: Long, failed: Long, correct: Boolean,
    checks: Seq[String], endToEnd: Map[String, (Double, String)],
    perLayer: Map[String, (Double, String)], detail: Map[String, (Double, String)])
