package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Distribution helpers; quantiles interpolate linearly between ranks. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p90(xs: Seq[Double]): Double = quantile(xs, 0.9)
}

/** Named metrics with their units, in the order they were taken. */
final class Metrics {
  val values: scala.collection.mutable.LinkedHashMap[String, (Double, String)] =
    scala.collection.mutable.LinkedHashMap()
  def put(name: String, v: Double, unit: String): Unit = values(name) = (v, unit)
  def count(name: String, v: Long): Unit = put(name, v.toDouble, "count")
  /** p50 and p90 of a sample; a run that took no sample fails. */
  def dist(name: String, xs: Seq[Double], unit: String): Unit = {
    require(xs.nonEmpty, s"$name: the run took no sample")
    put(s"$name.p50", Stats.median(xs), unit)
    put(s"$name.p90", Stats.p90(xs), unit)
  }
  /** `dist` plus the sample count, as Bench's throughput probes report. */
  def distN(name: String, xs: Seq[Double], unit: String): Unit = {
    dist(name, xs, unit)
    count(s"$name.n", xs.size.toLong)
  }
}

/** One timed interval. `kind` orders nesting: a span's parent is the
  * innermost span of a lower kind that contains it. Times are nanoseconds
  * on the JVM's monotonic clock.
  */
final case class Span(id: Long, kind: Int, name: String, start: Long, end: Long)

object Kind {
  val Phase = 0
  val Query = 1 // one query run, or one append call of the live generator
  val Batch = 2 // one micro-batch, from streaming progress
  val Job = 3   // one Spark job, or one consumer handler call
  val Stage = 4
  val names: Map[Int, String] =
    Map(Phase -> "phase", Query -> "op", Batch -> "batch", Job -> "job", Stage -> "stage")
}

/** In-memory span recorder. Spans are recorded only while `recording` is
  * set, so a traced run can alternate traced and untraced stretches and
  * report the difference as tracing overhead. Spans are kept in memory and
  * written out once, at the end of the run.
  */
final class Tracer(val enabled: Boolean) {
  @volatile var recording: Boolean = enabled
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  // epoch-millisecond event times (listener events) mapped onto nanoTime
  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def fromEpochMs(ms: Long): Long = nano0 + (ms - epochMs0) * 1000000L

  def add(kind: Int, name: String, start: Long, end: Long): Unit =
    if (recording) spans.add(Span(ids.incrementAndGet(), kind, name, start, end))

  /** Times `f` as a span when recording is on at its start. */
  def span[T](kind: Int, name: String)(f: => T): T =
    if (!recording) f
    else {
      val t0 = System.nanoTime()
      try f finally spans.add(Span(ids.incrementAndGet(), kind, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Links every span to its parent and operation, derives self time (a
    * span's duration minus the part its children cover), writes the spans
    * as JSON lines, and returns summed self seconds per kind.
    */
  def finish(path: java.nio.file.Path): Map[String, Double] = {
    val ss = all.sortBy(s => (s.start, s.kind))
    // candidate parents per kind, sorted by start; spans of one kind rarely
    // overlap, so a container is among the latest few starting before a child
    val byKind = ss.groupBy(_.kind).map { case (k, v) => k -> v.toArray }
    def parentOf(c: Span): Option[Span] =
      (c.kind - 1 to 0 by -1).iterator.flatMap { k =>
        byKind.get(k).flatMap { arr =>
          var lo = 0
          var hi = arr.length - 1
          var found = -1
          while (lo <= hi) {
            val mid = (lo + hi) >>> 1
            if (arr(mid).start <= c.start) { found = mid; lo = mid + 1 } else hi = mid - 1
          }
          (found to math.max(0, found - 8) by -1).iterator.map(arr(_))
            .find(p => p.start <= c.start && p.end >= c.end)
        }
      }.nextOption()
    val parent: Map[Long, Long] = ss.flatMap(c => parentOf(c).map(p => c.id -> p.id)).toMap
    val byId = ss.map(s => s.id -> s).toMap
    def op(s: Span): Long = parent.get(s.id).map(byId) match {
      case Some(p) if p.kind > Kind.Phase => op(p)
      case _ => s.id
    }
    val children = ss.filter(s => parent.contains(s.id)).groupBy(s => parent(s.id))
    def self(s: Span): Long = {
      // union of child intervals, clipped to the parent
      var covered = 0L
      var cur = s.start
      children.getOrElse(s.id, Nil).sortBy(_.start).foreach { c =>
        val a = math.max(c.start, cur)
        val b = math.min(c.end, s.end)
        if (b > a) { covered += b - a; cur = b }
      }
      (s.end - s.start) - covered
    }
    val w = java.nio.file.Files.newBufferedWriter(path)
    try ss.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${parent.getOrElse(s.id, 0L)},"op":${op(s)},""" +
        s""""kind":"${Kind.names(s.kind)}","name":"${s.name}","start_ns":${s.start},""" +
        s""""dur_ns":${s.end - s.start},"self_ns":${self(s)}}""")
      w.newLine()
    } finally w.close()
    ss.groupBy(s => Kind.names(s.kind)).map { case (k, v) => k -> v.map(self).sum / 1e9 }
  }
}

/** Spark job and stage counters plus job/stage spans, recorded from a
  * listener owned by the benchmark (the program itself is not changed).
  */
final class JobListener(tracer: Tracer) extends SparkListener {
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  val jobs = new AtomicLong()
  val stages = new AtomicLong()
  val tasks = new AtomicLong()
  val maxTasksPerStage = new AtomicLong()
  val taskBusyMs = new AtomicLong()
  val shuffleWriteBytes = new AtomicLong()
  // job intervals (epoch ms): the job gap and the sink-commit probe
  val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (tracer.recording) jobStart.put(e.jobId, e.time)

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val t0 = jobStart.remove(e.jobId)
    if (tracer.recording && t0 != 0L) {
      jobs.incrementAndGet()
      jobIntervals.add((t0, e.time))
      tracer.add(Kind.Job, s"job", tracer.fromEpochMs(t0), tracer.fromEpochMs(e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (tracer.recording) {
      val info = e.stageInfo
      stages.incrementAndGet()
      tasks.addAndGet(info.numTasks)
      maxTasksPerStage.accumulateAndGet(info.numTasks, math.max)
      val m = info.taskMetrics
      if (m != null) {
        taskBusyMs.addAndGet(m.executorRunTime)
        shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
      for (s <- info.submissionTime; c <- info.completionTime)
        tracer.add(Kind.Stage, "stage", tracer.fromEpochMs(s), tracer.fromEpochMs(c))
    }

  /** Wall time of the given operations (nanoTime intervals) with no job
    * running: the gap between jobs (planning, AQE re-planning, commits on
    * the session's side) that no stage metric shows.
    */
  def jobGapSeconds(ops: Seq[(Long, Long)]): Double = {
    val js = jobIntervals.asScala.toSeq
      .map { case (a, b) => (tracer.fromEpochMs(a), tracer.fromEpochMs(b)) }.sortBy(_._1)
    ops.map { case (from, to) =>
      var busy = 0L
      var cur = from
      js.foreach { case (a0, b0) =>
        val a = math.max(a0, cur)
        val b = math.min(b0, to)
        if (b > a) { busy += b - a; cur = b }
      }
      (to - from) - busy
    }.sum / 1e9
  }

  def sinceMs(t0: Long): Seq[(Long, Long)] = jobIntervals.asScala.filter(_._1 >= t0).toSeq
}

/** Per-micro-batch durations from streaming progress, the columns of the
  * round-3 per-batch harness table, plus state-store counters.
  */
final case class Batch(queryId: String, durations: Map[String, Long], rows: Long,
    stateCommitMs: Long, statePartitions: Long, stateRows: Long, stateBytes: Long)

final class BatchListener(tracer: Tracer) extends StreamingQueryListener {
  val batches = new ConcurrentLinkedQueue[Batch]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (tracer.recording) {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      batches.add(Batch(p.id.toString, d, p.numInputRows,
        ops.map(_.commitTimeMs).sum,
        ops.map(o => math.max(o.numStateStoreInstances, 0L)).sum,
        ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      d.get("triggerExecution").foreach { dur =>
        val start = tracer.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
        tracer.add(Kind.Batch, "batch", start, start + dur * 1000000L)
      }
    }
}
