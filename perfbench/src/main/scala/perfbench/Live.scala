package perfbench

import graft.consumer.{ConsumerConfig, GraftConsumer, HandlerResult}
import graft.log.{LogEntry, LogId, LogStore, LogWriter}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQuery

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Sizes of one `live` run: a pre-built history, a back-to-back warm-up
  * burst, an open-loop reference phase below saturation, then
  * `Live.DrainCycles + 1` back-to-back bursts of `burstEntries` (the first
  * one a warm-up).
  */
final case class LiveShape(historySegments: Int, warmEntries: Int, refSeconds: Int,
    appendsPerSec: Int, entriesPerAppend: Int, burstEntries: Int, burstEntriesPerAppend: Int)

/** Open-loop redix_stream traffic: one generator thread appends with
  * `LogWriter.produceAll` on a fixed schedule while an ordered group-mode
  * `GraftConsumer` dispatches every entry. A seeded share of entries is
  * deferred and acked later through `GraftConsumer.ack`, so the pending-
  * entries list is exercised. Delivery latency is measured from each
  * entry's scheduled send time, so generator stalls count.
  */
final class Live(spark: SparkSession, val logRoot: String, ckptRoot: String, group: String,
    seed: Long, shape: LiveShape, tracer: Tracer) {
  import Live._
  // no per-batch cap, as a redix_stream consumer reads (XREADGROUP without
  // COUNT): each micro-batch takes everything appended since the last one
  private val cfg = ConsumerConfig(logRoot, Stream, ckptRoot, groupName = Some(group))

  // entry indices: the warm-up burst, the reference phase's appends, then
  // the saturation bursts
  private val refBase = shape.warmEntries
  private val refEntries =
    refBase + shape.refSeconds * shape.appendsPerSec * shape.entriesPerAppend
  private val total = refEntries + (DrainCycles + 1) * shape.burstEntries
  // per entry index: scheduled send time, assigned id, delivery record
  private val sched = new Array[Long](total)
  private val assigned = new Array[LogId](total)
  private val deliveries = new ConcurrentLinkedQueue[Delivery]()
  private val delivered = new java.util.concurrent.atomic.AtomicInteger()
  private val deferred = new ConcurrentLinkedQueue[(String, Long)]()
  @volatile private var produced = 0

  private def key(i: Int): String = s"user-${mix(seed, i) % 1000}"
  private def payload(i: Int): String = "x" * (20 + (mix(seed ^ 0x55L, i) % 60).toInt)
  private def defers(i: Int): Boolean = mix(seed ^ 0xdefL, i) % 100 < 5

  private val handler = (_: String, _: Option[String], id: String, v: Map[String, String]) => {
    val t = System.nanoTime()
    tracer.span(Kind.Job, "handler") {
      val i = v.getOrElse("i", "-1").toInt
      val ok = i >= 0 && i < total && v.get("k").contains(key(i)) &&
        v.get("p").contains(payload(i))
      deliveries.add(Delivery(i, id, t,
        String.valueOf(spark.sparkContext.getLocalProperty("streaming.sql.batchId")), ok))
      delivered.incrementAndGet()
      if (ok && defers(i)) { deferred.add((id, t)); HandlerResult.Defer }
      else HandlerResult.Ok
    }
  }

  private var consumer: GraftConsumer = _
  @volatile var queryId: String = ""

  private def startConsumer(): StreamingQuery = {
    consumer = new GraftConsumer(spark, cfg, handler)
    consumer.start()
  }

  /** Creates the group at the stream's tail and starts its consumer, the
    * one that runs the reference phase; returns the seconds until the
    * consumer waits for data.
    */
  def setup(): Double = {
    val t0 = System.nanoTime()
    val q = startConsumer()
    queryId = q.id.toString
    val deadline = System.nanoTime() + 60 * 1000000000L
    while (q.isActive && q.status.message != "Waiting for data to arrive" &&
      System.nanoTime() < deadline) Thread.sleep(5)
    require(q.isActive && q.status.message == "Waiting for data to arrive",
      s"consumer did not come up: ${q.status.message} ${q.exception}")
    (System.nanoTime() - t0) / 1e9
  }

  def stop(): Unit = if (consumer != null) consumer.stop()

  /** Acks deferred entries at least `delayMs` after they were deferred. */
  private def ackDeferred(delayMs: Long, until: Long = Long.MaxValue): Unit = {
    var head = deferred.peek()
    while (head != null && System.nanoTime() - head._2 >= delayMs * 1000000L &&
      System.nanoTime() < until) {
      deferred.poll()
      consumer.ack(head._1)
      head = deferred.peek()
    }
  }

  private def append(from: Int, n: Int, failures: ArrayBuffer[String]): Option[Double] = {
    val batch = (from until from + n).map(i =>
      Map[String, Any]("i" -> i, "k" -> key(i), "p" -> payload(i)))
    val t0 = System.nanoTime()
    try {
      val ids = tracer.span(Kind.Query, "append")(writer.produceAll(batch))
      val ms = (System.nanoTime() - t0) / 1e6
      ids.zipWithIndex.foreach { case (id, k) => assigned(from + k) = id }
      Some(ms)
    } catch {
      case e: Exception =>
        failures += s"produceAll of entries $from..${from + n - 1}: $e"
        None
    }
  }
  private lazy val writer = new LogWriter(logRoot, Stream)

  private def traced(append: Int): Boolean = (append / shape.appendsPerSec) % 2 == 0

  /** Appends entries `from until to` back to back, each scheduled when its
    * append call starts.
    */
  private def burst(from0: Int, to: Int, failures: ArrayBuffer[String]): Unit = {
    var from = from0
    while (from < to) {
      val n = math.min(shape.burstEntriesPerAppend, to - from)
      val now = System.nanoTime()
      (from until from + n).foreach(i => sched(i) = now)
      append(from, n, failures)
      from += n
      produced = from
    }
  }

  /** Waits until every produced entry is delivered and every deferred
    * entry acked.
    */
  private def catchUp(): Unit = {
    awaitDelivery()
    while (!deferred.isEmpty) { ackDeferred(0); Thread.sleep(1) }
  }

  /** Waits up to a minute until every produced entry is delivered, acking
    * deferred entries 300 ms after their delivery.
    */
  private def awaitDelivery(): Unit = {
    val deadline = System.nanoTime() + 60 * 1000000000L
    while (delivered.get < produced && System.nanoTime() < deadline) {
      ackDeferred(300)
      Thread.sleep(5)
    }
  }

  /** Runs the reference phase and the saturation cycles, waits for
    * delivery, and checks exactly-once, in-order delivery of every entry
    * with its payload.
    */
  def run(): LiveResult = {
    val failures = ArrayBuffer[String]()
    val appendMs = ArrayBuffer[Double]()
    val lateMs = ArrayBuffer[Double]()
    // warm-up, unmeasured: a back-to-back burst runs the per-entry dispatch
    // path through JIT compilation; the per-batch path warms over the
    // reference phase's first `WarmSeconds`
    tracer.span(Kind.Phase, "warm-up") {
      burst(0, shape.warmEntries, failures)
      awaitDelivery()
    }
    val nRef = shape.refSeconds * shape.appendsPerSec
    val nWarm = WarmSeconds * shape.appendsPerSec
    val period = 1e9 / shape.appendsPerSec
    val refStart = System.nanoTime() + 50000000L
    tracer.span(Kind.Phase, "reference") {
      var a = 0
      while (a < nRef) {
        // a traced run alternates traced and untraced seconds after the
        // warm-up; the two sets of entries give the tracing overhead
        if (tracer.enabled) tracer.recording = a < nWarm || traced(a)
        val due = refStart + (a * period).toLong
        var now = System.nanoTime()
        while (now < due) {
          ackDeferred(300, due)
          now = System.nanoTime()
          if (now < due) Thread.sleep(math.max(0L, (due - now) / 1000000L - 1), 0)
          now = System.nanoTime()
        }
        lateMs += (now - due) / 1e6
        val from = refBase + a * shape.entriesPerAppend
        (from until from + shape.entriesPerAppend).foreach(i => sched(i) = due)
        append(from, shape.entriesPerAppend, failures).foreach(appendMs += _)
        produced = from + shape.entriesPerAppend
        a += 1
      }
    }
    tracer.recording = tracer.enabled
    val backlogEnd = produced - delivered.get
    val pendingEnd = consumer.pendingSummary().size
    // saturation, `DrainCycles + 1` times: the consumer catches up, acks
    // what it deferred and stops; a burst is appended while it is down, and
    // a restarted consumer of the same group drains it as one backlog, as a
    // redix_stream consumer catches up after downtime. (A burst into a
    // running uncapped consumer is lumpy: each batch takes all that arrived
    // during the last one, so a few ever larger batches decide the rate.)
    // The first cycle is the warm-up: it runs the restart, drain and
    // per-entry dispatch paths through JIT compilation and is not measured.
    val drains = (0 to DrainCycles).map { c =>
      val from = refEntries + c * shape.burstEntries
      val to = from + shape.burstEntries
      tracer.span(Kind.Phase, "catch-up")(catchUp())
      stop()
      tracer.span(Kind.Phase, if (c == 0) "warm-up burst" else "burst")(burst(from, to, failures))
      val t0 = System.nanoTime()
      tracer.span(Kind.Phase, "drain") {
        startConsumer()
        awaitDelivery()
      }
      (from until to, t0)
    }.tail
    tracer.span(Kind.Phase, "catch-up")(catchUp())
    val pendingAfter = consumer.pendingSummary()
    stop()

    // checks: every produced entry delivered exactly once, in id order,
    // with the payload it was produced with, and nothing left pending
    val ds = deliveries.asScala.toIndexedSeq
    val seen = new Array[Int](total)
    var redeliveries = 0
    var wrong = 0
    ds.foreach { d =>
      if (d.i < 0 || d.i >= total || !d.valuesOk) wrong += 1
      else {
        if (seen(d.i) > 0) redeliveries += 1
        seen(d.i) += 1
        if (assigned(d.i) != null && assigned(d.i).toString != d.id) wrong += 1
      }
    }
    val outOfOrder = ds.iterator.sliding(2).count {
      case Seq(x, y) => LogId.parse(x.id) >= LogId.parse(y.id)
      case _ => false
    }
    val missing = (0 until produced).count(i => seen(i) == 0)
    if (redeliveries > 0) failures += s"$redeliveries redelivered entries"
    if (wrong > 0) failures += s"$wrong deliveries with a wrong id or payload"
    if (outOfOrder > 0) failures += s"$outOfOrder out-of-order deliveries"
    if (missing > 0) failures += s"$missing entries never delivered"
    if (pendingAfter.nonEmpty) failures += s"${pendingAfter.size} entries still pending after ack"
    val badEntries = redeliveries + wrong + outOfOrder + missing + pendingAfter.size

    val at = new Array[Long](total)
    ds.foreach(d => if (d.i >= 0 && d.i < total && at(d.i) == 0L) at(d.i) = d.at)
    def lat(r: Seq[Int]): Seq[Double] = r.filter(at(_) > 0L).map(i => (at(i) - sched(i)) / 1e6)
    val measured = refBase + nWarm * shape.entriesPerAppend until refEntries
    def tracedEntry(i: Int): Boolean = traced((i - refBase) / shape.entriesPerAppend)
    // entries acked per second from a restart to the backlog's last delivery
    val drainEps = drains.map { case (range, t0) =>
      val done = range.filter(at(_) > 0L)
      if (done.isEmpty) 0.0 else done.size / math.max(1e-9, (done.map(at).max - t0) / 1e9)
    }
    // gaps between consecutive handler calls of one micro-batch
    val gaps = ds.sliding(2).collect {
      case Seq(x, y) if x.batch == y.batch && x.batch != "null" => (y.at - x.at) / 1e3
    }.toSeq
    val bytes = Seq(LogStore.streamDir(logRoot, Stream), cfg.ledgerDir.get).map(d =>
      Files.walk(d).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum).sum
    LiveResult(
      attempted = total, failed = badEntries, failures = failures.toSeq,
      deliverMs = lat(measured),
      deliverTracedMs = lat(measured.filter(tracedEntry)),
      deliverUntracedMs = lat(measured.filterNot(tracedEntry)),
      appendMs = appendMs.toSeq, lateMs = lateMs.toSeq,
      burstEps = Stats.median(drainEps), drainEps = drainEps,
      perSecondP50 = (refBase until refEntries).grouped(shape.appendsPerSec *
        shape.entriesPerAppend).map(lat).filter(_.nonEmpty).map(Stats.median).toSeq,
      diskBytesPerEntry = bytes.toDouble /
        (produced + shape.historySegments.toLong * HistoryEntries),
      ackGapUs = gaps, backlogEnd = backlogEnd, pendingEnd = pendingEnd,
      segments = LogStore.segments(logRoot, Stream).size)
  }
}

final case class Delivery(i: Int, id: String, at: Long, batch: String, valuesOk: Boolean)

final case class LiveResult(attempted: Int, failed: Int, failures: Seq[String],
    deliverMs: Seq[Double], deliverTracedMs: Seq[Double], deliverUntracedMs: Seq[Double],
    appendMs: Seq[Double], lateMs: Seq[Double], burstEps: Double, drainEps: Seq[Double],
    perSecondP50: Seq[Double],
    diskBytesPerEntry: Double, ackGapUs: Seq[Double], backlogEnd: Int, pendingEnd: Int,
    segments: Int)

object Live {
  val Stream = "live"
  val HistoryEntries = 25
  /** Leading seconds of the reference phase left out of the latencies:
    * after the warm-up burst, delivery latency at 20 appends/s falls by
    * ~40% over the first ~10 s (per-batch code compiling), then stays
    * within ~15%.
    */
  val WarmSeconds = 12
  /** Measured stop, burst and restart cycles of the saturation phase. */
  val DrainCycles = 3

  /** splitmix64 of (seed, i), non-negative. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    (z ^ (z >>> 31)) >>> 1
  }

  /** One segment per historical append of `HistoryEntries` entries, with
    * ids one millisecond apart ending a minute before now (so live appends
    * sort after them), written directly as the bulk bootstrap path does.
    */
  def writeHistory(root: String, stream: String, segments: Int, seed: Long): Unit = {
    LogStore.ensureStream(root, stream)
    val t0 = System.currentTimeMillis() - 60000L - segments
    (0 until segments).foreach { s =>
      LogStore.writeSegment(root, stream, (0 until HistoryEntries).map { j =>
        LogEntry(LogId(t0 + s, j.toLong), Map("h" -> s.toString,
          "k" -> s"user-${mix(seed, -1L - s * HistoryEntries - j) % 1000}"))
      })
    }
  }
}
