package perfbench

import graft.log.{LogBulkProducer, LogId, LogStore, LogWriter}
import graft.sources.{GraftLogMicroBatchStream, GraftLogOffset, GraftLogSource}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Per-layer probes of a traced run, each timed from outside by wrapping a
  * call into the layer's public functions: log append, max-id lookup and
  * segment decode; source trigger planning; a RocksDB-state streaming
  * aggregation, so every traced run has state-commit batches; and the four
  * throughput probes of `graft.Bench` (stream drain, bulk produce, sink
  * append, 4-shard sink append), each reported as median, p90 and n.
  */
final class Probes(spark: SparkSession, dir: Path, jobs: JobListener, seed: Long,
    metrics: Metrics) {
  import metrics._
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }
  private var fresh = 0
  private def scratch(prefix: String): String = {
    fresh += 1
    dir.resolve(s"$prefix-$fresh").toString
  }
  private val N = 50000
  private val Reps = 3

  /** Log and source probes on a stream at the run's segment count. */
  def logAndSource(root: String, stream: String): Unit = {
    val segs = LogStore.segments(root, stream)
    count("log.segments", segs.size.toLong)
    dist("log.maxid_ms", (1 to 30).map(_ => time(LogStore.maxId(root, stream))._2), "ms")
    val w = new LogWriter(root, stream)
    dist("log.append_ms", (1 to 30).map { a =>
      time(w.produceAll((0 until 25).map(i =>
        Map[String, Any]("i" -> i, "k" -> s"user-${Live.mix(seed, a * 25L + i) % 1000}"))))._2
    }, "ms")
    val src = new GraftLogMicroBatchStream(root, stream,
      new CaseInsensitiveStringMap(Map("path" -> root, "stream" -> stream).asJava))
    val tail = LogStore.maxId(root, stream)
    // a live batch's range: the last two segments
    val all = LogStore.segments(root, stream)
    val from = all(math.max(0, all.size - 2)).first
    val start = GraftLogOffset.single(stream, LogId(from.millis, from.seq - 1))
    val end = GraftLogOffset.single(stream, tail)
    dist("sources.latest_offset_ms",
      (1 to 20).map(_ => time(src.latestOffset(start, ReadLimit.allAvailable()))._2), "ms")
    dist("sources.plan_ms", (1 to 20).map(_ => time(src.planInputPartitions(start, end))._2), "ms")
    val bytes = all.map(s => Files.size(java.nio.file.Paths.get(s.path))).sum
    val decode = (1 to Reps).map { _ =>
      val (entries, ms) = time(LogStore.readRange(root, stream, LogId.Zero, tail))
      require(entries.nonEmpty && entries.last.id == tail, s"decode stopped before $tail")
      bytes / 1e6 / (ms / 1e3)
    }
    put("log.decode_mb_s", Stats.median(decode), "MB/s")
  }

  private def rows() = spark.range(N).select(col("id").cast("string").as("i"),
    concat(lit("payload_"), col("id")).as("p"))

  /** A streaming count per key over a 50k-entry stream in five batches,
    * with RocksDB state on four partitions, through the engine's own
    * harness; the batch listener takes its state-commit columns.
    */
  private def state(): Unit = {
    val root = scratch("state")
    val w = new LogWriter(root, "bench")
    (0 until N).grouped(1000).foreach(g =>
      w.produceAll(g.map(i => Map[String, Any]("k" -> (i % 1000)))))
    val counts = try {
      graft.streaming.StreamHarness.runToMemory(spark, "perfbench_state", 4, mode = "complete",
        rocksdb = true) {
        spark.readStream.format("graftlog").option("path", root).option("stream", "bench")
          .option("startingOffsets", "earliest").option("maxEntriesPerTrigger", "10000").load()
          .groupBy(col("values").getItem("k").as("k")).count()
      }.collect()
    } finally graft.CacheScope.release()
    require(counts.length == 1000 && counts.forall(_.getLong(1) == N / 1000),
      s"state probe: ${counts.length} keys, counts ${counts.map(_.getLong(1)).distinct.sorted.toSeq}")
  }

  /** Bench's four throughput probes, `Reps` times each. */
  def throughput(): Unit = {
    val drain = (1 to Reps).map { _ =>
      val root = scratch("drain")
      val w = new LogWriter(root, "bench")
      (1 to N).grouped(1000).foreach(g =>
        w.produceAll(g.map(i => Map[String, Any]("i" -> i, "p" -> s"payload_$i"))))
      val (_, ms) = time {
        val q = spark.readStream.format("graftlog").option("path", root)
          .option("stream", "bench").option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", "25000").load()
          .writeStream.format("memory").queryName(s"perfbench_drain_$fresh")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .option("checkpointLocation", scratch("drain-ckpt")).start()
        q.processAllAvailable()
        q.stop()
        require(q.exception.isEmpty, s"drain failed: ${q.exception}")
      }
      N / (ms / 1e3)
    }
    distN("sources.drain_eps", drain, "1/s")
    state()
    val bulk = (1 to Reps).map { _ =>
      val root = scratch("bulk")
      val df = spark.range(N).select((lit(1700000000000L) + col("id") / 10L).as("ms"),
        concat(lit("payload_"), col("id")).as("p"))
      val (n, ms) = time(LogBulkProducer.produceAt(df, "ms", root, "bulk", Seq("p")))
      require(n == N, s"bulk produce wrote $n of $N entries")
      N / (ms / 1e3)
    }
    distN("log.bulk_produce_eps", bulk, "1/s")
    val commits = mutable.ArrayBuffer[(Long, Long, Double)]()
    def sink(shards: Int): Double = {
      val root = scratch("sink")
      val w0 = System.currentTimeMillis()
      val (_, ms) = time {
        val wr = rows().write.format("graftlog").option("path", root).option("stream", "sink")
        (if (shards > 1) wr.option("shards", shards.toString).option("shardKey", "i") else wr)
          .mode("append").save()
      }
      if (shards == 1) commits += ((w0, System.currentTimeMillis(), ms))
      val n = (0 until shards).map { s =>
        val st = if (shards > 1) GraftLogSource.shardName("sink", s) else "sink"
        if (LogStore.exists(root, st)) LogStore.readRange(root, st, LogId.Zero,
          LogStore.maxId(root, st)).size else 0
      }.sum
      require(n == N, s"sink append with $shards shard(s) wrote $n of $N entries")
      N / (ms / 1e3)
    }
    distN("sources.sink_append_eps", (1 to Reps).map(_ => sink(1)), "1/s")
    distN("sources.sink_sharded4_eps", (1 to Reps).map(_ => sink(4)), "1/s")
    // commit = the write call's wall time minus the span of its jobs
    Thread.sleep(500) // let the listener bus deliver the last job ends
    dist("sources.sink_commit_ms", commits.toSeq.map { case (a, b, ms) =>
      val js = jobs.sinceMs(a).filter(_._2 <= b)
      val span = if (js.isEmpty) 0L else js.map(_._2).max - js.map(_._1).min
      math.max(0.0, ms - span)
    }, "ms")
  }
}
