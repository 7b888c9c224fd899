package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run in one JVM: builds the session, runs a workload with
  * tracing off (end-to-end metrics) or on (per-layer metrics), and writes
  * the metrics, failures and result locations as JSON for `run.py`, which
  * adds the oracle check and prints the result line.
  *
  * Usage: Main --workload live|queries --seed N --seconds S
  *   --trace 0|1 --tables DIR --work DIR --out FILE
  */
object Main {
  /** The `queries` workload: streaming and log queries (segment decode,
    * state commit, the micro-batch harness, the graftlog batch and
    * streaming sinks), then batch oracle queries (operators, table loading,
    * CacheScope, AQE). The list is cut to what one run can time twice
    * over; q120 (RocksDB state) would take a third of it, so RocksDB state
    * commit is measured by the traced run's state probe instead.
    */
  val QueryList: Seq[String] = Seq("q60_log_roundtrip", "q78_streaming_agg",
    "q341_stream_pipe_replication", "q42_dedup_minhash_lsh", "q65_multijoin_revenue")

  /** Live traffic shape; the reference phase fills most of the run. */
  def liveShape(seconds: Double): LiveShape = LiveShape(historySegments = 3000,
    warmEntries = 20000, refSeconds = Live.WarmSeconds + math.max(2, math.round(seconds).toInt),
    appendsPerSec = 20, entriesPerAppend = 25, burstEntries = 20000, burstEntriesPerAppend = 500)

  private val SetupRepeats = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    val workload = opt("workload")
    require(Set("live", "queries")(workload), s"unknown workload $workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    Files.createDirectories(work)

    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // wall clock at the end of each phase, for the summary
    val phases = mutable.LinkedHashMap[String, Double]()
    val jvmT0 = System.nanoTime()
    def mark(phase: String): Unit = phases(phase) = (System.nanoTime() - jvmT0) / 1e9
    mark("session")
    val tracer = new Tracer(trace)
    val jobs = new JobListener(tracer)
    val batches = new BatchListener(tracer)
    if (trace) {
      spark.sparkContext.addSparkListener(jobs)
      spark.streams.addListener(batches)
    }
    val metrics = new Metrics
    import metrics._
    val info = mutable.LinkedHashMap[String, Any]()
    val errors = mutable.ArrayBuffer[String]()
    var attempted = 0
    var failed = 0
    val results = mutable.LinkedHashMap[String, String]()

    def consumerMetrics(live: Live, r: LiveResult): Unit = {
      val perEntry = batches.batches.asScala.toSeq
        .filter(b => b.queryId == live.queryId && b.rows > 0)
        .flatMap(b => b.durations.get("addBatch").map(_ * 1000.0 / b.rows))
      dist("consumer.dispatch_us_per_entry", perEntry, "us")
      dist("consumer.ack_gap_us", r.ackGapUs, "us")
      count("consumer.backlog_end", r.backlogEnd)
      count("consumer.pending_end", r.pendingEnd)
      dist("consumer.gen_late_ms", r.lateMs, "ms")
      put("log.disk_bytes_per_entry", r.diskBytesPerEntry, "B")
    }
    // the stream's history is a fixture, built once; each set-up creates
    // one more group on it, and the last group's consumer runs the workload
    def runLive(shape: LiveShape, name: String): (Live, Seq[Double]) = {
      val logRoot = work.resolve(s"$name-log").toString
      Live.writeHistory(logRoot, Live.Stream, shape.historySegments, seed)
      val setups = (1 to SetupRepeats).map { k =>
        val l = new Live(spark, logRoot, work.resolve(s"$name-ckpt").toString, s"group$k",
          seed, shape, tracer)
        (l, tracer.span(Kind.Phase, "setup")(l.setup()))
      }
      setups.init.foreach(_._1.stop())
      (setups.last._1, setups.map(_._2))
    }

    var primaryTraced = Double.NaN
    var primaryUntraced = Double.NaN
    var liveStream: Option[Live] = None
    workload match {
      case "live" =>
        val (live, setupSec) = runLive(liveShape(seconds), "live")
        mark("setup")
        val r = live.run()
        mark("live")
        liveStream = Some(live)
        attempted += r.attempted
        failed += r.failed
        errors ++= r.failures
        put("setup_s", Stats.median(setupSec), "s")
        put("latency_p50_ms", Stats.median(r.deliverMs), "ms")
        put("latency_p90_ms", Stats.p90(r.deliverMs), "ms")
        put("throughput_per_s", r.burstEps, "1/s")
        info ++= Seq("deliveries_measured" -> r.deliverMs.size,
          "append_p50_ms" -> Stats.median(r.appendMs), "append_p90_ms" -> Stats.p90(r.appendMs),
          "appends" -> r.appendMs.size, "generator_late_p90_ms" -> Stats.p90(r.lateMs),
          "generator_late_max_ms" -> r.lateMs.max, "disk_bytes_per_entry" -> r.diskBytesPerEntry,
          "segments_end" -> r.segments, "drain_eps" -> r.drainEps.map(math.round),
          "deliver_p50_ms_by_second" -> r.perSecondP50.map(math.round))
        if (trace) {
          primaryTraced = Stats.median(r.deliverTracedMs)
          primaryUntraced = Stats.median(r.deliverUntracedMs)
          consumerMetrics(live, r)
        }
      case _ =>
        val tables = opt("tables")
        if (!Files.exists(Paths.get(tables, "_done"))) {
          val t0 = System.nanoTime()
          val tmp = s"$tables.tmp-${ProcessHandle.current().pid()}"
          // GenSf's smallest scale, sf0.1
          graft.tools.GenSf.generate(spark, tmp, 1, seed)
          Files.writeString(Paths.get(tmp, "_done"), seed.toString)
          try Files.move(Paths.get(tmp), Paths.get(tables))
          catch { case _: java.nio.file.FileAlreadyExistsException => () }
          info("tables_generated_s") = (System.nanoTime() - t0) / 1e9
        }
        mark("tables")
        // set-up: a fresh session registers the engine's functions and
        // loads every table
        val setupSec = (1 to SetupRepeats).map { _ =>
          tracer.span(Kind.Phase, "setup") {
            val t0 = System.nanoTime()
            val s = spark.newSession()
            val loaded = graft.Tables.names.map(n => graft.Tables.load(s, tables, n))
            require(loaded.forall(_.columns.nonEmpty))
            (System.nanoTime() - t0) / 1e9
          }
        }
        mark("setup")
        val rs = Queries.run(spark, tables, QueryList, seconds, minWarmRuns = 2,
          work.resolve("results").toString, tracer)
        mark("queries")
        put("setup_s", Stats.median(setupSec), "s")
        rs.foreach { q =>
          attempted += q.runs
          failed += q.failures.size
          errors ++= q.failures.map(f => s"${q.name}: $f")
          q.resultDir.foreach(results(q.name) = _)
        }
        // per query: median and p90 of its warm runs; the workload's figures
        // sum them over queries (the time to answer every query once)
        val ok = rs.filter(_.warmSec.nonEmpty)
        val total = ok.map(q => Stats.median(q.warmSec)).sum
        put("latency_p50_ms", total * 1e3, "ms")
        put("latency_p90_ms", ok.map(q => Stats.p90(q.warmSec)).sum * 1e3, "ms")
        put("throughput_per_s", ok.map(_.warmSec.size).sum / ok.flatMap(_.warmSec).sum, "1/s")
        info("total_s") = total
        info("queries") = rs.map(q => q.name -> Map(
          "median_s" -> (if (q.warmSec.isEmpty) None else Some(Stats.median(q.warmSec))),
          "warm_s" -> q.warmSec.map(t => math.round(t * 1000) / 1000.0), "cold_s" -> q.coldSec,
          "runs" -> q.runs)).toMap
        if (trace) {
          val tr = rs.filter(q => q.tracedSec.nonEmpty && q.warmSec.nonEmpty)
          primaryTraced = tr.map(q => Stats.median(q.tracedSec)).sum
          primaryUntraced = tr.map(q => Stats.median(q.warmSec)).sum
        }
    }

    if (trace) {
      Thread.sleep(500) // let the listener buses deliver the workload's last events
      // harness columns of the per-batch table, from streaming progress
      val bs = batches.batches.asScala.toSeq
      count("streaming.batches", bs.size)
      Seq("triggerExecution" -> "trigger_ms", "walCommit" -> "wal_commit_ms",
        "latestOffset" -> "latest_offset_ms", "queryPlanning" -> "query_planning_ms",
        "addBatch" -> "add_batch_ms", "commitOffsets" -> "commit_offsets_ms").foreach {
        case (k, n) => dist(s"streaming.$n", bs.flatMap(_.durations.get(k).map(_.toDouble)), "ms")
      }
      count("spark.jobs", jobs.jobs.get)
      count("spark.stages", jobs.stages.get)
      count("spark.tasks", jobs.tasks.get)
      count("spark.max_tasks_per_stage", jobs.maxTasksPerStage.get)
      put("spark.task_busy_s", jobs.taskBusyMs.get / 1e3, "s")
      put("spark.job_gap_s", jobs.jobGapSeconds(tracer.all.filter(_.kind == Kind.Query)
        .map(s => (s.start, s.end))), "s")
      put("spark.shuffle_write_mb", jobs.shuffleWriteBytes.get / 1e6, "MB")
      put("trace.overhead_pct", (primaryTraced - primaryUntraced) / primaryUntraced * 100, "%")

      // layer probes, after the workload's own counters are taken
      val probes = new Probes(spark, work.resolve("probes"), jobs, seed, metrics)
      tracer.span(Kind.Phase, "probes") {
        liveStream match {
          case Some(live) => probes.logAndSource(live.logRoot, Live.Stream)
          case None =>
            // a short live run gives the consumer layer's numbers, and its
            // stream (history plus appends) is the log probes' input
            val (live, _) = runLive(LiveShape(3000, 2000, 3, 20, 25, 2000, 250),
              "probe-live")
            val r = live.run()
            attempted += r.attempted
            failed += r.failed
            errors ++= r.failures.map("probe live: " + _)
            consumerMetrics(live, r)
            probes.logAndSource(live.logRoot, Live.Stream)
        }
        probes.throughput()
      }
      mark("probes")
      // state columns, from the workload's stateful batches and the state probe's
      Thread.sleep(500)
      val stateful = batches.batches.asScala.toSeq.filter(_.statePartitions > 0)
      dist("streaming.state_commit_ms_per_partition",
        stateful.map(b => b.stateCommitMs.toDouble / b.statePartitions), "ms")
      count("streaming.state_partitions", stateful.map(_.statePartitions).max)
      count("streaming.state_rows", stateful.map(_.stateRows).max)
      put("streaming.state_bytes", stateful.map(_.stateBytes).max.toDouble, "B")
      val selfSec = tracer.finish(work.resolve("spans.jsonl"))
      mark("spans")
      count("trace.spans", tracer.all.size)
      Kind.names.values.foreach(k => put(s"trace.self_s.$k", selfSec.getOrElse(k, 0.0), "s"))
    }

    // a traced run reports the per-layer metrics; its end-to-end figures
    // are slowed by tracing, so they are kept only for the summary
    if (trace) Seq("setup_s", "latency_p50_ms", "latency_p90_ms", "throughput_per_s")
      .foreach(k => values.remove(k).foreach(v => info(s"traced $k") = v._1))
    info("phase_end_s") = phases.toMap
    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "metrics" -> values.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap,
      "info" -> info.toMap, "results" -> results.toMap,
      "oracle_sql" -> graft.SparkEntry.oracleSql.filter(kv => results.contains(kv._1)))
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(opt("out")), mapper.writeValueAsString(out))
    spark.stop()
  }
}
