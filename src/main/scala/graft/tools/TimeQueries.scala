package graft.tools

import graft.{CacheScope, GraftSession, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

/** Time several named queries in ONE session (best of N each): one JVM/JIT
  * warmup shared across the list, so a before/after pair of invocations
  * with the same list is apples-to-apples (never compare these numbers to
  * Bench). Each run also reports its Spark jobs: how many, their summed
  * time, and the summed GAP between consecutive jobs — driver-side work
  * (analysis, optimization, AQE re-planning) that no stage metric shows.
  * Run: sbt "runMain graft.tools.TimeQueries q261_link_prediction,q423_unigram_lm_tokenizer /root/testdata/sf0.1 3"
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // job id -> (start ms, end ms or -1), for the run in progress
    val jobs = new ConcurrentHashMap[Int, (Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.put(e.jobId, (e.time, -1L))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        jobs.computeIfPresent(e.jobId, (_, j) => (j._1, e.time))
    })
    // fixed warmup, as in Bench
    try SparkEntry.queries("q01_pricing_summary")(spark, sfDir).count()
    catch { case _: Throwable => () }
    val out = names.map { name =>
      val fn = SparkEntry.queries(name)
      val runs = try (1 to n).map { _ =>
        jobs.clear()
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events arrive asynchronously: wait for the last job end
        val deadline = System.nanoTime() + 2000000000L
        while (jobs.values.asScala.exists(_._2 < 0) && System.nanoTime() < deadline)
          Thread.sleep(10)
        val js = jobs.values.asScala.toSeq.sortBy(_._1)
        val jobSec = js.map { case (s, e) => math.max(e - s, 0L) }.sum / 1e3
        val gapSec = js.zip(js.drop(1)).map { case (a, b) => math.max(b._1 - a._2, 0L) }.sum / 1e3
        (sec, js.size, jobSec, gapSec)
      } finally CacheScope.release()
      name -> runs
    }
    out.foreach { case (name, runs) =>
      val (best, nJobs, jobSec, gapSec) = runs.minBy(_._1)
      println(f"[timeq] $name best $best%.3f s  (runs: ${runs.map(r => f"${r._1}%.2f").mkString(" ")})" +
        f"  best run: $nJobs jobs, job time $jobSec%.3f s, gaps $gapSec%.3f s")
    }
    spark.stop()
  }
}
