package perfbench

import graft.{CacheScope, SparkEntry}
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

final case class QueryResult(name: String, coldSec: Option[Double], warmSec: Seq[Double],
    tracedSec: Seq[Double], runs: Int, failures: Seq[String], resultDir: Option[String])

/** A closed loop over engine queries, one at a time: each run materializes
  * the query's full result (`collect`), and the timed value is exactly the
  * work whose output is checked. Every run's result must hash equal to the
  * first, and the first is written out for the DuckDB oracle comparison.
  */
object Queries {
  /** Order-independent digest of a result: its rows' string forms, sorted. */
  private def digest(rows: Array[Row]): Int =
    scala.util.hashing.MurmurHash3.orderedHash(rows.iterator.map(_.toString).toSeq.sorted)

  def run(spark: SparkSession, tablesDir: String, names: Seq[String], seconds: Double,
      minWarmRuns: Int, resultsDir: String, tracer: Tracer): Seq[QueryResult] = {
    val fns = names.map(n => n -> SparkEntry.queries(n))
    val cold = ArrayBuffer[Option[Double]]()
    val warm = names.map(_ => ArrayBuffer[Double]())
    val traced = names.map(_ => ArrayBuffer[Double]())
    val failures = names.map(_ => ArrayBuffer[String]())
    val runs = Array.fill(names.size)(0)
    val digests = Array.fill[Option[Int]](names.size)(None)
    val written = Array.fill[Option[String]](names.size)(None)

    def once(k: Int): Option[Double] = {
      val (name, fn) = fns(k)
      runs(k) += 1
      spark.sparkContext.setJobDescription(s"perfbench:$name")
      val t0 = System.nanoTime()
      try {
        val (rows, schema) = tracer.span(Kind.Query, name) {
          val df = fn(spark, tablesDir)
          (df.collect(), df.schema)
        }
        val sec = (System.nanoTime() - t0) / 1e9
        val d = digest(rows)
        digests(k) match {
          case None =>
            digests(k) = Some(d)
            val out = s"$resultsDir/$name"
            spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
              .write.mode("overwrite").parquet(out)
            written(k) = Some(out)
            Some(sec)
          case Some(d0) if d0 == d => Some(sec)
          case Some(_) =>
            failures(k) += s"run ${runs(k)} returned a different result than run 1"
            None
        }
      } catch {
        case e: Throwable =>
          failures(k) += s"run ${runs(k)}: ${e.getClass.getName}: ${e.getMessage}"
          None
      } finally {
        spark.sparkContext.setJobDescription(null)
        // every run does its full work: no cached frame survives a run
        CacheScope.release()
      }
    }

    // cold pass: fixture production, codegen and JIT; untimed
    tracer.span(Kind.Phase, "cold") {
      names.indices.foreach(k => cold += once(k))
    }
    // warm passes, round-robin; a traced run times four passes, traced,
    // untraced, untraced, traced, so the two sets give the tracing
    // overhead without favouring the later, warmer passes
    val t0 = System.nanoTime()
    var pass = 0
    val passes = if (tracer.enabled) 4 else minWarmRuns
    tracer.span(Kind.Phase, "warm") {
      while (pass < passes || (System.nanoTime() - t0) / 1e9 < seconds) {
        val tracing = tracer.enabled && pass % 4 % 3 == 0
        tracer.recording = tracing
        names.indices.foreach { k =>
          once(k).foreach(s => (if (tracing) traced(k) else warm(k)) += s)
        }
        pass += 1
      }
      tracer.recording = tracer.enabled
    }
    names.indices.map(k => QueryResult(names(k), cold(k), warm(k).toSeq, traced(k).toSeq,
      runs(k), failures(k).toSeq, written(k)))
  }
}
