package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.execution.ExplainMode

/** Prints one query's formatted physical plan (optionally only the lines
  * containing a substring) — the quick `.explain`-and-iterate loop for a
  * single operator, without regenerating all of PLANS.md.
  *
  * Run: sbt "runMain graft.tools.DumpPlan q171_incremental_agg [grep] [sfDir]"
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val grep = if (args.length > 1) Some(args(1)) else None
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val spark = graft.GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val out = grep.fold(plan)(g =>
      plan.linesIterator.filter(_.contains(g)).mkString("\n"))
    println(s"===PLAN $name===")
    println(out)
    spark.stop()
  }
}
