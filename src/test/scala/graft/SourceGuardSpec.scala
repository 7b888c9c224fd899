package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps session configuration and function registration in one place
  * each: engine sessions come from `GraftSession.builder`, and the graft_*
  * function table is read only by `GraftExtensions` and
  * `GraftExpressions.register`, which only `QueryDef` calls.
  */
class SourceGuardSpec extends AnyFunSuite {
  private val sources: Seq[(String, String)] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root (${root.toAbsolutePath})")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map((p: Path) => p.getFileName.toString -> Files.readString(p))
    finally walk.close()
  }

  private def offenders(needles: Seq[String], allowed: Set[String]): Seq[String] =
    sources.collect { case (file, text) if !allowed(file) && needles.exists(text.contains) => file }

  test("SparkSession.builder( appears only in GraftSession.scala") {
    assert(offenders(Seq("SparkSession.builder("), Set("GraftSession.scala")).isEmpty)
  }

  test("graft_* functions are registered only through the one table") {
    val found = offenders(
      Seq("createOrReplaceTempFunction", "injectFunction", "GraftExpressions.register("),
      Set("Expressions.scala", "GraftExtensions.scala", "QueryDef.scala"))
    assert(found.isEmpty)
  }
}
