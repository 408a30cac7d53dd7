package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The program has four entry points — Verify, Bench, the pipeline Runner
  * and the per-gate profiler — and only they read the environment. A
  * one-off diagnostic main or an env knob elsewhere is code no caller
  * keeps alive; this spec keeps new ones from creeping back in. It also
  * keeps incremental ingest to one path, the batch `pipeline.Runner`: no
  * source uses Spark's streaming API; and concurrent Spark jobs to one
  * mechanism, `ops.Staging.concurrently`, whose threads inherit the
  * caller's local properties; and the Spark session to one recipe,
  * `Session.local`. */
class EntryPointSpec extends AnyFunSuite {

  private val entryPoints = Set(
    "Bench.scala", "Verify.scala", "pipeline/Runner.scala",
    "tools/ProfileOne.scala")

  private val root = java.nio.file.Paths.get("src/main/scala/graft")

  private def filesWith(token: String): Set[String] = {
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    files
      .filter(f => java.nio.file.Files.readString(f).contains(token))
      .map(f => root.relativize(f).toString.replace('\\', '/')).toSet
  }

  test("only the four entry points define a main") {
    assert(filesWith("def main(") == entryPoints)
  }

  test("only the four entry points read sys.env") {
    assert(filesWith("sys.env") == entryPoints)
  }

  test("no source uses Spark's streaming API") {
    assert(filesWith("org.apache.spark.sql.streaming").isEmpty)
  }

  test("only Staging.concurrently starts threads") {
    assert((filesWith("scala.concurrent"), filesWith("Executors.")) ==
      ((Set.empty[String], Set("ops/Staging.scala"))))
  }

  test("only graft.Session builds a SparkSession") {
    assert(filesWith("SparkSession.builder") == Set("Session.scala"))
  }
}
