package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** [[Memo]]: the one bounded LRU behind every staging and sweep cache. */
class MemoSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  /** A memo whose builds are counted, so a hit and a rebuild differ. */
  private final class Counted[K](memo: Memo[K, String]) {
    var builds = 0
    def apply(k: K): String =
      memo.getOrElseUpdate(k) { builds += 1; s"v$k" }
  }

  private def persistedIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A persisted, materialized frame and the RDD ids it added. */
  private def stagedFrame(n: Int): (DataFrame, Set[Int]) = {
    val before = persistedIds
    val df = spark.range(n.toLong).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    df.count()
    (df, persistedIds -- before)
  }

  test("bound holds and eviction is least-recently-used, not FIFO") {
    val c = new Counted(Memo.staging[Int, String](3))
    Seq(1, 2, 3).foreach(c(_))
    assert(c(1) == "v1" && c.builds == 3, "a hit must not rebuild")
    c(4) // evicts 2, the least recently used; 1 was touched after it
    assert(c.builds == 4)
    c(1); c(3); c(4)
    assert(c.builds == 4, "1, 3 and 4 must still be resident")
    c(2)
    assert(c.builds == 5, "2 must have been evicted")
  }

  test("a (session, dir)-keyed memo over max + 1 dirs holds max entries") {
    val memo = Memo.staging[(SparkSession, String), String](4)
    val c = new Counted(memo)
    (0 to 4).foreach(i => c((spark, s"/corpus/$i")))
    assert(memo.size == 4)
    c((spark, "/corpus/0"))
    assert(c.builds == 6, "the oldest dir must have been evicted")
  }

  test("evicted and cleared persisted frames leave getPersistentRDDs") {
    val memo = Memo.staging[Int, DataFrame](2)
    var mine = Map.empty[Int, Set[Int]]
    for (k <- 1 to 3) memo.getOrElseUpdate(k) {
      val (df, ids) = stagedFrame(10 * k)
      assert(ids.nonEmpty, "the staged frame must be persisted")
      mine += k -> ids
      df
    }
    assert(memo.size == 2)
    assert((persistedIds intersect mine(1)).isEmpty,
      s"evicted frame still persisted: ${mine(1)}")
    assert((mine(2) ++ mine(3)).subsetOf(persistedIds))
    memo.clear()
    assert(memo.size == 0)
    val leaked = persistedIds intersect mine.values.flatten.toSet
    assert(leaked.isEmpty, s"clear must release every frame (leaked: $leaked)")
  }

  test("a build that throws stores nothing and the next call rebuilds") {
    val memo = Memo.staging[Int, String](2)
    intercept[IllegalStateException] {
      memo.getOrElseUpdate(1)(throw new IllegalStateException("boom"))
    }
    assert(memo.size == 0)
    assert(memo.getOrElseUpdate(1)("ok") == "ok")
    assert(memo.size == 1)
  }

  test("a nested build re-entering another memo and its own completes") {
    val a = Memo.staging[Int, Int](4)
    val b = Memo.sweep[String, Int](4)
    val v = a.getOrElseUpdate(1) {
      b.getOrElseUpdate("x")(10) + a.getOrElseUpdate(2)(5)
    }
    assert(v == 15 && a.size == 2 && b.size == 1)
    assert(a.getOrElseUpdate(2)(-1) == 5)
    b.clear()
  }

  test("clearSweeps empties sweep memos and leaves staging memos intact") {
    val staging = Memo.staging[Int, DataFrame](2)
    val sweep = Memo.sweep[Int, String](2)
    val (df, ids) = stagedFrame(7)
    staging.getOrElseUpdate(1)(df)
    sweep.getOrElseUpdate(1)("pair table")
    Memo.clearSweeps()
    assert(sweep.size == 0)
    assert(staging.size == 1 && (staging.getOrElseUpdate(1)(fail()) eq df))
    assert(ids.nonEmpty && ids.subsetOf(persistedIds),
      "a staging memo's persisted blocks must survive clearSweeps")
    staging.clear()
  }

  test("memo policy lives in ops/Memo.scala") {
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = {
      val s = java.nio.file.Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    assert(files.nonEmpty, s"no sources under ${root.toAbsolutePath}")
    def filesWith(token: String): Set[String] = files
      .filter(f => java.nio.file.Files.readString(f).contains(token))
      .map(f => root.relativize(f).toString.replace('\\', '/')).toSet
    assert(filesWith("ConcurrentHashMap")
      .subsetOf(Set("Registry.scala", "tools/GateTaskMetrics.scala")))
    assert(filesWith("removeEldestEntry") == Set("ops/Memo.scala"))
  }
}
