package perfbench

import java.io.{File, FileInputStream, PrintWriter}
import java.lang.management.ManagementFactory
import java.util.Properties

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Closed-loop driver: one Spark session, one thread, the next operation
  * issued only after the previous one returns. Reads a properties spec
  * written by `run.py`, runs set-up and the timed loop, and writes raw
  * per-operation results, spans and span counters as JSON. Correctness
  * verdicts and metrics are derived by `run.py`.
  *
  * Usage: Main <spec.properties> */
object Main {

  /** Set-up phases, timed, and the instant set-up ended. */
  final class Setup(jvmStart: Long) {
    val phases = mutable.LinkedHashMap.empty[String, Double]
    var endMs = -1L
    def apply[A](phase: String)(body: => A): A = {
      val t0 = System.nanoTime()
      try body finally phases(phase) = (System.nanoTime() - t0) / 1e9
    }
    def done(): Unit = endMs = System.currentTimeMillis()
    def seconds: Double = (endMs - jvmStart) / 1e3
  }

  def main(args: Array[String]): Unit = {
    val spec = new Properties()
    val in = new FileInputStream(args(0))
    try spec.load(in) finally in.close()
    def p(k: String): String = Option(spec.getProperty(k)).getOrElse(sys.error(s"spec lacks $k"))
    def list(k: String): Seq[String] = p(k).split(",").toSeq.filter(_.nonEmpty)

    val workload = p("workload")
    val seconds = p("seconds").toDouble
    val trace = p("trace") == "1"
    val cpus = p("cpus")
    val work = p("work")

    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setup = new Setup(jvmStart)
    val spark = setup("session_s") {
      SparkSession.builder()
        .master(s"local[$cpus]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        .config("spark.cleaner.periodicGC.interval", "60min")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark.sparkContext, s"$workload-${p("seed")}")
    if (trace) spark.sparkContext.addSparkListener(tracer.listener)
    val tables = TableCounter.install()

    val ops = workload match {
      case "analytics_mix" =>
        new Mix(spark, tracer, tables, p("data"), p("warm_passes").toInt, list("gates"),
          p("orders").split(";").toSeq.map(_.split(",").toSeq))
          .run(seconds, trace, setup)
      case "ingest_backfill" | "ingest_incremental" =>
        new Ingest(spark, tracer, work, list("warm_windows"),
          Option(spec.getProperty("history")).filter(_.nonEmpty),
          list("windows"), backfill = workload == "ingest_backfill")
          .run(seconds, trace, setup)
      case other => sys.error(s"unknown workload $other")
    }

    // What the run's memos and pinned frames still hold: the least heap in
    // use over a few forced collections, each followed by a pause in which
    // Spark's cleaner can release what the previous one freed.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "trace" -> trace,
      "setup_s" -> setup.seconds, "setup" -> setup.phases,
      "retained_heap_mb" -> heapMb,
      "table_calls" -> tables.calls.get, "table_loads" -> tables.loads.get,
      "ops" -> ops)
    if (trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      result("spans") = tracer.spans.map { s =>
        val c = Option(tracer.listener.bySpan.get(s.id)).getOrElse(new Counters)
        mutable.LinkedHashMap[String, Any](
          "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "run" -> s.runId,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs,
          "jobs" -> c.jobs, "tasks" -> c.tasks, "run_s" -> c.runS, "gc_s" -> c.gcS,
          "sched_delay_s" -> c.schedDelayS, "in_bytes" -> c.inBytes,
          "in_records" -> c.inRecords, "out_bytes" -> c.outBytes,
          "shuffle_write" -> c.shuffleWrite, "spill" -> c.spill,
          "peak_exec" -> c.peakExec,
          "job_ms" -> c.jobIntervals.map { case (a, b) => Seq(a, b) })
      }
      // Offsets turning the listener's epoch-ms job times into span time.
      result("nano_epoch_ms") = System.currentTimeMillis() - System.nanoTime() / 1e6
    }
    spark.stop()
    val w = new PrintWriter(new File(p("out")), "UTF-8")
    try w.write(Json(result)) finally w.close()
  }

  def errorText(e: Throwable): String = {
    val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
    val msg = (t: Throwable) => Option(t.getMessage).getOrElse("").take(240)
    s"${e.getClass.getSimpleName}: ${msg(e)}" +
      (if (root ne e) s" <- ${root.getClass.getSimpleName}: ${msg(root)}" else "")
  }

  /** Between operations, untimed: collect garbage and give the cleaner
    * and background compiler threads a moment, so one operation's debris
    * does not land on the next. */
  def settle(): Unit = { System.gc(); Thread.sleep(250) }

  /** Issue `op(i)` for i = 0, 1, ... until `seconds` have passed or it
    * returns false; an operation started before the deadline runs whole. */
  def loop(seconds: Double)(op: Int => Boolean): Unit = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var i = 0
    var more = true
    while (more && System.nanoTime() < deadline) { more = op(i); i += 1 }
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers, booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}

/** Counts calls into `graft.T` and how many of them loaded a table (a memo
  * miss), by swapping T's memo map for a counting one at start-up. */
final class TableCounter extends java.util.concurrent.ConcurrentHashMap[AnyRef, AnyRef] {
  val calls = new java.util.concurrent.atomic.AtomicLong
  val loads = new java.util.concurrent.atomic.AtomicLong
  override def computeIfAbsent(k: AnyRef,
      f: java.util.function.Function[_ >: AnyRef, _ <: AnyRef]): AnyRef = {
    calls.incrementAndGet()
    super.computeIfAbsent(k, (key: AnyRef) => { loads.incrementAndGet(); f.apply(key) })
  }
}

object TableCounter {
  /** T's memo is a static final field of the module class, which
    * reflection cannot set; it is swapped through Unsafe before any
    * gate runs, so no compiled code has folded the old map in yet. */
  def install(): TableCounter = {
    val field = graft.T.getClass.getDeclaredFields
      .find(f => classOf[java.util.concurrent.ConcurrentHashMap[_, _]].isAssignableFrom(f.getType))
      .getOrElse(sys.error("graft.T has no memo map"))
    val uf = classOf[sun.misc.Unsafe].getDeclaredField("theUnsafe")
    uf.setAccessible(true)
    val unsafe = uf.get(null).asInstanceOf[sun.misc.Unsafe]
    val counter = new TableCounter
    if (java.lang.reflect.Modifier.isStatic(field.getModifiers))
      unsafe.putObject(unsafe.staticFieldBase(field), unsafe.staticFieldOffset(field), counter)
    else
      unsafe.putObject(graft.T, unsafe.objectFieldOffset(field), counter)
    counter
  }
}
