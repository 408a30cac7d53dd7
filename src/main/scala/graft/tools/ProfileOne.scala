package graft.tools

import graft.{Session, SparkEntry}

/** Isolated timing for one registered query: Bench-identical session,
  * N repetitions, per-rep times — separates a query's own cost from
  * suite-order interactions (heap churn, accumulated broadcasts). */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 4
    // GRAFT_PROFILE_CONF="k=v;k=v": extra session confs for A/B runs —
    // lets one binary compare e.g. AQE coalescing policies without a
    // recompile. Applied AFTER Bench's confs.
    val extra = sys.env.get("GRAFT_PROFILE_CONF").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { kv =>
        val Array(k, v) = kv.split("=", 2)
        (k, v)
      }
    val spark = Session.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      Session.tmpfsLocalDir +: extra: _*)
    val fn = SparkEntry.queries(name)
    // GRAFT_PROFILE_CLEAR_MEMOS=1: drop the sweep-output memos before
    // every rep (Bench's between-pass reset) so each rep is a COLD
    // sweep — without it, sharing-pair gates pay the sweep in rep 1
    // and read the warm pin in reps 2+.
    val clearMemos = sys.env.contains("GRAFT_PROFILE_CLEAR_MEMOS")
    // Bench-identical bytes rollup: shuffle read/write are deterministic
    // per executed plan at a fixed SF, so the per-rep bytes line is the
    // noise-free A/B signal wall time can't give on a loaded box.
    val metrics = new GateTaskMetrics
    spark.sparkContext.addSparkListener(metrics)
    for (r <- 1 to reps) {
      if (clearMemos) {
        graft.queries.GraphQueries.clearSweepMemos()
        System.gc()
      }
      metrics.setGate(s"rep$r")
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      val sec = (System.nanoTime() - t0) / 1e9
      metrics.quiesce()
      val (sr, sw, spm, spd, _, tasks) =
        metrics.snapshot.getOrElse(s"rep$r", (0L, 0L, 0L, 0L, 0L, 0L))
      println(f"REP $r: $sec%.2f s ($n rows) " +
        f"sr=${sr / 1e6}%.1fMB sw=${sw / 1e6}%.1fMB " +
        f"spill=${(spm + spd) / 1e6}%.1fMB tasks=$tasks")
    }
    spark.stop()
  }
}
