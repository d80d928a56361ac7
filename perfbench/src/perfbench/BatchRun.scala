package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The batch workload: a closed loop with one client, calling the query
  * list in seeded order, pass after pass, until the run length has passed
  * (at least `MinPasses` passes). Each pass starts from an empty
  * IndexStore. */
object BatchRun {
  val Table = "sf0.1"
  /** Fixture the graftx kernels are timed on in a traced run. */
  val KernelTable = "open_sf0.25"
  val SetupRounds = 3
  /** Passes per run at least, so that a median over passes outvotes one
    * pass the host slowed down. */
  val MinPasses = 3

  def apply(cfg: RunConfig): Map[String, Any] = {
    val dir = s"${cfg.data}/$Table"
    val windowStart = Proc.isoNow()

    // Set-up, several times: session, fixture fingerprint, and a warm-up
    // of one share of the query list, so that after the last round every
    // query has run once and the timed passes find the JIT and Spark's
    // code-generation cache warm. Round 1 counts from JVM start.
    var spark: SparkSession = null
    var fixture: Map[String, Any] = Map.empty
    val setup = (0 until SetupRounds).map { r =>
      if (spark != null) spark.stop()
      val t0 = if (r == 0) cfg.jvmStartMs else System.currentTimeMillis().toDouble
      spark = Session.build(cfg.cores, cfg.work)
      fixture = Session.fixture(spark, dir)
      Batch.wipeIndex(spark, dir)
      val warm = new Caller(spark, None)
      Batch.List.indices.filter(_ % SetupRounds == r)
        .foreach(i => warm.call(Batch.List(i), dir))
      (System.currentTimeMillis() - t0) / 1e3
    }
    Proc.mark("set-up done")
    val tracer = if (cfg.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val caller = new Caller(spark, tracer)
    val passes = mutable.ArrayBuffer.empty[(Double, Seq[Call])]
    val t0 = System.nanoTime()
    do {
      Batch.wipeIndex(spark, dir)
      val order = Batch.order(Batch.List, cfg.seed * 1000 + passes.size)
      val p0 = System.nanoTime()
      val calls = order.map(caller.call(_, dir))
      passes += (((System.nanoTime() - p0) / 1e9, calls))
      Proc.mark(s"pass ${passes.size} done")
    } while ((System.nanoTime() - t0) / 1e9 < cfg.seconds ||
      passes.size < MinPasses)
    val measuredS = (System.nanoTime() - t0) / 1e9

    val layers = tracer.map(t => traced(spark, cfg, t, caller, passes.toSeq, dir))
    val rss = Proc.peakRssMb()
    val out = Json.obj(
      "workload" -> cfg.workload, "seed" -> cfg.seed,
      "settings" -> Session.stamp(spark, cfg.cores),
      "fixture" -> fixture,
      "run_window" -> s"$windowStart..${Proc.isoNow()}",
      "setup_rounds_s" -> setup, "measured_s" -> measuredS,
      "peak_rss_mb" -> rss,
      "passes" -> passes.map { case (w, cs) =>
        Json.obj("wall_s" -> w, "calls" -> cs.map(_.json)) },
      "per_layer" -> layers.map(_._1).getOrElse(Map.empty),
      "trace_file" -> layers.map(_._2).getOrElse(""))
    spark.stop()
    Proc.mark("stopped")
    out
  }

  /** Per-layer figures of a traced run, per pass; writes the span file. */
  private def traced(spark: SparkSession, cfg: RunConfig, t: Tracer,
      caller: Caller, passes: Seq[(Double, Seq[Call])],
      dir: String): (Map[String, Any], String) = {
    val n = passes.size.toDouble
    val ts = caller.traces.toSeq
    val wall = passes.map(_._1).sum
    def per(f: CallTrace => Double): Double = ts.map(f).sum / n
    val busy = ts.map(_.exec.busyS).sum
    val m = mutable.LinkedHashMap[String, Any](
      "operators.build_s" -> per(_.buildS),
      "operators.eager_jobs" -> per(_.eagerJobs),
      "catalyst.plan_s" -> per(_.planS),
      "exec.run_s" -> per(_.runS),
      "exec.jobs" -> per(_.exec.jobs),
      "exec.stages" -> per(_.exec.stages),
      "exec.tasks" -> per(_.exec.tasks),
      "exec.task_busy_s" -> per(_.exec.busyS),
      "exec.task_overhead_s" -> per(_.exec.overheadS),
      "exec.core_util" -> busy / (wall * cfg.cores),
      "exec.shuffle_read_bytes" -> per(_.exec.shuffleRead.toDouble),
      "exec.shuffle_write_bytes" -> per(_.exec.shuffleWrite.toDouble),
      "exec.spill_bytes" -> per(_.exec.spill.toDouble),
      "exec.input_bytes" -> per(_.exec.input.toDouble),
      "exec.gc_s" -> per(_.exec.gcS),
      "exec.failed_tasks" -> per(_.exec.failedTasks),
      "exec.task_skew" -> Stats.median(ts.map(_.exec.skew)),
      "core.cached_rdds" -> per(_.cachedRdds),
      "core.cached_bytes" -> per(_.cachedBytes.toDouble),
      "core.index_bytes" -> Batch.indexBytes(dir).toDouble,
      "self.operators_s" -> per(_.buildSelfS),
      "self.catalyst_s" -> per(_.planSelfS),
      "self.exec_s" -> per(c => Trace.covered(c.exec.jobIntervals)),
      "self.run_driver_s" -> per(_.runDriverS),
      "self.harness_s" -> per(_.harnessS))

    // Index build time: each builder again, against the store the passes
    // left warm.
    val builders = Batch.IndexGroups.map(_.head).filter(passes.head._2.map(_.name).contains)
    if (builders.nonEmpty) {
      val plain = new Caller(spark, None)
      m("core.index_build_s") = builders.map { b =>
        val cold = passes.map(_._2.find(_.name == b).get.totalS)
        val warm = plain.call(b, dir).totalS
        math.max(0.0, Stats.median(cold) - warm)
      }.sum
    }
    m ++= Kernels.measure(spark, s"${cfg.data}/$KernelTable", cfg.cores)

    t.jobSpans(Map.empty)
    val file = s"${cfg.work}/trace/${cfg.workload}-seed${cfg.seed}.json"
    Json.write(file, Json.obj("workload" -> cfg.workload, "seed" -> cfg.seed,
      "per_layer" -> m, "spans" -> t.toJson))
    (m.toMap, file)
  }
}
