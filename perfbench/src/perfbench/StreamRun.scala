package perfbench

import java.io.File
import java.nio.file.{Files, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery,
  StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{RainStormApps, RainStormJob}

/** The RainStorm workload: the reference's complex app (Gender=Female,
  * running count by IsActiveMember) over churn-schema lines.
  *
  *  a. Open loop: one generator thread writes a 500-row file every 250 ms
  *     (2,000 rec/s) by atomic rename, whatever the stream does; the query
  *     runs under the default trigger. Each file's latency runs from the
  *     time it was due to the end of the micro-batch that consumed it.
  *  b. Drain: a staged 50k-row backlog through `RainStormJob.start`
  *     (AvailableNow), timed end to end, five times (median). Every set-up
  *     round drains it once untimed, so the timed drains find the JIT warm.
  *
  * Both phases are checked for exactly-once output: one output line per
  * filtered input record, and each key's counts are exactly 1..N. */
object StreamRun {
  val FileRows = 500
  val PeriodMs = 250L
  val BacklogFiles = 100
  val Drains = 5
  /** The run is invalid when the generator's p99 lateness exceeds this
    * share of the p50 latency: the load was then not the stated rate. */
  val MaxLateShare = 0.25
  val SetupRounds = 3
  private val App = RainStormApps.complexApp(5, "Female", 11)

  private def expected(lines: Seq[String]): Map[String, Long] =
    lines.map(_.split(",", -1)).filter(f => f.length > 11 && f(5) == "Female")
      .groupBy(_(11)).map { case (k, v) => k -> v.size.toLong }

  /** Exactly-once check of a sink dir; returns the number of mismatches. */
  private def check(out: File, want: Map[String, Long]): Int = {
    val got = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    Option(out.listFiles()).toSeq.flatten.filter(_.getName.startsWith("batch-"))
      .flatMap(d => Option(d.listFiles()).toSeq.flatten)
      .filter(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
      .foreach { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().foreach { l =>
          val i = l.lastIndexOf(':')
          got.getOrElseUpdate(l.take(i), mutable.ArrayBuffer.empty) +=
            l.drop(i + 1).toLong
        } finally src.close()
      }
    (want.keySet ++ got.keySet).toSeq.count { k =>
      val n = want.getOrElse(k, 0L)
      got.get(k).map(_.sorted.toSeq).getOrElse(Nil) != (1L to n)
    }
  }

  private def writeFile(dir: File, stage: File, name: String,
      lines: Seq[String]): Unit = {
    val tmp = new File(stage, name)
    Files.write(tmp.toPath, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    Files.move(tmp.toPath, new File(dir, name).toPath,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def fresh(f: File): File = {
    def rm(x: File): Unit = {
      if (x.isDirectory) Option(x.listFiles()).toSeq.flatten.foreach(rm)
      x.delete()
    }
    rm(f); f.mkdirs(); f
  }

  private def epochMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble

  /** Drains `in` through `RainStormJob.start`; (seconds, mismatches). */
  private def drain(spark: SparkSession, in: File, root: File, tag: String,
      want: Map[String, Long]): (Double, Int) = {
    val out = fresh(new File(root, s"drain-out-$tag"))
    val ckpt = fresh(new File(root, s"drain-ckpt-$tag"))
    val t0 = System.nanoTime()
    RainStormJob.start(spark, in.getPath, App, out.getPath, ckpt.getPath,
      stateful = true).awaitTermination()
    val s = (System.nanoTime() - t0) / 1e9
    (s, check(out, want))
  }

  def apply(cfg: RunConfig): Map[String, Any] = {
    val root = new File(cfg.work, "stream")
    val windowStart = Proc.isoNow()
    val nFiles = math.max(1, (cfg.seconds * 1000 / PeriodMs).toInt)
    val nA = nFiles * FileRows
    val nB = BacklogFiles * FileRows
    val extra = Seq("spark.sql.streaming.numRecentProgressUpdates" -> "100000")

    // Seeded record selection from the synthetic churn pool.
    val pool = RainStormApps.syntheticChurnLines(((nA + nB) * 5) / 4)
    val pick = new scala.util.Random(cfg.seed).shuffle(pool.indices.toVector)
    val recA = pick.take(nA).map(pool)
    val recB = pick.slice(nA, nA + nB).map(pool)
    val wantA = expected(recA)
    val wantB = expected(recB)

    // Set-up, several times: session, backlog staging, warm-up streams.
    var spark: SparkSession = null
    val backlog = new File(root, "backlog")
    val setup = (1 to SetupRounds).map { r =>
      if (spark != null) spark.stop()
      val t0 = if (r == 1) cfg.jvmStartMs else System.currentTimeMillis().toDouble
      spark = Session.build(cfg.cores, cfg.work, extra)
      fresh(backlog)
      val stage = fresh(new File(root, "backlog-stage"))
      recB.grouped(FileRows).zipWithIndex.foreach { case (ls, i) =>
        writeFile(backlog, stage, f"b$i%05d.txt", ls) }
      val warmIn = fresh(new File(root, "warm-in"))
      writeFile(warmIn, stage, "w.txt", recA.take(FileRows))
      drain(spark, warmIn, root, "warm", Map.empty)
      drain(spark, backlog, root, "warm-backlog", Map.empty)
      (System.currentTimeMillis() - t0) / 1e3
    }

    val tracer = if (cfg.trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val sinkS = mutable.ArrayBuffer.empty[Double]
    val listener = tracer.map { t =>
      val l = new StreamingQueryListener {
        def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
        def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
        def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
          val p = e.progress
          if (p.numInputRows > 0)
            t.add("batch", s"batch:${p.id}:${p.batchId}", 0L, epochMs(p),
              epochMs(p) + p.batchDuration, "rows" -> p.numInputRows)
        }
      }
      spark.streams.addListener(l)
      l
    }

    Proc.mark("set-up done")
    // Phase a: open loop.
    val in = fresh(new File(root, "in"))
    val stage = fresh(new File(root, "stage"))
    val out = fresh(new File(root, "out"))
    val ckpt = fresh(new File(root, "ckpt"))
    val sink = RainStormJob.textSink(out.getPath) _
    val query: StreamingQuery = RainStormJob
      .pipeline(RainStormJob.lineSource(spark, in.getPath), App)
      .writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (b: Dataset[Row], id: Long) =>
        val t0 = System.nanoTime()
        sink(b, id)
        sinkS.synchronized { sinkS += (System.nanoTime() - t0) / 1e9 }
        ()
      }
      .option("checkpointLocation", ckpt.getPath)
      .start()
    val due = new Array[Double](nFiles)
    val written = new Array[Double](nFiles)
    val start = System.currentTimeMillis() + 500.0
    val gen = new Thread(() => {
      (0 until nFiles).foreach { k =>
        due(k) = start + k * PeriodMs
        val wait = (due(k) - System.currentTimeMillis()).toLong
        if (wait > 0) Thread.sleep(wait)
        writeFile(in, stage, f"f$k%06d.txt",
          recA.slice(k * FileRows, (k + 1) * FileRows))
        written(k) = System.currentTimeMillis().toDouble
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    Proc.mark("generator done")
    def consumed: Long = query.recentProgress.map(_.numInputRows).sum
    val deadline = System.currentTimeMillis() + 60000
    while (consumed < nA && System.currentTimeMillis() < deadline &&
        query.isActive) Thread.sleep(20)
    query.processAllAvailable()
    query.stop()
    Proc.mark("open loop stopped")
    val progress = query.recentProgress.filter(_.numInputRows > 0).toSeq
    val openLoopS = progress.lastOption.map(p => epochMs(p) + p.batchDuration)
      .map(e => (e - start) / 1e3).getOrElse(cfg.seconds)
    val mismatchA = check(out, wantA)

    // Files map to batches through the cumulative input row count.
    val ends = progress.map(p => epochMs(p) + p.batchDuration)
    val cum = progress.map(_.numInputRows).scanLeft(0L)(_ + _).tail
    val doneAt = (0 until nFiles).map { k =>
      val b = cum.indexWhere(_ >= (k + 1).toLong * FileRows)
      if (b < 0) Double.NaN else ends(b)
    }
    val lat = (0 until nFiles).filter(k => !doneAt(k).isNaN)
      .map(k => doneAt(k) - due(k))
    val unconsumed = doneAt.count(_.isNaN)
    val late = (0 until nFiles).map(k => written(k) - due(k))
    val backlogMax = (0 until nFiles).map { k =>
      (0 to k).count(j => doneAt(j).isNaN || doneAt(j) > written(k))
    }.max
    val latP50 = Stats.median(lat)
    val lateP99 = Stats.quantile(late, 0.99)

    // Phase b: drain the staged backlog.
    val drains = (1 to Drains).map(i => drain(spark, backlog, root, i.toString, wantB))

    Proc.mark("drains done")
    val settings = Session.stamp(spark, cfg.cores)
    val layers = tracer.map { t =>
      def p50(f: StreamingQueryProgress => Double): Double =
        Stats.median(progress.map(f))
      def d(p: StreamingQueryProgress, k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0) / 1e3
      val ids = progress.map(p => s"batch:${p.id}:${p.batchId}").toSet
      val ex = t.counts(spark.sparkContext, ids)
      val last = progress.lastOption.flatMap(_.stateOperators.headOption)
      val m = mutable.LinkedHashMap[String, Any](
        "streaming.batches" -> progress.size,
        "streaming.rows_per_batch_p50" -> p50(_.numInputRows.toDouble),
        "streaming.batch_s_p50" -> p50(_.batchDuration / 1e3),
        "streaming.add_batch_s_p50" -> p50(d(_, "addBatch")),
        "streaming.state_commit_s_p50" -> p50(p =>
          p.stateOperators.map(_.commitTimeMs).sum / 1e3),
        "streaming.wal_s_p50" -> p50(p => d(p, "walCommit") + d(p, "commitOffsets")),
        "streaming.plan_s_p50" -> p50(d(_, "queryPlanning")),
        "streaming.source_s_p50" -> p50(p => d(p, "getBatch") + d(p, "latestOffset")),
        "streaming.sink_s_p50" -> Stats.median(sinkS.toSeq),
        "streaming.tasks_per_batch" -> ex.tasks.toDouble / math.max(1, progress.size),
        "streaming.state_rows" -> last.map(_.numRowsTotal).getOrElse(0L),
        "streaming.state_mem_bytes" -> last.map(_.memoryUsedBytes).getOrElse(0L),
        "streaming.backlog_files_max" -> backlogMax,
        "streaming.gen_late_ms_p99" -> lateP99,
        "streaming.drain_rec_s" -> nB / Stats.median(drains.map(_._1)),
        "exec.run_s" -> Trace.covered(ex.jobIntervals),
        "exec.jobs" -> ex.jobs, "exec.stages" -> ex.stages,
        "exec.tasks" -> ex.tasks, "exec.task_busy_s" -> ex.busyS,
        "exec.task_overhead_s" -> ex.overheadS,
        "exec.core_util" -> ex.busyS / (openLoopS * cfg.cores),
        "exec.shuffle_read_bytes" -> ex.shuffleRead,
        "exec.shuffle_write_bytes" -> ex.shuffleWrite,
        "exec.spill_bytes" -> ex.spill, "exec.input_bytes" -> ex.input,
        "exec.gc_s" -> ex.gcS, "exec.failed_tasks" -> ex.failedTasks,
        "exec.task_skew" -> ex.skew)
      listener.foreach(spark.streams.removeListener)
      t.jobSpans(t.all.filter(_.kind == "batch").map(b => b.name -> b.id).toMap)
      // single-core baseline of the same drain
      spark.stop()
      spark = Session.build(1, cfg.work, extra)
      val one = drain(spark, backlog, root, "1core", wantB)
      m("streaming.drain_rec_s_1core") = nB / one._1
      val file = s"${cfg.work}/trace/${cfg.workload}-seed${cfg.seed}.json"
      Json.write(file, Json.obj("workload" -> cfg.workload, "seed" -> cfg.seed,
        "per_layer" -> m, "spans" -> t.toJson))
      (m, file, one._2)
    }

    val rss = Proc.peakRssMb()
    val res = Json.obj(
      "workload" -> cfg.workload, "seed" -> cfg.seed,
      "settings" -> settings,
      "run_window" -> s"$windowStart..${Proc.isoNow()}",
      "setup_rounds_s" -> setup,
      "peak_rss_mb" -> rss,
      "files" -> nFiles, "rows_per_file" -> FileRows,
      "rate_rec_s" -> FileRows * 1000 / PeriodMs,
      "latency_ms" -> lat, "unconsumed_files" -> unconsumed,
      "mismatched_keys_open_loop" -> mismatchA,
      "gen_late_ms_p99" -> lateP99, "backlog_files_max" -> backlogMax,
      "valid" -> (lateP99 <= MaxLateShare * latP50),
      "max_late_share" -> MaxLateShare,
      "backlog_rows" -> nB, "drain_s" -> drains.map(_._1),
      "mismatched_keys_drain" -> (drains.map(_._2).sum +
        layers.map(_._3).getOrElse(0)),
      "batches" -> progress.size,
      "per_layer" -> layers.map(_._1).getOrElse(Map.empty),
      "trace_file" -> layers.map(_._2).getOrElse(""))
    spark.stop()
    Proc.mark("stopped")
    res
  }
}
