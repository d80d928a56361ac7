package perfbench

import scala.collection.mutable

import org.apache.spark.{BusDrain, SparkContext}
import org.apache.spark.scheduler._

/** One traced interval: a query call, a phase of it, a Spark job, or a
  * micro-batch. `parent` is the span that caused it (0 = none). Times are
  * epoch milliseconds. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
    start: Double, var end: Double, attrs: mutable.LinkedHashMap[String, Any])

/** Counters of the Spark work launched under a set of spans. */
final case class ExecCounts(jobs: Int, stages: Int, tasks: Int,
    failedTasks: Int, busyS: Double, taskWallS: Double, gcS: Double,
    shuffleRead: Long, shuffleWrite: Long, spill: Long, input: Long,
    skew: Double, jobIntervals: Seq[(Double, Double)]) {
  def overheadS: Double = taskWallS - busyS
}

/** In-memory span recorder plus a `SparkListener` that files each job, and
  * the stages and tasks under it, beneath the span named by the job's
  * `perfbench.span` local property (or, for streaming jobs, beneath their
  * micro-batch). Spans are kept in memory and written out once at exit. */
final class Tracer extends SparkListener {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L

  private final class Job(val id: Int, val owner: String, val start: Double,
      val stages: Seq[Int]) { var end = Double.NaN; var ok = true }
  private final class Stage(val owner: String) {
    var tasks = 0; var failed = 0; var busyMs = 0L; var wallMs = 0L
    var gcMs = 0L; var shR = 0L; var shW = 0L; var spill = 0L; var input = 0L
    var durMs = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, Stage]

  def now: Double = System.currentTimeMillis().toDouble

  def open(kind: String, name: String, parent: Long = 0L): Long = synchronized {
    nextId += 1
    spans += Span(nextId, parent, kind, name, now, Double.NaN,
      mutable.LinkedHashMap.empty)
    nextId
  }

  def close(id: Long, attrs: (String, Any)*): Unit = synchronized {
    spans.find(_.id == id).foreach { s => s.end = now; s.attrs ++= attrs }
  }

  def add(kind: String, name: String, parent: Long, start: Double,
      end: Double, attrs: (String, Any)*): Long = synchronized {
    nextId += 1
    spans += Span(nextId, parent, kind, name, start, end,
      mutable.LinkedHashMap(attrs: _*))
    nextId
  }

  /** Runs `body` with its Spark jobs filed under span `id`. */
  def under[T](sc: SparkContext, id: Long)(body: => T): T = {
    val prev = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", id.toString)
    try body finally sc.setLocalProperty("perfbench.span", prev)
  }

  private def ownerOf(p: java.util.Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("perfbench.span"))
      .orElse(Option(p.getProperty("streaming.sql.batchId")).map(b =>
        s"batch:${p.getProperty("sql.streaming.queryId")}:$b"))
      .getOrElse("none")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val owner = ownerOf(e.properties)
    jobs(e.jobId) = new Job(e.jobId, owner, e.time.toDouble, e.stageIds)
    e.stageIds.foreach(s => if (!stages.contains(s)) stages(s) = new Stage(owner))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      stages.get(i.stageId).foreach { s =>
        s.durMs = (for (a <- i.submissionTime; b <- i.completionTime)
          yield b - a).getOrElse(0L)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stages.get(e.stageId).foreach { s =>
      s.tasks += 1
      if (e.taskInfo.failed || e.taskInfo.killed) s.failed += 1
      s.wallMs += e.taskInfo.duration
      s.taskMs += e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        s.busyMs += m.executorRunTime
        s.gcMs += m.jvmGCTime
        s.shR += m.shuffleReadMetrics.totalBytesRead
        s.shW += m.shuffleWriteMetrics.bytesWritten
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.input += m.inputMetrics.bytesRead
      }
    }
  }

  /** Counters for the jobs filed under `owners`; waits for the listener bus
    * first so the counts are complete. */
  def counts(sc: SparkContext, owners: Set[String]): ExecCounts = {
    BusDrain(sc)
    synchronized {
      val js = jobs.values.filter(j => owners(j.owner)).toSeq
      val ss = js.flatMap(_.stages).distinct.flatMap(stages.get)
        .filter(_.tasks > 0)
      val slowest = if (ss.isEmpty) None else Some(ss.maxBy(_.durMs))
      val skew = slowest.map { s =>
        val med = Stats.median(s.taskMs.map(_.toDouble).toSeq)
        if (med > 0) s.taskMs.max / med else 1.0
      }.getOrElse(0.0)
      ExecCounts(js.size, ss.size, ss.map(_.tasks).sum, ss.map(_.failed).sum,
        ss.map(_.busyMs).sum / 1e3, ss.map(_.wallMs).sum / 1e3,
        ss.map(_.gcMs).sum / 1e3, ss.map(_.shR).sum, ss.map(_.shW).sum,
        ss.map(_.spill).sum, ss.map(_.input).sum, skew,
        js.filter(!_.end.isNaN).map(j => (j.start, j.end)))
    }
  }

  /** Files every job as a span under its owner: the phase span named by
    * its property, or the micro-batch span `batchSpans` maps its owner to. */
  def jobSpans(batchSpans: Map[String, Long]): Unit = synchronized {
    jobs.values.filter(!_.end.isNaN).foreach { j =>
      val parent = scala.util.Try(j.owner.toLong).toOption
        .orElse(batchSpans.get(j.owner)).getOrElse(0L)
      val ss = j.stages.flatMap(stages.get)
      nextId += 1
      spans += Span(nextId, parent, "job", s"job-${j.id}", j.start, j.end,
        mutable.LinkedHashMap("stages" -> ss.count(_.tasks > 0),
          "tasks" -> ss.map(_.tasks).sum, "ok" -> j.ok))
    }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  def toJson: Seq[Map[String, Any]] = all.map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind,
      "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end,
      "attrs" -> s.attrs)
  }
}

object Trace {
  /** Length of the union of intervals, in seconds. */
  def covered(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total / 1e3
  }

  /** Part of [start, end] covered by the intervals, in seconds. */
  def coveredWithin(iv: Seq[(Double, Double)], start: Double,
      end: Double): Double =
    covered(iv.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s })
}
