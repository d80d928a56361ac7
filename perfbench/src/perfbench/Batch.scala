package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed query call: the query function (graft's operators, including
  * any eager persist/collect jobs), Catalyst planning, and the run of the
  * physical plan with the output fingerprint folded in. */
final case class Call(name: String, ok: Boolean, error: String,
    fp: Fingerprint, buildS: Double, planS: Double, runS: Double,
    totalS: Double) {
  def json: Map[String, Any] = Json.obj("name" -> name, "ok" -> ok,
    "error" -> error, "fingerprint" -> (if (ok) fp.show else ""),
    "total_s" -> totalS, "build_s" -> buildS, "plan_s" -> planS,
    "run_s" -> runS)
}

/** Per-call layer figures, gathered only in a traced run. */
final case class CallTrace(name: String, totalS: Double, buildS: Double,
    planS: Double, runS: Double, eagerJobs: Int, exec: ExecCounts,
    buildSelfS: Double, planSelfS: Double, runDriverS: Double,
    harnessS: Double, cachedRdds: Int, cachedBytes: Long)

/** Calls graft queries through `SparkEntry.queries` the way a user would,
  * timing each layer boundary from outside the program. */
final class Caller(spark: SparkSession, tracer: Option[Tracer]) {
  private val sc = spark.sparkContext
  val traces: mutable.ArrayBuffer[CallTrace] = mutable.ArrayBuffer.empty

  def call(name: String, dir: String): Call = {
    val fn = graft.SparkEntry.queries(name)
    val q = tracer.map(_.open("query", name)).getOrElse(0L)
    val phases = mutable.LinkedHashMap.empty[String, (Long, Double, Double)]
    def phase[T](p: String)(body: => T): T = tracer match {
      case None => body
      case Some(t) =>
        val id = t.open("phase", p, q)
        val s = t.now
        try t.under(sc, id)(body)
        finally { t.close(id); phases(p) = (id, s, t.now) }
    }
    val t0 = System.nanoTime()
    var t1 = t0; var t2 = t0; var t3 = t0
    var fp = Fingerprint(0L, 0L)
    var err = ""
    try {
      val df: DataFrame = phase("build")(fn(spark, dir))
      t1 = System.nanoTime()
      val qe = phase("plan") { val qe = df.queryExecution; qe.executedPlan; qe }
      t2 = System.nanoTime()
      fp = phase("run")(Fingerprint.execute(spark, qe, df.schema, name))
      t3 = System.nanoTime()
    } catch { case e: Throwable =>
      err = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
    }
    val ok = err.isEmpty
    val c = Call(name, ok, err, fp, (t1 - t0) / 1e9,
      if (ok) (t2 - t1) / 1e9 else 0.0, if (ok) (t3 - t2) / 1e9 else 0.0,
      if (ok) (t3 - t0) / 1e9 else -1.0)
    tracer.foreach { t =>
      t.close(q, "ok" -> ok)
      val infos = sc.getRDDStorageInfo.filter(_.isCached)
      val owners = phases.values.map(_._1.toString).toSet
      val ex = t.counts(sc, owners)
      def jobsIn(p: String): Seq[(Double, Double)] = phases.get(p).toSeq
        .flatMap { case (id, _, _) =>
          t.counts(sc, Set(id.toString)).jobIntervals }
      def self(p: String): Double = phases.get(p).map { case (_, s, e) =>
        (e - s) / 1e3 - Trace.coveredWithin(jobsIn(p), s, e) }.getOrElse(0.0)
      val phaseSum = phases.values.map { case (_, s, e) => (e - s) / 1e3 }.sum
      traces += CallTrace(name, c.totalS, c.buildS, c.planS, c.runS,
        jobsIn("build").size, ex, self("build"), self("plan"), self("run"),
        math.max(0.0, c.totalS - phaseSum), infos.length,
        infos.map(i => i.memSize + i.diskSize).sum)
    }
    spark.catalog.clearCache()
    // as graft.Bench: collect a heavy query's debris off the clock so the
    // next query does not pay for it
    if (!ok || c.totalS >= 2.0) System.gc()
    c
  }
}

object Batch {
  /** The batch_sf0.1 query list: relational, events, grep and RainStorm
    * batch queries from each family, plus one IndexStore group (a pair
    * table built by dd09 and read by dd10 and dd14). */
  val List: Seq[String] = Seq("q01_pricing_summary", "q02_filter_project",
    "q03_topk_orders", "q04_join_agg", "q05_broadcast_join", "q06_semi_join",
    "q08_window_first_order", "q10_distinct", "q11_set_ops", "q13_cube",
    "q19_scalar_subquery", "q30_topk_per_group", "ev01_sessionize",
    "ev08_funnel", "gr03_grep_regex", "rs02_complex_app",
    "dd09_clusters_from_pairs", "dd10_dedup_corpus_from_pairs",
    "dd14_cluster_canonical")

  /** IndexStore artifacts: the first query builds, the rest reuse. */
  val IndexGroups: Seq[Seq[String]] = Seq(
    Seq("dd09_clusters_from_pairs", "dd10_dedup_corpus_from_pairs",
      "dd14_cluster_canonical"))

  /** Seeded permutation that keeps each index build ahead of its reusers:
    * a group's members keep the positions the shuffle gave them, with the
    * builder moved to the first of those positions. */
  def order(names: Seq[String], seed: Long): Seq[String] = {
    val out = new scala.util.Random(seed).shuffle(names).toArray
    IndexGroups.foreach { g =>
      val pos = out.indices.filter(i => g.contains(out(i)))
      if (pos.nonEmpty) {
        val members = pos.map(out(_))
        val sorted = members.filter(_ == g.head) ++ members.filter(_ != g.head)
        pos.zip(sorted).foreach { case (p, n) => out(p) = n }
      }
    }
    out.toSeq
  }

  /** Deletes the IndexStore of `dir`, so the pass that follows builds. */
  def wipeIndex(spark: SparkSession, dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(graft.core.IndexStore.root(dir))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  def indexBytes(dir: String): Long = {
    def size(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(size).sum
      else f.length()
    size(new java.io.File(graft.core.IndexStore.root(dir)))
  }
}
