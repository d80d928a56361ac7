package graft

import java.nio.file.Files
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming._

/** End-to-end parity tests for the streaming RainStorm jobs: the canonical
  * "simple" and "complex" apps (BASELINE.md workloads) run as streams over
  * dripped CSV files; final results must equal the batch answer, and a
  * kill/restart from checkpoint must not duplicate or lose records
  * (recovery parity with reference src/Streaming/worker.py:327-368).
  */
class RainStormSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkTestSession()
  import spark.implicits._

  /** A Traffic-Signs-like CSV corpus: id,kind,post,category */
  private def writeCsv(dir: java.io.File, from: Int, until: Int): Unit = {
    val kinds = Seq("Stop", "Yield", "Speed", "Warning")
    val posts = Seq("Punched Telespar", "Unpunched Telespar", "Wood")
    val lines = (from until until).map { i =>
      s"$i,${kinds(i % kinds.size)},${posts(i % posts.size)},cat${i % 5}"
    }
    val f = new java.io.File(dir, s"part-$from.csv")
    Files.write(f.toPath, lines.mkString("\n").getBytes("UTF-8"))
  }

  private def readOut(out: java.io.File): Seq[String] = {
    def all(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles.toSeq.flatMap(all) else Seq(f)
    all(out).filter(f => f.getName.startsWith("part-") &&
        !f.getName.endsWith(".crc"))
      .flatMap(f => scala.io.Source.fromFile(f).getLines().toList)
  }

  test("simple app: stream == batch, restart-safe") {
    val root = Files.createTempDirectory("rs-simple").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    val ckpt = new java.io.File(root, "ckpt").getPath

    writeCsv(in, 0, 500)
    val ops = RainStormApps.simpleApp("Stop", 0, 3)
    val q1 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = false)
    q1.awaitTermination()

    // second wave of files + restart from the same checkpoint
    writeCsv(in, 500, 1000)
    val q2 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = false)
    q2.awaitTermination()

    val got = readOut(out).sorted
    val want = (0 until 1000).filter(_ % 4 == 0) // kind == "Stop"
      .map(i => s"$i:cat${i % 5}").sorted
    assert(got == want)
  }

  test("complex app: final per-key counts == batch groupBy count") {
    val root = Files.createTempDirectory("rs-complex").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    val ckpt = new java.io.File(root, "ckpt").getPath

    writeCsv(in, 0, 300)
    val ops = RainStormApps.complexApp(2, "Wood", 1)
    val q1 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = true)
    q1.awaitTermination()
    writeCsv(in, 300, 600)
    val q2 = RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
      stateful = true)
    q2.awaitTermination()

    // Per-update emission: the LAST count per key is the final state.
    val finalCounts = readOut(out)
      .map { l => val Array(k, v) = l.split(":", 2); (k, v.toLong) }
      .groupBy(_._1).map { case (k, vs) => (k, vs.map(_._2).max) }
    val want = (0 until 600).filter(_ % 3 == 2) // post == "Wood"
      .groupBy(i => s"${Seq("Stop", "Yield", "Speed", "Warning")(i % 4)}")
      .map { case (k, is) => (k, is.size.toLong) }
    assert(finalCounts == want)

    // Emission cardinality: one output row per matching input record
    // (reference framework emits per input, tests/sample2_op2.py:17).
    assert(readOut(out).size == (0 until 600).count(_ % 3 == 2))
  }

  test("op chains generalize past the reference's fixed 2-op topology") {
    val root = Files.createTempDirectory("rs-chain").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    writeCsv(in, 0, 200)
    // 4 operators: regex filter -> flatMap fan-out(2x) -> project -> filter
    val ops = Seq(
      ExprOp(df => df.filter(col("value").rlike("Stop|Yield"))),
      FlatMapOp(kv => Seq(kv, KV(kv.key + "#dup", kv.value))),
      ExprOp(df => df.withColumn("cols", split(col("value"), ","))
        .select(col("cols").getItem(0).as("key"),
          col("cols").getItem(1).as("value"))),
      ExprOp(df => df.filter(col("value") === "Stop")))
    val q = RainStormJob.start(spark, in.getPath, ops, out.getPath,
      new java.io.File(root, "ckpt").getPath, stateful = false)
    q.awaitTermination()
    // kinds cycle Stop,Yield,Speed,Warning; Stop|Yield filter keeps i%4<2,
    // fan-out doubles, final filter keeps only Stop (i%4==0)
    assert(readOut(out).size == 2 * (0 until 200).count(_ % 4 == 0))
  }

  test("compaction consolidates batch outputs losslessly (merge analogue)") {
    val root = Files.createTempDirectory("rs-compact").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    val ckpt = new java.io.File(root, "ckpt").getPath
    val ops = RainStormApps.simpleApp("Stop", 0, 3)
    // three waves -> three batch-* directories of small files
    (0 until 3).foreach { w =>
      writeCsv(in, w * 100, (w + 1) * 100)
      RainStormJob.start(spark, in.getPath, ops, out.getPath, ckpt,
        stateful = false).awaitTermination()
    }
    val before = readOut(out).sorted
    assert(out.listFiles().count(_.getName.startsWith("batch-")) == 3)
    val n = RainStormJob.compact(spark, out.getPath, targetFiles = 1)
    assert(n == before.size)
    assert(out.listFiles().count(_.getName.startsWith("batch-")) == 0)
    assert(readOut(out).sorted == before) // same records, fewer files
  }

  test("flatMapOp escape hatch matches reference flatMap contract") {
    val root = Files.createTempDirectory("rs-flatmap").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    writeCsv(in, 0, 100)
    // duplicate every record with an upper-cased value; drop cat0 rows
    val op = FlatMapOp { kv =>
      val cat = kv.value.split(",")(3)
      if (cat == "cat0") Nil
      else Seq(kv, KV(kv.key, kv.value.toUpperCase))
    }
    val q = RainStormJob.start(spark, in.getPath, Seq(op), out.getPath,
      new java.io.File(root, "ckpt").getPath, stateful = false)
    q.awaitTermination()
    assert(readOut(out).size == 2 * (0 until 100).count(_ % 5 != 0))
  }

  // --- micro-batch file listing (EngineConf.DriverListingMaxPaths) ---

  /** Distributed leaf-listing jobs launched so far in this JVM. */
  private def listingJobs: Long =
    HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount

  /** Runs `body` with the session's listing threshold back at Spark's
    * default (32): the control arm that shows the counter can move. */
  private def atSparkDefaultListing[T](body: => T): T = {
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "32")
    try body finally spark.conf.set(key, prev)
  }

  /** Stages 40 one-line CSV files (more than Spark's default threshold,
    * fewer than the line source's batch cap), drains them through
    * `RainStormJob.start` and checks the output is exactly once. Returns
    * the listing jobs the drain launched. */
  private def drain40(tag: String): Long = {
    val root = Files.createTempDirectory(s"rs-listing-$tag").toFile
    val in = new java.io.File(root, "in"); in.mkdirs()
    val out = new java.io.File(root, "out")
    (0 until 40).foreach(i => writeCsv(in, i, i + 1))
    val before = listingJobs
    val q = RainStormJob.start(spark, in.getPath,
      RainStormApps.simpleApp(".", 0, 3), out.getPath,
      new java.io.File(root, "ckpt").getPath, stateful = false)
    q.awaitTermination()
    val jobs = listingJobs - before
    assert(q.recentProgress.count(_.numInputRows > 0) == 1)
    assert(readOut(out).sorted == (0 until 40).map(i => s"$i:cat${i % 5}").sorted)
    jobs
  }

  test("a 40-file micro-batch lists its files on the driver") {
    assert(drain40("engine") == 0)
  }

  test("control: at Spark's default threshold the same drain runs a listing job") {
    assert(atSparkDefaultListing(drain40("control")) > 0)
  }

  /** `Grep.grepLogs` over a glob matching 40 files; checks the matches and
    * returns the listing jobs it launched. */
  private def grep40(tag: String): Long = {
    val dir = Files.createTempDirectory(s"grep-listing-$tag").toFile
    (0 until 40).foreach { i =>
      Files.write(new java.io.File(dir, f"host$i%02d.log").toPath,
        s"GET /a $i\nPOST /b $i\n".getBytes("UTF-8"))
    }
    val before = listingJobs
    val lines = graft.operators.Grep.grepLogs(spark, s"$dir/*.log", "^GET")
    val jobs = listingJobs - before
    assert(lines.select("value").as[String].collect().sorted.toSeq ==
      (0 until 40).map(i => s"GET /a $i").sorted)
    jobs
  }

  test("dgrep over a glob of 40 files lists them on the driver") {
    assert(grep40("engine") == 0)
  }

  test("control: at Spark's default threshold the same grep runs a listing job") {
    assert(atSparkDefaultListing(grep40("control")) > 0)
  }
}
