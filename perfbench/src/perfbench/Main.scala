package perfbench

/** JVM entry point of the benchmark; `perfbench/run.py` builds the classpath
  * and fixtures and calls it. Modes:
  *
  *  - `gen --out DIR --stamp FILE --sf SF --open 0|1`: write a fixture
  *    with `graft.ScaleData` and its fingerprint;
  *  - `run --workload W --seed N --seconds S --trace 0|1 --data DIR
  *    --result FILE`: one benchmark run, raw figures to FILE;
  *  - `fingerprint --data DIR --queries a,b --result FILE`: reference
  *    fingerprints of a query list, computed one query at a time;
  *  - `oracle --dir DIR --result FILE`: fingerprints of the DuckDB oracle
  *    results written by `crosscheck.py` (one parquet dir per query).
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getStartTime.toDouble
    val mode = argv.headOption.getOrElse("")
    val a = argv.drop(1).sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = a.get("cores").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val work = a.getOrElse("work", "work")
    mode match {
      case "gen" => Fixtures.generate(a("out"), a("sf").toDouble,
        a.get("open").contains("1"), cores, work, a("stamp"))
      case "run" =>
        val w = a("workload")
        val cfg = RunConfig(w, a("seed").toLong, a("seconds").toDouble,
          a("trace") == "1", cores, a("data"), work, jvmStartMs)
        val res = w match {
          case "batch_sf0.1" => BatchRun(cfg)
          case "rainstorm_stream" => StreamRun(cfg)
          case other => sys.error(s"unknown workload $other")
        }
        Json.write(a("result"), res)
        Proc.mark("result written")
      case "fingerprint" => Fixtures.fingerprints(a("data"),
        a("queries").split(',').toSeq, cores, work, a("result"))
      case "sql" =>
        val sql = graft.SparkEntry.oracleSql
        Json.write(a("result"), scala.collection.immutable.ListMap(
          a("queries").split(',').toSeq.filter(sql.contains).map(q => q -> sql(q)): _*))
      case "oracle" => Fixtures.oracle(a("dir"), cores, work, a("result"))
      case other => sys.error(s"unknown mode '$other'")
    }
    // Spark leaves non-daemon threads behind after stop(); the run is over
    System.exit(0)
  }
}

final case class RunConfig(workload: String, seed: Long, seconds: Double,
    trace: Boolean, cores: Int, data: String, work: String,
    jvmStartMs: Double)

object Proc {
  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def isoNow(): String = java.time.Instant.now().toString

  private val jvmStart = java.lang.management.ManagementFactory
    .getRuntimeMXBean.getStartTime

  /** Progress line on stderr (the run log), seconds since JVM start. */
  def mark(msg: String): Unit = System.err.println(
    f"[perfbench ${(System.currentTimeMillis() - jvmStart) / 1e3}%7.2f] $msg")
}
