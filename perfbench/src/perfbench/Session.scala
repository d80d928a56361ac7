package perfbench

import org.apache.spark.sql.SparkSession

/** The session every workload runs in: the settings `graft.Bench` uses
  * (EngineConf + Topology, shuffle partitions = cores, 16m / 512k split
  * sizing), with every scratch location inside the benchmark's work dir. */
object Session {
  def build(cores: Int, work: String,
      extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = graft.core.Topology(graft.core.EngineConf(SparkSession.builder())
      .appName("perfbench")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "512k")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse"))
    val spark = extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Settings stamped into every result. */
  def stamp(spark: SparkSession, cores: Int): Map[String, Any] = {
    val conf = spark.conf
    Json.obj(
      "cores" -> cores,
      "master" -> spark.sparkContext.master,
      "heap_max_bytes" -> Runtime.getRuntime.maxMemory(),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "max_partition_bytes" -> conf.get("spark.sql.files.maxPartitionBytes"),
      "open_cost_in_bytes" -> conf.get("spark.sql.files.openCostInBytes"),
      "parallelism_first" -> conf.get(
        "spark.sql.adaptive.coalescePartitions.parallelismFirst"),
      "cached_plan_repartition" -> conf.get(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"))
  }

  /** Per-table `[bytes, rows, row_groups, files]` plus an md5 over every
    * table file, in name order. `graft.ScaleData` does not fix the row order
    * within a file, so two generations of one fixture differ in these bytes;
    * `content` is what says whether two fixtures hold the same data. */
  def fixture(spark: SparkSession, dir: String): Map[String, Any] = {
    val tables = tableFiles(dir)
    val md = java.security.MessageDigest.getInstance("MD5")
    val per = tables.map { t =>
      val l = graft.core.Tables.layout(spark, t.getPath)
      val in = new java.io.FileInputStream(t)
      try {
        val buf = new Array[Byte](1 << 20)
        var n = in.read(buf)
        while (n > 0) { md.update(buf, 0, n); n = in.read(buf) }
      } finally in.close()
      t.getName.stripSuffix(".parquet") -> Seq(l.bytes, l.rows, l.rowGroups, l.files)
    }
    Json.obj("tables" -> scala.collection.immutable.ListMap(per: _*),
      "md5" -> md.digest().map("%02x".format(_)).mkString,
      "layout" -> "[bytes,rows,row_groups,files]")
  }

  /** Per-table fingerprint (row count plus order-independent hash of every
    * column, as for query results) and an md5 over them, in name order: two
    * results are comparable only when this md5 matches. */
  def content(spark: SparkSession, dir: String): Map[String, Any] = {
    val per = tableFiles(dir).map { t =>
      t.getName.stripSuffix(".parquet") ->
        Fingerprint.of(spark.read.parquet(t.getPath)).show
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    per.foreach { case (n, fp) => md.update(s"$n=$fp\n".getBytes("UTF-8")) }
    Json.obj("tables" -> scala.collection.immutable.ListMap(per: _*),
      "md5" -> md.digest().map("%02x".format(_)).mkString)
  }

  private def tableFiles(dir: String): Array[java.io.File] = {
    val tables = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    require(tables.nonEmpty, s"no tables under $dir")
    tables
  }
}
