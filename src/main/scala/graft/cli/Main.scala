package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.{EngineConf, Topology}
import graft.operators.Grep
import graft.streaming.{RainStormApps, RainStormJob}

/** CLI verbs mirroring the reference's `run.sh` surface (reference
  * run.sh:16-27): `dgrep` (LogQuerier, src/LogQuerier/client.py:164-199)
  * and `rainstorm` (job submission, src/Streaming/Rainstorm.py:9-36).
  *
  * The reference submits `<op1> <op2> <input> <output> <num_tasks>
  * [STATEFUL]`; here operators are named app shapes (the reference's two
  * demo apps) and parallelism comes from the cluster, not argv.
  */
object Main {

  private def session(name: String): SparkSession = {
    val s = Topology(EngineConf(SparkSession.builder())
      .appName(name)
      // spark-submit injects the real master on a cluster; default to
      // local[*] so the CLI also runs standalone.
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", "local[*]"))
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true"))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = args.toList match {
    // dgrep <glob> [flags] <pattern> [flags]
    // Flags mirror the grep argv the reference client forwards verbatim
    // (client.py:164-199): -c counts, -i ignore case, -v invert, -F fixed
    // string, -E accepted as a no-op (the engine is ERE-shaped already).
    // Combined short flags (-ic, -vi, ...) are accepted like grep's, and
    // like grep, `--` ends flag parsing so a flag-shaped LITERAL pattern
    // stays searchable: `dgrep logs/ -- -c` greps for the string "-c".
    case "dgrep" :: glob :: rest if rest.nonEmpty =>
      parseDgrep(rest) match {
        case Some(a) =>
          val spark = session("graft-dgrep")
          runDgrep(spark, glob, a)
          spark.stop()
        case None => usage()
      }

    // rainstorm simple <pattern> <idx1> <idx2> <in> <out> <ckpt>
    case "rainstorm" :: "simple" :: p :: i1 :: i2 :: in :: out :: ckpt :: Nil =>
      val spark = session("graft-rainstorm")
      RainStormJob.start(spark, in,
        RainStormApps.simpleApp(p, i1.toInt, i2.toInt), out, ckpt,
        stateful = false).awaitTermination()
      spark.stop()

    // rainstorm complex <filterIdx> <filterVal> <keyIdx> <in> <out> <ckpt>
    case "rainstorm" :: "complex" :: fi :: fv :: ki :: in :: out :: ckpt :: Nil =>
      val spark = session("graft-rainstorm")
      RainStormJob.start(spark, in,
        RainStormApps.complexApp(fi.toInt, fv, ki.toInt), out, ckpt,
        stateful = true).awaitTermination()
      spark.stop()

    // sql <sfDir> <file.sql | inline SQL>  (views registered, graft
    // functions available; statements split on ';')
    case "sql" :: sfDir :: rest if rest.nonEmpty =>
      val spark = session("graft-sql")
      org.apache.spark.sql.graftx.GraftExtensions.registerAll(spark)
      graft.core.Tables.registerAll(spark, sfDir)
      val text = {
        val joined = rest.mkString(" ")
        if (new java.io.File(joined).isFile)
          new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get(joined)), "UTF-8")
        else joined
      }
      splitSql(text).foreach { stmt =>
        spark.sql(stmt).show(50, truncate = false)
      }
      spark.stop()

    case _ =>
      usage()
  }

  private[graft] case class DgrepArgs(flags: Set[Char], pattern: String,
    limit: Option[Int], out: Option[String])

  /** The dgrep verb body, session- and sink-injectable so specs drive
    * the REAL output wiring (CollectLimit via toLocalIterator, the
    * --out distributed write, -c's -m-style per-file capping) instead of
    * re-implementing it against Grep directly. `emit` receives exactly
    * the lines the CLI would print. */
  private[graft] def runDgrep(spark: SparkSession, glob: String,
      a: DgrepArgs, emit: String => Unit = println): Unit = {
    val DgrepArgs(flags, pattern, limit, out) = a
    val lines = Grep.grepLogs(spark, glob, pattern,
      ignoreCase = flags('i'), invert = flags('v'), fixed = flags('F'))
    if (flags('c')) {
      // count path: --limit composes like grep's `-c -m N` (per-file
      // counts saturate at N); output is one row per FILE — bounded by
      // the input file set, so the stdout collect stays
      val counts = Grep.grepCount(lines, limit).orderBy(col("file"))
      out match {
        case Some(dir) => counts
          .select(concat_ws(": ", col("file"), col("count")))
          .write.mode("overwrite").text(dir)
        case None => counts.collect()
          .foreach(r => emit(s"${r.get(0)}: ${r.get(1)}"))
      }
    } else {
      val capped = limit.fold(lines)(lines.limit)
      val rendered =
        capped.select(concat_ws(": ", col("file"), col("value")))
      out match {
        // --out: matches never touch the driver at all — a
        // distributed text write, the shape that survives a
        // frequent pattern over 100 TB of logs
        case Some(dir) => rendered.write.mode("overwrite").text(dir)
        // stdout path: stream partition-at-a-time instead of
        // collect() — driver memory is bounded by one partition,
        // not the (unbounded) full match set; --limit N caps the
        // job itself (CollectLimit stops the scan early)
        case None => rendered.toLocalIterator().forEachRemaining(
          r => emit(r.getString(0)))
      }
    }
  }

  /** dgrep argv after the glob: grep-style short flags anywhere, `--`
    * ends flag parsing (a flag-shaped literal pattern stays searchable),
    * `--limit N` caps emitted match lines (grep's -m shape) and
    * `--out DIR` writes them distributed instead of to stdout, exactly
    * one pattern. Returns None on malformed argv. */
  private[graft] def parseDgrep(rest: List[String]): Option[DgrepArgs] = {
    val known = Set('c', 'i', 'v', 'F', 'E')
    val (beforeSep, afterSep) = rest.span(_ != "--")
    // pull the two value-taking long options out first ("--limit"/"--out"
    // are not the "--" separator, so they participate in flag parsing)
    var limit = Option.empty[Int]
    var out = Option.empty[String]
    val plain = List.newBuilder[String]
    var cur = beforeSep
    var bad = false
    while (cur.nonEmpty) cur match {
      case "--limit" :: v :: t =>
        limit = v.toIntOption.filter(_ > 0); bad ||= limit.isEmpty; cur = t
      case "--out" :: v :: t => out = Some(v); cur = t
      case ("--limit" | "--out") :: Nil => bad = true; cur = Nil
      case h :: t => plain += h; cur = t
      case Nil =>
    }
    if (bad) return None
    val (flagArgs, patBefore) = plain.result().partition(a =>
      a.length > 1 && a.startsWith("-") &&
        a.drop(1).forall(known.contains))
    patBefore ++ afterSep.drop(1) match {
      case pattern :: Nil =>
        Some(DgrepArgs(flagArgs.flatMap(_.drop(1)).toSet, pattern,
          limit, out))
      case _ => None
    }
  }

  /** Split a script on top-level ';' only — semicolons inside quoted
    * strings, quoted identifiers, or line comments stay intact. Inside
    * quotes, both backslash escapes (Spark's default
    * escapedStringLiterals=false dialect: 'it\'s') and doubled quotes
    * ('it''s', "a""b") are consumed without ending the quoted state. */
  private[graft] def splitSql(text: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var i = 0
    // n=normal, s='string', d="ident", c=line comment, b=block comment
    var state: Char = 'n'
    while (i < text.length) {
      val ch = text.charAt(i)
      state match {
        case 'n' =>
          if (ch == ';') { out += cur.toString; cur.clear() }
          else {
            if (ch == '\'') state = 's'
            else if (ch == '"') state = 'd'
            else if (ch == '-' && i + 1 < text.length &&
              text.charAt(i + 1) == '-') state = 'c'
            else if (ch == '/' && i + 1 < text.length &&
              text.charAt(i + 1) == '*') state = 'b'
            cur.append(ch)
          }
        case 's' | 'd' =>
          val quote = if (state == 's') '\'' else '"'
          if (ch == '\\' && i + 1 < text.length) {
            cur.append(ch).append(text.charAt(i + 1)); i += 1
          } else if (ch == quote && i + 1 < text.length &&
            text.charAt(i + 1) == quote) {
            cur.append(ch).append(quote); i += 1
          } else {
            if (ch == quote) state = 'n'
            cur.append(ch)
          }
        case 'c' =>
          if (ch == '\n') state = 'n'
          cur.append(ch)
        case 'b' =>
          if (ch == '/' && i > 0 && text.charAt(i - 1) == '*' &&
            cur.nonEmpty && !cur.endsWith("/*")) state = 'n'
          cur.append(ch)
      }
      i += 1
    }
    out += cur.toString
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  private def usage(): Unit = {
      System.err.println(
        """usage:
          |  dgrep <glob> <pattern> [-c] [-i] [-v] [-E] [-F] [--limit N] [--out DIR]
          |  rainstorm simple <pattern> <idx1> <idx2> <inDir> <outDir> <ckpt>
          |  rainstorm complex <filterIdx> <filterVal> <keyIdx> <inDir> <outDir> <ckpt>
          |  sql <sfDir> <file.sql | statement>
          |""".stripMargin)
      sys.exit(2)
  }
}
