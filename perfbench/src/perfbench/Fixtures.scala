package perfbench

/** Fixture generation and the reference-fingerprint modes. */
object Fixtures {
  /** Writes the fixture to `out` and its stamp to `stamp`: the file layout
    * and md5 (`Session.fixture`) plus the content fingerprint
    * (`Session.content`), so a run checks the content without re-reading
    * every table. */
  def generate(out: String, sf: Double, open: Boolean, cores: Int,
      work: String, stamp: String): Unit = {
    val spark = Session.build(cores, work)
    graft.ScaleData.generate(spark, sf, out, openVocab = open)
    Json.write(stamp, Session.fixture(spark, out) +
      ("content" -> Session.content(spark, out)))
    spark.stop()
  }

  /** One query per call, each against an empty IndexStore after the
    * builder of its group, in the order given. */
  def fingerprints(data: String, names: Seq[String], cores: Int, work: String,
      result: String): Unit = {
    val spark = Session.build(cores, work)
    Batch.wipeIndex(spark, data)
    val caller = new Caller(spark, None)
    val calls = names.map { n =>
      val c = caller.call(n, data)
      System.err.println(s"[fingerprint] $n ${if (c.ok) c.fp.show else c.error}")
      c
    }
    Json.write(result, Json.obj(
      "fixture" -> (Session.fixture(spark, data) +
        ("content" -> Session.content(spark, data))),
      "settings" -> Session.stamp(spark, cores),
      "queries" -> scala.collection.immutable.ListMap(calls.map(c =>
        c.name -> (if (c.ok) c.fp.show else s"error: ${c.error}")): _*)))
    spark.stop()
  }

  /** Fingerprints of DuckDB oracle outputs: one parquet dir per query. */
  def oracle(dir: String, cores: Int, work: String, result: String): Unit = {
    val spark = Session.build(cores, work)
    val dirs = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.isDirectory).sortBy(_.getName)
    val fps = dirs.map { d =>
      d.getName -> (try Fingerprint.of(spark.read.parquet(d.getPath)).show
        catch { case e: Throwable => s"error: ${e.getClass.getSimpleName}" })
    }
    Json.write(result, scala.collection.immutable.ListMap(fps.toIndexedSeq: _*))
    spark.stop()
  }
}
