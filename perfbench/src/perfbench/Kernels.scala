package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Rows per second of graft's native Catalyst kernels, each timed as a
  * `noop` write of that one Column function over a cached input built from
  * the fixture's documents and embeddings tables. */
object Kernels {
  private val Reps = 3

  def measure(spark: SparkSession, dir: String, cores: Int): Seq[(String, Double)] = {
    import org.apache.spark.sql.graftx.{GraftFunctions, NGramFunctions,
      PairsWithinRatio, WordShinglesFunctions, functions => vf}
    def cached(df: DataFrame): DataFrame = {
      val c = df.persist(StorageLevel.MEMORY_ONLY)
      c.write.format("noop").mode("overwrite").save()
      c
    }
    val docs = cached(spark.read.parquet(s"$dir/documents.parquet")
      .select("doc_id", "text").repartition(cores))
    val shingles = cached(docs.select(col("doc_id"),
      WordShinglesFunctions.word_shingles(col("text"), 3).as("sh")))
    val postings = cached(shingles
      .select(explode(col("sh")).as("s"),
        PairsWithinRatio.pack(col("doc_id"), size(col("sh"))).as("pd"))
      .groupBy("s").agg(sort_array(collect_list("pd")).as("ds"))
      .filter(size(col("ds")).between(2, 1000)))
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val vecPairs = cached(emb.as("a")
      .join(emb.as("b"), col("b.vec_id") === col("a.vec_id") + 1)
      .select(col("a.embedding").as("x"), col("b.embedding").as("y")))

    def rate(name: String, in: DataFrame, c: Column): (String, Double) = {
      val rows = in.count().toDouble
      val times = (1 to Reps).map { _ =>
        val t0 = System.nanoTime()
        in.select(c).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      s"graftx.$name.rows_per_s" -> rows / Stats.median(times)
    }
    val out = Seq(
      rate("word_shingles", docs,
        WordShinglesFunctions.word_shingles(col("text"), 3)),
      rate("minhash_sig", shingles, NGramFunctions.minhash_sig(col("sh"), 64)),
      rate("winnow_fingerprint", docs,
        GraftFunctions.winnow_fingerprint(col("text"))),
      rate("char_ngram_counts", docs,
        NGramFunctions.char_ngram_counts(col("text"), 3)),
      rate("pairs_within_ratio", postings,
        PairsWithinRatio.pairs_within_ratio(col("ds"), 0.8)),
      rate("cosine_sim", vecPairs, vf.cosine_sim(col("x"), col("y"))))
    spark.catalog.clearCache()
    out
  }
}
