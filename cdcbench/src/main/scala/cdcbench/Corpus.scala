package cdcbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.SparkEntry

/** The `corpus-ops` workload: the dedup and similarity operators of
  * `graft.ops` / `graft.functions`, run through the `SparkEntry` queries over
  * a seeded synthetic corpus, each to a noop sink.
  */
object Corpus {

  /** The operator queries this workload times. None of them keeps state
    * between calls, so no timed run can be served from an earlier one.
    */
  val queries: Seq[String] = Seq(
    "q_minhash_dedup_pairs", "q_simhash_pairs", "q_ngram_jaccard",
    "q_word_jaccard_pairs", "q_dedup_clusters", "q_embedding_near_dup",
    "q_ann_lsh_topk", "q_pq_topk", "q_pq_probe_topk", "q_ivf_topk",
    "q_ivf_probe_topk")

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")

  /** Write `documents` and `embeddings` parquet tables under `dir`, the
    * same shapes the queries read from a scale-factor directory. About one
    * document in twenty is a near-copy of an earlier one, so the dedup
    * operators have real pairs to find.
    */
  def generate(spark: SparkSession, dir: String, docs: Int, vectors: Int,
               seed: Long): Unit = {
    val rnd = new scala.util.Random(seed)
    val texts = new Array[String](docs)
    val docRows = (0 until docs).map { i =>
      val text =
        if (i > 10 && rnd.nextDouble() < 0.05) {
          val words = texts(rnd.nextInt(i)).split(" ")
          words(rnd.nextInt(words.length)) = "dup"
          words.mkString(" ")
        } else Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      texts(i) = text
      Row(i.toLong, text, langs(rnd.nextInt(langs.size)), s"src${i % 20}",
        text.length.toLong)
    }
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

    // unit vectors: noise around one of ten weak label directions
    val dim = 64
    val centers = Array.fill(10, dim)(rnd.nextGaussian())
    val vecRows = (0 until vectors).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(dim)(j => 0.6 * centers(label)(j) + rnd.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  def run(spark: SparkSession, corpusDir: String, name: String,
          sink: Option[String]): Unit = {
    val df = SparkEntry.queries(name)(spark, corpusDir)
    sink match {
      case Some(out) => df.write.mode("overwrite").parquet(out)
      case None => df.write.mode("overwrite").format("noop").save()
    }
  }
}
