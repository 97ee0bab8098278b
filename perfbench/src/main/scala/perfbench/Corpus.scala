package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded documents shaped like the sf0.1 corpus: 10-100 tokens drawn
  * from its 30-word vocabulary, 5% near-duplicates (an earlier doc plus
  * the token "dup"), a few exact copies. Replicas prefix every token
  * with `r<replica>` and offset doc_id by replica * 1,000,000 — the
  * per-replica scheme of scripts/make_sfbig.py — so replicas keep the
  * base corpus's near-dup structure and stay disjoint in token space. */
object Corpus {
  val vocab: IndexedSeq[String] = IndexedSeq("batch", "part", "spark",
    "line", "column", "order", "small", "sort", "fast", "value", "scan",
    "a", "hash", "slow", "group", "agg", "filter", "query", "big", "key",
    "window", "row", "table", "stream", "merge", "data", "vector",
    "customer", "the", "join")
  private val langs = IndexedSeq("en", "en", "en", "en", "en", "en",
    "de", "de", "es", "es", "fr", "fr", "zh", "zh")

  final case class Doc(doc_id: Long, text: String, lang: String,
      source: String, n_chars: Long)

  def base(seed: Long, n: Int): IndexedSeq[Doc] = {
    val rnd = new java.util.Random(seed * 7919 + 17)
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = rnd.nextDouble()
      texts(i) =
        if (i > 0 && r < 0.05) texts(rnd.nextInt(i)) + " dup"
        else if (i > 0 && r < 0.052) texts(rnd.nextInt(i))
        else Seq.fill(10 + rnd.nextInt(91))(vocab(rnd.nextInt(vocab.size)))
          .mkString(" ")
      Doc(i.toLong, texts(i), langs(rnd.nextInt(langs.size)),
        s"src${rnd.nextInt(20)}", texts(i).length.toLong)
    }
  }

  def replicate(docs: Seq[Doc], replicas: Int): Seq[Doc] =
    for (r <- 0 until replicas; d <- docs) yield d.copy(
      doc_id = d.doc_id + r * 1000000L,
      text = d.text.split(" ").map(t => s"r$r$t").mkString(" "))

  def write(spark: SparkSession, docs: Seq[Doc], path: String,
      parts: Int): Unit = {
    import spark.implicits._
    docs.toDS().repartition(parts).write.mode("overwrite").parquet(path)
  }

  def replicaOf(docId: org.apache.spark.sql.Column) =
    (docId / 1000000L).cast("long")

  def frame(spark: SparkSession, dir: String): DataFrame =
    graft.sources.Tables.load(spark, dir, "documents")
}
