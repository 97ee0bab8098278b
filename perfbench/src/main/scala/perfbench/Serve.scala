package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.tokens
import graft.operators.{IndexStore, LexIndex, Retrieval, Similarity}

/** `serve`: a seeded mix of kNN and BM25 requests, one client thread,
  * against the IVF-PQ store and the lexical store built in set-up.
  * The public kNN entry point fixes its query batch (vec_id < 10), so
  * every kNN request asks for the top-5 of that batch and the seed only
  * orders the requests; BM25 requests pick a seeded subset of the fixed
  * q72/q74 query set and score it through LexIndex.queryScores. */
final class Serve(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val vectors = 2000
  val dim = 64
  val baseDocs = 5000
  /** Verify's recall floor for the index-served IVF-PQ query (q69). */
  val recallFloor = 0.55

  private var dataDir = ""
  private var ann: IndexStore.BuildInfo = _
  private var lex: LexIndex.BuildInfo = _
  private val annBuild = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val lexBuild = scala.collection.mutable.ArrayBuffer.empty[Double]
  private var exact: Map[Long, Set[Long]] = Map.empty
  private var bm25Expected: Map[Int, Set[(Int, Long, Long)]] = Map.empty
  private var ensureS = 0.0
  private val rnd = new java.util.Random(ctx.seed * 31 + 7)
  private var probed = 0L
  private var shortlist = 0L

  /** Seeded unit vectors (as the fixture's embeddings are) and the
    * exact cosine top-5 of the query batch, self excluded. */
  private def makeVectors(n: Int): (Seq[(Long, Array[Float], Int)], Map[Long, Set[Long]]) = {
    val g = new java.util.Random(ctx.seed * 131 + 3)
    val vs = (0 until n).map { i =>
      val v = Array.fill(dim)(g.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat), g.nextInt(10))
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val top = (0 until Similarity.knnQueries).map { q =>
      q.toLong -> vs.filter(_._1 != q).sortBy(v => -cos(vs(q)._2, v._2))
        .take(Similarity.k).map(_._1).toSet
    }.toMap
    (vs, top)
  }

  /** Write the inputs under `root` and build both stores there. */
  private def build(root: String, nVec: Int, nDocs: Int): Unit = {
    dataDir = s"$root/data"
    val (vs, top) = makeVectors(nVec)
    exact = top
    vs.toDF("vec_id", "embedding", "label").repartition(ctx.nproc)
      .write.mode("overwrite").parquet(s"$dataDir/embeddings.parquet")
    Corpus.write(spark, Corpus.base(ctx.seed, nDocs),
      s"$dataDir/documents.parquet", ctx.nproc)
    // a fresh layout root per build makes both builds cold
    spark.conf.set("spark.graft.layout.root", s"$root/layout")
    ann = IndexStore.ensure(spark, dataDir)
    lex = LexIndex.ensure(spark, dataDir)
  }

  def setupRep(rep: Int): Unit = {
    build(s"${ctx.work}/serve/rep$rep", vectors, baseDocs)
    annBuild += ann.buildSec
    lexBuild += lex.buildSec
  }

  /** A serving process is long-running: after the expected BM25 rows
    * are prepared, a few unmeasured requests of each kind. */
  override def warmup(): Unit = {
    prepareExpected()
    val r = new Recorder
    (0 until 3).foreach { _ => knn(r); bm25(r) }
  }

  /** Expected BM25 rows from ad-hoc scoring (q72) over the same corpus,
    * and the time of one validating ensure of both built stores. */
  private def prepareExpected(): Unit = {
    bm25Expected = Retrieval.q72Bm25TopK(spark, dataDir).collect().toSeq
      .map(r => (r.getAs[Int]("query_id"), (r.getAs[Int]("rnk"),
        r.getAs[Long]("doc_id"), r.getAs[Long]("score"))))
      .groupMap(_._1)(_._2).map { case (q, xs) => q -> xs.toSet }
    val t0 = System.nanoTime()
    IndexStore.ensure(spark, dataDir)
    LexIndex.ensure(spark, dataDir)
    ensureS = (System.nanoTime() - t0) / 1e9
  }

  def pass(rec: Recorder): Unit = if (rnd.nextBoolean()) knn(rec) else bm25(rec)

  private def knn(rec: Recorder): Unit = {
    var df: DataFrame = null
    rec.op("operators.knn", "knn", 1) {
      df = IndexStore.queryIvfPq(spark, dataDir, ann, kk = Similarity.k)
      df.collect()
    }.foreach { rows =>
      val got = rows.toSeq.groupMap(_.getAs[Long]("query_id"))(_.getAs[Long]("neighbor_id"))
      val hit = exact.toSeq.map { case (q, ns) => (got.getOrElse(q, Nil).toSet & ns).size }.sum
      val recall = hit.toDouble / exact.values.map(_.size).sum
      if (recall < recallFloor) rec.fail(f"kNN recall@5 $recall%.3f below floor $recallFloor")
      if (rec.tracing) {
        val (p, s) = planRows(df)
        probed += p
        shortlist += s
      }
    }
  }

  private def bm25(rec: Recorder): Unit = {
    val qs = scala.util.Random.javaRandomToRandom(rnd)
      .shuffle(Retrieval.bm25Queries).take(1 + rnd.nextInt(3))
    val want = qs.map(_._1).flatMap(q => bm25Expected.getOrElse(q, Set.empty).map((q, _))).toSet
    rec.op("operators.bm25", "bm25", 1) {
      val qterms = qs.toDF("query_id", "qtext")
        .select(col("query_id"), explode(tokens(col("qtext"))).as("token"))
        .distinct()
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id").asc)
      LexIndex.queryScores(spark, lex, qterms, excludeSelf = false)
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= Retrieval.bm25K)
        .select(col("query_id"), col("rnk"), col("doc_id"), col("score").cast("long"))
        .collect()
    }.foreach { rows =>
      val got = rows.map(r => (r.getInt(0), (r.getInt(1), r.getLong(2), r.getLong(3)))).toSet
      if (got != want) rec.fail(s"BM25 rows differ from ad-hoc scoring for queries ${qs.map(_._1)}")
    }
  }

  /** (rows out of the probed codes scan, shortlist rows) of an executed
    * kNN plan, read from the operators' SQL metrics. */
  private def planRows(df: DataFrame): (Long, Long) = {
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
    }
    val all = nodes(df.queryExecution.executedPlan)
    def rows(p: SparkPlan) = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
    (all.collect { case s: FileSourceScanExec
        if s.relation.location.rootPaths.exists(_.toString.contains("/codes")) => rows(s) }.sum,
     all.collect { case g: GenerateExec
        if g.generatorOutput.map(_.name) == Seq("c") => rows(g) }.sum)
  }

  override def traceExtras(rec: Recorder): Map[String, Any] =
    Map("probed_rows" -> probed, "shortlist_rows" -> shortlist)

  override def facts: Map[String, Any] = Map(
    "ann_build_s" -> annBuild.toSeq, "lex_build_s" -> lexBuild.toSeq,
    "ensure_s" -> ensureS)
}
