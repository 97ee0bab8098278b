package perfbench

import org.apache.spark.sql.functions._

import graft.Materialize
import graft.operators.Dedup

/** `curate`: batch curation of the 4x corpus through the public Dedup
  * functions — corpus clean (q44 shape), near-dup pairs then
  * alternating-star components (q50 shape), and an incremental clean
  * of a seeded 20% batch against the other 80% (q59 shape). Replicas
  * are disjoint copies of one base corpus, so every output must split
  * into `replicas` identical shares. */
final class Curate(ctx: Ctx) extends Workload {
  import ctx.spark

  val baseDocs = 5000
  val replicas = 4
  private var dir = ""
  private var nDocs = 0L
  private var verified = 0L
  private val hashes = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  /** Generate the replicated corpus and write it as a documents table. */
  def setupRep(rep: Int): Unit = {
    dir = s"${ctx.work}/curate/rep$rep"
    val docs = Corpus.replicate(Corpus.base(ctx.seed, baseDocs), replicas)
    Corpus.write(spark, docs, s"$dir/documents.parquet", ctx.nproc)
    nDocs = docs.size.toLong
  }

  private val mask = lit(0xFFFFFFFFL)

  /** Per-replica counts must all be equal; returns a failure text. */
  private def replicaShares(what: String, rows: Seq[(Long, Long)]): Option[String] = {
    val byRep = rows.groupMapReduce(_._1)(_._2)(_ + _)
    val counts = (0L until replicas).map(byRep.getOrElse(_, 0L))
    if (counts.distinct.size == 1 && counts.head > 0) None
    else Some(s"$what per replica not equal: ${counts.mkString(",")}")
  }

  private def remember(key: String, h: Long, rec: Recorder): Unit =
    hashes.get(key) match {
      case Some(prev) if prev != h => rec.fail(s"$key hash changed between passes")
      case _ => hashes(key) = h
    }

  def pass(rec: Recorder): Unit = {
    clean(rec, dir, nDocs, check = true)
    clusters(rec, dir, check = true)
    increment(rec, dir, check = true)
  }

  /** q44 shape; every per-language total is a multiple of `replicas`.
    * The corpus is counted once per pass: docs/s = corpus / pass time. */
  private def clean(rec: Recorder, dir: String, n: Long, check: Boolean): Unit =
    rec.op("operators.corpus_clean", "curate", n) {
      Dedup.q44CorpusClean(spark, dir).collect()
    }.filter(_ => check).foreach { rows =>
      val bad = rows.filter(r => (1 to 3).exists(i => r.getLong(i) % replicas != 0))
      if (rows.isEmpty || bad.nonEmpty)
        rec.fail(s"corpus clean totals not a multiple of $replicas: ${bad.mkString(";")}")
      remember("corpus_clean", rows.map(_.toString).sorted.mkString("|").hashCode.toLong, rec)
    }

  /** q50 shape; clustered docs and clusters split evenly by replica. */
  private def clusters(rec: Recorder, dir: String, check: Boolean): Unit = {
    val docs = Corpus.frame(spark, dir)
    val pairs = rec.op("operators.near_dup_pairs", "curate", 0) {
      val sh = Materialize(Dedup.shingleIndex(docs))
      Materialize(Dedup.nearDupPairs(sh, 0.5))
    }
    val labels = pairs.flatMap { p =>
      if (check) verified = p.count()
      rec.op("operators.components", "curate", 0) {
        Materialize(Dedup.connectedComponentsStar(p, "doc_a", "doc_b"))
      }
    }
    labels.filter(_ => check).foreach { l =>
      val per = l.groupBy(Corpus.replicaOf(col("vtx")).as("r"))
        .agg(count(lit(1)), countDistinct(col("comp")),
          sum(xxhash64(col("vtx"), col("comp")).bitwiseAND(mask)))
        .collect().toSeq
      replicaShares("clustered docs", per.map(r => (r.getLong(0), r.getLong(1))))
        .orElse(replicaShares("clusters", per.map(r => (r.getLong(0), r.getLong(2)))))
        .foreach(rec.fail)
      remember("components", per.map(_.getLong(3)).sum, rec)
    }
  }

  /** q59 shape: a seeded 20% batch (chosen by base doc id, so the same
    * in every replica) cleaned against the other 80%. */
  private def increment(rec: Recorder, dir: String, check: Boolean): Unit = {
    val docs = Corpus.frame(spark, dir)
    val batch = pmod(xxhash64(lit(ctx.seed), lit("inc"),
      pmod(col("doc_id"), lit(1000000L))), lit(5L)) === 0
    rec.op("operators.clean_increment", "curate", 0) {
      Dedup.cleanIncrement(docs.filter(batch), docs.filter(!batch), 0.5)
        .select(col("doc_id")).collect()
    }.filter(_ => check).foreach { rows =>
      val ids = rows.map(_.getLong(0)).toSeq
      replicaShares("admitted docs", ids.map(i => (i / 1000000L, 1L))).foreach(rec.fail)
      remember("clean_increment", ids.sorted.hashCode.toLong, rec)
    }
  }

  override def traceExtras(rec: Recorder): Map[String, Any] = {
    val sh = Materialize(Dedup.shingleIndex(Corpus.frame(spark, dir)))
    val cand = Dedup.lshCandidates(Dedup.minhashBands(sh)).count()
    Map("candidate_pairs" -> cand, "verified_pairs" -> verified)
  }

  override def facts: Map[String, Any] = Map("docs" -> nDocs,
    "output_hashes" -> hashes.toMap)
}
