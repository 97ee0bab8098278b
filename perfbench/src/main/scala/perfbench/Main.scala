package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its own work directory
  * inside the checkout, the seed and the core count. */
final case class Ctx(spark: SparkSession, work: String, seed: Long,
    nproc: Int)

/** A benchmark workload. Set-up runs `setupReps` times (the median
  * repetition is reported) and the last repetition's state is what the
  * measured passes use. The first repetition is the cold one — it pays
  * the JVM's class loading and code generation, and the median drops
  * it — so `prepareChecks` runs alongside it. */
trait Workload {
  def setupRep(rep: Int): Unit
  /** Work after set-up that brings the measured state about (warm JIT,
    * statement caches); counted in set-up time. */
  def warmup(): Unit = ()
  /** Expected outputs for the checks, from the seed alone. */
  def prepareChecks(): Unit = ()
  /** One closed-loop unit of measured work, op by op through `rec`. */
  def pass(rec: Recorder): Unit
  /** Counts gathered outside the timed ops, in the traced run only. */
  def traceExtras(rec: Recorder): Map[String, Any] = Map.empty
  /** Facts read after the passes (store build times, stored sizes). */
  def facts: Map[String, Any] = Map.empty
}

/** Entry point: `--workload w --seed n --seconds s --trace 0|1
  * --work dir --out file`. Writes the raw run record (ops, set-up
  * times and, when traced, spans and per-job Spark metrics) as JSON
  * to `--out`; perfbench/run.py turns it into the metrics. */
object Main {
  val setupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = opts("work")
    val spark = GraftBench.session(work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val ctx = Ctx(spark, work, opts("seed").toLong,
      spark.sparkContext.defaultParallelism)
    val wl: Workload = workload match {
      case "load" => new Load(ctx)
      case "curate" => new Curate(ctx)
      case "serve" => new Serve(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = try run(ctx, wl, seconds, trace, sessionS) ++ Map(
      "workload" -> workload, "seed" -> ctx.seed, "nproc" -> ctx.nproc,
      "session_s" -> sessionS)
    finally spark.stop()
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      Json.render(out).getBytes("UTF-8"))
  }

  private def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** Closed loop, one client thread: passes back to back until
    * `seconds` have gone by (at least one) — the "measured" phase that
    * the end-to-end metrics come from. A traced run then runs passes for
    * half that time with the listener and spans on ("traced", the
    * per-layer numbers) and as many again without ("baseline"): the
    * wall ratio of those two is the tracing overhead. */
  def run(ctx: Ctx, wl: Workload, seconds: Double, trace: Boolean,
      sessionS: Double): Map[String, Any] = {
    var prep = 0.0
    val first = timed(Par.all(() => wl.setupRep(0),
      () => prep = timed(wl.prepareChecks())))
    val reps = first +: (1 until setupReps).map(r => timed(wl.setupRep(r)))
    val warm = timed(wl.warmup())
    System.err.println(s"[perfbench] session $sessionS s, set-up repetitions " +
      s"${reps.mkString(" ")} s, warm-up $warm s, check preparation $prep s")
    val rec = new Recorder
    def loop(budget: Double, maxPasses: Int = Int.MaxValue): Int = {
      val t0 = System.nanoTime()
      var n = 0
      while (n < maxPasses &&
          (n == 0 || (System.nanoTime() - t0) / 1e9 < budget)) {
        wl.pass(rec)
        n += 1
      }
      n
    }
    val n = loop(seconds)
    def base = Map("setup_reps_s" -> reps, "warmup_s" -> warm,
      "facts" -> wl.facts, "ops" -> rec.ops.map(_.toMap), "passes" -> n)
    if (!trace) base
    else {
      val sc = ctx.spark.sparkContext
      val listener = new LayerListener
      sc.addSparkListener(listener)
      val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      val heap = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      heap.foreach(_.resetPeakUsage())
      val gc0 = gcs.map(_.getCollectionTime).sum
      rec.phase = "traced"
      val nTraced = loop(seconds / 2)
      val gcS = (gcs.map(_.getCollectionTime).sum - gc0) / 1000.0
      val peakMb = heap.map(_.getPeakUsage.getUsed).sum / 1048576.0
      // listener events are delivered asynchronously: give the bus a
      // moment to drain before the job records are read
      val deadline = System.currentTimeMillis() + 5000
      while (listener.jobRecords.exists(_("end").asInstanceOf[Double].isNaN) &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      sc.removeSparkListener(listener)
      val extras = wl.traceExtras(rec)
      rec.phase = "baseline"
      loop(Double.MaxValue, nTraced)
      base ++ Map("traced_passes" -> nTraced, "spans" -> rec.spans,
        "jobs" -> listener.jobRecords,
        "block_bytes" -> listener.blockBytes, "gc_s" -> gcS,
        "peak_heap_mb" -> peakMb, "extras" -> extras)
    }
  }
}

object GraftBench {
  /** The library's own local-mode session wiring, with every path the
    * engine writes pointed inside the benchmark's work directory. */
  def session(work: String): SparkSession = {
    val s = graft.GraftSession.builder("perfbench")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.graft.layout.root", s"$work/layout")
      .config("spark.graft.scratch.dir", s"$work/scratch")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

object Par {
  /** Run the bodies on their own threads and wait for all; rethrows the
    * first failure. */
  def all(bodies: (() => Unit)*): Unit = {
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = bodies.map { b =>
      val t = new Thread(() => try b() catch { case e: Throwable => errs.add(e) })
      t.start()
      t
    }
    ts.foreach(_.join())
    Option(errs.peek()).foreach(e => throw e)
  }
}
