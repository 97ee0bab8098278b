package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Wall clock shared by spans and listener events: epoch milliseconds
  * with sub-millisecond resolution (listener events carry epoch ms). */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One timed call into the library. `route` groups ops for the rates
  * ("sql", "sql_index", "pq", "curate", "knn", "bm25"); `req` is the
  * request id that the spans and jobs of this op share; `phase` is the
  * part of the run it belongs to (see [[Main.run]]). */
final case class Op(name: String, route: String, req: Int, t0: Double,
    t1: Double, rows: Long, phase: String, var ok: Boolean = true,
    var detail: String = "") {
  def toMap: Map[String, Any] = Map("name" -> name, "route" -> route,
    "req" -> req, "t0" -> t0, "t1" -> t1, "rows" -> rows,
    "phase" -> phase, "ok" -> ok, "detail" -> detail)
}

/** Records ops always (they give the end-to-end numbers) and, while
  * tracing is on, spans nested under the current op. */
final class Recorder {
  val ops = mutable.ArrayBuffer.empty[Op]
  val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  var phase = "measured"
  def tracing: Boolean = phase == "traced"
  private var nextReq = 0
  private var stack: List[(Int, Int)] = Nil // (span id, req)

  /** Time `body` as one op; a throw is recorded as a failed op and
    * swallowed, so the pass goes on and later checks see the damage. */
  def op[T](name: String, route: String, rows: Long)(body: => T): Option[T] = {
    val req = nextReq
    nextReq += 1
    val t0 = Clock.nowMs
    val r = try Right(span(name, req)(body)) catch {
      case e: Exception => Left(e)
    }
    val o = Op(name, route, req, t0, Clock.nowMs, rows, phase)
    r.left.foreach { e =>
      o.ok = false
      o.detail = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    ops += o
    r.toOption
  }

  /** A nested span inside the current op (no-op when not tracing). */
  def span[T](name: String, req: Int = -1)(body: => T): T =
    if (!tracing) body
    else {
      val id = spans.size
      val r = if (req >= 0) req else stack.headOption.map(_._2).getOrElse(-1)
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      spans += Map.empty // placeholder keeps ids in start order
      stack = (id, r) :: stack
      val t0 = Clock.nowMs
      try body finally {
        stack = stack.tail
        spans(id) = Map("id" -> id, "name" -> name, "start" -> t0,
          "end" -> Clock.nowMs, "parent" -> parent, "req" -> r)
      }
    }

  /** Mark the most recent op with a failed output check. */
  def fail(detail: String): Unit = ops.lastOption.foreach { o =>
    o.ok = false
    if (o.detail.isEmpty) o.detail = detail.take(300)
  }
}

/** Benchmark-owned listener: one record per Spark job with the call
  * site it was submitted from and its summed task metrics, plus the
  * bytes of RDD blocks stored (Materialize checkpoints). The call site
  * of a SQL job is its SQL execution's description (the action's call
  * site), so AQE stage jobs and broadcast jobs are attributed to the
  * action that caused them; other jobs use their result stage name. */
final class LayerListener extends SparkListener {
  private final class JobRec(val id: Int, val start: Double,
      val site: String, val stages: Seq[Int]) {
    var end = Double.NaN
    var ok = true
  }
  private final class StageAgg {
    var tasks = 0L; var failedTasks = 0L; var runMs = 0L; var cpuNs = 0L
    var schedMs = 0L; var shRead = 0L; var shWrite = 0L; var spill = 0L
    var inBytes = 0L; var outBytes = 0L; var outRecords = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  private val execSite = mutable.HashMap.empty[Long, String]
  @volatile var blockBytes = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execSite(s.executionId) = s.description
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(_.toLongOption)
    val stageName =
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val site = exec.flatMap(execSite.get).getOrElse(stageName)
    jobs(e.jobId) = new JobRec(e.jobId, e.time.toDouble, site, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.end = e.time.toDouble
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    if (!e.taskInfo.successful) a.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      val dur = e.taskInfo.finishTime - e.taskInfo.launchTime
      a.schedMs += math.max(0L, dur - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        (if (e.taskInfo.gettingResult) e.taskInfo.finishTime -
          e.taskInfo.gettingResultTime else 0L))
      a.shRead += m.shuffleReadMetrics.remoteBytesRead +
        m.shuffleReadMetrics.localBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inBytes += m.inputMetrics.bytesRead
      a.outBytes += m.outputMetrics.bytesWritten
      a.outRecords += m.outputMetrics.recordsWritten
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD && info.storageLevel.isValid)
      blockBytes += info.memSize + info.diskSize
  }

  def jobRecords: Seq[Map[String, Any]] = synchronized {
    jobs.values.toSeq.map { j =>
      val aggs = j.stages.flatMap(stageAgg.get)
      def sum(f: StageAgg => Long) = aggs.map(f).sum
      Map("id" -> j.id, "start" -> j.start, "end" -> j.end, "site" -> j.site,
        "ok" -> j.ok, "stages" -> j.stages.size,
        "tasks" -> sum(_.tasks), "failed_tasks" -> sum(_.failedTasks),
        "run_ms" -> sum(_.runMs), "cpu_ns" -> sum(_.cpuNs),
        "sched_ms" -> sum(_.schedMs), "shuffle_read" -> sum(_.shRead),
        "shuffle_write" -> sum(_.shWrite), "spill" -> sum(_.spill),
        "in_bytes" -> sum(_.inBytes), "out_bytes" -> sum(_.outBytes),
        "out_records" -> sum(_.outRecords))
    }
  }
}
