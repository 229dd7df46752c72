package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed call into a layer. `req` groups the spans of one request;
  * `parent` is the enclosing span's id (0 = request root). Times are
  * `System.nanoTime`. */
final case class Span(id: Long, parent: Long, req: Long, name: String, start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out as JSON lines. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[(Long, Long)] = Nil // (span id, req)

  def span[A](name: String, req: Long)(f: => A): A = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.filter(_._2 == req).map(_._1).getOrElse(0L)
    stack = (id, req) :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans += Span(id, parent, req, name, t0, System.nanoTime())
      stack = stack.tail
    }
  }

  /** Self time per span name: each span's duration minus the time its
    * child spans cover. */
  def selfMs: Map[String, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.ms - childMs.getOrElse(s.id, 0.0)).sum
    }
  }

  def writeJsonLines(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder
    spans.foreach { s =>
      sb.append(Json.write(Map("id" -> s.id, "parent" -> s.parent, "req" -> s.req,
        "name" -> s.name, "start_ns" -> s.start, "end_ns" -> s.end))).append('\n')
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Spark job, stage and task events, attributed to benchmark requests
  * through the `perfbench.req` local property that [[Ctx.request]]
  * sets on the calling thread (Spark copies local properties onto every
  * job the thread submits). Mutated on the listener-bus thread only and
  * read after [[SparkRecorder.drain]]. */
final class SparkRecorder extends SparkListener {
  import SparkRecorder._

  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  private val stageReq = mutable.Map.empty[Int, Long]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val stageMeta = mutable.Map.empty[Int, (String, Boolean)]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val req = Option(e.properties).flatMap(p => Option(p.getProperty(ReqKey)))
      .flatMap(_.toLongOption).getOrElse(-1L)
    jobs += JobRec(req, e.jobId, e.time, -1L)
    e.stageInfos.foreach { s =>
      stageReq(s.stageId) = req
      stageMeta(s.stageId) = (s.name, PerfbenchBridge.isShuffleMapStage(s))
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobs.find(_.jobId == e.jobId).foreach(_.end = e.time)

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmitted(e.stageInfo.stageId) = t)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    val (name, isMap) = stageMeta.getOrElse(e.stageId, ("unknown", false))
    val wait = stageSubmitted.get(e.stageId).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    tasks += TaskRec(
      req = stageReq.getOrElse(e.stageId, -1L),
      stageId = e.stageId, stageName = name, shuffleMap = isMap,
      runMs = if (m == null) 0L else m.executorRunTime,
      waitMs = wait,
      bytesRead = if (m == null) 0L else m.inputMetrics.bytesRead,
      rowsRead = if (m == null) 0L else m.inputMetrics.recordsRead,
      shuffleWrite = if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      spill = if (m == null) 0L else m.diskBytesSpilled,
      bytesWritten = if (m == null) 0L else m.outputMetrics.bytesWritten,
      failed = e.reason != Success)
  }

  def jobsOf(req: Long): Seq[JobRec] = jobs.filter(_.req == req).toSeq
  def tasksOf(req: Long): Seq[TaskRec] = tasks.filter(_.req == req).toSeq

  /** Milliseconds of `[fromMs, toMs]` covered by none of the request's
    * jobs: the driver's own time inside the request. */
  def driverSelfMs(req: Long, fromMs: Long, toMs: Long): Double = {
    val iv = jobsOf(req).map(j => (math.max(fromMs, j.start),
      math.min(toMs, if (j.end < 0) toMs else j.end))).filter(x => x._2 > x._1).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (toMs - fromMs) - covered).toDouble
  }
}

object SparkRecorder {
  val ReqKey = "perfbench.req"

  final case class JobRec(req: Long, jobId: Int, start: Long, var end: Long)
  final case class TaskRec(req: Long, stageId: Int, stageName: String,
                           shuffleMap: Boolean, runMs: Long, waitMs: Long,
                           bytesRead: Long, rowsRead: Long, shuffleWrite: Long,
                           spill: Long, bytesWritten: Long, failed: Boolean)

  /** Waits (up to Spark's 10 s) for queued events; a request whose events
    * arrive later is attributed fewer jobs and tasks, never misattributed. */
  def drain(sc: SparkContext): Unit =
    try PerfbenchBridge.drainListenerBus(sc)
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** `StageInfo.name` is the call site ("parquet at IndexBuilder.scala:287");
    * drop the line number so the name survives edits of the file. */
  def callSite(stageName: String): String = {
    val CallSite = """(\S+) at (\S+?)\.(?:scala|java):\d+""".r
    (stageName match {
      case CallSite(op, file) => s"$file.$op"
      case other => other
    }).replaceAll("[^A-Za-z0-9_.-]+", "_")
  }
}
