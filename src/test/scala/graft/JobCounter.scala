package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession

/** The Spark jobs one block of code submits, attributed through a local
  * property that the block's thread carries (Spark copies local
  * properties onto every job the thread submits), so jobs of other
  * threads never count. `tasks(i)` is the task count of the stages job
  * `i` actually ran (skipped stages excluded), in job order; `stages`
  * holds the task count of every stage that ran, in submission order. */
final case class JobCount(jobs: Int, tasks: Vector[Int], stages: Vector[Int])

object JobCounter {
  private val Key = "graft.test.jobcount"
  private val nextTag = new AtomicLong
  // (tag, jobId) per job start; (tag, jobId, tasks) per submitted stage
  private val jobStarts = new ConcurrentLinkedQueue[(String, Int)]
  private val stageRuns = new ConcurrentLinkedQueue[(String, Int, Int)]
  private val stageJob = new ConcurrentHashMap[Int, Int]

  private object Listener extends SparkListener {
    private def tag(p: java.util.Properties): Option[String] =
      Option(p).flatMap(x => Option(x.getProperty(Key)))
    override def onJobStart(e: SparkListenerJobStart): Unit =
      tag(e.properties).foreach { t =>
        jobStarts.add((t, e.jobId))
        e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tag(e.properties).foreach { t =>
        val s = e.stageInfo.stageId
        stageRuns.add((t, stageJob.getOrDefault(s, -1), e.stageInfo.numTasks))
      }
  }

  private val registered = new AtomicBoolean

  /** Run `body` and count the jobs it submitted from this thread. */
  def count[A](spark: SparkSession)(body: => A): (A, JobCount) = {
    val sc = spark.sparkContext
    if (registered.compareAndSet(false, true)) sc.addSparkListener(Listener)
    val tag = s"t${nextTag.incrementAndGet()}"
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, tag)
    val out = try body finally sc.setLocalProperty(Key, prev)
    ListenerBusBridge.drain(sc)
    val jobs = jobStarts.asScala.filter(_._1 == tag).map(_._2).toVector.sorted
    val stages = stageRuns.asScala.filter(_._1 == tag).toVector
    (out, JobCount(jobs.size,
      jobs.map(j => stages.filter(_._2 == j).map(_._3).sum), stages.map(_._3)))
  }
}
