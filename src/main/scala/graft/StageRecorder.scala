package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentHashMap, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One completed stage: its callsite name, the job description it ran
  * under (`spark.job.description`) and that job's id (-1 if unknown),
  * wall clock (submission → completion), and the summed task metrics —
  * executor run, CPU and GC time, shuffle read/write bytes, and spill
  * (memory + disk) bytes.
  */
final case class StageRow(
    stageId: Int, name: String, job: String, jobId: Int, wallMs: Long,
    tasks: Int,
    runMs: Long, cpuMs: Long, gcMs: Long,
    readBytes: Long, writeBytes: Long, spillBytes: Long)

/** The one metrics listener of the dev and bench mains: keeps a
  * [[StageRow]] per completed stage of its `SparkContext`. [[Bench]]'s
  * per-query data movement, [[QueryTime]]'s stage table and
  * [[ScaleGate]]'s per-dump shuffle/spill line all read it through
  * [[StageRecorder.recording]].
  *
  * Listener events post asynchronously but in order, so a window is
  * closed by a labelled marker job: once the marker's job start is
  * seen, every stage that completed before it was submitted has been
  * recorded. Marker jobs record no rows of their own.
  */
final class StageRecorder private extends SparkListener {
  import StageRecorder._

  private final class Acc(job: String, jobId: Int) {
    var tasks, runMs, cpuNs, gcMs, read, write, spill = 0L
    def row(i: StageInfo): StageRow = StageRow(i.stageId,
      i.name.takeWhile(_ != '\n'), job, jobId,
      (for (a <- i.completionTime; b <- i.submissionTime) yield a - b)
        .getOrElse(0L),
      tasks.toInt, runMs, cpuNs / 1000000L, gcMs, read, write, spill)
  }

  // the listener bus calls these from one thread; `rows` and `markers`
  // are also touched by the caller's thread
  private val live = mutable.HashMap.empty[(Int, Int), Acc]
  // stage id → the first running job that lists it (the one that runs
  // it; later jobs skip it), kept while that job runs
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobStages = mutable.HashMap.empty[Int, Seq[Int]]
  private val rows = mutable.ArrayBuffer.empty[StageRow]
  private val markers = new ConcurrentHashMap[String, Promise[Int]]
  private val seq = new AtomicLong

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val job = description(e.properties)
    if (!job.startsWith(Marker))
      live((e.stageInfo.stageId, e.stageInfo.attemptNumber())) =
        new Acc(job, stageJob.getOrElse(e.stageInfo.stageId, -1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (a <- live.get((e.stageId, e.stageAttemptId));
         m <- Option(e.taskMetrics)) {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.read += m.shuffleReadMetrics.totalBytesRead
      a.write += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    live.remove((i.stageId, i.attemptNumber())).foreach(a =>
      rows.synchronized(rows += a.row(i)))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    e.stageIds.foreach(stageJob.getOrElseUpdate(_, e.jobId))
    jobStages(e.jobId) = e.stageIds
    Option(markers.remove(description(e.properties)))
      .foreach(_.success(rows.synchronized(rows.length)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobStages.remove(e.jobId).foreach(_.foreach(s =>
      if (stageJob.get(s).contains(e.jobId)) stageJob.remove(s)))

  /** Run a labelled marker job and wait until the listener has seen
    * it; returns the number of rows recorded by then.
    */
  private def settle(sc: SparkContext): Int = {
    val label = s"$Marker ${seq.incrementAndGet()}"
    val seen = Promise[Int]()
    markers.put(label, seen)
    val prev = sc.getLocalProperty(JobDescription)
    sc.setJobDescription(label)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.setLocalProperty(JobDescription, prev)
    Await.result(seen.future, Duration(60, TimeUnit.SECONDS))
  }
}

object StageRecorder {

  private val Marker = "stage-recorder settle"
  private val JobDescription = "spark.job.description"

  private def description(p: Properties): String =
    Option(p).flatMap(p => Option(p.getProperty(JobDescription)))
      .getOrElse("")

  // the listener bus does not dedup instances — a second registration
  // would record every stage twice — so one recorder per context
  private var current: Option[(SparkContext, StageRecorder)] = None

  private def of(sc: SparkContext): StageRecorder = synchronized {
    current.collect { case (c, r) if c eq sc => r }.getOrElse {
      val r = new StageRecorder
      sc.addSparkListener(r)
      current = Some(sc -> r)
      r
    }
  }

  /** Run `body` and return its result with the rows of every stage
    * that completed while it ran. The settling marker jobs run outside
    * `body`, so a timer inside `body` does not see them.
    */
  def recording[A](spark: SparkSession)(body: => A): (A, Seq[StageRow]) = {
    val r = of(spark.sparkContext)
    val from = r.settle(spark.sparkContext)
    val a = body
    val to = r.settle(spark.sparkContext)
    (a, r.rows.synchronized(r.rows.slice(from, to).toSeq))
  }

  /** [shuffle read, shuffle write, spill] bytes summed over `rows`. */
  def moved(rows: Seq[StageRow]): Seq[Long] = Seq(
    rows.map(_.readBytes).sum, rows.map(_.writeBytes).sum,
    rows.map(_.spillBytes).sum)

  /** One line per stage, costliest wall first, under a header. */
  def table(rows: Seq[StageRow]): Seq[String] = {
    def mb(b: Long) = b / 1048576.0
    val header = f"${"stage"}%6s ${"wall_ms"}%8s ${"run_ms"}%8s " +
      f"${"cpu_ms"}%8s ${"gc_ms"}%6s ${"tasks"}%5s ${"read"}%7s " +
      f"${"write"}%7s ${"spill"}%7s  name [job]"
    header +: rows.sortBy(-_.wallMs).map(r =>
      f"${r.stageId}%6d ${r.wallMs}%8d ${r.runMs}%8d ${r.cpuMs}%8d " +
        f"${r.gcMs}%6d ${r.tasks}%5d ${mb(r.readBytes)}%7.1f " +
        f"${mb(r.writeBytes)}%7.1f ${mb(r.spillBytes)}%7.1f  " +
        s"${r.name} [${r.job}]")
  }
}
