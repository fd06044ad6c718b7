package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory trace of one benchmark run: the benchmark's own spans
  * around each call into the program, plus the Spark jobs (with their
  * task metrics) and the query planning phases that ran inside them.
  * Attached only for a traced run; written as JSONL at the end.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]
  private val plans = new ConcurrentLinkedQueue[Plan]
  private val events = new java.util.concurrent.atomic.AtomicLong
  private val busyNs = new java.util.concurrent.atomic.AtomicLong
  @volatile private var attachedAt = 0L

  /** Time spent inside the listeners, charged to `busyNs`. */
  private def busy(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    try body finally {
      busyNs.addAndGet(System.nanoTime() - t0)
      events.incrementAndGet()
    }
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = busy {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobs.put(e.jobId, new Job(e.jobId, desc, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = busy {
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
      val m = e.taskMetrics
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .filter(_ => m != null).foreach { j =>
          j.synchronized {
            j.tasks += 1
            j.taskMs += m.executorRunTime
            j.gcMs += m.jvmGCTime
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          }
        }
    }
  }

  private val queryListener = new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = busy {
      val ph = qe.tracker.phases
      val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L)
      plans.add(Plan(start, Seq("analysis", "optimization", "planning")
        .flatMap(ph.get).map(_.durationMs).sum))
    }
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def attach(): Unit = {
    attachedAt = System.nanoTime()
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  def detach(): Unit = {
    settle()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  /** Time inside the listeners as a share of the wall time since
    * [[attach]], in percent. A proxy for the cost of tracing: the
    * listeners run on Spark's asynchronous listener-bus thread, so this
    * is not the traced run's slowdown against an untraced one.
    */
  def listenerPct: Double =
    100.0 * busyNs.get / math.max(1L, System.nanoTime() - attachedAt)

  /** Listener events arrive asynchronously: wait until two reads 100 ms
    * apart agree. Called outside every timed section.
    */
  def settle(): Unit = {
    var prev = -1L
    var tries = 0
    while (prev != events.get && tries < 100) {
      prev = events.get
      Thread.sleep(100)
      tries += 1
    }
  }

  /** The innermost open span of the benchmark's thread: the parent of
    * the next one.
    */
  private var open: Option[Span] = None

  /** Time `body` as a span; the span is kept even if `body` throws. */
  def span[T](name: String, op: Int)(body: Span => T): T = {
    val s = new Span(spans.size, name, op, open.map(_.id),
      System.currentTimeMillis())
    val outer = open
    spans.synchronized(spans += s)
    open = Some(s)
    try body(s) finally {
      s.endMs = System.currentTimeMillis()
      open = outer
    }
  }

  def spansNamed(name: String): Seq[Span] =
    spans.synchronized(spans.filter(_.name == name).toSeq)

  /** Jobs that started inside `s`, optionally only those whose
    * description is `desc`.
    */
  def jobsIn(s: Span, desc: Option[String] = None): Seq[Job] =
    jobs.values.asScala.toSeq.sortBy(_.id).filter(j =>
      j.startMs >= s.startMs && j.startMs <= s.endMs &&
        desc.forall(_ == j.desc))

  /** Planning time (analysis + optimization + planning) of the query
    * executions whose planning began inside `s`.
    */
  def planMsIn(s: Span): Long =
    plans.asScala.filter(p => p.startMs >= s.startMs && p.startMs <= s.endMs)
      .map(_.ms).sum

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"kind":"span","id":${s.id},"name":"${s.name}","op":${s.op},""" +
        s""""parent":${s.parent.getOrElse(-1)},"start_ms":${s.startMs},""" +
        s""""end_ms":${s.endMs}}"""
    } ++ jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      s"""{"kind":"job","id":${j.id},"desc":"${j.desc.replace("\"", "'")}",""" +
        s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks},""" +
        s""""task_ms":${j.taskMs},"gc_ms":${j.gcMs},""" +
        s""""shuffle_bytes":${j.shuffleBytes},"spill_bytes":${j.spillBytes}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  final class Span(val id: Int, val name: String, val op: Int,
      val parent: Option[Int], val startMs: Long) {
    @volatile var endMs: Long = startMs
    def s: Double = (endMs - startMs) / 1000.0
  }

  final class Job(val id: Int, val desc: String, val startMs: Long) {
    @volatile var endMs: Long = startMs
    var tasks = 0L
    var taskMs = 0L
    var gcMs = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
  }

  final case class Plan(startMs: Long, ms: Long)

  /** Total length of the union of `[start, end]` intervals, in s. */
  def unionS(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((s, e)) if a <= e => cur = Some((s, math.max(e, b)))
        case Some((s, e)) => total += e - s; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (s, e) => total += e - s }
    total / 1000.0
  }
}
