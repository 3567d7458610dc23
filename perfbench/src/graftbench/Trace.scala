package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer of the engine. */
final case class Span(id: String, parent: Option[String], name: String,
    startMs: Long, endMs: Long, wallMs: Double)

/** Spark work charged to one span: the jobs whose job group is the span. */
final class Work {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var execRunMs = 0L; var execCpuNs = 0L; var gcMs = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var catalystMs = 0.0
  val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    execRunMs += o.execRunMs; execCpuNs += o.execCpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    catalystMs += o.catalystMs; intervals ++= o.intervals
  }
}

/**
 * Spans around the benchmark's calls into the engine, plus the two
 * listeners that charge Spark's work to them. Each span sets the calling
 * thread's job group to its own id, so every job (and through it every
 * stage and task) lands on the innermost span that caused it; Catalyst
 * time reaches the span through the SQL execution's job group. With
 * tracing off, `span` only runs its body.
 */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[String]](() => Nil)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()

  private final class JobInfo(val group: String, val start: Long) { var end = -1L }
  private val jobs = new ConcurrentHashMap[Int, JobInfo]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stagesDone = new ConcurrentHashMap[Int, Int]()
  private val taskWork = new ConcurrentHashMap[Int, Work]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val catalyst = new ConcurrentHashMap[Long, Double]()
  private val lastEvent = new AtomicLong(System.currentTimeMillis())

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      jobs.put(e.jobId, new JobInfo(g, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      lastEvent.set(System.currentTimeMillis())
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
      lastEvent.set(System.currentTimeMillis())
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stagesDone.merge(e.stageInfo.stageId, 1, Integer.sum)
      lastEvent.set(System.currentTimeMillis())
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val w = taskWork.computeIfAbsent(e.stageId, _ => new Work)
      w.synchronized {
        w.tasks += 1
        if (m != null) {
          w.execRunMs += m.executorRunTime; w.execCpuNs += m.executorCpuTime
          w.gcMs += m.jvmGCTime
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
      lastEvent.set(System.currentTimeMillis())
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
      catalyst.merge(qe.id, ms, (a, b) => a + b)
      lastEvent.set(System.currentTimeMillis())
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  if (enabled) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  /** Runs `body` as a span named `name`, a child of the thread's current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.get.headOption
      val id = s"s${ids.incrementAndGet()}"
      stack.set(id :: stack.get)
      sc.setJobGroup(id, name, interruptOnCancel = false)
      val t0 = System.nanoTime(); val s0 = System.currentTimeMillis()
      try body
      finally {
        val wall = (System.nanoTime() - t0) / 1e6
        spans.add(Span(id, parent, name, s0, System.currentTimeMillis(), wall))
        stack.set(stack.get.tail)
        parent match {
          case Some(p) => sc.setJobGroup(p, "", interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Waits until the listener bus has delivered every job's end event. */
  def drain(): Unit = if (enabled) {
    val deadline = System.currentTimeMillis() + 10000
    def settled = jobs.values.asScala.forall(_.end >= 0) &&
      System.currentTimeMillis() - lastEvent.get > 500
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(100)
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq

  /** Spark work charged directly to each span id (not its children). */
  def workBySpan(): Map[String, Work] = {
    val by = mutable.Map.empty[String, Work]
    def of(g: String) = by.getOrElseUpdate(g, new Work)
    jobs.asScala.foreach { case (jid, j) =>
      val w = of(j.group)
      w.jobs += 1
      w.intervals += ((j.start, if (j.end >= 0) j.end else j.start))
    }
    taskWork.asScala.foreach { case (stage, tw) =>
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j))).foreach { j =>
        val w = of(j.group)
        w.add(tw)
      }
    }
    stagesDone.asScala.foreach { case (stage, n) =>
      Option(stageJob.get(stage)).flatMap(j => Option(jobs.get(j)))
        .foreach(j => of(j.group).stages += n)
    }
    catalyst.asScala.foreach { case (exec, ms) =>
      Option(execGroup.get(exec)).foreach(g => of(g).catalystMs += ms)
    }
    by.toMap
  }
}

/** Per-span rollups: self time, subtree Spark work, time outside jobs. */
object Rollup {
  final case class Row(span: Span, selfMs: Double, work: Work, outsideJobsMs: Double)

  def rows(spans: Seq[Span], direct: Map[String, Work]): Seq[Row] = {
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: kids.getOrElse(Some(s.id), Nil).flatMap(subtree)
    spans.map { s =>
      val w = new Work
      subtree(s).foreach(d => direct.get(d.id).foreach(w.add))
      val childWall = kids.getOrElse(Some(s.id), Nil).map(_.wallMs).sum
      Row(s, math.max(0.0, s.wallMs - childWall), w,
        math.max(0.0, s.wallMs - covered(w.intervals.toSeq, s.startMs, s.endMs)))
    }
  }

  /** Milliseconds of [lo, hi] covered by the union of the intervals. */
  def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Double = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        if (a > curE) { total += math.max(0L, curE - curS); curS = a; curE = b }
        else curE = math.max(curE, b)
      }
    total += math.max(0L, curE - curS)
    total.toDouble
  }
}
