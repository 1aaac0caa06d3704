package perfbench

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Aggregate
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reported for the jobs attributed to one span. */
final class Counters {
  var jobs, stages, tasks, runMs, gcMs, retries = 0L
  var shuffleBytes, spillBytes, readBytes, readRecords, writeBytes = 0L
  var readFiles, planMs, rounds = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    gcMs += o.gcMs; retries += o.retries; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; readBytes += o.readBytes
    readRecords += o.readRecords; writeBytes += o.writeBytes
    readFiles += o.readFiles; planMs += o.planMs; rounds += o.rounds
  }
}

/** One timed call into a layer. `op` is the operation it belongs to
  * (-1 for set-up). Times are wall-clock milliseconds for attribution
  * and nanoseconds for durations. */
final class Span(val id: Int, val name: String, val parent: Int, val op: Int,
                 val startMs: Long, val startNs: Long) {
  @volatile var endMs: Long = Long.MaxValue
  @volatile var endNs: Long = 0L
  val c = new Counters
}

/** Spans kept in memory plus the Spark counters attributed to them.
  *
  * Each span sets a job group while it is open, so every job started
  * inside it (and its stages and tasks) is charged to it; a job without
  * the group falls back to the innermost span open at its start time.
  * Planning time and scanned-file counts come from a query-execution
  * listener and are charged the same way, by the time planning began. */
final class Tracer(spark: SparkSession) {
  private val GroupPrefix = "perfbench-span-"
  private val sc = spark.sparkContext
  private val spans = new CopyOnWriteArrayList[Span]()
  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private val openJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var jobsSeen = 0L
  @volatile private var queriesSeen = 0L
  private var stack = List.empty[Span]

  private def spanAt(timeMs: Long): Option[Span] =
    spans.asScala.filter(s => s.startMs <= timeMs && timeMs <= s.endMs)
      .maxByOption(_.startNs)

  private def charge(s: Span)(f: Counters => Unit): Unit = s.c.synchronized(f(s.c))

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val byGroup = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.startsWith(GroupPrefix))
        .flatMap(g => spans.asScala.find(_.id == g.drop(GroupPrefix.length).toInt))
      openJobs.add(e.jobId)
      byGroup.orElse(spanAt(e.time)).foreach { s =>
        e.stageIds.foreach(stageSpan.put(_, s))
        charge(s)(_.jobs += 1)
      }
      jobsSeen += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = { openJobs.remove(e.jobId); () }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(charge(_)(_.stages += 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach(charge(_) { c =>
        c.tasks += 1
        if (e.taskInfo.attemptNumber > 0 || e.reason != org.apache.spark.Success)
          c.retries += 1
        val m = e.taskMetrics
        if (m != null) {
          c.runMs += m.executorRunTime
          c.gcMs += m.jvmGCTime
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.readBytes += m.inputMetrics.bytesRead
          c.readRecords += m.inputMetrics.recordsRead
          c.writeBytes += m.outputMetrics.bytesWritten
        }
      })
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private def scannedFiles(qe: QueryExecution): Long =
    try PlanWalk.collect(qe.executedPlan) {
      case s: FileSourceScanExec => s.metrics.get("numFiles").map(_.value).getOrElse(0L)
    }.sum
    catch { case _: Exception => 0L }

  /** `DupGroups.connectedComponents` ends each label-propagation round
    * with one probe query counting the labels that changed. */
  private def isRoundProbe(qe: QueryExecution): Boolean =
    qe.analyzed.collectFirst {
      case a: Aggregate if a.references.exists(_.name == "_changed") => a
    }.isDefined

  private def recordQuery(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
    val began = phases.values.map(_.startTimeMs).minOption
    began.flatMap(spanAt).foreach { s =>
      val files = scannedFiles(qe)
      val round = isRoundProbe(qe)
      charge(s) { c => c.planMs += planMs; c.readFiles += files; if (round) c.rounds += 1 }
    }
    queriesSeen += 1
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      recordQuery(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      recordQuery(qe)
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  def close(): Unit = {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }

  @volatile private var attached = true

  /** Attach or detach the listeners. Detaching first delivers every
    * queued event (an action has posted all of its events by the time it
    * returns), so the operations run since the last attach are counted
    * in full; false when that did not happen. */
  def attach(on: Boolean): Boolean =
    if (on == attached) true
    else {
      attached = on
      if (on) {
        sc.addSparkListener(listener)
        spark.listenerManager.register(queryListener)
        true
      } else {
        val delivered = BusDrain.waitUntilEmpty(sc, 60000L) && openJobs.isEmpty
        close()
        delivered
      }
    }

  /** Run `body` inside a span named `name`, charged to operation `op`. */
  def span[T](name: String, op: Int)(body: => T): T = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), op,
      System.currentTimeMillis(), System.nanoTime())
    spans.add(s)
    stack = s :: stack
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Wait until the asynchronous listener buses have delivered every
    * event: the bus reports empty, the job and query counts stop
    * changing, and no started job is still open. False when that did
    * not happen within `maxWaitMs` — the counters are then incomplete. */
  def drain(maxWaitMs: Long = 60000L): Boolean = {
    val deadline = System.currentTimeMillis() + maxWaitMs
    BusDrain.waitUntilEmpty(sc, maxWaitMs)
    var last = (jobsSeen, queriesSeen)
    var stable = false
    while (!stable && System.currentTimeMillis() < deadline) {
      Thread.sleep(150)
      BusDrain.waitUntilEmpty(sc, math.max(1L, deadline - System.currentTimeMillis()))
      val now = (jobsSeen, queriesSeen)
      stable = now == last && openJobs.isEmpty
      last = now
    }
    stable
  }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Counters of `s` and every span below it. */
  def subtree(s: Span): Counters = {
    val out = new Counters
    val kids = all.groupBy(_.parent)
    def walk(x: Span): Unit = { x.c.synchronized(out += x.c); kids.getOrElse(x.id, Nil).foreach(walk) }
    walk(s)
    out
  }

  /** Spans as JSON lines: name, start, end, parent span and operation. */
  def writeSpans(path: String): Unit = {
    val t0 = all.headOption.map(_.startNs).getOrElse(0L)
    val lines = all.map { s =>
      Json.value(Map("id" -> s.id, "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
        "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
        "jobs" -> s.c.jobs, "tasks" -> s.c.tasks, "plan_ms" -> s.c.planMs))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
