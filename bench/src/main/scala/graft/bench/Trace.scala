package graft.bench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. Times are nanoseconds on the
  * JVM's monotonic clock; `parent` is -1 for a root span. */
final class Span(val id: Int, val parent: Int, val name: String,
                 val start: Long, var end: Long) {
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def dur: Long = end - start
}

/** Spark job, stage and task counters of one job group. */
final class GroupMetrics {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs, inputBytes, inputRecords = 0L
  var shuffleReadBytes, shuffleWriteBytes, spillBytes = 0L
  var outputRecords, outputBytes = 0L
  /** stage id -> (wall ms, task durations ms) */
  val stageTasks: mutable.Map[Int, (Long, ArrayBuffer[Long])] = mutable.Map.empty

  /** Longest task over the median task, in the group's longest stage. */
  def skew: Double =
    if (stageTasks.isEmpty) 1.0
    else {
      val (_, ds) = stageTasks.values.maxBy(_._1)
      if (ds.isEmpty) 1.0
      else ds.max.toDouble / math.max(1.0, Stats.median(ds.map(_.toDouble).toSeq))
    }
}

/** The traced run's recorder. Spans are kept in memory and written out
  * at the end. Spark's job, stage and task metrics arrive on the
  * listener bus asynchronously and are attached to spans by job group;
  * [[drain]] waits until every event posted before it has been
  * delivered, by running a sentinel job and waiting for that job's
  * `onJobEnd` (events of one listener queue are delivered in order).
  * Catalyst's phase timings come from each executed query's
  * `QueryPlanningTracker`, through a `QueryExecutionListener` on the
  * same queue. */
final class Tracer(spark: SparkSession) {
  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private val groups = new ConcurrentHashMap[String, GroupMetrics]
  private val jobGroup = new ConcurrentHashMap[Int, String]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  /** (phase, start ns, end ns) of every query execution since the last take. */
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]
  @volatile private var drainGroup: String = ""
  @volatile private var drained = new CountDownLatch(1)
  private var drains = 0
  // maps the trackers' wall-clock milliseconds onto the span clock
  private val clockOffsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  private def metrics(group: String): GroupMetrics =
    groups.computeIfAbsent(group, _ => new GroupMetrics)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      g.foreach { group =>
        jobGroup.put(e.jobId, group)
        if (group != drainGroup) {
          e.stageIds.foreach(stageGroup.put(_, group))
          val m = metrics(group)
          m.synchronized(m.jobs += 1)
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobGroup.getOrDefault(e.jobId, "") == drainGroup) drained.countDown()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageGroup.get(e.stageInfo.stageId)).foreach { group =>
        val m = metrics(group)
        val wall = for (s <- e.stageInfo.submissionTime; c <- e.stageInfo.completionTime)
          yield c - s
        m.synchronized {
          m.stages += 1
          val (_, ds) = m.stageTasks.getOrElse(e.stageInfo.stageId, (0L, ArrayBuffer.empty[Long]))
          m.stageTasks(e.stageInfo.stageId) = (wall.getOrElse(0L), ds)
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageGroup.get(e.stageId)).foreach { group =>
        val m = metrics(group)
        val tm = e.taskMetrics
        m.synchronized {
          m.tasks += 1
          val (w, ds) = m.stageTasks.getOrElse(e.stageId, (0L, ArrayBuffer.empty[Long]))
          ds += e.taskInfo.duration
          m.stageTasks(e.stageId) = (w, ds)
          if (tm != null) {
            m.cpuNs += tm.executorCpuTime
            m.runMs += tm.executorRunTime
            m.gcMs += tm.jvmGCTime
            m.inputBytes += tm.inputMetrics.bytesRead
            m.inputRecords += tm.inputMetrics.recordsRead
            m.shuffleReadBytes += tm.shuffleReadMetrics.totalBytesRead
            m.shuffleWriteBytes += tm.shuffleWriteMetrics.bytesWritten
            m.spillBytes += tm.memoryBytesSpilled + tm.diskBytesSpilled
            m.outputRecords += tm.outputMetrics.recordsWritten
            m.outputBytes += tm.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val planListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = trackerPhases(qe).foreach(phases.add)
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
  }

  /** Blocks until every listener event posted so far has been delivered. */
  def drain(): Unit = {
    drains += 1
    drainGroup = s"bench-drain-$drains"
    drained = new CountDownLatch(1)
    val sc = spark.sparkContext
    sc.setJobGroup(drainGroup, "listener drain")
    try sc.parallelize(Seq(1), 1).foreach(_ => ())
    finally sc.clearJobGroup()
    if (!drained.await(60, TimeUnit.SECONDS))
      throw new IllegalStateException("listener bus did not drain within 60s")
  }

  /** Removes and returns the counters of a job group (empty if it ran no job). */
  def takeGroup(group: String): GroupMetrics =
    Option(groups.remove(group)).getOrElse(new GroupMetrics)

  /** Removes and returns the planning phases recorded since the last call. */
  def takePhases(): Seq[(String, Long, Long)] = {
    val out = ArrayBuffer.empty[(String, Long, Long)]
    var p = phases.poll()
    while (p != null) { out += p; p = phases.poll() }
    out.toSeq
  }

  /** The phases of one query's own tracker, on the span clock. */
  def trackerPhases(qe: QueryExecution): Seq[(String, Long, Long)] =
    qe.tracker.phases.toSeq.map { case (phase, s) =>
      (phase, s.startTimeMs * 1000000L + clockOffsetNs, s.endTimeMs * 1000000L + clockOffsetNs)
    }

  def open(name: String, parent: Int, start: Long = System.nanoTime()): Span = {
    val s = new Span(spans.size, parent, name, start, start)
    spans += s
    s
  }

  def close(s: Span, end: Long = System.nanoTime()): Span = { s.end = end; s }

  /** A span's duration minus the part of it its children cover. */
  def selfTimes(): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val ivs = kids.getOrElse(s.id, ArrayBuffer.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter(iv => iv._2 > iv._1).sortBy(_._1)
      var covered = 0L
      var curS = Long.MinValue
      var curE = Long.MinValue
      ivs.foreach { case (a, b) =>
        if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
        else curE = math.max(curE, b)
      }
      if (curE > curS) covered += curE - curS
      s.id -> (s.dur - covered)
    }.toMap
  }

  /** All spans as JSON lines, times in ms from the first span. */
  def toJson: String = {
    val t0 = spans.headOption.map(_.start).getOrElse(0L)
    val self = selfTimes()
    def ms(ns: Long) = f"${ns / 1e6}%.3f"
    spans.map { s =>
      val attrs = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${ms(s.start - t0)},"dur_ms":${ms(s.dur)},"self_ms":${ms(self(s.id))},""" +
        s""""attrs":{$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}
