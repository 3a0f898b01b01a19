package graft.bench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One operation of a workload, as a client issues it.
  *
  * `build` is the call that constructs the DataFrame; a SQL command
  * (DML, `CALL`) executes inside it, as Spark runs commands eagerly.
  * `exec` materializes the result and returns the rows the client
  * receives (none for the `noop` sink). `check` compares those rows
  * with the expected answer and returns a message on a mismatch.
  * `changed` is the number of rows the op inserts, updates or deletes;
  * `returned` the number of rows its answer stands for. */
final case class Op(name: String, kind: String, build: () => DataFrame,
                    exec: DataFrame => Array[Row],
                    check: Array[Row] => Option[String] = _ => None,
                    changed: Long = 0L,
                    returned: Array[Row] => Long = _.length.toLong)

object Op {
  /** Full materialization into the `noop` sink: every output column of
    * every row is computed, none is returned. */
  val noop: DataFrame => Array[Row] = { df =>
    df.write.format("noop").mode("overwrite").save()
    Array.empty
  }
  val collect: DataFrame => Array[Row] = _.collect()
  val none: DataFrame => Array[Row] = _ => Array.empty
}

/** What the traced run records for one op. */
final case class OpTrace(pass: Int, name: String, kind: String, wallS: Double,
                         buildS: Double, execS: Double, buildJobs: Long,
                         phaseS: Map[String, Double], m: GroupMetrics,
                         rowsReturned: Long, changed: Long)

/** One op's wall time, the process CPU time spent during it, and the
  * CPU time of the `Probe` run right after it. */
final case class Sample(name: String, kind: String, seconds: Double, cpuSeconds: Double,
                        probe: Double)

/** CPU time of the whole JVM process (every thread: tasks, driver, JIT
  * and GC). Unlike wall time, it leaves out the time the hypervisor
  * gives to other machines. */
object ProcessCpu {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def seconds(): Double = os.getProcessCpuTime / 1e9
}

/** Runs ops in a closed loop from one client, times them, checks them,
  * and (when traced) records spans and Spark metrics for each. */
final class Runner(spark: SparkSession, tracer: Option[Tracer]) {
  /** Whether ops are traced now; the tracer's listeners must be attached. */
  var tracing = false
  val samples: ArrayBuffer[Sample] = ArrayBuffer.empty
  val failures: ArrayBuffer[(String, String)] = ArrayBuffer.empty
  val traces: ArrayBuffer[OpTrace] = ArrayBuffer.empty
  var attempted = 0L
  private var nextId = 0

  /** A correctness check outside the timed ops (the gate). */
  def verdict(name: String, problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach(p => failures += (name -> p))
  }

  private def message(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
      .replaceAll("\\s+", " ").take(300)

  /** Runs one op; returns its rows, or None if it failed. Only a
    * successful op adds a latency sample. `parent` is the span the op
    * belongs to when traced. */
  def run(op: Op, pass: Int, parent: Int = -1): Option[Array[Row]] = {
    attempted += 1
    nextId += 1
    val id = nextId
    val sc = spark.sparkContext
    val tr = if (tracing) tracer else None
    val c0 = ProcessCpu.seconds()
    val t0 = System.nanoTime()
    var t1 = t0
    var built: DataFrame = null
    val result =
      try {
        if (tr.isDefined) sc.setJobGroup(s"b$id", op.name)
        built = op.build()
        t1 = System.nanoTime()
        if (tr.isDefined) sc.setJobGroup(s"e$id", op.name)
        val rows = op.exec(built)
        Right(rows)
      } catch { case e: Throwable => Left(message(e)) }
      finally if (tr.isDefined) sc.clearJobGroup()
    val t2 = System.nanoTime()
    val c2 = ProcessCpu.seconds()
    if (t1 == t0) t1 = t2
    // a reading of the host's speed after each op, outside its timing
    val probe = Probe.cpuSeconds()
    result match {
      case Right(rows) =>
        samples += Sample(op.name, op.kind, (t2 - t0) / 1e9, c2 - c0, probe)
        tr.foreach(record(_, op, pass, parent, id, built, op.returned(rows), t0, t1, t2))
        op.check(rows) match {
          case Some(p) => failures += (op.name -> p); None
          case None    => Some(rows)
        }
      case Left(err) =>
        failures += (op.name -> err)
        tr.foreach(_.drain())
        None
    }
  }

  private def record(tr: Tracer, op: Op, pass: Int, parent: Int, id: Int,
                     built: DataFrame, rows: Long, t0: Long, t1: Long, t2: Long): Unit = {
    tr.drain()
    val b = tr.takeGroup(s"b$id")
    val e = tr.takeGroup(s"e$id")
    val phases = tr.takePhases() ++ tr.trackerPhases(built.queryExecution)
      .filter(_._1 == "analysis")
    val opSpan = tr.open(op.name, parent, t0)
    tr.close(opSpan, t2)
    val buildSpan = tr.close(tr.open("build", opSpan.id, t0), t1)
    val execSpan = tr.close(tr.open("exec", opSpan.id, t1), t2)
    phases.filter(_._1 != "parsing").foreach { case (phase, s, en) =>
      val under = if (s < t1) buildSpan else execSpan
      val from = math.min(math.max(s, under.start), under.end)
      tr.close(tr.open(s"plan.$phase", under.id, from), math.min(math.max(en, from), under.end))
    }
    val all = merge(b, e)
    buildSpan.attrs("jobs") = b.jobs.toDouble
    execSpan.attrs ++= Seq("jobs" -> e.jobs.toDouble, "stages" -> all.stages.toDouble,
      "tasks" -> all.tasks.toDouble, "task_cpu_ms" -> all.cpuNs / 1e6,
      "input_bytes" -> all.inputBytes.toDouble,
      "shuffle_read_bytes" -> all.shuffleReadBytes.toDouble,
      "shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "spill_bytes" -> all.spillBytes.toDouble, "task_skew" -> all.skew)
    val phaseS = phases.groupBy(_._1).map { case (k, v) =>
      k -> v.map(p => math.max(0L, p._3 - p._2)).sum / 1e9 }
    traces += OpTrace(pass, op.name, op.kind, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
      (t2 - t1) / 1e9, b.jobs, phaseS, all, rows, op.changed)
  }

  private def merge(a: GroupMetrics, b: GroupMetrics): GroupMetrics = {
    val m = new GroupMetrics
    m.jobs = a.jobs + b.jobs; m.stages = a.stages + b.stages; m.tasks = a.tasks + b.tasks
    m.cpuNs = a.cpuNs + b.cpuNs; m.runMs = a.runMs + b.runMs; m.gcMs = a.gcMs + b.gcMs
    m.inputBytes = a.inputBytes + b.inputBytes; m.inputRecords = a.inputRecords + b.inputRecords
    m.shuffleReadBytes = a.shuffleReadBytes + b.shuffleReadBytes
    m.shuffleWriteBytes = a.shuffleWriteBytes + b.shuffleWriteBytes
    m.spillBytes = a.spillBytes + b.spillBytes
    m.outputRecords = a.outputRecords + b.outputRecords
    m.outputBytes = a.outputBytes + b.outputBytes
    m.stageTasks ++= a.stageTasks
    m.stageTasks ++= b.stageTasks
    m
  }
}

/** Heap in use right after a full collection, in MB. Sampled between
  * passes, outside every timed op. */
object Heap {
  def afterGcMb(): Double = {
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    mx.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
