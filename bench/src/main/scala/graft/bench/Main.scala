package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side: runs one workload for a fixed time and
  * prints one JSON line as the last line of standard output,
  *
  * {{{
  * {"correct": .., "attempted": .., "failed": .., "metrics": {name: {"value": .., "unit": ..}}}
  * }}}
  *
  * with the end-to-end metrics, or with `--trace 1` the per-layer
  * metrics. Spans, host evidence and failed ops' errors go to the
  * `--sidecar` file. `bench/run.py` builds the classpath and calls this.
  *
  * Phases of a run: session start; seeding, repeated `SeedRounds`
  * times; an untimed warm-up that is also the correctness gate;
  * passes in a closed loop until `--seconds` have passed; for
  * `lakehouse`, the race of writers and the version checks after a
  * session restart. In a traced run, passes alternate between untraced
  * and traced, and the difference between their medians is the
  * tracing overhead. */
object Main {
  val SeedRounds = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, expected: String,
                        sidecar: String, tamper: Boolean, record: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("data"), need("work"), kv.getOrElse("expected", ""),
      need("sidecar"), kv.get("tamper").contains("1"), kv.get("record").contains("1"))
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      // keep Spark's status store the same size from pass to pass
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.catalog.lake", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.lake.warehouse", s"$work/lake")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val cores = Runtime.getRuntime.availableProcessors
    val host0 = Host.sample()
    (1 to 10).foreach(_ => Probe.cpuSeconds()) // compiles the probe
    val t0 = System.nanoTime()
    val spark = session(a.work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val run = a.workload match {
      case "board"     => new BoardRun(a, spark, cores, Board.queries)
      case "lakehouse" => new LakehouseRun(a, spark, cores)
      case w           => sys.error(s"unknown workload $w")
    }
    run.execute()
    val host1 = Host.sample()
    val setupRaw = sessionS + Stats.median(run.seedS.toSeq) + run.warmS
    val setupProbes = (run.setupProbes ++ run.gate.samples.map(_.probe)).toSeq
    val setupS = Probe.atReference(setupRaw, setupProbes)
    val untracedPasses = run.passes.filterNot(_._1).map(_._2).toSeq
    val untracedSamples = run.untracedSamples.map(_.seconds)
    val (tailS, tailPct, tailN) = Stats.tail(untracedSamples)
    def perOp(f: Sample => Double) = run.untracedSamples.groupBy(_.name)
      .map { case (_, v) => Stats.median(v.map(f)) }.toSeq
    val refCpu = run.referenceCpu.groupBy(_._1.name)
      .map { case (n, v) => n -> Stats.median(v.map(_._2)) }
    // one pass priced at each op's median
    def suite(m: Map[String, Double]) = m.map { case (n, s) => s * run.perPass(n) }.sum
    val rawCpu = run.untracedSamples.groupBy(_.name)
      .map { case (n, v) => n -> Stats.median(v.map(_.cpuSeconds)) }
    val failures = run.gate.failures ++ run.timed.failures
    val attempted = run.gate.attempted + run.timed.attempted
    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("suite_cpu_s", suite(refCpu), "s"),
      ("query_cpu_geomean_s", Stats.geomean(refCpu.values.toSeq), "s"))
    val raw = Seq("setup_s" -> setupRaw, "suite_cpu_s" -> suite(rawCpu),
      "query_cpu_geomean_s" -> Stats.geomean(rawCpu.values.toSeq))
    val wall = Seq("suite_s" -> Stats.median(untracedPasses),
      "query_geomean_s" -> Stats.geomean(perOp(_.seconds)))
    val timedProbes = run.untracedSamples.map(_.probe)
    val metrics = if (a.trace) run.layers(untracedPasses) else endToEnd

    val hostJson = Json.obj(Seq("cores" -> cores.toString,
      "load1_start" -> Json.num(host0.load1), "load1_end" -> Json.num(host1.load1),
      "steal_frac" -> Json.num(Host.stealFrac(host0, host1)),
      "procs_start" -> host0.procs.toString, "procs_end" -> host1.procs.toString))
    val detail = Json.obj(Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
      "host" -> hostJson,
      "setup" -> Json.obj(Seq("session_s" -> Json.num(sessionS),
        "seed_rounds_s" -> run.seedS.map(Json.num).mkString("[", ",", "]"),
        "warm_s" -> Json.num(run.warmS))),
      "passes" -> run.passes.map { case (tr, w, c) =>
        Json.obj(Seq("traced" -> tr.toString, "wall_s" -> Json.num(w), "cpu_s" -> Json.num(c)))
      }.mkString("[", ",", "]"),
      "op_latency" -> Json.obj(Seq("p50_s" -> Json.num(Stats.median(untracedSamples)),
        "tail_s" -> Json.num(tailS), "tail_percentile" -> Json.num(tailPct),
        "n" -> tailN.toString)),
      "ops" -> Json.obj(run.timed.samples.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, v) =>
        n -> Json.obj(Seq("n" -> v.size.toString,
          "median_s" -> Json.num(Stats.median(v.map(_.seconds).toSeq)),
          "median_cpu_s" -> Json.num(Stats.median(v.map(_.cpuSeconds).toSeq)),
          "median_ref_cpu_s" -> Json.num(refCpu.getOrElse(n, Double.NaN)))) }),
      "probe" -> Json.obj(Seq("reference_s" -> Json.num(Probe.ReferenceS),
        "setup_median_s" -> Json.num(Stats.median(setupProbes)),
        "timed_median_s" -> Json.num(Stats.median(timedProbes)),
        "setup_s" -> setupProbes.map(Json.num).mkString("[", ",", "]"),
        "timed_s" -> timedProbes.map(Json.num).mkString("[", ",", "]"))),
      // the untraced timed ops in the order they ran: [op, wall s, CPU s, probe s]
      "samples" -> run.untracedSamples.map(x => Seq(Json.str(x.name), Json.num(x.seconds),
        Json.num(x.cpuSeconds), Json.num(x.probe)).mkString("[", ",", "]")).mkString("[", ",", "]"),
      "ops_failed_frac" -> Json.num(failures.size.toDouble / math.max(1L, attempted)),
      "failures" -> failures.map { case (n, m) =>
        Json.obj(Seq("op" -> Json.str(n), "error" -> Json.str(m))) }.mkString("[", ",", "]"),
      "end_to_end" -> Json.obj(endToEnd.map { case (n, v, _) => n -> Json.num(v) }),
      "raw" -> Json.obj(raw.map { case (n, v) => n -> Json.num(v) }),
      "wall" -> Json.obj(wall.map { case (n, v) => n -> Json.num(v) }),
      "heap_peak_mb" -> Json.num(run.heapPeakMb),
      "extra" -> Json.obj(run.extra.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "spans" -> run.tracer.map(_.toJson).getOrElse("[]")))
    Files.createDirectories(Paths.get(a.sidecar).toAbsolutePath.getParent)
    Files.write(Paths.get(a.sidecar), detail.getBytes(StandardCharsets.UTF_8))
    failures.foreach { case (n, m) => System.err.println(s"[bench] FAILED $n: $m") }
    System.err.println(s"[bench] host $hostJson")
    run.spark.stop()

    val ms = metrics.map { case (n, v, u) =>
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }
    println(Json.obj(Seq("correct" -> (failures.isEmpty).toString,
      "attempted" -> attempted.toString, "failed" -> failures.size.toString,
      "metrics" -> Json.obj(ms))))
  }
}

/** What a workload run leaves for the report. */
abstract class WorkloadRun(val a: Main.Args, var spark: SparkSession, val cores: Int) {
  val tracer: Option[Tracer] = if (a.trace) Some(new Tracer(spark)) else None
  /** The warm-up and the checks outside the timed ops. */
  val gate = new Runner(spark, None)
  /** The timed passes. */
  val timed = new Runner(spark, tracer)
  val seedS: ArrayBuffer[Double] = ArrayBuffer.empty
  /** Probe readings taken between the steps of set-up. */
  val setupProbes: ArrayBuffer[Double] = ArrayBuffer.empty
  var warmS = 0.0
  /** (traced, wall seconds, process CPU seconds) of each complete timed pass. */
  val passes: ArrayBuffer[(Boolean, Double, Double)] = ArrayBuffer.empty
  /** Indexes of `timed.samples` taken in traced passes. */
  private val tracedSampleIdx = mutable.Set.empty[Int]
  var heapPeakMb = 0.0
  val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private val tracedPassIds = ArrayBuffer.empty[Int]

  def execute(): Unit

  /** How many times one pass runs the op named `op`. */
  def perPass(op: String): Double

  def untracedSamples: Seq[Sample] =
    timed.samples.indices.filterNot(tracedSampleIdx).map(timed.samples)

  /** Set-up step `body`, timed, followed by a few probe readings. */
  protected def seedRound(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    seedS += (System.nanoTime() - t0) / 1e9
    (1 to 5).foreach(_ => setupProbes += Probe.cpuSeconds())
  }

  /** Each untraced sample with its CPU time at reference speed, scaled
    * by the median probe over the sample and its three neighbours on
    * either side: the host's speed changes within a run. */
  def referenceCpu: Seq[(Sample, Double)] = {
    val xs = untracedSamples.toIndexedSeq
    xs.indices.map { i =>
      xs(i) -> Probe.atReference(xs(i).cpuSeconds, xs.slice(i - 3, i + 4).map(_.probe))
    }
  }

  /** Runs passes until `a.seconds` have passed and at least one pass of
    * each kind (untraced, and traced when tracing) is complete.
    * `passOps(i, parent, stop)` runs pass i under span `parent` and
    * returns false if `stop` cut it short. */
  protected def loop(passOps: (Int, Int, () => Boolean) => Boolean): Unit = {
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    def enough = passes.exists(!_._1) && (tracer.isEmpty || passes.exists(_._1))
    val stop = () => elapsed >= a.seconds && enough
    var i = 0
    while (!stop()) {
      val traced = tracer.isDefined && i % 2 == 1
      tracer.foreach(tr => if (traced) tr.attach() else if (i > 0) tr.detach())
      timed.tracing = traced
      val parent = if (traced) tracer.get.open(s"pass$i", -1).id else -1
      val from = timed.samples.size
      val c0 = ProcessCpu.seconds()
      val p0 = System.nanoTime()
      val complete = passOps(i, parent, stop)
      val wall = (System.nanoTime() - p0) / 1e9
      val cpu = ProcessCpu.seconds() - c0
      if (traced) {
        tracer.get.close(tracer.get.spans(parent))
        (from until timed.samples.size).foreach(tracedSampleIdx += _)
      }
      if (complete) {
        passes += ((traced, wall, cpu))
        if (traced) tracedPassIds += i
        heapPeakMb = math.max(heapPeakMb, Heap.afterGcMb())
      }
      i += 1
    }
    tracer.foreach(tr => if (i % 2 == 0) tr.detach())
    timed.tracing = false
  }

  /** Per-layer metrics of the traced passes. */
  def layers(untracedPassWalls: Seq[Double]): Seq[(String, Double, String)] = {
    val tr = timed.traces.filter(t => tracedPassIds.contains(t.pass)).toSeq
    val n = math.max(1, tracedPassIds.size).toDouble
    def sum(f: OpTrace => Double) = tr.map(f).sum / n
    val wall = tr.map(_.wallS).sum
    val cpu = tr.map(_.m.cpuNs / 1e9).sum
    val slowest = tr.groupBy(_.pass).values.map(_.maxBy(_.wallS).m.skew).toSeq
    val tracedWalls = passes.filter(_._1).map(_._2).toSeq
    val spans = tracer.map(_.spans.toSeq).getOrElse(Seq.empty)
    val opSpans = spans.filter(s => s.parent >= 0 && spans(s.parent).parent < 0)
    val childCover = opSpans.map { s =>
      spans.filter(c => c.parent == s.id && (c.name == "build" || c.name == "exec")).map(_.dur).sum
    }.sum.toDouble / math.max(1L, opSpans.map(_.dur).sum)
    Seq(
      ("ops.build_s", sum(_.buildS), "s"),
      ("ops.build_jobs", sum(_.buildJobs.toDouble), "count"),
      ("catalyst.analysis_s", sum(_.phaseS.getOrElse("analysis", 0.0)), "s"),
      ("catalyst.optimization_s", sum(_.phaseS.getOrElse("optimization", 0.0)), "s"),
      ("catalyst.planning_s", sum(_.phaseS.getOrElse("planning", 0.0)), "s"),
      ("exec.wall_s", sum(_.execS), "s"),
      ("exec.jobs", sum(_.m.jobs.toDouble), "count"),
      ("exec.stages", sum(_.m.stages.toDouble), "count"),
      ("exec.tasks", sum(_.m.tasks.toDouble), "count"),
      ("exec.input_bytes", sum(_.m.inputBytes.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", sum(_.m.shuffleReadBytes.toDouble), "bytes"),
      ("exec.shuffle_write_bytes", sum(_.m.shuffleWriteBytes.toDouble), "bytes"),
      ("exec.spill_bytes", sum(_.m.spillBytes.toDouble), "bytes"),
      ("exec.task_cpu_s", cpu / n, "s"),
      ("exec.gc_s", sum(_.m.gcMs / 1e3), "s"),
      ("exec.cpu_util", if (wall > 0) cpu / (wall * cores) else 0.0, "ratio"),
      ("exec.task_skew", Stats.median(slowest), "ratio"),
      ("trace.overhead_s", Stats.median(tracedWalls) - Stats.median(untracedPassWalls), "s"),
      ("trace.span_coverage", childCover, "ratio"),
      ("trace.spans", spans.size.toDouble, "count"),
      ("jvm.heap_peak_mb", heapPeakMb, "MB")) ++ tableLayers(tr)
  }

  /** The table layer's metrics; zero for workloads without table ops. */
  def tableLayers(tr: Seq[OpTrace]): Seq[(String, Double, String)]
}
