package graft.bench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.sources.ManifestTable

/** `board`: board queries over the parquet inputs. */
final class BoardRun(a: Main.Args, spark0: SparkSession, cores: Int, names: Seq[String])
    extends WorkloadRun(a, spark0, cores) {
  private val queries = Board.ops(names).toMap
  def perPass(op: String): Double = 1.0

  def execute(): Unit = {
    // seeding: open every input table and read its schema
    (1 to Main.SeedRounds).foreach { _ =>
      seedRound(graft.Tables.all.foreach(t => graft.Tables.load(spark, a.data, t).schema))
    }
    warmAndGate()
    loop { (pass, parent, stop) =>
      Board.order(names, a.seed, pass).forall { name =>
        !stop() && {
          timed.run(Op(name, "query", () => queries(name)(spark, a.data), Op.noop), pass, parent)
          true
        }
      }
    }
  }

  /** The warm pass: each query once, collected; its time is set-up,
    * and its row count and digest are checked against the expected
    * values (or, with `--record 1`, written as the expected values). */
  private def warmAndGate(): Unit = {
    val expected = if (a.record) Map.empty[String, (String, String)] else Board.readExpected(a.expected)
    val tampered = if (a.tamper) names.find(n => expected.get(n).exists(_._2 != "-")) else None
    val recorded = ArrayBuffer.empty[String]
    Board.order(names, a.seed, -1).foreach { name =>
      val t0 = System.nanoTime()
      val res =
        try {
          val df = queries(name)(spark, a.data)
          Right((df.schema.fieldNames.toSeq, df.collect()))
        } catch { case e: Exception => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      warmS += (System.nanoTime() - t0) / 1e9
      setupProbes += Probe.cpuSeconds()
      res match {
        case Right((cols, rows)) =>
          val d = Digest.of(cols, rows)
          if (a.record) recorded += s"$name\t${rows.length}\t$d"
          else {
            val (er, ed0) = expected.getOrElse(name, ("missing", "missing"))
            val ed = if (tampered.contains(name)) ed0.reverse else ed0
            gate.verdict(name,
              if ((er == "-" || er == rows.length.toString) && (ed == "-" || ed == d)) None
              else Some(s"rows ${rows.length} digest $d, expected rows $er digest $ed"))
          }
        case Left(err) => gate.verdict(name, Some(err))
      }
    }
    if (a.record)
      Files.write(Paths.get(a.expected),
        recorded.sorted.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }

  def tableLayers(tr: Seq[OpTrace]): Seq[(String, Double, String)] =
    LakehouseRun.layerNames.map { case (n, u) => (n, 0.0, u) }
}

/** `lakehouse`: the seeded write/read stream, the race, and the version
  * checks after a session restart. */
final class LakehouseRun(a: Main.Args, spark0: SparkSession, cores: Int)
    extends WorkloadRun(a, spark0, cores) {
  private val lh = new Lakehouse(spark0, a.data, s"${a.work}/lake", a.seed)
  private var snap0 = (0L, 0L)
  private var snap1 = (0L, 0L)
  private var listings = 0L
  private var raceRefusedFrac = 0.0
  private var facts = (0.0, 0.0, 0.0)
  // a cycle compacts one of the two tables, alternating
  def perPass(op: String): Double = if (op.startsWith("compact_")) 0.5 else 1.0

  /** One cycle: each write followed by a read. Returns false if cut short. */
  private def cycle(runner: Runner, pass: Int, parent: Int, stop: () => Boolean): Boolean =
    (1 to Lakehouse.CompactEvery).forall { slot =>
      !stop() && {
        val (w, commit) = lh.nextWrite()
        if (runner.run(w, pass, parent).isDefined) commit()
        !stop() && { runner.run(lh.nextRead(slot), pass, parent); true }
      }
    }

  def execute(): Unit = {
    (1 to Main.SeedRounds).foreach(r => seedRound(lh.seedRound(r)))
    lh.loadModel()
    val w0 = System.nanoTime()
    lh.growHistory(graft.ScaleKnobs.SnapshotCacheEntries)
    cycle(gate, -1, -1, () => false)
    warmS = (System.nanoTime() - w0) / 1e9
    snap0 = ManifestTable.snapshotCacheStats
    val l0 = ManifestTable.versionListingCount
    loop((pass, parent, stop) => cycle(timed, pass, parent, stop))
    snap1 = ManifestTable.snapshotCacheStats
    listings = ManifestTable.versionListingCount - l0

    val (acked, refused, wall) = lh.race(gate, 0, cores, RacePerWriter)
    raceRefusedFrac = refused.toDouble / math.max(1, acked + refused)
    extra("lake.race_commits_per_s") = acked / wall
    if (a.trace) {
      extra("lake.space_amp") = lh.spaceAmp(s"${a.work}/plain")
      facts = lh.facts()
    }
    val all = timed.samples.toSeq
    def lat(kinds: Set[String]) = all.filter(s => kinds(s.kind)).map(_.seconds)
    val (dt, _, _) = Stats.tail(lat(LakehouseRun.Dml))
    val (rt, _, _) = Stats.tail(lat(LakehouseRun.Reads))
    extra("lake.dml_p50_s") = Stats.median(lat(LakehouseRun.Dml))
    extra("lake.dml_tail_s") = dt
    extra("lake.read_p50_s") = Stats.median(lat(LakehouseRun.Reads))
    extra("lake.read_tail_s") = rt

    lh.restart(() => Main.session(a.work, cores))
    spark = lh.spark
    if (a.tamper) lh.tamper()
    lh.checkVersions(gate, MaxVersionChecks)
  }

  def tableLayers(tr: Seq[OpTrace]): Seq[(String, Double, String)] = {
    val all = timed.samples.toSeq
    def med(kind: String) = {
      val xs = all.filter(_.kind == kind).map(_.seconds)
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    def resolve(kind: String) = {
      val xs = tr.filter(_.kind == kind).map(_.phaseS.getOrElse("analysis", 0.0))
      if (xs.isEmpty) 0.0 else Stats.median(xs)
    }
    val writes = tr.filter(t => LakehouseRun.Dml(t.kind))
    val scans = tr.filter(t => t.kind == "point" || t.kind == "range")
    val (hits, misses) = (snap1._1 - snap0._1, snap1._2 - snap0._2)
    val values = Map(
      "table.insert_s" -> med("insert"), "table.update_s" -> med("update"),
      "table.delete_cow_s" -> med("delete_cow"), "table.delete_mor_s" -> med("delete_mor"),
      "table.merge_s" -> med("merge"), "table.compact_s" -> med("compact"),
      "table.write_amp" -> writes.map(_.m.outputRecords).sum.toDouble /
        math.max(1L, writes.map(_.changed).sum),
      "table.resolve_head_s" -> resolve("read_head"),
      "table.resolve_old_s" -> resolve("read_old"),
      "table.snapcache_hit_ratio" -> hits.toDouble / math.max(1L, hits + misses),
      "table.version_listings" -> listings.toDouble / math.max(1L, timed.attempted),
      "table.rows_scanned_per_row_returned" -> scans.map(_.m.inputRecords).sum.toDouble /
        math.max(1L, scans.map(_.rowsReturned).sum),
      "table.files_live" -> facts._1, "table.dv_rows" -> facts._2,
      "table.versions" -> facts._3,
      "table.commit_refused_frac" -> raceRefusedFrac) ++ extra
    LakehouseRun.layerNames.map { case (n, u) => (n, values.getOrElse(n, 0.0), u) }
  }

  private val RacePerWriter = 3
  private val MaxVersionChecks = 4
}

object LakehouseRun {
  val Dml = Set("insert", "update", "delete_cow", "delete_mor", "merge")
  val Reads = Set("point", "range", "read_head", "read_old")

  /** The table layer's per-layer metrics and units, in report order. */
  val layerNames: Seq[(String, String)] = Seq(
    "table.insert_s" -> "s", "table.update_s" -> "s", "table.delete_cow_s" -> "s",
    "table.delete_mor_s" -> "s", "table.merge_s" -> "s", "table.compact_s" -> "s",
    "table.write_amp" -> "ratio", "table.resolve_head_s" -> "s", "table.resolve_old_s" -> "s",
    "table.snapcache_hit_ratio" -> "ratio", "table.version_listings" -> "count/op",
    "table.rows_scanned_per_row_returned" -> "ratio", "table.files_live" -> "count",
    "table.dv_rows" -> "count", "table.versions" -> "count",
    "table.commit_refused_frac" -> "ratio",
    "lake.dml_p50_s" -> "s", "lake.dml_tail_s" -> "s", "lake.read_p50_s" -> "s",
    "lake.read_tail_s" -> "s", "lake.race_commits_per_s" -> "1/s", "lake.space_amp" -> "ratio")
}
