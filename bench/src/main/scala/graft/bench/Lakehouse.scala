package graft.bench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64

import graft.sources.ManifestTable

/** The `lakehouse` workload: a seeded op stream from one client against
  * two `GraftCatalog` tables, then a race of concurrent writers.
  *
  *  - `orders`, copy-on-write, seeded from the `orders` input;
  *  - `lines`, merge-on-read (deletion vectors), seeded from `lineitem`
  *    with the key `l_orderkey * 8 + l_linenumber`.
  *
  * One pass (a cycle) issues six writes — an INSERT batch, an UPDATE,
  * a copy-on-write DELETE, a merge-on-read DELETE, a MERGE upsert and
  * `CALL system.compact` (alternating tables) — and runs one read after
  * every write: point lookups, range scans on the stats column `k`, and
  * `VERSION AS OF` reads of a version within the snapshot cache's reach
  * of the head and of one older than that.
  *
  * Every answer is checked against an in-memory model of the same ops:
  * the model keeps each table's live (k, amt) pairs, and a table's
  * digest is its row count with the XOR of Spark's `xxhash64(k, amt)`
  * over its rows, which the model computes with the same hash. */
final class Lakehouse(spark0: SparkSession, dataDir: String, warehouse: String,
                      seed: Long) {
  import Lakehouse._

  var spark: SparkSession = spark0
  private var ns = ""
  private val rng = new Random(seed)
  private var writes = 0
  private var nextKey = 1000000000L

  /** Live rows per table, k -> amt. */
  private val model = Map("orders" -> mutable.LongMap.empty[Double],
    "lines" -> mutable.LongMap.empty[Double])
  /** version -> digest, recorded when the version was committed */
  private val history = Map("orders" -> mutable.LinkedHashMap.empty[Long, (Long, Long)],
    "lines" -> mutable.LinkedHashMap.empty[Long, (Long, Long)])

  def table(t: String): String = s"lake.$ns.$t"
  def dir(t: String): String = s"$warehouse/$ns/$t"

  /** One seeding round: fresh namespace, both tables created from the
    * inputs, and the race table. The last round's tables are used. */
  def seedRound(round: Int): Unit = {
    ns = s"s$round"
    spark.sql(s"CREATE NAMESPACE lake.$ns")
    spark.read.parquet(s"$dataDir/orders.parquet")
      .selectExpr("o_orderkey AS k", "o_custkey AS cust", "o_totalprice AS amt",
        "o_orderdate AS day")
      .writeTo(table("orders"))
      .tableProperty("statsCols", "k")
      .tableProperty("retainGenerations", Retain)
      .create()
    spark.read.parquet(s"$dataDir/lineitem.parquet")
      .selectExpr("l_orderkey * 8 + l_linenumber AS k", "l_partkey AS part",
        "l_extendedprice AS amt", "l_shipdate AS day")
      .writeTo(table("lines"))
      .tableProperty("statsCols", "k")
      .tableProperty("retainGenerations", Retain)
      .tableProperty("dml.mode", "merge-on-read")
      .create()
    spark.sql(s"CREATE TABLE ${table("race")} (w INT, seq INT, k BIGINT) " +
      s"TBLPROPERTIES ('retainGenerations'='$Retain')")
  }

  /** Loads the model from the seeded tables' inputs (outside any timing). */
  def loadModel(): Unit =
    Seq("orders" -> "SELECT o_orderkey, o_totalprice FROM parquet.`%s/orders.parquet`",
      "lines" -> "SELECT l_orderkey * 8 + l_linenumber, l_extendedprice FROM parquet.`%s/lineitem.parquet`")
      .foreach { case (t, q) =>
        val m = model(t)
        m.clear()
        spark.sql(q.format(dataDir)).collect().foreach(r => m(r.getLong(0)) = r.getDouble(1))
        history(t).clear()
        history(t)(head(t)) = digest(m)
      }

  private def head(t: String): Long = ManifestTable.headVersion(spark, dir(t)).get

  private def digestSql(t: String, version: Option[Long], where: String = ""): String =
    s"SELECT count(*) AS n, bit_xor(xxhash64(k, amt)) AS x FROM ${table(t)}" +
      version.map(v => s" VERSION AS OF $v").getOrElse("") + where

  private def asDigest(rows: Array[Row]): (Long, Long) =
    (rows(0).getLong(0), if (rows(0).isNullAt(1)) 0L else rows(0).getLong(1))

  private def expect(want: (Long, Long)): Array[Row] => Option[String] = rows => {
    val got = asDigest(rows)
    if (got == want) None else Some(s"digest $got, expected $want")
  }

  // ------------------------------------------------------------ writes

  private def committed(t: String): Unit = history(t)(head(t)) = digest(model(t))

  private def keysOf(t: String): Array[Long] = model(t).keysIterator.toArray.sorted

  /** A key range [a, b] over about `n` live keys of `t`. */
  private def range(t: String, n: Int): (Long, Long) = {
    val ks = keysOf(t)
    val i = rng.nextInt(math.max(1, ks.length - n))
    (ks(i), ks(math.min(ks.length - 1, i + n - 1)))
  }

  private def amount(): Double = rng.nextInt(400000) / 4.0

  /** The next write of the stream, and the model change it makes. */
  def nextWrite(): (Op, () => Unit) = {
    writes += 1
    if (writes % CompactEvery == 0) {
      val t = if ((writes / CompactEvery) % 2 == 0) "orders" else "lines"
      (Op(s"compact_$t", "compact",
        () => spark.sql(s"CALL lake.system.compact(table => '$ns.$t')"), Op.collect),
        () => committed(t))
    } else (writes % CompactEvery) % 5 match {
      case 1 =>
        val rows = (0 until InsertBatch).map(_ => { nextKey += 1; nextKey -> amount() })
        val values = rows.map { case (k, a) => s"($k, ${k % 1000}, $a, TIMESTAMP'2001-09-01 00:00:00')" }
        (Op("insert_orders", "insert",
          () => spark.sql(s"INSERT INTO ${table("orders")} VALUES ${values.mkString(",")}"),
          Op.none, changed = rows.size),
          () => { rows.foreach { case (k, a) => model("orders")(k) = a }; committed("orders") })
      case 2 =>
        val (a, b) = range("orders", RangeRows)
        val hit = model("orders").keysIterator.count(k => k >= a && k <= b)
        (Op("update_orders", "update",
          () => spark.sql(s"UPDATE ${table("orders")} SET amt = amt + 1.25 WHERE k BETWEEN $a AND $b"),
          Op.none, changed = hit),
          () => {
            val m = model("orders")
            m.keysIterator.filter(k => k >= a && k <= b).toList.foreach(k => m(k) = m(k) + 1.25)
            committed("orders")
          })
      case 3 =>
        val (a, b) = range("orders", RangeRows)
        val hit = model("orders").keysIterator.count(k => k >= a && k <= b)
        (Op("delete_orders", "delete_cow",
          () => spark.sql(s"DELETE FROM ${table("orders")} WHERE k BETWEEN $a AND $b"),
          Op.none, changed = hit),
          () => {
            val m = model("orders")
            m.keysIterator.filter(k => k >= a && k <= b).toList.foreach(m.remove)
            committed("orders")
          })
      case 4 =>
        val (a, b) = range("lines", RangeRows)
        val hit = model("lines").keysIterator.count(k => k >= a && k <= b)
        (Op("delete_lines", "delete_mor",
          () => spark.sql(s"DELETE FROM ${table("lines")} WHERE k BETWEEN $a AND $b"),
          Op.none, changed = hit),
          () => {
            val m = model("lines")
            m.keysIterator.filter(k => k >= a && k <= b).toList.foreach(m.remove)
            committed("lines")
          })
      case _ =>
        val ks = keysOf("lines")
        val upd = Seq.fill(MergeRows / 2)(ks(rng.nextInt(ks.length))).distinct
        val ins = Seq.fill(MergeRows / 2) { nextKey += 1; nextKey }
        val src = (upd ++ ins).map(k => k -> amount())
        val values = src.map { case (k, a) => s"($k, $a)" }.mkString(",")
        (Op("merge_lines", "merge",
          () => spark.sql(
            s"""MERGE INTO ${table("lines")} t
               |USING (SELECT CAST(k AS BIGINT) AS k, CAST(amt AS DOUBLE) AS amt
               |       FROM VALUES $values AS v(k, amt)) s
               |ON t.k = s.k
               |WHEN MATCHED THEN UPDATE SET amt = s.amt
               |WHEN NOT MATCHED THEN INSERT (k, part, amt, day)
               |  VALUES (s.k, 0, s.amt, TIMESTAMP'2001-09-01 00:00:00')""".stripMargin),
          Op.none, changed = src.size),
          () => { src.foreach { case (k, a) => model("lines")(k) = a }; committed("lines") })
    }
  }

  // ------------------------------------------------------------- reads

  /** The read after the `slot`th write of a cycle, checked against the
    * model. Slots fix the kind and table, so every cycle reads alike;
    * the seed picks the keys, ranges and versions. */
  def nextRead(slot: Int): Op = {
    val t = if (slot % 2 == 1) "orders" else "lines"
    slot match {
      case 1 | 4 =>
        val ks = keysOf(t)
        val k = ks(rng.nextInt(ks.length))
        val want = model(t).get(k).toSeq
        Op(s"point_$t", "point",
          () => spark.sql(s"SELECT k, amt FROM ${table(t)} WHERE k = $k"), Op.collect,
          rows => {
            val got = rows.map(r => r.getDouble(1)).toSeq
            if (got == want) None else Some(s"k=$k read $got, expected $want")
          })
      case 2 | 5 =>
        val (a, b) = range(t, RangeRows * 4)
        val m = model(t)
        val want = digest(m.filter { case (k, _) => k >= a && k <= b })
        Op(s"range_$t", "range",
          () => spark.sql(digestSql(t, None, s" WHERE k BETWEEN $a AND $b")), Op.collect,
          expect(want), returned = rows => rows(0).getLong(0))
      case _ =>
        // slot 3: a version within the snapshot cache's reach of the
        // head; slot 6: one older than that, when the table has one
        val vs = history(t).keys.toIndexedSeq
        val hd = vs.last
        val reach = graft.ScaleKnobs.SnapshotCacheEntries
        val old = vs.filter(_ <= hd - reach)
        val pool = if (slot == 6 && old.nonEmpty) old else vs.filter(_ > hd - reach / 2)
        val v = pool(rng.nextInt(pool.size))
        val kind = if (hd - v >= reach) "read_old" else "read_head"
        Op(s"version_$t", kind, () => spark.sql(digestSql(t, Some(v))), Op.collect,
          expect(history(t)(v)), returned = rows => rows(0).getLong(0))
    }
  }

  /** `n` single-row INSERTs into `lines`, so the table has versions
    * beyond the snapshot cache's reach before the timed passes. */
  def growHistory(n: Int): Unit = (1 to n).foreach { _ =>
    nextKey += 1
    val a = amount()
    spark.sql(s"INSERT INTO ${table("lines")} VALUES ($nextKey, 0, $a, TIMESTAMP'2001-09-01 00:00:00')")
    model("lines")(nextKey) = a
    committed("lines")
  }

  // --------------------------------------------------------- the gate

  /** Checks every table against the model and every recorded version
    * (at most `maxVersions` per table, evenly spaced) against the
    * digest recorded when it was committed. */
  def checkVersions(runner: Runner, maxVersions: Int): Unit =
    Seq("orders", "lines").foreach { t =>
      runner.verdict(s"final_$t", problem(digestSql(t, None), digest(model(t))))
      val vs = history(t).toIndexedSeq
      val picked =
        if (vs.size <= maxVersions) vs
        else (0 until maxVersions).map(i => vs(i * (vs.size - 1) / (maxVersions - 1)))
      picked.foreach { case (v, want) =>
        runner.verdict(s"version_${t}_$v", problem(digestSql(t, Some(v)), want))
      }
    }

  private def problem(sql: String, want: (Long, Long)): Option[String] =
    try expect(want)(spark.sql(sql).collect())
    catch { case e: Exception => Some(e.getClass.getSimpleName + ": " + e.getMessage) }

  /** Stops the session and starts a new one with every cached snapshot
    * dropped, so later reads see only what is on disk. */
  def restart(build: () => SparkSession): Unit = {
    spark.stop()
    Seq("orders", "lines", "race").foreach(t => ManifestTable.invalidateSnapshots(dir(t)))
    spark = build()
  }

  /** Alters one recorded digest, so the gate must reject that version. */
  def tamper(): Unit = {
    val h = history("orders")
    val (v, (n, x)) = h.head
    h(v) = (n, x ^ 1L)
  }

  // ------------------------------------------------------------- race

  /** `writers` threads each commit `perWriter` INSERTs to the race
    * table at once. Returns (acknowledged, refused, wall seconds) and
    * checks that each acknowledged batch is present exactly once and
    * each refused batch is absent. */
  def race(runner: Runner, round: Int, writers: Int, perWriter: Int): (Int, Int, Double) = {
    val acked = new ConcurrentLinkedQueue[(Int, Int)]
    val refused = new ConcurrentLinkedQueue[(Int, Int)]
    val t0 = System.nanoTime()
    val threads = (0 until writers).map { w =>
      val th = new Thread(() => (0 until perWriter).foreach { i =>
        val seq = round * 1000 + i
        val values = (0 until RaceBatch).map(j => s"($w, $seq, ${j.toLong})").mkString(",")
        try {
          spark.sql(s"INSERT INTO ${table("race")} VALUES $values")
          acked.add(w -> seq)
        } catch { case _: Exception => refused.add(w -> seq) }
      }, s"bench-race-$w")
      th.start()
      th
    }
    threads.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    val seen = spark.sql(s"SELECT w, seq, count(*) FROM ${table("race")} " +
      s"WHERE seq >= ${round * 1000} AND seq < ${(round + 1) * 1000} GROUP BY w, seq")
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val a = acked.asScala.toSet
    val rf = refused.asScala.toSet
    runner.verdict(s"race_$round",
      if (a.forall(k => seen.get(k).contains(RaceBatch.toLong)) && rf.forall(k => !seen.contains(k))
        && seen.keySet == a) None
      else Some(s"race: ${a.size} acknowledged, ${rf.size} refused, table holds ${seen.size} batches"))
    (a.size, rf.size, wall)
  }

  // ------------------------------------------------------ table facts

  /** Bytes under both tables' directories over the bytes of one plain
    * parquet write of their live rows. */
  def spaceAmp(plainDir: String): Double = {
    val stored = Seq("orders", "lines").map(t => bytesUnder(new java.io.File(dir(t)))).sum
    Seq("orders", "lines").foreach(t =>
      spark.table(table(t)).write.mode("overwrite").parquet(s"$plainDir/$t"))
    stored.toDouble / bytesUnder(new java.io.File(plainDir))
  }

  /** (live files, rows masked by deletion vectors, versions) of both tables. */
  def facts(): (Double, Double, Double) = {
    val fs = Seq("orders", "lines").map { t =>
      val f = spark.sql(s"SELECT count(*), coalesce(sum(masked_positions), 0) " +
        s"FROM lake.$ns.`$t$$files`").head()
      val h = spark.sql(s"SELECT count(*) FROM lake.$ns.`$t$$history`").head()
      (f.getLong(0).toDouble, f.get(1).toString.toDouble, h.getLong(0).toDouble)
    }
    (fs.map(_._1).sum, fs.map(_._2).sum, fs.map(_._3).sum)
  }
}

object Lakehouse {
  val Retain = "1000000"
  val CompactEvery = 6
  val InsertBatch = 40
  val RangeRows = 25
  val MergeRows = 20
  val RaceBatch = 10

  private def bytesUnder(f: java.io.File): Long =
    if (f.isFile) f.length
    else Option(f.listFiles()).map(_.map(bytesUnder).sum).getOrElse(0L)

  /** (row count, XOR of xxhash64(k, amt)) — Spark's `xxhash64` with its
    * seed 42, chained over the two columns. */
  def digest(rows: scala.collection.Map[Long, Double]): (Long, Long) = {
    var x = 0L
    rows.foreach { case (k, a) =>
      val amt = if (a == -0.0d) 0.0d else a
      x ^= XXH64.hashLong(java.lang.Double.doubleToLongBits(amt), XXH64.hashLong(k, 42L))
    }
    (rows.size.toLong, x)
  }
}
