package graft.bench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The `board` workload: board queries of the engine
  * (`SparkEntry.queries`), each timed as construction plus full
  * materialization into the `noop` sink, in a seeded order, from one
  * client.
  *
  * Six are short shuffle, join, window and aggregate plans from
  * `Relational`, `Aggregates` (one through the `WeightedMean` UDAF),
  * `Windows`, `Tpch` and `Streaming`, where construction, Catalyst and
  * scheduling overhead dominates; `t33_bloom_decontaminate` is the
  * board's heaviest per-row kernel (`BloomFilterAgg`). A gain in the
  * first kind shows in `query_cpu_geomean_s`, which t33 cannot hide; a
  * gain in the kernel shows in `suite_cpu_s`. The list is a fixed subset of the
  * board, sized so set-up and several passes fit in one run: on this
  * benchmark's input each query costs roughly half a second of fixed
  * overhead. */
object Board {
  val queries: Seq[String] = Seq(
    "j2_sortmerge_join", "a1_pricing_summary", "a7_weighted_mean",
    "w3_running_total", "q9_product_profit", "x1_tumbling_window",
    "t33_bloom_decontaminate")

  def ops(names: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = graft.SparkEntry.queries
    names.map(n => n -> all.getOrElse(n, sys.error(s"no board query named $n")))
  }

  /** The op order of pass `pass`: a fresh seeded shuffle per pass. */
  def order(names: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(names)

  /** Expected (rows, digest) per query; "-" where a field is not checked. */
  def readExpected(path: String): Map[String, (String, String)] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, digest) = l.split("\t")
        n -> (rows, digest)
      }.toMap
    finally src.close()
  }
}
