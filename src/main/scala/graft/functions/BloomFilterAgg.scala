package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, If, IsNull, Literal, ScalarSubquery, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, GraftShims, functions}
import org.apache.spark.util.sketch.BloomFilter

/** T33/E2 (SURVEY §2.4, §2.11): Bloom-filter aggregate over a string
  * column — the membership sketch that completes the one-pass sketch
  * family (A4 HyperLogLog for cardinality, T28 count-min for frequency,
  * this for membership), keyed by the item STRING (`putString`). The
  * manifest's on-disk bloom sidecars are written with it, so its bytes
  * are a storage format; in-query membership uses Spark's native pair
  * instead (`BloomFilterAgg.build` / `mightContain` below).
  *
  * Buffer: the filter's bit array — merge is bitwise OR, so the
  * aggregation is associative, commutative AND order/partitioning
  * independent: the final bit pattern is a pure function of the input
  * SET, which is what makes sketch-dependent results reproducible
  * cross-run at any scale. Output: the serialized filter (~1.2 MB for
  * 1M items at 1% fpp — constant in corpus size, the whole point). */
class BloomFilterAgg(expectedItems: Long, fpp: Double)
    extends Aggregator[String, BloomFilter, Array[Byte]] {
  override def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
  override def reduce(b: BloomFilter, s: String): BloomFilter = {
    if (s != null) b.putString(s)
    b
  }
  override def merge(a: BloomFilter, b: BloomFilter): BloomFilter =
    a.mergeInPlace(b)
  override def finish(b: BloomFilter): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    b.writeTo(out)
    out.toByteArray
  }
  // BloomFilterImpl is java.io.Serializable (custom write/readObject)
  override def bufferEncoder: Encoder[BloomFilter] =
    Encoders.javaSerialization[BloomFilter]
  override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
}

object BloomFilterAgg {
  /** Column form: bloom_agg(item) → serialized filter bytes. */
  def apply(item: Column, expectedItems: Long, fpp: Double): Column =
    functions.udaf(new BloomFilterAgg(expectedItems, fpp)).apply(item)

  // a null item stays null (xxhash64 would hash it to its seed), so the
  // build skips it, like `reduce` above, and a null probe answers null
  private def hashed(item: Column): Expression = {
    val e = GraftShims.expression(item)
    If(IsNull(e), Literal(null, LongType), new XxHash64(Seq(e)))
  }

  /** In-query filter over `items`' column `item`: Spark's
    * `BloomFilterAggregate` over `xxhash64(item)` (NULL over an empty
    * input) as an uncorrelated scalar subquery, run once when the plan
    * runs, not when it is built. Probe it with `mightContain` only: it
    * holds item hashes, not the item strings the sidecars hold. */
  def build(items: DataFrame, item: String, expectedItems: Long, fpp: Double): Column = {
    val agg = new BloomFilterAggregate(hashed(functions.col(item)), Literal(expectedItems),
      Literal(BloomFilter.optimalNumOfBits(expectedItems, fpp))).toAggregateExpression()
    GraftShims.column(ScalarSubquery(
      items.agg(GraftShims.column(agg)).queryExecution.analyzed))
  }

  /** Probe against a filter from `build` (or its bytes as a literal):
    * Spark's codegen'd `BloomFilterMightContain`, which deserializes the
    * filter once per task. No false negatives; false positives at ≤ the
    * construction fpp. A null filter or probe answers null. */
  def mightContain(bf: Column, item: Column): Column =
    GraftShims.column(BloomFilterMightContain(GraftShims.expression(bf), hashed(item)))
}
