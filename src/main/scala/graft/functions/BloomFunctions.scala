package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.util.sketch.BloomFilter

/** Native Bloom-filter membership as a scan-stage predicate.
  *
  * This does NOT implement a Bloom filter: it surfaces Catalyst's own
  * `BloomFilterMightContain` — the codegen'd expression behind Spark's
  * runtime shuffle-pruning filters (InjectRuntimeFilter) — as a callable
  * function, with the filter bytes inlined as a foldable BINARY literal
  * (deserialized once per task, then an in-memory bit test per row). The
  * value side must be a LONG key (`xxhash64(...)` — the same pairing
  * Spark's own runtime filters use).
  *
  * Why it matters at 100 TB: probing a reference set from the big side of
  * an anti-join through a Scala UDF pays per-row boxing and an
  * interpreter round-trip — the exact hot-path class this repo measured
  * at 27–57× elsewhere (SQ8 ADC, minhash HOFs). The native expression
  * keeps the membership test inside whole-stage codegen, so the corpus
  * scan stays a fused scan→filter pipeline.
  */
object BloomFunctions {

  def register(spark: SparkSession): Unit =
    VectorFunctions.registerIfAbsent(spark, "bloom_might_contain",
      es => BloomFilterMightContain(es.head, es(1)))

  /** `bloom_might_contain(filterBytes, longKey)` — true when `longKey`
    * MAY be in the serialized filter (no false negatives).
    */
  def bloomMightContain(bf: Column, key: Column): Column =
    call_function("bloom_might_contain", bf, key)

  /** The filter as a foldable literal column — ships with the plan (it
    * is part of the query, like a broadcast var but visible to codegen).
    * Callers bound the filter size; see [[requireBounded]].
    */
  def bloomLit(spark: SparkSession, bf: BloomFilter): Column = {
    register(spark)
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    lit(bos.toByteArray)
  }

  /** Loud cap on the planned filter size. The inlined literal does NOT
    * ride the broadcast (torrent) path: it is serialized into the task
    * binary of EVERY task and printed in plan strings, so the real cost
    * is `bytes × tasks` on the wire plus a driver-resident copy — which
    * is why the default cap is 32 MB (≈ 27M keys at 1% fpp), far below
    * what a broadcast variable could carry. Above it, raise fpp, shard
    * the reference set, or switch the probe to a broadcast-hash
    * semi-join (Spark's own runtime filters make the same size trade:
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumBits` defaults to
    * 64 MB of bits).
    */
  def requireBounded(
      expectedItems: Long, fpp: Double, maxBytes: Long = 32L << 20): Unit = {
    val ln2 = math.log(2)
    val bytes = math.ceil(-expectedItems * math.log(fpp) / (ln2 * ln2)).toLong / 8
    require(bytes <= maxBytes,
      s"bloom filter over $expectedItems keys at fpp=$fpp needs ~$bytes bytes " +
        s"(cap $maxBytes) — these bytes ship inline in EVERY task binary, " +
        "not over broadcast; raise fpp, shard the reference set, or probe " +
        "via a broadcast semi-join instead")
  }
}
