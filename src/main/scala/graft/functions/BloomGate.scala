package graft.functions

import java.io.ByteArrayOutputStream

import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.util.sketch.BloomFilter

/** Broadcast Bloom-filter gating, built on Spark's own runtime-filter
  * expressions (`BloomFilterAggregate` / `BloomFilterMightContain` —
  * the machinery behind `spark.sql.optimizer.runtime.bloomFilter`,
  * surfaced here as an explicit, persistable artifact).
  *
  * Why this matters at 100 TB: an incremental-ingest dedup gate must
  * answer "has this key been seen in the historical store?" for every
  * new document. The exact answer is a join against the full store —
  * a scan (and without care, a shuffle) of the largest artifact in
  * the pipeline, on EVERY batch, even though the overwhelming
  * majority of new keys were never seen. A Bloom filter over the
  * store's keys is megabytes per billion keys (`optimalNumOfBits`:
  * ~1.2 GB per 10⁹ at 1% fpp — broadcastable), has NO false
  * negatives, and turns the common case into a map-side codegen'd
  * probe: bloom-negative ⇒ definitely new, skip the join entirely;
  * only the tiny bloom-positive slice (true dups + fpp stragglers)
  * pays for exact verification. Results stay
  * EXACT — the filter only routes rows, it never decides a verdict.
  *
  * The reference's dedup surface is the hash-partitioned
  * `drop_duplicates` shuffle
  * (`/root/reference/distributed/tests/test_collections.py:62`
  * exercises it end-to-end); a membership sketch in front of that
  * probe is the standard web-scale refinement (CCNet/Dolma-style
  * ingest gates).
  *
  * Both sides hash with Spark's `XxHash64` (seed 42, the same
  * expression `InjectRuntimeFilter` plants), so build and probe agree
  * by construction; the probe is a codegen'd predicate, not a UDF.
  */
object BloomGate {

  /** Serialize a sketch to the `readFrom(byte[])` wire format. */
  private def toBytes(bf: BloomFilter): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bf.writeTo(bos)
    bos.toByteArray
  }

  /** Sized number of bits for `expectedItems` keys at `fpp`, floored
    * so degenerate inputs still build a valid (tiny) filter.
    */
  def numBits(expectedItems: Long, fpp: Double): Long =
    math.max(64L, BloomFilter.optimalNumOfBits(math.max(expectedItems, 1L), fpp))

  /** graft's own single-filter ceilings: 10⁹ keys / 1 GiB; a larger
    * key set gets a clamped, less selective filter ([[geometry]]), not
    * a bigger one. A build whose geometry exceeds the session's
    * `BloomFilterAggregate` caps raises them FOR THE BUILD JOB ONLY
    * ([[withScopedCaps]]), so the optimizer's auto-injected runtime
    * filters keep their deliberately small defaults (4M items / 67M
    * bits) — a misestimated plan can't materialize a gigabyte-scale
    * injected filter just because this engine also hosts big explicit
    * gates.
    */
  val MaxItems: Long = 1000000000L
  val MaxBits: Long = 8589934592L

  private val ItemsCapKey =
    "spark.sql.optimizer.runtime.bloomFilter.maxNumItems"
  private val BitsCapKey =
    "spark.sql.optimizer.runtime.bloomFilter.maxNumBits"

  /** Run `body` with the session's runtime-bloom caps raised to cover
    * (`items`, `bits`), restoring the previous values after — the cap
    * raise exists only so `BloomFilterAggregate`'s analysis-time check
    * admits the explicit gate geometry; it must not persist onto the
    * planner's own injected filters. Session-visible while `body`
    * runs (Spark confs are session-scoped); the builds here are
    * single synchronous jobs, so the window is the build itself.
    */
  private def withScopedCaps[T](spark: org.apache.spark.sql.SparkSession,
      items: Long, bits: Long)(body: => T): T = {
    val conf = spark.conf
    val oldI = conf.get(ItemsCapKey, "4000000")
    val oldB = conf.get(BitsCapKey, "67108864")
    if (items <= oldI.toLong && bits <= oldB.toLong) body
    else {
      conf.set(ItemsCapKey, math.max(items, oldI.toLong).toString)
      conf.set(BitsCapKey, math.max(bits, oldB.toLong).toString)
      try body
      finally { conf.set(ItemsCapKey, oldI); conf.set(BitsCapKey, oldB) }
    }
  }

  /** Filter geometry for `expectedItems` keys at `fpp`, CLAMPED to
    * [[MaxItems]]/[[MaxBits]]. A clamp means the filter is under-sized
    * for the key count and its fpp degrades toward all-positive —
    * still never a false negative, so gating stays CORRECT, just less
    * selective.
    */
  def geometry(expectedItems: Long, fpp: Double): (Long, Long) = {
    val n = math.min(math.max(expectedItems, 1L), MaxItems)
    (n, math.min(numBits(n, fpp), MaxBits))
  }

  /** Distributed build: ONE aggregation job over `df` (map-side
    * partial filters OR-merged on the driver by the aggregate), no
    * collect of keys. Returns the serialized filter.
    */
  def build(df: DataFrame, value: Column, expectedItems: Long,
      bits: Long): Array[Byte] = {
    val n = math.max(expectedItems, 1L)
    val agg = new BloomFilterAggregate(
      new XxHash64(Seq(GraftExpressionBridge.expression(value))),
      Literal(n), Literal(bits)).toAggregateExpression()
    val row = withScopedCaps(df.sparkSession, n, bits) {
      df.select(GraftExpressionBridge.column(agg).as("bloom")).head()
    }
    if (row.isNullAt(0)) {
      // the aggregate yields null on empty input: an empty filter of
      // the same geometry
      toBytes(BloomFilter.create(n, bits))
    } else row.getAs[Array[Byte]](0)
  }

  /** [[build]] sized from a false-positive rate via [[geometry]]
    * (session-cap-clamped).
    */
  def build(df: DataFrame, value: Column, expectedItems: Long,
      fpp: Double): Array[Byte] = {
    val (n, bits) = geometry(expectedItems, fpp)
    build(df, value, n, bits)
  }

  /** Membership probe as a codegen'd Catalyst predicate: true ⇒ the
    * key MAY be in the build set (rate-bounded false positives);
    * false ⇒ the key is DEFINITELY absent. Null keys never yield a
    * null probe: `XxHash64` folds a null child into the running seed
    * (42) on BOTH the build and probe sides, so a null key hashes to
    * one deterministic value — the probe returns a definite boolean,
    * true whenever the build side held any null key. The
    * no-false-negative invariant therefore covers null keys too, and
    * callers need no `coalesce(…, false)` guard.
    */
  def mightContain(bloom: Array[Byte], value: Column): Column =
    GraftExpressionBridge.column(BloomFilterMightContain(
      Literal(bloom),
      new XxHash64(Seq(GraftExpressionBridge.expression(value)))))
}
