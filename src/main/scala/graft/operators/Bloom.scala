package graft.operators

import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.BinaryType

/** Bloom-filter-pruned anti/semi joins (SURVEY.md §2.H).
  *
  * The 100 TB decontamination / incremental-load shape: drop from a
  * huge corpus every row whose key appears in a smallish key set
  * (benchmark membership, already-loaded ids). A plain `left_anti`
  * join shuffles the ENTIRE big side on the key. The bloom path
  * never shuffles the big side at all:
  *
  *   1. build a bloom filter over the key set (one distributed
  *      `bloom_filter_agg` pass over the small side — partial sketches
  *      OR-merged, driver gets ~KBs–MBs of bits);
  *   2. probe it map-side as a native Catalyst predicate
  *      (`might_contain(lit(bits), xxhash64(key))` — codegen'd, rides
  *      the scan stage). Rows the filter rejects are DEFINITELY absent
  *      from the key set (bloom has no false negatives) — they pass
  *      through with zero shuffle;
  *   3. only the "might contain" rows — true matches plus an
  *      `fpp`-sized sliver of false positives — go through the exact
  *      `left_anti` join to restore exactness.
  *
  * Result is bit-identical to the plain anti join (the bloom is a
  * pruning layer, never a correctness layer), which is how the DuckDB
  * oracle (a plain NOT IN) checks it. At fpp=1% the shuffled volume
  * drops from 100 TB to (matches + 1% of non-matches).
  *
  * Spark-first notes: build + probe are Spark's own runtime-filter
  * expressions (`BloomFilterAggregate` / `BloomFilterMightContain`,
  * the pair `InjectRuntimeFilter` plants under shuffle joins), both
  * whole-stage-codegen'd — no closure UDF anywhere, so the probe is
  * visible to the planner and cheap per row. Spark injects this shape
  * automatically for shuffle SEMI/inner joins, but not for this "keep
  * the big side unshuffled" anti-join plan.
  *
  * Scan discipline: the verdict column is computed ONCE. The marked
  * projection is persisted and both branches (clean pass-through,
  * suspect verification) split from the cache, so the big side
  * appears in exactly ONE scan of the executed plan (asserted in
  * PlanAuditSpec), and no row is ever probe-evaluated through an
  * interpreter.
  *
  * Cache-release contract — the one documented exception to the
  * operators' free-what-you-create rule: the anti join's result is
  * LAZY and shares the marked side's cache between its two branches,
  * so the operator cannot free that cache, and [[graft.release]] on
  * the result does not reach it either (the cache belongs to the
  * marked projection, not to the result). It stays cached for the
  * session until `spark.catalog.clearCache()` (Verify/Bench do this
  * between queries).
  */
object Bloom {

  /** Serialized bloom sketch over `keys(keyCol)`: one distributed
    * `bloom_filter_agg` over `xxhash64(key)` (any input type).
    * Sizing honors the runtime-filter config caps (`checkInputDataTypes`
    * rejects larger); a clamped sketch only raises fpp, never breaks
    * correctness (the exact join decides).
    */
  /** xxhash64 is TYPE-sensitive (hashInt ≠ hashLong for the same
    * value), so the small side's key is cast to the BIG side's key
    * dtype before hashing — a lossy cast fails loudly under ANSI
    * instead of silently producing false negatives. The equi-join
    * coerces anyway, so the cast never changes which rows match.
    */
  private def buildBloom(keys: DataFrame, keyCol: String,
                         keyType: org.apache.spark.sql.types.DataType,
                         nKeys: Long, fpp: Double): Array[Byte] = {
    import org.apache.spark.sql.internal.SQLConf
    val conf = SQLConf.get
    val maxItems = conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS)
    val maxBits = conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS)
    val items = math.min(nKeys, maxItems)
    val bits = math.min(
      org.apache.spark.util.sketch.BloomFilter.optimalNumOfBits(nKeys, fpp),
      maxBits)
    val agg = new BloomFilterAggregate(
      GraftBridge.expression(xxhash64(col(keyCol).cast(keyType))),
      Literal(items), Literal(bits)).toAggregateExpression()
    keys.select(GraftBridge.column(agg).as("bf")).head.getAs[Array[Byte]](0)
  }

  /** Codegen'd membership probe: `might_contain(bits, xxhash64(key))`.
    * Never null (xxhash64 is null-intolerant-safe: a null key hashes
    * to the seed constant; whichever verdict that constant draws, the
    * exact join restores null-key semantics — anti keeps, semi drops).
    */
  private def mightContain(bits: Array[Byte], key: Column): Column =
    GraftBridge.column(BloomFilterMightContain(
      Literal(bits, BinaryType), GraftBridge.expression(xxhash64(key))))

  /** Exact `big LEFT ANTI JOIN keys` with the big side pruned
    * map-side by a bloom filter over `keys`.
    *
    * The key set is counted first: the count is one cheap job over the
    * SMALL side, it sizes the sketch exactly (expectedKeys guesses
    * either waste bits or inflate fpp — never correctness), and it
    * guards the empty case (an empty denylist just means `big` passes
    * through).
    *
    * @return lazy result, bit-identical to `big.join(keys, anti)`.
    *         The probe-marked projection of `big` stays CACHED after
    *         the caller consumes the result — free it with
    *         `spark.catalog.clearCache()` once done.
    */
  def antiJoin(big: DataFrame, keys: DataFrame, keyCol: String,
               fpp: Double = 0.01): DataFrame = {
    val nKeys = keys.count()
    if (nKeys == 0) return big
    val bits = buildBloom(keys, keyCol,
      big.schema(keyCol).dataType, nKeys, fpp)
    // collision-free verdict column: a user column named __ga_suspect
    // must survive untouched, not be silently replaced then dropped
    val suspect = Iterator.iterate("__ga_suspect")(_ + "_")
      .dropWhile(big.columns.contains).next()
    val src = big.withColumn(suspect, mightContain(bits, col(keyCol)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val clean = src.filter(!col(suspect)).drop(suspect)
    val suspects = src.filter(col(suspect)).drop(suspect)
    clean.unionByName(suspects.join(keys, Seq(keyCol), "left_anti"))
  }

  /** Exact semi join, same pruning structure: bloom-negative rows are
    * dropped map-side inside the ONE scan of the big side; only
    * suspects are verified by the exact join.
    */
  def semiJoin(big: DataFrame, keys: DataFrame, keyCol: String,
               fpp: Double = 0.01): DataFrame = {
    val nKeys = keys.count()
    if (nKeys == 0) return big.limit(0)
    val bits = buildBloom(keys, keyCol,
      big.schema(keyCol).dataType, nKeys, fpp)
    big.filter(mightContain(bits, col(keyCol)))
      .join(keys, Seq(keyCol), "left_semi")
  }
}
