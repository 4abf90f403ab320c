import org.apache.spark.scheduler.SparkListenerEvent
import org.apache.spark.sql.{DataFrame, Dataset, GraftBridge, SparkSession}
import org.apache.spark.storage.StorageLevel

/** graft — a Spark-native analytics/ETL engine with the capabilities of
  * the reference banking ETL pipeline (see SURVEY.md), re-expressed as
  * declarative DataFrame operators so Catalyst/Tungsten handle physical
  * planning, pushdown, and codegen.
  */
package object graft {

  /** All "today"-relative derivations (age, tenure) are pinned to a fixed
    * reference date so results are deterministic and oracle-checkable.
    * The reference pipeline uses `date.today()` (transform.py:217) which
    * is unreproducible; a production deployment passes the batch date.
    */
  val BatchDate = "2026-08-12"

  /** Operator storage, rule 1 of 2 — a final result: eagerly
    * materializes `result` via `localCheckpoint(true)`, truncating its
    * lineage off every intermediate, then [[release]]s those
    * intermediates. A caller composing several operators in one job
    * therefore never accretes dead cached datasets: each result is
    * self-contained, and its ONLY storage is its own checkpoint, freed
    * by [[release]] (or by the ContextCleaner once the result is
    * garbage-collected). An intermediate is anything the operator
    * created (a persisted frame, a round's checkpoint), never the
    * caller's input.
    */
  private[graft] def sealResult(result: DataFrame,
      intermediates: Dataset[_]*): DataFrame = {
    val out = result.localCheckpoint(eager = true)
    intermediates.foreach(release)
    out
  }

  /** Operator storage, rule 2 of 2 — distributed loop state: eagerly
    * checkpoints `next` (one job; the checkpoint also truncates the
    * lineage that would otherwise nest one plan level per round), then
    * [[release]]s `prev`, the round it replaces. `next` may read `prev`:
    * it is materialized before `prev` is freed. A loop's final state is
    * then either the result itself (it owns exactly its checkpoint) or
    * released once a sealed result has been built from it.
    */
  private[graft] def nextRound(prev: Dataset[_], next: DataFrame): DataFrame =
    sealResult(next, prev)

  /** [[nextRound]] for a loop whose per-round convergence scalar is the
    * job that materializes the round: `next` is checkpointed lazily,
    * `measure` runs on it (that one job fills the checkpoint), and only
    * then is `prev` released. Returns the new round and its measure.
    */
  private[graft] def measuredRound[T](prev: Dataset[_], next: DataFrame)(
      measure: DataFrame => T): (DataFrame, T) = {
    val out = next.localCheckpoint(eager = false)
    val m = measure(out)
    release(prev)
    (out, m)
  }

  /** Release the block-manager storage `df` OWNS: its own checkpoint
    * (when `df` is a `localCheckpoint` result, as every sealed operator
    * result and every loop round is) and its CacheManager entry (when
    * it was persisted). Storage that `df` merely reads — a checkpoint
    * or cache further down its plan, such as the caller's input — is
    * left alone. Call once the result is consumed (written to a sink /
    * collected); afterwards the DataFrame must not be reused. Long-
    * lived sessions that skip this still drain via Spark's
    * ContextCleaner when the result object is garbage-collected.
    */
  def release(df: Dataset[_]): Unit = {
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }
    df.unpersist()
  }

  /** Mutes Spark's WARN on each freed checkpoint ("lineage has been
    * truncated and cannot be recomputed after unpersisting"): [[release]],
    * [[nextRound]] and a sweep between queries free checkpoints on
    * purpose. The test log configuration mutes the same logger.
    */
  def muteReleasedCheckpointWarnings(): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)

  /** Per-partition INPUT-byte target for the data-bound
    * [[fanOut]] width (guide §2: "size partitions by bytes"). The
    * value (256 KiB of compressed parquet ≈ ~1-2 MB of in-memory
    * rows) sizes a fanned task at roughly 50-200 ms for the mixed
    * tokenize/aggregate kernels that use the default tier — large
    * enough that the exchange + task-scheduling overhead never
    * exceeds the kernel it parallelizes (the round-12 lesson: an
    * unconditional cores-wide spread made light consumers SLOWER at
    * 32 cores than at 8), small enough that a genuinely
    * under-parallelized input still spreads. At cluster scale the
    * value is irrelevant to wide tables (fanOut no-ops on any input
    * whose scan is already ≥ the core count); for a genuinely small
    * table it bounds the spread to what the bytes justify.
    */
  private val FanOutPartitionBytes = 256L * 1024

  /** Sum of the plan's LEAF sizes in bytes (file bytes for parquet
    * relations, estimated/actual size for cached relations) — the
    * input the fanned stage will actually scan. Plan-time only.
    */
  private[graft] def leafBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.collectLeaves()
      .map(_.stats.sizeInBytes).sum

  private def localSolveBound(spark: SparkSession): BigInt =
    BigInt(spark.conf.get("spark.graft.localSolveBytes", "32000000"))

  /** The one driver-local size gate, consulted only by [[hybridSized]]:
    * an input of `bytes` driver bytes may be collected and solved on the
    * driver iff it is at most `spark.graft.localSolveBytes` (default
    * 32,000,000; 0 forces every non-empty input distributed), read per
    * call.
    */
  private[graft] def fitsDriver(spark: SparkSession, bytes: BigInt): Boolean =
    bytes <= localSolveBound(spark)

  /** One hybrid decision, posted to the listener bus (read it in
    * `SparkListener.onOtherEvent`): the operator, its input's size in
    * driver bytes, the bound it was checked against, the path taken
    * (`"local"` or `"distributed"`) and the job group of the thread
    * that called the operator (null when none is set).
    */
  final case class HybridPath(op: String, bytes: BigInt, bound: BigInt,
      path: String, jobGroup: String) extends SparkListenerEvent

  /** The one hybrid rung: persists `input`, sizes it as its row count ×
    * `rowBytes` and decides as [[hybridSized]] does, handing the count
    * to the distributed builder. The count is the only job the
    * decision costs, and it materializes the cache both paths read.
    */
  private[graft] def hybrid[T](op: String, input: Dataset[T], rowBytes: Long)(
      local: Array[T] => Option[DataFrame])(
      distributed: (DataFrame, Long) => DataFrame): DataFrame = {
    input.persist(StorageLevel.MEMORY_AND_DISK)
    val n = input.count()
    hybridSized(op, input, BigInt(n) * rowBytes)(local)(distributed(_, n))
  }

  /** [[hybrid]] for an input the caller has already sized (a corpus's
    * [[leafBytes]], or a stats row it reads anyway). When `bytes`
    * [[fitsDriver]], the input is collected as typed rows and handed to
    * `local`, the driver solver; if it returns a frame, the input is
    * unpersisted and that frame is the result. Otherwise — too large,
    * or the solver declined (None, e.g. a bound it meets mid-solve) —
    * the input is persisted (if it is not already) and handed to
    * `distributed`, which owns it from then on. Both paths give the
    * same relation; the choice is recorded as one [[HybridPath]] event.
    */
  private[graft] def hybridSized[T](op: String, input: Dataset[T],
      bytes: BigInt)(local: Array[T] => Option[DataFrame])(
      distributed: DataFrame => DataFrame): DataFrame = {
    val spark = input.sparkSession
    val solved =
      if (fitsDriver(spark, bytes)) local(input.collect()) else None
    GraftBridge.post(spark, HybridPath(op, bytes, localSolveBound(spark),
      if (solved.isDefined) "local" else "distributed",
      spark.sparkContext.getLocalProperty("spark.jobGroup.id")))
    solved match {
      case Some(out) =>
        input.unpersist()
        out
      case None =>
        if (input.storageLevel == StorageLevel.NONE)
          input.persist(StorageLevel.MEMORY_AND_DISK)
        distributed(input.toDF())
    }
  }

  /** True iff the frame is scan-shaped: no shuffle-inducing logical
    * node, so probing `df.rdd.getNumPartitions` is plan-time only
    * (no job). On a post-shuffle frame under AQE, `.rdd` would
    * materialize the upstream query stages — silently running jobs
    * at DataFrame-build time (ADVICE r12) — so [[fanOut]] treats any
    * non-scan-shaped frame as a no-op rather than probe it. A cached
    * frame appears here as an InMemoryRelation LEAF (withCachedData
    * substitutes it before optimization), so persisted inputs remain
    * eligible. Conservative blacklist: an exotic shuffling node not
    * listed falls through to `false` only if it matches no case —
    * all graft call sites pass scan/union/cache-shaped frames.
    */
  private def scanShaped(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    !df.queryExecution.optimizedPlan.exists {
      case _: Join | _: Aggregate | _: Window | _: Sort |
           _: Distinct | _: Deduplicate | _: GlobalLimit |
           _: SetOperation | _: RepartitionOperation => true
      case _ => false
    }
  }

  /** Width to fan an under-parallelized input out to, or 0 for
    * "leave the plan alone". 0 when: the frame is not scan-shaped
    * (probe hazard above), its scan is already ≥ the session's cores
    * (any real 100 TB table — the corpus-never-shuffles discipline
    * is preserved exactly where it matters), or the bytes-derived
    * width does not exceed the scan's existing parallelism. Width =
    * min(cores, ceil(leafBytes / perPartBytes)): data-bound, so a
    * light kernel over a tiny table never pays a cores-wide exchange
    * (VERDICT r12 §2), while the width still grows with the input up
    * to the core count. perPartBytes ≤ 0 means "kernel-bound, not
    * byte-bound" — the full core count ([[fanOutHeavy]]).
    */
  private[graft] def fanWidth(df: DataFrame, perPartBytes: Long): Int = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!scanShaped(df)) 0
    else {
      val cur = df.rdd.getNumPartitions
      if (cur >= target) 0
      else if (perPartBytes <= 0) target
      else {
        val per = BigInt(perPartBytes)
        val w = ((leafBytes(df) + per - 1) / per)
          .min(BigInt(target)).toInt
        if (w <= cur) 0 else w
      }
    }
  }

  /** Spread an under-parallelized input before a map-side kernel
    * stage (guide-§2.5 "unsplittable input" fix): a small table often
    * arrives as ONE parquet row group, so every scan-stage kernel
    * (pair joins, shingling, quantization) runs on one core no matter
    * how many the session has. Round-13 (VERDICT r12 item 2): the
    * width is DATA-BOUND — min(cores, ceil(inputBytes/target)), target
    * [[FanOutPartitionBytes]] — instead of the
    * unconditional core count, which over-spread light consumers (the
    * 32-way exchange cost more than the kernel it parallelized; the
    * driver measured the whole suite faster at 8 cores than 32).
    * Kernel-bound operators whose per-row cost dwarfs their bytes
    * (banded DP, Jaro-Winkler, O(pairs) BNLJ kernels) use
    * [[fanOutHeavy]] and keep the full spread.
    *
    * Keyed form hash-partitions on the given columns (no local sort);
    * keyless form round-robins. No-op (and probe-free) on any frame
    * that is not scan-shaped. Results are partitioning-independent by
    * the repo's exactness discipline (order-free integer folds,
    * packed tie-breaks) — every fanned-out gate re-verified against
    * its DuckDB oracle at sf0.001 + sf0.01.
    */
  private[graft] def fanOut(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val w = fanWidth(df, FanOutPartitionBytes)
    if (w <= 0) df
    else if (keys.nonEmpty) df.repartition(w, keys: _*)
    else df.repartition(w)
  }

  /** [[fanOut]] with the full core-count width — for PROVEN
    * kernel-bound stages only (per-row cost ≫ per-byte cost: the
    * edit-distance band DP, Jaro-Winkler scoring, winnowing, the
    * O(n·q) BNLJ pair kernels), where the driver-measured round-12
    * wins came precisely from the full spread and the exchange is
    * negligible against the kernel.
    */
  private[graft] def fanOutHeavy(df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    val w = fanWidth(df, 0L)
    if (w <= 0) df
    else if (keys.nonEmpty) df.repartition(w, keys: _*)
    else df.repartition(w)
  }

  /** Width to pin a DERIVED heavy stage to, probed from a RAW (scan-
    * stage, shuffle-free) input: 0 = leave the derived plan to AQE
    * (the 100 TB case, or a light input whose bytes don't justify a
    * spread); > 0 = the data-bound width, for explicitly
    * repartitioning a kernel stage whose AQE-coalesced width would
    * otherwise be ~1 on a small input. Use when the derived frame
    * itself cannot be probed (probing a shuffled plan materializes
    * its AQE stages).
    */
  private[graft] def spreadWidth(input: DataFrame): Int =
    fanWidth(input, FanOutPartitionBytes)

  /** Load one of the driver-generated parquet tables from an sf dir.
    *
    * Some generations of `events.parquet` carry TIMESTAMP(NANOS), which
    * Spark's parquet reader only accepts as a long
    * (spark.sql.legacy.parquet.nanosAsLong) — in that case we
    * re-materialize `ts` as a proper microsecond timestamp with exact
    * integer division (`div`), no double round-trip. Other generations
    * use TIMESTAMP(MICROS), which Spark reads natively; detect which by
    * the type `ts` actually arrives as rather than assuming either.
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name != "events") df
    else df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", org.apache.spark.sql.functions
          .timestamp_micros(org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ =>
        // TIMESTAMP(MICROS) arrives as TIMESTAMP_NTZ; cast to the
        // session-UTC TimestampType every downstream operator was built
        // against (identity on the underlying micros under UTC)
        df.withColumn("ts", df("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
    }
  }
}
