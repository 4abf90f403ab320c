package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Load-phase semantics of the reference (src/load.py), re-expressed as
  * distributed set operations.
  *
  * The reference implements "incremental append" as COUNT(existing) +
  * `LIMIT new OFFSET existing` (load.py:152-199) — that requires a global
  * total order and a single writer, which is exactly what does NOT scale.
  * The scale-correct semantic is a key anti-join: hash-partitioned on the
  * key, no total order, no driver state, works identically on 1000
  * executors.
  */
object Loads {

  /** Rows of `incoming` whose key is not present in `existing`
    * (load.py:152 get_new_rows_from_mysql, re-expressed). A `left_anti`
    * join is shuffle-partitioned on the key; when `existing`'s key set is
    * small Catalyst/AQE broadcasts it automatically.
    */
  def incrementalNew(incoming: DataFrame, existing: DataFrame,
                     keys: Seq[String]): DataFrame =
    incoming.join(existing.select(keys.map(col): _*).distinct(),
      keys, "left_anti")

  /** SCD1 upsert (the reference's ON DUPLICATE KEY UPDATE, extract.py:328
    * / transform.py:265): union base + updates, keep the highest-version
    * row per key. One shuffle on the key; ties broken deterministically
    * by version descending.
    */
  def upsert(base: DataFrame, updates: DataFrame, keys: Seq[String],
             versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol).desc)
    base.unionByName(updates)
      .withColumn("__graft_rn", row_number().over(w))
      .filter(col("__graft_rn") === 1)
      .drop("__graft_rn")
  }

  /** D13: full conditional MERGE — the complete MERGE INTO statement
    * (SQL:2003; Delta/Iceberg's workhorse) beside D2's
    * last-writer-wins upsert: WHEN MATCHED AND <cond> THEN DELETE,
    * WHEN MATCHED THEN UPDATE, WHEN NOT MATCHED THEN INSERT, absent
    * target rows pass through. ONE full-outer key join carries all
    * four outcomes (matched rows see both sides, so the delete
    * predicate can reference source AND target columns); hash-
    * partitioned on the key, AQE broadcasts a small source — the same
    * plan at 60k rows and at 100 TB.
    *
    * A source carrying duplicate keys raises loudly (SQL:2003 MERGE's
    * "multiple matching rows" error) — silently multiplying matched
    * target rows would corrupt the target invisibly. The guard is a
    * per-key window count over the source, which shuffles on the same
    * keys the join needs, so the exchange is reused, not added.
    *
    * @param deleteWhen matched-row delete predicate over columns named
    *                   `src_<c>` / `tgt_<c>`; None = pure upsert.
    * @return target schema; matched rows take the source's values.
    */
  def mergeInto(target: DataFrame, source: DataFrame, keys: Seq[String],
                deleteWhen: Option[org.apache.spark.sql.Column]): DataFrame = {
    val dataCols = target.columns.filterNot(keys.contains).toSeq
    require(source.columns.sorted.sameElements(target.columns.sorted),
      s"mergeInto: source columns [${source.columns.sorted.mkString(",")}] " +
        s"must match target [${target.columns.sorted.mkString(",")}]")
    val t = target.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"tgt_$c")): _*)
    val s = source.select(keys.map(col) ++
      dataCols.map(c => col(c).as(s"src_$c")): _*)
    // matched ⇔ both sides non-null on the marker (keys can be null-free
    // by contract, but an explicit marker survives schema evolution);
    // the source marker doubles as the duplicate-key guard
    val wk = Window.partitionBy(keys.map(col): _*)
    val sGuarded = s.withColumn("__s",
      when(count(lit(1)).over(wk) > 1,
        raise_error(lit("mergeInto: duplicate source keys on " +
          s"(${keys.mkString(",")}) — SQL:2003 MERGE requires a " +
          "key-unique source; dedup upstream (e.g. Loads.upsert)"))
          .cast("int"))
        .otherwise(lit(1)))
    val j = t.withColumn("__t", lit(1))
      .join(sGuarded, keys, "full_outer")
    val matched = col("__t").isNotNull && col("__s").isNotNull
    val del = deleteWhen.map(matched && _).getOrElse(lit(false))
    j.filter(!del)
      .select(keys.map(col) ++ dataCols.map(c =>
        when(col("__s").isNotNull, col(s"src_$c"))
          .otherwise(col(s"tgt_$c")).as(c)): _*)
  }

  /** D11: SCD type-3 merge — the "current + previous value" dimension
    * shape between SCD1's overwrite (D2, history lost) and SCD2's full
    * history (D4, row per version): one extra column remembers the
    * value a change replaced, the warehouse pattern for "limited
    * history, fixed width" attributes (previous address, previous
    * plan). One full-outer key join: changed keys carry (new, old),
    * unchanged keys (old, null), inserted keys (new, null).
    *
    * @return (keys..., valueCol, prev_<valueCol>, changed).
    */
  def scd3(base: DataFrame, updates: DataFrame, keys: Seq[String],
           valueCol: String): DataFrame = {
    val b = base.select((keys.map(col) :+ col(valueCol).as("__old")): _*)
    val u = updates.select((keys.map(col) :+ col(valueCol).as("__new")): _*)
    b.join(u, keys, "full_outer")
      .select(keys.map(col) ++ Seq(
        coalesce(col("__new"), col("__old")).as(valueCol),
        when(col("__new").isNotNull && col("__old").isNotNull &&
          col("__new") =!= col("__old"), col("__old"))
          .as(s"prev_$valueCol"),
        (col("__new").isNotNull && (col("__old").isNull ||
          col("__new") =!= col("__old"))).as("changed")): _*)
  }

  /** SCD2 history: keep EVERY version of a key, with validity interval
    * columns derived from the next version's start (lead over the key's
    * version order) — the warehouse-standard "slowly changing dimension
    * type 2" shape the reference's destructive upsert cannot answer
    * ("what was this row worth last month?"). One shuffle on the key;
    * the window is per-key, never global.
    */
  def scd2History(history: DataFrame, keys: Seq[String],
                  versionCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(versionCol))
    history
      .withColumn("valid_from", col(versionCol))
      .withColumn("valid_to", lead(col(versionCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
  }

  /** D15: SCD type-4 split — the warehouse layout that keeps
    * the CURRENT dimension lean (one row per key, no validity
    * columns, every query's join target) and moves superseded
    * versions to a separate HISTORY table with [[scd2History]]'s
    * validity intervals. Same information as SCD2, different
    * physical contract: the hot join never scans history, and
    * history appends never rewrite current — at 100 TB that is the
    * difference between a broadcast-able dim and a versioned scan.
    *
    * One keyed window over the version order feeds both outputs
    * (current = is_current slice with the SCD2 columns dropped;
    * history = the rest, valid_to always set) — Spark computes the
    * shared scd2History subplan per output action, which is the
    * standard two-sink tradeoff (persist the input upstream if it is
    * expensive).
    */
  def scd4(history: DataFrame, keys: Seq[String],
           versionCol: String): (DataFrame, DataFrame) = {
    val full = scd2History(history, keys, versionCol)
    (full.filter(col("is_current"))
      .drop("valid_from", "valid_to", "is_current"),
      full.filter(!col("is_current")).drop("is_current"))
  }

  /** D8: temporal (point-in-time) dimension join — enrich facts with
    * the SCD2 dimension version valid AT THE FACT'S TIMESTAMP, the
    * query [[scd2History]] exists to answer and the reference's
    * destructive upsert cannot: join on the business key with the
    * validity predicate riding the join condition
    * (valid_from ≤ t < valid_to, null = open).
    *
    * Scale shape: this is an EQUI-join on the key — it shuffles and
    * partitions like any dimension join; the interval predicate only
    * compares the few versions of the SAME key (per-key version
    * counts are small by construction in an SCD2 dim), so there is
    * no range-join blowup and no bucket decomposition needed (that
    * machinery — [[Intervals.overlapJoin]] — is for interval×interval
    * with no equi-key). Left join: facts predating the first version
    * survive with null attributes rather than dropping.
    */
  def temporalJoin(facts: DataFrame, factKey: String, factTime: String,
                   dim: DataFrame, dimKey: String): DataFrame =
    facts.join(dim,
      facts(factKey) === dim(dimKey) &&
        dim("valid_from") <= facts(factTime) &&
        (dim("valid_to").isNull || facts(factTime) < dim("valid_to")),
      "left")

  /** Snapshot diff (CDC derivation): classify every primary key across
    * two table snapshots as Inserted / Deleted / Updated / unchanged.
    * One full-outer equi-join on the key — the canonical way to turn
    * periodic full dumps into a change stream when the source has no
    * CDC log (the reference's "compare counts then append" load is the
    * degenerate form of this). Unchanged rows are dropped by default
    * so the output is the (small) changeset, not the snapshot.
    *
    * Column comparison is null-safe (`<=>`); `compareCols` defaults to
    * all non-key columns shared by both sides.
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame, pk: String,
                   compareCols: Seq[String] = Nil,
                   keepUnchanged: Boolean = false): DataFrame = {
    val cols =
      if (compareCols.nonEmpty) compareCols
      else oldSnap.columns.filter(c => c != pk && newSnap.columns.contains(c))
        .toSeq
    val o = oldSnap.select((pk +: cols).map(col): _*).as("o")
    val n = newSnap.select((pk +: cols).map(col): _*).as("n")
    val changed = cols.map(c => !(col(s"o.$c") <=> col(s"n.$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val change = when(col(s"o.$pk").isNull, "I")
      .when(col(s"n.$pk").isNull, "D")
      .when(changed, "U")
      .otherwise("N")
    // value carry must branch on WHICH SIDE EXISTS, not coalesce per
    // column — an update that sets a column to NULL would otherwise
    // silently resurrect the old value (caught by the randomized
    // roundtrip property in LoadsSpec)
    val out = o.join(n, col(s"o.$pk") === col(s"n.$pk"), "full_outer")
      .select(coalesce(col(s"n.$pk"), col(s"o.$pk")).as(pk) +:
        change.as("change") +:
        cols.map(c => when(col(s"n.$pk").isNull, col(s"o.$c"))
          .otherwise(col(s"n.$c")).as(c)): _*)
    if (keepUnchanged) out else out.filter(col("change") =!= "N")
  }

  /** Apply a [[snapshotDiff]] changeset to a snapshot: rows whose key
    * appears in the changeset are dropped (one anti join), then the
    * I/U rows are appended — `apply(old, diff(old, new)) ≡ new` (the
    * roundtrip is asserted in LoadsSpec). This is the consumer side of
    * CDC-from-dumps: the big snapshot is touched by exactly one
    * keyed anti join against the (small) changeset, which Spark plans
    * as a broadcast anti join when the changeset fits.
    */
  def applyDiff(snapshot: DataFrame, changes: DataFrame, pk: String): DataFrame = {
    val touched = changes.select(col(pk))
    snapshot.join(broadcast(touched), Seq(pk), "left_anti")
      .unionByName(changes.filter(col("change").isin("I", "U"))
        .select(snapshot.columns.map(col): _*))
  }

  /** Incremental aggregate maintenance: merge partial aggregates
    * (sums + counts per key) from independent batches into the exact
    * global aggregate — the algebraic-measure foundation of
    * materialized-view upkeep. Each batch is reduced to one row per
    * key BEFORE the merge, so maintaining the view shuffles only
    * key-cardinality rows, never the fact table; averages are derived
    * sums/counts at read time (AVG itself is not mergeable).
    */
  def aggState(batch: DataFrame, keys: Seq[String],
               sumCols: Seq[String]): DataFrame =
    batch.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__n"),
        sumCols.map(c => sum(col(c)).as(s"__sum_$c")): _*)

  def mergeAggStates(states: Seq[DataFrame], keys: Seq[String],
                     sumCols: Seq[String]): DataFrame =
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("__n")).as("__n"),
        sumCols.map(c => sum(col(s"__sum_$c")).as(s"__sum_$c")): _*)

  /** Row-count reconciliation across tables (load.py:317
    * verify_counts): one (tbl, n_rows) row per table in name order; a
    * table with no rows reports 0. One aggregate over the union of
    * tag-only scans (each reads no column), whatever the number of
    * tables. One marker row per table, which counts as no row, keeps an
    * empty table in the report.
    */
  def countReport(tables: Map[String, DataFrame]): DataFrame = {
    val named = tables.toSeq.sortBy(_._1)
    val markers = named.head._2.sparkSession.createDataFrame(
      named.map { case (name, _) => Row(name, null) }.asJava,
      StructType.fromDDL("tbl STRING, row BOOLEAN"))
    named.map { case (name, df) => df.select(lit(name).as("tbl"), lit(true).as("row")) }
      .foldLeft(markers)(_ unionByName _)
      .groupBy(col("tbl")).agg(count(col("row")).as("n_rows"))
      .coalesce(1).sortWithinPartitions(col("tbl"))
  }

  /** D10: content-digest reconciliation — the stronger form of
    * [[countReport]]: an ORDER-INVARIANT digest of table content
    * (per-row md5 over '|'-joined columns, first 12 hex digits as an
    * integer, SUMMED — addition commutes, so any partitioning or row
    * order produces the same number), comparable across systems
    * without moving a row. Counts match but a value drifted? The
    * digest catches it; two 10-billion-row tables reconcile by
    * exchanging ONE (count, digest) row each.
    *
    * Columns should be integers / strings / dates — float formatting
    * is engine-specific, so digest floats via an exact integer form
    * (e.g. cents) instead. A 48-bit slice per row keeps the sum well
    * inside decimal(38,0) at any table size while a single changed
    * row still flips the digest with probability ≈ 1 − 2⁻⁴⁸.
    *
    * @return one row per table: (tbl, n_rows, digest).
    */
  def digestReport(tables: Map[String, (DataFrame, Seq[String])]): DataFrame =
    tables.toSeq.sortBy(_._1).map { case (name, (df, cols)) =>
      val rowHash = conv(substring(
        md5(concat_ws("|", cols.map(c => col(c).cast("string")): _*)),
        1, 12), 16, 10).cast("decimal(38,0)")
      // digest is emitted as a STRING: it's a checksum, and decimal
      // vs HUGEINT serialization differs across engines while the
      // exact-integer string form is identical everywhere.
      df.agg(count(lit(1)).as("n_rows"),
          sum(rowHash).cast("decimal(38,0)").cast("string").as("digest"))
        .select(lit(name).as("tbl"), col("n_rows"), col("digest"))
    }.reduce(_ unionByName _)
}
