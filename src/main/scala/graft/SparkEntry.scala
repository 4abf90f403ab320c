package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Cleaning, TextFunctions}
import graft.operators.{Analytics, Bloom, Corpus, Dedup, EditJoin, Graph, Intervals, Loads, Multimodal, Sampling, Sessions, SetSim, Similarity, Skew, Stats, TimeSeries, Validate}
import graft.plans.LayoutFunctions

/** Driver contract — the query catalog for the correctness gate.
  *
  * Every entry in `queries` is one operator from SURVEY.md §2, expressed
  * Spark-first (declarative DataFrame plans; broadcast hints on dims; no
  * UDFs in hot paths). Each has a DuckDB-equivalent `oracleSql` with
  * IDENTICAL output column names; floating-point aggregates are rounded
  * on both sides so accumulation-order differences can't flip the hash.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The corpus-curation composition exercises text quality,
    * language ID, dedup, and reproducible splitting in one plan.
    */
  def entry(spark: SparkSession): DataFrame =
    qCurateCorpus(spark, "/root/testdata/sf0.001")

  // ---------------------------------------------------------------- C. relational core

  /** C2: multi-measure hash aggregate (TPC-H Q1 shape). Partial (map-side)
    * aggregation + 2-key shuffle; the scan reads only 6 of 11 columns.
    */
  private def qAggSummary(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        round(sum($"l_quantity"), 2).as("sum_qty"),
        round(sum($"l_extendedprice"), 2).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1) - $"l_discount")), 2).as("sum_disc_price"),
        round(avg($"l_quantity"), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))
  }

  /** C1: filter + projection — both must reach the parquet scan
    * (PushedFilters / 4-column ReadSchema in explain).
    */
  private def qFilterScan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .filter($"l_shipdate" >= lit("1999-01-01").cast("timestamp") &&
        $"l_quantity" > 45)
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_extendedprice")
  }

  /** C3: fact⋈dim join + aggregate. `customer` is the small side →
    * explicit broadcast, so the fact table never shuffles.
    */
  private def qJoinEnrich(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val orders = table(s, dir, "orders")
    val cust = table(s, dir, "customer")
    orders.join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"))
  }

  /** C4: star join orders⋈customer⋈nation⋈region, dims broadcast; one
    * shuffle total (the final 1-key aggregate).
    */
  private def qMultiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .join(broadcast(table(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(table(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(table(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("revenue"))
  }

  /** C5: running balance per user (the reference's `balance_after`
    * column, rebuilt as a window). Single shuffle on user_id.
    */
  private def qWindowRunning(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    table(s, dir, "events")
      .select($"event_id", $"user_id",
        round(sum($"value").over(w), 2).as("running_balance"))
  }

  /** C6: top-3 orders per priority via row_number window. */
  private def qTopnPerGroup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
    table(s, dir, "orders")
      .select($"o_orderpriority", $"o_orderkey", $"o_totalprice",
        row_number().over(w).cast("long").as("rn"))
      .filter($"rn" <= 3)
  }

  /** C7: rollup report (the reference test.py health-report analog). */
  private def qRollupReport(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"total")
  }

  // ---------------------------------------------------------------- B. cleaning / enrichment

  /** B1+B8: safe_val null-normalization/trim/case + gender map, driven by
    * deterministically dirtied inputs (same CASE on the oracle side).
    */
  private def qCleanValues(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer")
    val dirtyName =
      when($"c_custkey" % 7 === 0, lit(null).cast("string"))
        .when($"c_custkey" % 7 === 1, lit(""))
        .when($"c_custkey" % 7 === 2, lit("None"))
        .when($"c_custkey" % 7 === 3, concat(lit("  "), $"c_name", lit("  ")))
        .when($"c_custkey" % 7 === 4, lower($"c_name"))
        .when($"c_custkey" % 7 === 5, lit("NaN"))
        .otherwise($"c_name")
    val dirtyGender =
      when($"c_custkey" % 5 === 0, lit("m"))
        .when($"c_custkey" % 5 === 1, lit("F"))
        .when($"c_custkey" % 5 === 2, lit("male"))
        .when($"c_custkey" % 5 === 3, lit("FEMALE"))
        .otherwise(lit("x"))
    c.select($"c_custkey",
      Cleaning.cleanTextTitle(dirtyName).as("clean_name"),
      Cleaning.cleanTextTitle($"c_mktsegment").as("clean_segment"),
      Cleaning.normalizeGender(dirtyGender).as("gender"))
  }

  /** B2: multi-format date parsing incl. 2-digit-year pivot + d/m swap. */
  private def qSafeDate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val raw =
      when($"o_orderkey" % 5 === 0, date_format($"o_orderdate", "dd-MM-yyyy"))
        .when($"o_orderkey" % 5 === 1, date_format($"o_orderdate", "yyyy-MM-dd"))
        .when($"o_orderkey" % 5 === 2, date_format($"o_orderdate", "dd.MM.yy"))
        .when($"o_orderkey" % 5 === 3, date_format($"o_orderdate", "MM-dd-yy"))
        .otherwise(lit("not-a-date"))
    // ISO string output: both engines render dates identically as text,
    // so the driver's value hash can't trip over date-vs-timestamp reprs.
    o.select($"o_orderkey", raw.as("raw_str"),
      Cleaning.parseDateMulti(raw).cast("string").as("parsed"))
  }

  /** B3: currency/separator-stripping numeric parse. */
  private def qSafeNum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val formatted = format_number($"o_totalprice", 2)
    val raw =
      when($"o_orderkey" % 5 === 0, concat(lit("₹"), formatted))
        .when($"o_orderkey" % 5 === 1, concat(lit("$ "), formatted))
        .when($"o_orderkey" % 5 === 2, formatted)
        .when($"o_orderkey" % 5 === 3, lit("garbage"))
        .otherwise(lit(null).cast("string"))
    o.select($"o_orderkey", Cleaning.parseNumber(raw).as("amount"))
  }

  /** B4: age / tenure-days / segment bucketing at the pinned batch date. */
  private def qAgeSegment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ref = lit(BatchDate).cast("date")
    val o = table(s, dir, "orders")
    val d = $"o_orderdate".cast("date")
    val tenure = Cleaning.tenureDays(d, ref)
    o.select($"o_orderkey",
      Cleaning.ageAt(d, ref).cast("long").as("age"),
      tenure.cast("long").as("tenure_days"),
      Cleaning.customerSegment(tenure).as("segment"))
  }

  /** B5: keyword → region mapping over synthesized state names. */
  private def qRegionMap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = table(s, dir, "nation")
    val state = element_at(
      lit(Array("Delhi", "Punjab", "UP", "Maharashtra", "Gujarat",
        "Karnataka", "Tamil Nadu", "West Bengal", "Bihar", "Goa")),
      ($"n_nationkey" % 10 + 1).cast("int"))
    n.select($"n_nationkey", state.as("state"),
      Cleaning.regionOf(state).as("region"))
  }

  /** B6a: loan-risk bucketing + per-bucket aggregate. */
  private def qRiskCategory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    o.select($"o_orderkey", ($"o_totalprice" * 3).as("amount"))
      .withColumn("risk", Cleaning.riskCategory($"amount"))
      .groupBy($"risk")
      .agg(count(lit(1)).as("n"), round(sum($"amount"), 2).as("total"))
  }

  /** B6b: transaction-size bucketing on the events stream table. */
  private def qTxnCategory(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events")
    e.select(($"value" * 100).as("amount"))
      .withColumn("category", Cleaning.txnCategory($"amount"))
      .groupBy($"category")
      .agg(count(lit(1)).as("n"), round(sum($"amount"), 2).as("total"))
  }

  /** B7: string → boolean flag parsing (fraud_flag semantics). */
  private def qBoolParse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events")
    val raw = element_at(
      lit(Array("true", "YES", "y", "1", "false", "no", "0", "")),
      ($"event_id" % 8 + 1).cast("int"))
    e.select($"event_id", raw.as("raw_flag"),
      Cleaning.parseBool(raw).as("flag"))
  }

  /** B9: whole-month period difference (loan_duration_months). */
  private def qDurationMonths(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem")
    val o = table(s, dir, "orders")
    li.join(o, $"l_orderkey" === $"o_orderkey")
      .select($"l_orderkey", $"l_linenumber",
        Cleaning.monthsBetweenWhole($"o_orderdate".cast("date"),
          $"l_shipdate".cast("date")).cast("long").as("duration_months"))
  }

  // ---------------------------------------------------------------- D. load semantics

  /** D1: incremental append — only keys absent from `existing` survive.
    * Existing set = orders with o_orderkey % 3 != 0 (deterministic).
    */
  private def qIncrementalAppend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val existing = o.filter($"o_orderkey" % 3 =!= 0)
    Loads.incrementalNew(o, existing, Seq("o_orderkey"))
      .select($"o_orderkey", $"o_orderstatus",
        round($"o_totalprice", 2).as("price"))
  }

  /** D2: SCD1 upsert — updates (version 1) overwrite base (version 0). */
  private def qUpsertMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val base = o.select($"o_orderkey", $"o_totalprice".as("price"),
      lit(0).as("version"))
    // additive delta (not a multiplier): keeps prices at whole cents, so
    // round() can't hit a half-cent boundary where Spark (HALF_UP) and
    // DuckDB (HALF_EVEN) disagree
    val updates = o.filter($"o_orderkey" % 4 === 0)
      .select($"o_orderkey", ($"o_totalprice" + 100000).as("price"),
        lit(1).as("version"))
    Loads.upsert(base, updates, Seq("o_orderkey"), "version")
      .select($"o_orderkey", round($"price", 2).as("price"), $"version")
  }

  /** D3: row-count reconciliation report. */
  private def qCountVerify(s: SparkSession, dir: String): DataFrame =
    Loads.countReport(Map(
      "customer" -> table(s, dir, "customer"),
      "orders" -> table(s, dir, "orders"),
      "lineitem" -> table(s, dir, "lineitem"),
      "events" -> table(s, dir, "events"),
      "documents" -> table(s, dir, "documents")))

  // ---------------------------------------------------------------- A. staging

  /** A1: raw-string staging semantics — every column as text, trimmed,
    * plus the numeric-digits sort key the reference derives
    * (extract.py:272 _extract_numeric_id). Kept as a COLUMN, not a
    * driver-side sort — a global order is meaningless at 100 TB.
    */
  private def qStageRaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "customer").select(
      $"c_custkey".cast("string").as("customer_id"),
      trim($"c_name").as("name"),
      $"c_nationkey".cast("string").as("nation_id"),
      trim($"c_mktsegment").as("segment"),
      regexp_replace($"c_name", "[^0-9]", "").cast("long").as("numeric_sort_key"))
  }

  // ---------------------------------------------------------------- C. relational core (cont.)

  /** C8: distinct-count aggregates (expand + two-phase agg in Spark). */
  private def qDistinctAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
  }

  /** C9: exact interpolated percentiles per group. */
  private def qPercentiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(round(percentile($"o_totalprice", lit(0.5)), 2).as("p50"),
        round(percentile($"o_totalprice", lit(0.95)), 2).as("p95"))
  }

  /** C10: set operations — key sets with/without matching orders. */
  private def qSetOps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_custkey".as("key"))
    val o = table(s, dir, "orders").select($"o_custkey".as("key"))
    c.intersect(o).withColumn("tag", lit("with_orders"))
      .unionByName(c.except(o).withColumn("tag", lit("no_orders")))
  }

  /** C11: semi join (EXISTS). */
  private def qSemiJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer")
    val o = table(s, dir, "orders")
    c.join(o, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_mktsegment")
  }

  /** C12: pivot (count matrix status × priority). */
  private def qPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .pivot($"o_orderpriority", Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
        "4-NOT SPECIFIED", "5-LOW"))
      .agg(count(lit(1)))
      .na.fill(0L)
  }

  /** C13: ordered collect → delimited string (deterministic repr). */
  private def qCollectAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(array_join(sort_array(collect_set($"o_orderstatus")), ",")
        .as("statuses"), count(lit(1)).as("n"))
  }

  /** C14: window function suite — lag/lead/rank over a per-user order. */
  private def qWindowFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val byTs = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val byVal = Window.partitionBy($"user_id")
      .orderBy($"value".desc, $"event_id")
    table(s, dir, "events").select($"event_id", $"user_id",
      round(lag($"value", 1).over(byTs), 2).as("prev_value"),
      round(lead($"value", 1).over(byTs), 2).as("next_value"),
      rank().over(byVal).cast("long").as("value_rank"))
  }

  /** B10: JSON property extraction from the events props column. */
  private def qJsonExtract(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "events").select($"event_id",
      get_json_object($"props", "$.k").cast("long").as("k"))
  }

  /** B11: string function suite (pad/reverse/substr/replace/edit-dist). */
  private def qStringFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "customer").select($"c_custkey",
      lpad($"c_custkey".cast("string"), 8, "0").as("padded"),
      reverse($"c_name").as("reversed"),
      substring($"c_name", 10, 5).as("sub"),
      regexp_replace($"c_mktsegment", "A", "@").as("replaced"),
      levenshtein($"c_mktsegment", reverse($"c_mktsegment")).cast("long")
        .as("edit_dist"))
  }

  /** B12: date function suite (offsets, month arithmetic, trunc, parts). */
  private def qDateFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = $"o_orderdate".cast("date")
    table(s, dir, "orders").select($"o_orderkey",
      date_add(d, 30).cast("string").as("plus_30d"),
      add_months(d, 1).cast("string").as("plus_1m"),
      trunc(d, "month").cast("string").as("month_start"),
      dayofweek(d).cast("long").as("dow"),
      quarter(d).cast("long").as("qtr"))
  }

  // ---------------------------------------------------------------- E. text analysis

  /** E10: whitespace + BPE-ish regex token counts. */
  private def qTokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select($"doc_id",
      TextFunctions.wsTokenCount($"text").cast("long").as("ws_tokens"),
      TextFunctions.regexTokenCount($"text").cast("long").as("regex_tokens"))
  }

  /** E8: heuristic language ID + per-language marker scores. */
  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select($"doc_id",
      TextFunctions.langScore($"text", "en").cast("long").as("s_en"),
      TextFunctions.langScore($"text", "es").cast("long").as("s_es"),
      TextFunctions.langId($"text").as("lang_pred"))
  }

  /** E9: document quality score. */
  private def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select($"doc_id",
      TextFunctions.qualityScore($"text").as("quality"))
  }

  /** E74: readability scoring (Flesch ease + FK grade) — the classic
    * education-level quality signal over exact per-row integer counts
    * (words, sentence-punctuation runs, vowel-group syllables); one
    * narrow-input scan, no shuffle.
    */
  private def qReadability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = TextFunctions.wsTokenCount($"text").cast("long")
    val se = TextFunctions.sentenceCount($"text")
    val sy = TextFunctions.syllableCount($"text")
    table(s, dir, "documents").select($"doc_id",
      w.as("n_words"), se.as("n_sentences"), sy.as("n_syllables"),
      TextFunctions.fleschEase(w, se, sy).as("reading_ease"),
      TextFunctions.fkGrade(w, se, sy).as("fk_grade"))
  }

  /** E75: encoding-damage audit — mojibake (UTF-8-as-Latin-1
    * artifacts) + control-char counts. Artifacts are PLANTED
    * deterministically (docs with doc_id%5=0 get their 'e's read as
    * 'Ã©') so the detector provably fires and the oracle re-derives
    * the same corpus; scan-only, no shuffle.
    */
  private def qMojibake(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val planted = table(s, dir, "documents").select($"doc_id",
      when($"doc_id" % 5 === 0, regexp_replace($"text", "e", "Ã©"))
        .otherwise($"text").as("text"))
    planted.select($"doc_id",
      TextFunctions.mojibakeCount($"text").as("n_moji"),
      TextFunctions.ctrlCharCount($"text").as("n_ctrl"),
      (TextFunctions.mojibakeCount($"text") > 0).as("flagged"))
  }

  /** E11: content fingerprint of normalized text. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents").select($"doc_id",
      TextFunctions.fingerprint($"text").as("fingerprint"),
      length(TextFunctions.normalizeText($"text")).cast("long").as("norm_len"))
  }

  // ---------------------------------------------------------------- E. dedup

  /** Documents + deterministic duplicates: near-dups (normalized text
    * minus last word, doc_id+1e6 for doc_id%10=0) and exact dups
    * (doc_id+2e6 for doc_id%7=0) — so dedup operators provably fire.
    */
  private def dupCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents").select($"doc_id", $"text")
    val norm = TextFunctions.normalizeText($"text")
    val near = d.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 1000000).as("doc_id"),
        regexp_replace(norm, " [a-z0-9]+$", "").as("text"))
    val exact = d.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 2000000).as("doc_id"), $"text")
    // round-12: measured BOTH ways — a fanOut here parallelized the
    // heavy consumers but taxed the light ones (q_dedup_exact /
    // q_dedup_incremental pay one md5 per row; the exchange alone
    // +0.2-0.5s each). The spread lives in the HEAVY operators'
    // input boundaries instead (docShingles, minhash*, simhash,
    // winnowPairs, SetSim, ngramJaccardPairs), where it no-ops on
    // already-wide inputs.
    d.unionByName(near).unionByName(exact)
  }

  /** The dup-seeded corpus the E1-E4/E42 gate queries read, for specs
    * that test those operators on it — not part of the driver
    * contract. */
  def dupCorpusForProfiling(s: SparkSession, dir: String): DataFrame =
    dupCorpus(s, dir)

  /** E1: exact dedup groups over the dup-seeded corpus. */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame =
    Dedup.exact(dupCorpus(s, dir), "text", "doc_id")

  /** E2: word-5-gram Jaccard near-dup pairs (threshold 0.6). */
  private def qDedupNgram(s: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id", 5, 0.6)

  /** E3: MinHash LSH candidates (3 bands × 3 rows, 5-gram shingles). */
  private def qDedupMinhash(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshCandidates(dupCorpus(s, dir), "text", "doc_id", 5, 3, 3)

  /** E80: dedup-evaluation scorecard — precision/recall of the
    * MinHash-LSH candidate pairs against the PLANTED ground truth
    * (dupCorpus's near/exact/transitive dup pairs are known by
    * construction). The meta-operator every curation pipeline needs
    * before trusting a dedup config at 100 TB: counts and micro-unit
    * ratios are exact integers; one semi-join-shaped left join + two
    * tiny aggregates.
    */
  private def qDedupEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pred = Dedup.minhashLshCandidates(dupCorpus(s, dir), "text",
      "doc_id", 5, 3, 3).select($"id_a", $"id_b")
    val d = table(s, dir, "documents").select($"doc_id")
    val truth = d.filter($"doc_id" % 10 === 0)
      .select($"doc_id".as("id_a"), ($"doc_id" + 1000000).as("id_b"))
      .unionByName(d.filter($"doc_id" % 7 === 0)
        .select($"doc_id".as("id_a"), ($"doc_id" + 2000000).as("id_b")))
      .unionByName(d.filter($"doc_id" % 70 === 0)
        .select(($"doc_id" + 1000000).as("id_a"),
          ($"doc_id" + 2000000).as("id_b")))
    val marked = pred
      .join(truth.withColumn("__t", lit(1L)), Seq("id_a", "id_b"), "left")
    val predStats = marked.agg(count(lit(1)).as("n_pred"),
      sum(coalesce($"__t", lit(0L))).as("tp"))
    val truthStats = truth.agg(count(lit(1)).as("n_truth"))
    predStats.crossJoin(truthStats).select(
      $"n_pred", $"n_truth", $"tp",
      ($"n_pred" - $"tp").as("fp"),
      ($"n_truth" - $"tp").as("fn"),
      expr("(1000000 * tp) div n_pred").as("precision_micro"),
      expr("(1000000 * tp) div n_truth").as("recall_micro"))
  }

  /** E45: incremental MinHash LSH — the dup-seeded extras arrive as a
    * NEW batch and are screened against the ORIGINAL corpus's
    * persisted band store: exact dups collide in every band, near
    * dups in ≥1, fresh docs in none; the original corpus text is
    * never rescanned.
    */
  private def qMinhashIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val docs = table(s, dir, "documents").select($"doc_id", $"text")
    val store = Dedup.minhashBands(docs, "text", "doc_id", 5, 3, 3)
    val batch = dupCorpus(s, dir).filter($"doc_id" >= 1000000L)
    Dedup.incrementalMinhash(batch, "text", "doc_id", store, 5, 3, 3)
  }

  /** E48: MinHash Jaccard estimates vs exact, on the LSH candidates —
    * the signature-only thresholding path a 100 TB dedup runs before
    * exact verification; est and exact each one exact-int division.
    */
  private def qMinhashEst(s: SparkSession, dir: String): DataFrame =
    Dedup.minhashJaccardEstimates(dupCorpus(s, dir), "text", "doc_id",
      5, 3, 3)

  /** E4: SimHash near-dup pairs (xxhash64 tokens — no DuckDB
    * equivalent, so this is a rows-only gate + SimhashSpec).
    */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearPairs(dupCorpus(s, dir), "text", "doc_id", 3)

  /** E4b: PORTABLE simhash — 60-bit signature with md5-derived token
    * hashes, so the full signature is oracle-checkable bit-for-bit in
    * DuckDB (integer vote sums are order-independent). The xxhash64
    * native expression (q_dedup_simhash) stays the production fast
    * path; this query proves the simhash construction itself.
    */
  private def qSimhashPortable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    val tok = d.select($"doc_id",
        explode(TextFunctions.words($"text")).as("w"))
      .withColumn("h", conv(substring(md5($"w".cast("binary")), 1, 15),
        16, 10).cast("long"))
    val votes = (0 until 60).map { b =>
      sum(when(shiftright($"h", b).bitwiseAND(1) === 1, 1)
        .otherwise(-1)).as(s"v$b")
    }
    val sig = (0 until 60).map { b =>
      when(col(s"v$b") > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    tok.groupBy($"doc_id").agg(votes.head, votes.tail: _*)
      .select($"doc_id", sig.as("sig"))
  }

  /** E16: repetition-based quality (Gopher/C4-style): fraction of all
    * word bigrams taken by the most frequent one, plus mean word length.
    */
  private def qRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    val bi = d.select($"doc_id",
        explode(TextFunctions.shingles($"text", 2)).as("bg"))
      .groupBy($"doc_id", $"bg").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(max($"c").as("max_bg"), sum($"c").as("n_bg"))
    val words = d.select($"doc_id",
        explode(TextFunctions.words($"text")).as("w"))
      .groupBy($"doc_id")
      .agg(round(avg(length($"w")), 4).as("mean_word_len"))
    bi.join(words, "doc_id")
      .select($"doc_id", $"max_bg", $"n_bg",
        round($"max_bg" / $"n_bg".cast("double"), 4).as("top_bigram_frac"),
        $"mean_word_len")
  }

  /** E17: sequence packing — assign documents to fixed-token-budget
    * training sequences by running token count (greedy in doc_id
    * order). The packing itself is one window cumsum: no driver loop,
    * partitionable by adding a shard key at scale.
    */
  private def qPackSequences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // shards=1 here so the oracle is a plain global cumsum; the operator
    // shards at scale (see operators.Packing scaladoc + PackingSpec)
    graft.operators.Packing.packSequences(
        table(s, dir, "documents").select($"doc_id",
          TextFunctions.wsTokenCount($"text").cast("long").as("n_tokens")),
        "doc_id", "n_tokens", 512L, shards = 1)
      .select($"doc_id", $"n_tokens", $"seq_id")
  }

  /** SQL-API surface: the same engine through `spark.sql` over temp
    * views — a reference user can bring plain SQL instead of the
    * DataFrame API.
    */
  private def qSqlApi(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").createOrReplaceTempView("orders_v")
    table(s, dir, "customer").createOrReplaceTempView("customer_v")
    s.sql("""
      SELECT c_mktsegment, o_orderpriority,
             count(*) AS n, round(sum(o_totalprice), 2) AS revenue
      FROM orders_v JOIN customer_v ON o_custkey = c_custkey
      WHERE o_orderstatus = 'O'
      GROUP BY c_mktsegment, o_orderpriority""")
  }

  /** C20: arg-min/arg-max aggregates with deterministic composite
    * tie-break (struct ordering).
    */
  private def qMinmaxBy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // composite ordering key: price*1e9 + key is integer-exact in a
    // double (cents*1e7 ≤ 5e14 < 2^53) and strictly lexicographic, so
    // ties on price break deterministically by key on BOTH engines
    // (duckdb's arg_max can't order by a struct)
    val comp = $"o_totalprice" * 1000000000.0 + $"o_orderkey"
    table(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .agg(
        max_by($"o_orderkey", comp).as("key_of_max_price"),
        min_by($"o_orderkey", comp).as("key_of_min_price"))
  }

  /** C21: fixed-bound histogram (manual bucket arithmetic — portable
    * across engines, unlike width_bucket).
    */
  private def qHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bucket = least(floor($"o_totalprice" / 50000.0), lit(9.0))
      .cast("long")
    table(s, dir, "orders")
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
  }

  /** C22: unpivot (melt) — the pivot matrix folded back to long form. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
      "5-LOW")
    table(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .pivot($"o_orderpriority", prios)
      .agg(count(lit(1)))
      .na.fill(0L)
      .unpivot(Array($"o_orderstatus"), prios.map(col).toArray,
        "priority", "n")
      .select($"o_orderstatus".as("status"), $"priority", $"n")
  }

  /** E18: embedding explode to long form (vec_id, idx, value) — the
    * layout feature stores and matrix pipelines exchange.
    */
  private def qExplodeEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "embeddings")
      .select($"vec_id", posexplode($"embedding"))
      .select($"vec_id", ($"pos" + 1).cast("long").as("idx"),
        round($"col".cast("double"), 6).as("value"))
  }

  /** B13: null-handling semantics (coalesce / nullif / ifnull). */
  private def qNullSemantics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val v = when($"c_custkey" % 3 === 0, lit(null).cast("string"))
      .when($"c_custkey" % 3 === 1, lit("x"))
      .otherwise(lit(""))
    table(s, dir, "customer").select($"c_custkey",
      coalesce(v, lit("dflt")).as("coalesced"),
      nullif(v, lit("x")).as("nullified"),
      expr("ifnull(nullif(c_mktsegment, 'FURNITURE'), 'was-furniture')")
        .as("ifnulled"))
  }

  /** C23: distribution window functions — percent_rank / cume_dist /
    * ntile over a deterministic (value, id) order.
    */
  private def qRankSuite(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority")
      .orderBy($"o_totalprice", $"o_orderkey")
    table(s, dir, "orders").select($"o_orderpriority", $"o_orderkey",
      round(percent_rank().over(w), 6).as("pct_rank"),
      round(cume_dist().over(w), 6).as("cume"),
      ntile(4).over(w).cast("long").as("quartile"))
  }

  // ---------------------------------------------------------------- E. similarity

  /** Embeddings + exact copies (vec_id%20=0 → +1e6) so near-dup pairs
    * exist at cosine 1.0.
    */
  private def dupEmbeddings(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "embeddings")
    e.unionByName(e.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 1000000).as("vec_id"), $"embedding", $"label"))
  }

  /** E5: embedding near-dup pairs (cosine ≥ 0.99), label-blocked. */
  private def qEmbedDup(s: SparkSession, dir: String): DataFrame =
    Similarity.cosineNearDupPairs(dupEmbeddings(s, dir), "vec_id",
      "embedding", "label", 0.99)

  /** E56: SemDeDup funnel over the dup-seeded embeddings — q_embed_dup's
    * cosine pairs resolved to transitive clusters with one keeper each;
    * every vector gets its (cluster_id, n_members, keep) verdict.
    */
  private def qSemanticDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.semanticDedup(dupEmbeddings(s, dir), "vec_id",
        "embedding", "label", 0.99)
      .select($"id".as("vec_id"), $"cluster_id", $"n_members", $"keep")
  }

  /** E6: brute-force cosine top-5 for query vectors (vec_id%1000=0),
    * ranked by the custom bounded-heap aggregate (map-side partial
    * top-k — see plans.TopKBy).
    */
  private def qAnnTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "embeddings")
    Similarity.bruteForceTopKAgg(e, e.filter($"vec_id" % 1000 === 0),
      "vec_id", "embedding", 5)
  }

  /** E7: SRP-LSH bucketed ANN top-5 (8 planes over 64 dims). */
  private def qAnnLsh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "embeddings")
    Similarity.lshTopK(e, e.filter($"vec_id" % 1000 === 0),
      "vec_id", "embedding", 5, 8, 64)
  }

  /** E7b: IVF ANN — centroids = every 250th vector, 2-cell probe. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "embeddings")
    Similarity.ivfTopK(e, e.filter($"vec_id" % 1000 === 0),
      e.filter($"vec_id" % 250 === 0), "vec_id", "embedding", 5, 2)
  }

  /** H25: int8 scalar quantization of the embedding corpus — per-dim
    * [min,max] from ONE aggregate (dim-cardinality broadcast back),
    * codes via floor(+0.5) on identically-computed doubles so the
    * integer output is engine-exact (Similarity.quantizeInt8). The 4×
    * memory/IO lever for the ANN candidate scan; quantized-scan +
    * exact-rerank search is spec-gated (AsOfIvfSpec recall).
    */
  private def qQuantizeInt8(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.quantizeInt8(table(s, dir, "embeddings"), "vec_id", "embedding")
      .select($"id".as("vec_id"), $"pos", $"code")
  }

  /** C15: as-of join — each purchase gets the user's latest prior click
    * (point-in-time correctness, the operator Spark lacks natively).
    */
  private def qAsofJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", $"ts", $"event_id", $"value")
    graft.operators.AsOf.asOfJoin(purchases, clicks, Seq("user_id"),
        "ts", "ts", Seq("event_id", "value"))
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"asof_event_id".as("click_id"),
        round($"asof_value", 2).as("click_value"))
  }

  /** C16: range-frame window — 1-hour trailing sum per user (RANGE, not
    * ROWS: frames defined by value distance, the other window frame
    * class).
    */
  private def qRangeWindow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"us")
      .rangeBetween(-3600000000L, 0L)
    table(s, dir, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"), $"value")
      .select($"event_id", $"user_id",
        round(sum($"value").over(w), 2).as("trailing_1h"))
  }

  /** C17: CUBE — all grouping-set combinations. */
  private def qCubeAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .cube($"o_orderstatus", $"o_orderpriority")
      .agg(count(lit(1)).as("n"), round(sum($"o_totalprice"), 2).as("total"))
      .select(coalesce($"o_orderstatus", lit("ALL")).as("status"),
        coalesce($"o_orderpriority", lit("ALL")).as("priority"),
        $"n", $"total")
  }

  /** E13: reproducible train/val/test split by content hash — the
    * training-pipeline split must not depend on RNG state or
    * partitioning (operators.Validate.splitAssign).
    */
  private def qSplitAssign(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id",
        graft.operators.Validate.splitAssign($"doc_id").as("split"))
      .groupBy($"split").agg(count(lit(1)).as("n"))
  }

  /** E57: deterministic epoch shuffle — every document placed at a
    * reproducible (shard, position) for epoch "ep1"; re-salting with
    * the epoch number re-randomizes without any RNG state
    * (operators.Packing.shuffleShards).
    */
  private def qShuffleShards(s: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.shuffleShards(
      table(s, dir, "documents"), "doc_id", 8, "ep1")

  /** G3: data-quality report — N rules, one scan (operators.Validate). */
  private def qValidate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.operators.Validate
    Validate.report(table(s, dir, "orders"), Seq(
      Validate.Rule("totalprice_positive", $"o_totalprice" > 0),
      Validate.Rule("status_known", $"o_orderstatus".isin("F", "O", "P")),
      Validate.Rule("custkey_not_null", $"o_custkey".isNotNull),
      Validate.Rule("date_in_range",
        $"o_orderdate" >= lit("1990-01-01").cast("timestamp"))))
  }

  /** C18: statistical aggregates (stddev/variance/corr/covar). */
  private def qStatsAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(round(stddev_samp($"l_quantity"), 4).as("sd_qty"),
        round(var_samp($"l_quantity"), 4).as("var_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 4).as("corr_qp"),
        round(covar_samp($"l_quantity", $"l_extendedprice"), 2).as("covar_qp"))
  }

  /** E14: PII masking — a curation pass every training corpus needs.
    * PII synthesized deterministically so the masking provably fires.
    */
  private def qPiiMask(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withPii = concat($"text", lit(" contact: user"), $"doc_id",
      lit("@example.com or +1-555-"),
      lpad(($"doc_id" % 10000).cast("string"), 4, "0"))
    table(s, dir, "documents").select($"doc_id",
      regexp_replace(
        regexp_replace(withPii,
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "[EMAIL]"),
        "\\+?\\d[\\d-]{7,}\\d", "[PHONE]").as("masked"))
  }

  /** E38: PII detection with validation — candidates by regex, then a
    * checksum/range validation pass (Luhn for 16-digit cards, octet
    * range for IPv4) so random digit runs don't count as PII. PII is
    * synthesized deterministically with KNOWN validity (valid card on
    * doc_id%3=0, broken check digit on %3=1; valid IP on even ids,
    * out-of-range octets on odd), so the validators provably separate.
    * Everything is integer/boolean arithmetic — exact parity.
    */
  private def qPiiDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val card = when($"doc_id" % 3 === 0, " card 4532015112830366 on file")
      .when($"doc_id" % 3 === 1, " card 4532015112830367 on file")
      .otherwise("")
    val ip = when($"doc_id" % 2 === 0, lit(" from 10.1.2.3"))
      .otherwise(lit(" from 999.1.2.300"))
    val t = concat($"text", card, ip,
      lit(" user"), $"doc_id", lit("@example.com"))
    // group 0 = the whole match (Spark's 2-arg form defaults to group 1)
    val cards = regexp_extract_all(t, lit(TextFunctions.card16Pattern), lit(0))
    val ips = regexp_extract_all(t, lit(TextFunctions.ipv4Pattern), lit(0))
    val nEmail =
      size(regexp_extract_all(t, lit(TextFunctions.emailPattern), lit(0)))
    val nCardValid = size(filter(cards, TextFunctions.luhn16 _))
    val nIpValid = size(filter(ips, TextFunctions.ipv4Valid _))
    table(s, dir, "documents").select($"doc_id",
        nEmail.cast("long").as("n_email"),
        size(cards).cast("long").as("n_card_cand"),
        nCardValid.cast("long").as("n_card_valid"),
        size(ips).cast("long").as("n_ip_cand"),
        nIpValid.cast("long").as("n_ip_valid"),
        (nEmail > 0 || nCardValid > 0 || nIpValid > 0).as("has_pii"))
  }

  /** E15 flagship composition: corpus curation — quality + language
    * filter → exact-dedup (keep min id per content) → reproducible
    * split assignment → per-split stats. Every stage is one of the
    * library's operators; this is the end-to-end a training-data
    * pipeline runs.
    */
  private def qCurateCorpus(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = dupCorpus(s, dir)
      .withColumn("quality", TextFunctions.qualityScore($"text"))
      .withColumn("lang", TextFunctions.langId($"text"))
      .filter($"quality" >= 0.3 && $"lang" === "en")
    val w = Window.partitionBy(TextFunctions.fingerprint($"text"))
      .orderBy($"doc_id")
    corpus.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1)
      .select($"doc_id", $"quality",
        graft.operators.Validate.splitAssign($"doc_id").as("split"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        round(avg($"quality"), 4).as("avg_quality"))
  }

  /** C15b: the SAME as-of semantics through the native custom operator
    * (LogicalPlan + Strategy + SparkPlan, plans.AsOfJoinExec) — graded
    * against the identical DuckDB oracle as q_asof_join.
    */
  private def qAsofNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"ts")
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id".as("c_user"), $"ts".as("c_ts"),
        $"event_id".as("c_event_id"), $"value".as("c_value"))
    graft.plans.AsOfNative.asOfJoin(purchases, clicks,
        "user_id", "c_user", "ts", "c_ts")
      .select($"event_id", $"user_id", unix_micros($"ts").as("ts_us"),
        $"c_event_id".as("click_id"),
        round($"c_value", 2).as("click_value"))
  }

  /** C19: range (band) join — clicks within ±30 min of each purchase by
    * the same user, via the bucketed equi-join form (operators.AsOf.
    * rangeJoin) — no nested-loop join at any scale.
    */
  private def qRangeJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"event_id".as("p_id"), $"user_id",
        unix_micros($"ts").as("p_us"))
    val clicks = ev.filter($"event_type" === "click")
      .select($"user_id", unix_micros($"ts").as("c_us"),
        $"value".as("c_value"))
    graft.operators.AsOf.rangeJoin(purchases, clicks, Seq("user_id"),
        "p_us", "c_us", 1800000000L)
      .groupBy($"p_id", $"user_id")
      .agg(count(lit(1)).as("n_nearby_clicks"),
        round(sum($"c_value"), 2).as("nearby_value"))
  }

  /** E19: the FULL dedup funnel — exact dedup, then MinHash-LSH
    * near-dup pruning (greedy keep-lowest-id) over the survivors; one
    * row out with the funnel counts. This is the shape of a production
    * corpus-dedup run: each stage is one of the library's operators,
    * every shuffle keyed.
    */
  private def qCurateNeardup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = dupCorpus(s, dir)
    val w = Window.partitionBy(TextFunctions.fingerprint($"text"))
      .orderBy($"doc_id")
    // round-12: survivors feeds three consumer branches (the exact
    // count, the minhash candidate pass, the anti-join) which raced to
    // recompute the whole window pipeline per branch once the corpus
    // carried a fanOut exchange — persist+count materializes the
    // per-doc (non-exploded — the SetSim caveat doesn't apply) frame
    // once; the count IS n_after_exact, so no extra pass is paid.
    val survivors = corpus.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1).drop("__rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nAfterExact = survivors.count()
    val dropIds = Dedup.minhashLshCandidates(survivors, "text", "doc_id",
        5, 3, 3)
      .select($"id_b".as("doc_id")).distinct()
    val finalDocs = survivors.join(dropIds, Seq("doc_id"), "left_anti")
    graft.sealResult(
      corpus.agg(count(lit(1)).as("n_input"))
        .crossJoin(finalDocs.agg(count(lit(1)).as("n_after_near")))
        .select($"n_input", lit(nAfterExact).as("n_after_exact"),
          $"n_after_near"),
      survivors)
  }

  /** C24: GROUPING SETS — the explicit grouping-set form next to
    * rollup (C7) and cube (C17); exercised through the SQL surface
    * (there is no DataFrame-API equivalent).
    */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").createOrReplaceTempView("orders_gs")
    s.sql("""
      SELECT coalesce(o_orderstatus, 'ALL') AS status,
             coalesce(o_orderpriority, 'ALL') AS priority,
             count(*) AS n, round(sum(o_totalprice), 2) AS total
      FROM orders_gs
      GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                              (o_orderstatus, o_orderpriority))""")
  }

  /** C25: correlated scalar subquery — Catalyst rewrites it to an
    * aggregate + left join, the scale-correct plan. Integer count
    * semantics so no float-boundary can flip rows between engines.
    */
  private def qScalarSubquery(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").createOrReplaceTempView("orders_sq")
    s.sql("""
      SELECT o_orderkey, price, cust_orders FROM (
        SELECT o.o_orderkey, round(o.o_totalprice, 2) AS price,
          (SELECT count(*) FROM orders_sq o2
           WHERE o2.o_custkey = o.o_custkey) AS cust_orders
        FROM orders_sq o) t
      WHERE cust_orders >= 8""")
  }

  /** C26: value-position window frame suite — first/last/nth value over
    * a sliding 4-row frame (ROWS, bounded preceding).
    */
  private def qWindowFrames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      .rowsBetween(-3, Window.currentRow)
    table(s, dir, "events").select($"event_id", $"user_id",
      round(first($"value").over(w), 2).as("first_in_frame"),
      round(last($"value").over(w), 2).as("last_in_frame"),
      round(nth_value($"value", 2).over(w), 2).as("second_in_frame"))
  }

  /** C27: conditional aggregates — count_if / filtered sum / bool_and /
    * bool_or (all map-side-combinable single-pass aggregates).
    */
  private def qConditionalAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "orders")
      .groupBy($"o_orderstatus")
      .agg(
        count_if($"o_totalprice" > 200000).as("n_big"),
        // else-branch stays decimal(12,2): an 0.0 double literal would
        // coerce the whole CASE to double and make the sum fp-order-
        // dependent, while the DuckDB oracle sums exactly in decimal
        round(sum(when($"o_orderpriority" === "1-URGENT", $"o_totalprice")
          .otherwise(lit(0).cast("decimal(12,2)"))), 2).as("urgent_total"),
        bool_and($"o_totalprice" > 0).as("all_positive"),
        bool_or($"o_totalprice" > 400000).as("any_huge"))
  }

  /** F5: time-series gap-fill — a dense hourly spine (generated
    * distributed from one sequence(), never a driver loop) cross the
    * type dimension, left-joined to the hourly totals, zero-filled.
    * The spine side is tiny at any data scale (hours × types), so both
    * joins broadcast; the only real shuffle is the hourly aggregate.
    */
  private def qGapfill(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
    val hourly = ev
      .groupBy(date_trunc("hour", $"ts").as("h"), $"event_type")
      .agg(count(lit(1)).as("cnt"), round(sum($"value"), 2).as("sum_v"))
    val spine = ev
      .agg(date_trunc("hour", min($"ts")).as("mn"),
        date_trunc("hour", max($"ts")).as("mx"))
      .select(explode(expr("sequence(mn, mx, interval 1 hour)")).as("h"))
    val types = ev.select($"event_type").distinct()
    spine.crossJoin(types)
      .join(hourly, Seq("h", "event_type"), "left")
      .select(unix_micros($"h").as("hour_us"), $"event_type",
        coalesce($"cnt", lit(0L)).as("n"),
        coalesce($"sum_v", lit(0.0)).as("total"))
  }

  /** E20: Gopher-style quality-rule bundle — word count, mean word
    * length (exact from the normalized text: chars minus separators
    * over words — no per-word explode), symbol ratio, stopword floor,
    * and the combined keep decision. One scan, all codegen'd exprs.
    */
  private def qGopherQuality(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val norm = TextFunctions.normalizeText($"text")
    val nw = size(TextFunctions.words($"text"))
    val meanLen = (length(norm) - (nw - 1)).cast("double") / nw
    val nChars = length($"text")
    val symRatio = when(nChars > 0,
      length(regexp_replace($"text", "[A-Za-z0-9\\s]", "")).cast("double")
        / nChars).otherwise(lit(0.0))
    val stops = TextFunctions.langScore($"text", "en")
    table(s, dir, "documents").select($"doc_id",
      nw.cast("long").as("n_words"),
      round(meanLen, 4).as("mean_word_len"),
      round(symRatio, 4).as("symbol_ratio"),
      stops.cast("long").as("n_stopwords"),
      (nw >= 50 && nw <= 100000 && meanLen >= 3.0 && meanLen <= 10.0 &&
        symRatio <= 0.1 && stops >= 2).as("keep"))
  }

  /** E21: near-dup CLUSTER resolution — the ngram Jaccard pairs are
    * edges of an undirected graph; connected components (iterated
    * min-label propagation, operators.Graph) collapses transitive
    * chains (a~b, b~c ⇒ {a,b,c}) into one cluster labeled by its min
    * doc id. This is the step that turns pairwise near-dup detection
    * into an actionable "keep one per cluster" decision.
    */
  private def qDedupCluster(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.connectedComponents(pairs, "id_a", "id_b")
      .select($"id".as("doc_id"), $"comp".as("cluster_id"))
  }

  /** E65: leakage-safe train/val/test split — the assignment unit is
    * the near-dup CLUSTER, not the document: a per-doc hash split
    * puts near-copies of one page on both sides of the train/eval
    * fence and the benchmark silently leaks. Clusters come from the
    * SAME pipeline as q_dedup_cluster (LSH pairs → connected
    * components); unpaired docs are their own singleton cluster; the
    * split is E22's md5 arithmetic applied to the CLUSTER label, so
    * same-cluster ⇒ same-split by construction — and the oracle
    * re-derives the whole composition, closure included.
    */
  private def qLeakageSplit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = dupCorpus(s, dir)
    val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 5, 0.6)
    val clusters = Graph.connectedComponents(pairs, "id_a", "id_b")
      .select($"id".as("doc_id"), $"comp".as("cluster_id"))
    corpus.select($"doc_id")
      .join(clusters, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"cluster_id", $"doc_id").as("cluster_id"))
      .withColumn("split",
        graft.operators.Validate.splitAssign($"cluster_id"))
  }

  /** E30: PageRank over the near-dup candidate graph (10 fixed
    * rounds) — ranking duplicate-cluster "centers". Two keyed shuffles
    * per round, degrees cached, nothing driver-side. Rows-only gate
    * (fp aggregation order); semantics in GraphSamplingSpec.
    */
  private def qPageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.pageRank(pairs, "id_a", "id_b")
      .select($"id".as("doc_id"), round($"rank", 6).as("rank"))
  }

  /** E30: fixed-point PageRank twin over the SAME near-dup graph as
    * q_pagerank — every arithmetic step is exact integer math
    * (rank in 1e12-units, integer div contributions, rational 85/100
    * damping), so unlike the float form this one carries a HARD
    * hash-equality oracle: DuckDB unrolls the same 5 rounds in
    * integer SQL and must match bit-for-bit.
    */
  private def qPageRankFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.pageRankFixed(pairs, "id_a", "id_b")
      .select($"id".as("doc_id"), $"rank_fp")
  }

  /** E101: personalized PageRank over the SAME near-dup graph, seeded
    * at the minimum node id — proximity-to-seed relevance scores
    * under the pageRankFixed exact-integer discipline (hard hash
    * gate: DuckDB unrolls the same 5 seed-conditional rounds).
    */
  private def qPpr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    val seed = pairs.select($"id_a".as("id"))
      .union(pairs.select($"id_b".as("id")))
      .agg(min($"id").as("id"))
    Graph.pprFixed(pairs, "id_a", "id_b", seed)
      .select($"id".as("doc_id"), $"rank_fp")
  }

  /** E100: link prediction over the support-2 co-purchase graph —
    * part pairs co-ordered in ≥2 distinct orders form the edges (the
    * support threshold drops one-off noise AND sparsifies the wedge
    * join's Σdeg² fan-out); scores are exact-integer common-neighbor
    * counts and resource-allocation micro-units.
    */
  private def qLinkPredict(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-13: keyed fanOut widens the basket agg + pair expansion
    // stages (the q_assortativity QProf rationale)
    val li = fanOut(table(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey"), $"l_orderkey")
    // order-local pair expansion (round 12, the q_assortativity rung;
    // measured ~1.7s of narrow-stage self-join map work at sf0.1).
    // collect_set makes each order contribute each pair exactly once,
    // so count(*) ≡ the legacy countDistinct(l_orderkey) support —
    // same support-2 edge set, oracle hash unchanged.
    val edges = li.groupBy($"l_orderkey")
      .agg(array_sort(collect_set($"l_partkey")).as("ps"))
      .select(explode(flatten(transform($"ps", (x, i) =>
        transform(slice($"ps", i + 2, size($"ps")), y =>
          struct(x.as("a"), y.as("b")))))).as("e"))
      .groupBy($"e.a", $"e.b").agg(count(lit(1)).as("sup"))
      .filter($"sup" >= 2).select($"a", $"b")
    Graph.linkPrediction(edges, "a", "b")
  }

  /** E104: Bradley–Terry strength ranking from implicit pairwise
    * preferences — consecutive same-user events with differing types
    * become one judgment (higher `value` wins), the classic implicit-
    * feedback derivation; then 5 exact-integer MM rounds
    * (operators.Prefs.bradleyTerryFixed) that the oracle unrolls
    * bit-for-bit (the q_pagerank_fixed discipline applied to the
    * RLHF preference-data shape).
    */
  private def qBradleyTerry(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ts", $"event_id")
    val cmp = table(s, dir, "events")
      .withColumn("nt", lead($"event_type", 1).over(w))
      .withColumn("nv", lead($"value", 1).over(w))
      .filter($"nt".isNotNull && $"nt" =!= $"event_type" &&
        $"value" =!= $"nv")
      .select(
        when($"value" > $"nv", $"event_type").otherwise($"nt").as("win"),
        when($"value" > $"nv", $"nt").otherwise($"event_type").as("lose"))
    operators.Prefs.bradleyTerryFixed(cmp, "win", "lose")
  }

  /** E105: distinct-n lexical diversity per language (Li et al. 2016
    * distinct-1/-2) — the cross-document mode-collapse signal
    * per-document repetition screens miss; exact micro-unit ratios
    * (operators.Corpus.distinctNgrams).
    */
  private def qDistinctNgrams(s: SparkSession, dir: String): DataFrame =
    Corpus.distinctNgrams(table(s, dir, "documents"), "lang", "text",
      functions.TextFunctions.words)

  /** E110: token-overlap F1 between each document and its successor —
    * the SQuAD-style generated-vs-reference eval metric: multiset
    * token intersection, F1 = 2·ov/(len_p+len_r) as one exact floor
    * division in micro-units (operators.Corpus.tokenF1).
    */
  private def qTokenF1(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents").select($"doc_id", $"text")
    val pairs = d.toDF("pair_id", "pred")
      .join(d.toDF("rid", "ref"), col("rid") === col("pair_id") + 1)
      .select($"pair_id", $"pred", $"ref")
    Corpus.tokenF1(pairs, "pair_id", "pred", "ref")
  }

  /** D13: full conditional MERGE INTO over customer — source batch =
    * balance bumps for every 7th key plus brand-new keys; WHEN MATCHED
    * AND target balance is negative THEN DELETE, WHEN MATCHED THEN
    * UPDATE, WHEN NOT MATCHED THEN INSERT (operators.Loads.mergeInto).
    */
  private def qMergeFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cust = table(s, dir, "customer").select($"c_custkey", $"c_name",
      floor($"c_acctbal" * 100 + 0.5).cast("long").as("bal_cents"))
    val updates = cust.filter($"c_custkey" % 7 === 0)
      .select($"c_custkey", $"c_name",
        ($"bal_cents" + 10000L).as("bal_cents"))
    val inserts = cust.filter($"c_custkey" % 11 === 3)
      .select(($"c_custkey" + 100000000L).as("c_custkey"),
        concat(lit("NEW "), $"c_name").as("c_name"),
        lit(0L).as("bal_cents"))
    operators.Loads.mergeInto(cust, updates.unionByName(inserts),
      Seq("c_custkey"), Some(col("tgt_bal_cents") < 0))
  }

  /** C97: CUPED variance-reduced experiment readout — per customer,
    * X = pre-1996 order cents (the pre-experiment covariate), Y =
    * 1996+ cents, arms by key parity; θ from exact decimal moment
    * sums, adjusted arm means in micro-units
    * (operators.Stats.cuped; Deng et al., WSDM 2013).
    */
  private def qCuped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val per = table(s, dir, "orders")
      .select($"o_custkey",
        ($"o_orderdate" < lit("1996-01-01").cast("date")).as("pre"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"o_custkey")
      .agg(sum(when($"pre", $"cents").otherwise(0L)).as("x"),
        sum(when(!$"pre", $"cents").otherwise(0L)).as("y"))
      .select(pmod($"o_custkey", lit(2)).as("arm"), $"x", $"y")
    operators.Stats.cuped(per, "arm", "x", "y")
  }

  /** E106: DSIR importance selection — target domain = the English
    * documents, source = the whole corpus; hashed-unigram likelihood
    * ratios, position-ordered ln folds at 6dp, deterministic greedy
    * top-100 (operators.Corpus.dsirSelect).
    */
  private def qDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-12: hashed-feature tokenize runs in this scan — spread
    val docs = fanOut(table(s, dir, "documents"), $"doc_id")
    Corpus.dsirSelect(docs, docs.filter($"lang" === "en"), "doc_id",
      "text", functions.TextFunctions.words, buckets = 4096, k = 100)
  }

  /** E107: tokenizer fertility per language — tokens/word and
    * chars/token corpus totals in exact micro-units, the tokenizer-
    * sizing readout (operators.Corpus.tokenizerFertility).
    */
  private def qFertility(s: SparkSession, dir: String): DataFrame =
    Corpus.tokenizerFertility(table(s, dir, "documents"), "lang", "text")

  /** C92: empirical-Bayes beta-binomial shrinkage of per-(lang,
    * source) long-document rates — method-of-moments prior from the
    * across-segment rate moments (exact integer inputs, one fixed
    * double expression tree), shrunk = (x+α)/(n+α+β) at 6dp
    * (operators.Stats.ebShrinkage).
    */
  private def qEbShrinkage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.ebShrinkage(table(s, dir, "documents"),
      Seq("lang", "source"), $"n_chars" >= 350)
  }

  /** C94: permutation battery + BH FDR — per event type, did values
    * drift between the first and second half of each month? One
    * md5-relabeling permutation test per segment, then Benjamini-
    * Hochberg at q = 0.1 by exact integer cross-multiplication
    * (operators.Stats.permutationBatteryFdr).
    */
  private def qFdrBattery(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.permutationBatteryFdr(
      table(s, dir, "events")
        .select($"event_type", $"event_id",
          (dayofmonth($"ts") <= 15).as("first_half"),
          floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "event_id", $"first_half", "cents")
  }

  /** C99: WOE/IV predictive binning of order value against the
    * finalized-status label — decile bounds, add-one-smoothed
    * weight-of-evidence per bin, information value total
    * (operators.Stats.woeIv).
    */
  private def qWoeIv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.woeIv(
      table(s, dir, "orders").select(
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        when($"o_orderstatus" === "F", 1L).otherwise(0L).as("y")),
      "cents", "y")
  }

  /** E112: corpus datasheet card (flagship composition #5 — the
    * "Datasheets for Datasets" summary, Gebru et al. 2021): the
    * one-query corpus overview a training-data release ships — size,
    * token volume, language mix, exact-duplication rate, length
    * profile — every metric an exact integer (counts or micro-rates),
    * ONE scan + one distinct-fingerprint aggregate.
    */
  private def qCorpusCard(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = table(s, dir, "documents").agg(
      count(lit(1)).as("docs"),
      sum(TextFunctions.wsTokenCount($"text").cast("long")).as("toks"),
      countDistinct($"lang").as("langs"),
      sum(when($"lang" === "en", 1L).otherwise(0L)).as("en"),
      countDistinct(md5($"text")).as("uniq"),
      sum(length($"text").cast("long")).as("chars"))
    stats.select(explode(array(
        struct(lit("docs").as("metric"), col("docs").as("value")),
        struct(lit("whitespace_tokens").as("metric"),
          col("toks").as("value")),
        struct(lit("languages").as("metric"), col("langs").as("value")),
        struct(lit("en_rate_micro").as("metric"),
          expr("en * 1000000 div docs").as("value")),
        struct(lit("exact_dup_rate_micro").as("metric"),
          expr("(docs - uniq) * 1000000 div docs").as("value")),
        struct(lit("mean_chars_micro").as("metric"),
          expr("chars * 1000000 div docs").as("value")))).as("m"))
      .select(col("m.metric").as("metric"), col("m.value").as("value"))
  }

  /** C104: Friedman test — do the five order priorities ("systems")
    * rank differently in per-bucket revenue ("tasks")? Midranks as
    * exact 2× integers, complete blocks only, χ²_F one fixed IEEE
    * tree (operators.Stats.friedman).
    */
  private def qFriedman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = table(s, dir, "orders")
      .select(pmod($"o_orderkey", lit(311L)).as("task"),
        $"o_orderpriority".as("sys"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"task", $"sys").agg(sum($"cents").as("v"))
    operators.Stats.friedman(obs, "task", "sys", "v")
  }

  /** C105: Cochran's Q — five priority "systems" judged pass/fail
    * (revenue-parity) on shared order buckets; the k-classifier
    * McNemar, exact integers end to end (operators.Stats.cochranQ).
    */
  private def qCochranQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = table(s, dir, "orders")
      .select(pmod($"o_orderkey", lit(449L)).as("item"),
        $"o_orderpriority".as("sys"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"item", $"sys")
      .agg((pmod(sum($"cents"), lit(2L)) === 1L).as("pass"))
    operators.Stats.cochranQ(cells, "item", "sys", "pass")
  }

  /** C106: Krippendorff's alpha over event-bucket "units" rated with
    * event types — variable ratings per unit, singles dropped loudly;
    * micro-quantized Do, exact De (operators.Stats.krippendorffAlpha).
    */
  private def qKrippAlpha(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = table(s, dir, "events")
      .select(pmod($"event_id", lit(1700L)).as("unit"), $"event_type")
    operators.Stats.krippendorffAlpha(r, "unit", "event_type")
  }

  /** F34: AMOC change-point localization — per user bucket, WHERE the
    * event-value level shifted (CUSUM argmax over the event_id order),
    * exact integer statistic with packed deterministic tie-break
    * (operators.TimeSeries.changePoint).
    */
  private def qChangepoint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events")
      .select(pmod($"user_id", lit(97L)).as("key"), $"event_id",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.TimeSeries.changePoint(e, "key", "event_id", "cents")
      .select($"key", $"n", $"cp_k", $"s_max".cast("string").as("s_max"),
        $"mean_left_micro", $"mean_right_micro")
  }

  /** H47: Count-Min sketch — d=4 × w=64 exact integer cell table over
    * event users, per-user point estimates (min over rows, always ≥
    * the true count); md5-bucketed so the whole sketch is
    * engine-portable and hash-gated (operators.Sketch).
    */
  private def qCountMin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"user_id")
    val sk = operators.Sketch.countMinBuild(e, "user_id", d = 4, w = 64)
    val truth = e.groupBy($"user_id".as("key"))
      .agg(count(lit(1)).as("true_cnt"))
    operators.Sketch.countMinEstimate(sk, e, "user_id", d = 4, w = 64)
      .join(truth, Seq("key"))
      .select($"key".as("user_id"), $"est", $"true_cnt")
  }

  /** C107: Brown–Forsythe spread-homogeneity test across order
    * priorities — exact medians, micro-quantized deviation means, W
    * one IEEE division (operators.Stats.brownForsythe).
    */
  private def qBrownForsythe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
      .select($"o_orderpriority".as("g"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.brownForsythe(o, "g", "cents")
  }

  /** E114: corpus-level BLEU-2 between each document and its successor
    * (the q_token_f1 pairing) — clipped 1/2-gram precisions pooled
    * corpus-wide, brevity penalty, BLEU = BP·√(p₁p₂)
    * (operators.Corpus.bleu2).
    */
  private def qBleu2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-12: both gram-level tokenize passes run in this scan's
    // stage (measured 1.1s on 2 tasks at sf0.1) — spread it
    val d = fanOutHeavy(table(s, dir, "documents").select($"doc_id", $"text"),
      $"doc_id")
    val pairs = d.toDF("pair_id", "pred")
      .join(d.toDF("rid", "ref"), col("rid") === col("pair_id") + 1)
      .select($"pair_id", $"pred", $"ref")
    Corpus.bleu2(pairs, "pair_id", "pred", "ref")
  }

  /** E115: ROUGE-L between every 10th document and its successor —
    * LCS via the native lcs_len expression (32-token cap), P/R/F as
    * exact floor-div micros (operators.Corpus.rougeL).
    */
  private def qRougeL(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-12: LCS kernel runs in the pred side's scan stage — spread
    val d = fanOutHeavy(table(s, dir, "documents").select($"doc_id", $"text"),
      $"doc_id")
    val pairs = d.filter($"doc_id" % 10 === 0).toDF("pair_id", "pred")
      .join(d.toDF("rid", "ref"), col("rid") === col("pair_id") + 1)
      .select($"pair_id", $"pred", $"ref")
    Corpus.rougeL(pairs, "pair_id", "pred", "ref", maxTokens = 32)
  }

  /** C109: Nemenyi post-hoc pairwise mean-rank table over the
    * q_friedman design (same buckets × priorities); CD = 352000 micro
    * rank units ≈ q_{.05,k=5}·√(k(k+1)/6n) at this gate's n
    * (operators.Stats.friedmanPosthoc).
    */
  private def qFriedmanPosthoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = table(s, dir, "orders")
      .select(pmod($"o_orderkey", lit(311L)).as("task"),
        $"o_orderpriority".as("sys"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"task", $"sys").agg(sum($"cents").as("v"))
    operators.Stats.friedmanPosthoc(obs, "task", "sys", "v",
      cdMicro = 352000L)
  }

  /** C108: CMH stratified association — does even-keyed ordering
    * ("exposure") associate with fulfilled status ("outcome")
    * controlling for priority strata? (operators.Stats.cmh).
    */
  private def qCmh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders").select(
      $"o_orderpriority".as("stratum"),
      (pmod($"o_orderkey", lit(2L)) === 0L).as("e"),
      ($"o_orderstatus" === "F").as("y"))
    operators.Stats.cmh(o, "stratum", "e", "y")
  }

  /** C103: expected calibration error of the value-as-confidence
    * purchase predictor — exact-integer micro bins, ECE + MCE in one
    * row (operators.Stats.expectedCalibrationError).
    */
  private def qEce(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select(
      ($"event_type" === "purchase").as("hit"),
      least(floor($"value" * 1000 + 0.5).cast("long"), lit(1000000L))
        .as("conf_micro"))
    operators.Stats.expectedCalibrationError(e, "hit", "conf_micro")
  }

  /** C102: Fleiss' kappa over 4-line orders — each order's four
    * lineitems "rate" it into a price band; do the lines agree beyond
    * chance? (operators.Stats.fleissKappa).
    */
  private def qFleissKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = fanOutHeavy(table(s, dir, "lineitem"), $"l_orderkey")
      .select($"l_orderkey",
      when($"l_extendedprice" >= 40000.0, "L")
        .when($"l_extendedprice" >= 20000.0, "M")
        .otherwise("S").as("band"))
    operators.Stats.fleissKappa(li, "l_orderkey", "band", raters = 4)
  }

  /** C101: McNemar's paired test — do two return-flag predictors
    * (discount rule vs tax rule) differ on the SAME lineitems?
    * (operators.Stats.mcnemar).
    */
  private def qMcnemar(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem").select(
      ($"l_returnflag" === "R").as("t"),
      ($"l_discount" > 0.05).as("pa"),
      ($"l_tax" > 0.04).as("pb"))
    operators.Stats.mcnemar(
      li.select(($"pa" === $"t").as("a"), ($"pb" === $"t").as("b")),
      "a", "b")
  }

  /** E113: unbiased pass@3 per (event_type, day) task — samples =
    * the day's events, pass = value ≥ 500; exact integer product
    * estimator (operators.Corpus.passAtK).
    */
  private def qPassAtK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.passAtK(table(s, dir, "events").select($"event_type",
        to_date($"ts").as("day"), ($"value" >= 500.0).as("pass")),
      Seq("event_type", "day"), "pass", k = 3)
  }

  /** C98: Jonckheere–Terpstra ordered-alternative trend across the
    * event types in ascending name order — exact 2J carrier, no-tie
    * z at 6dp (operators.Stats.jonckheere).
    */
  private def qJonckheere(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.jonckheere(
      table(s, dir, "events").select($"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "cents")
  }

  /** C93: Kruskal–Wallis H across the five event types' value
    * distributions (integer cents) — k-group rank test, exact 2·midrank
    * carriers, group-key-ordered final fold at 6dp
    * (operators.Stats.kruskalWallis).
    */
  private def qKruskalWallis(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.kruskalWallis(
      table(s, dir, "events")
        .select($"event_type",
          floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "cents")
  }

  /** F37: MASE forecast-baseline skill per event type over the daily
    * revenue series — naive-1 MAE vs seasonal-naive-7 MAE, exact
    * integer micro-units (operators.TimeSeries.maseBaseline).
    */
  private def qMase(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
    operators.TimeSeries.maseBaseline(daily, "event_type", "day",
      "cents", season = 7)
  }

  /** E76: per-node local clustering coefficient over the near-dup
    * graph — lcc ≈ 1 marks true duplicate-clique members, lcc ≈ 0
    * marks LSH-chain bridges survivorship should distrust. Exact
    * integer triangle/degree counts; lcc is one IEEE division.
    */
  private def qClusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.localClustering(pairs, "id_a", "id_b")
      .select($"id".as("doc_id"), $"degree", $"n_tri", $"lcc")
  }

  /** E77: gapped sequential patterns (PrefixSpan-lite) — skip-gram
    * event pairs within gap ≤ 3 per user timeline, support in pairs
    * and distinct users. The shuffle key is user_id; candidates per
    * user are gap-bounded, never quadratic.
    */
  private def qSeqPatterns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Sessions.gappedPairs(table(s, dir, "events"),
      "user_id", "event_type", "ts", "event_id", 3)
  }

  /** E22: benchmark decontamination — corpus docs sharing any word
    * 8-gram with the held-out benchmark slice (doc_id % 10 == 0 of the
    * originals; their truncated near-copies in the dup-seeded corpus
    * guarantee overlap). Benchmark side broadcast; the corpus never
    * shuffles.
    */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val all = dupCorpus(s, dir)
    val bench = all.filter($"doc_id" % 10 === 0 && $"doc_id" < 1000000)
    val corpus = all.filter(!($"doc_id" % 10 === 0 && $"doc_id" < 1000000))
    Dedup.contaminationReport(corpus, bench, "text", "doc_id", 8)
  }

  /** E23: deterministic stratified sampling — per-segment keep rates
    * applied as a content-keyed hash gate (md5 prefix threshold): the
    * same rows are kept on ANY engine, run, or partitioning, which is
    * what makes a training-data sample reproducible. Zero shuffles
    * before the reporting aggregate.
    */
  private def qStratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rates = Map("BUILDING" -> 0.5, "AUTOMOBILE" -> 0.25,
      "MACHINERY" -> 0.125, "HOUSEHOLD" -> 0.0625, "FURNITURE" -> 1.0)
    val c = table(s, dir, "customer")
    Sampling.stratifiedSample(c, "c_mktsegment", $"c_custkey", rates)
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_sampled"))
      .join(c.groupBy($"c_mktsegment").agg(count(lit(1)).as("n_total")),
        Seq("c_mktsegment"))
      .select($"c_mktsegment".as("segment"), $"n_total", $"n_sampled")
  }

  /** E24: mixture planner — the largest corpus obeying target class
    * weights exactly, with per-class take counts. Counts collapse to
    * one row per class before any arithmetic, so the plan is one
    * groupBy at any corpus size.
    */
  private def qWeightedMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.mixturePlan(table(s, dir, "orders"), "o_orderpriority",
        Map("1-URGENT" -> 0.4, "2-HIGH" -> 0.3, "3-MEDIUM" -> 0.15,
          "4-NOT SPECIFIED" -> 0.1, "5-LOW" -> 0.05))
      .select($"o_orderpriority".as("priority"), $"n_avail",
        $"weight", $"n_take")
  }

  /** D4: SCD2 history — every version kept with validity intervals
    * (valid_from/valid_to/is_current via per-key lead), over the same
    * versioned base+updates shape as the SCD1 upsert gate.
    */
  private def qScd2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val base = o.select($"o_orderkey", $"o_totalprice".as("price"),
      lit(0).as("version"))
    val updates = o.filter($"o_orderkey" % 4 === 0)
      .select($"o_orderkey", ($"o_totalprice" + 100000).as("price"),
        lit(1).as("version"))
    Loads.scd2History(base.unionByName(updates), Seq("o_orderkey"),
        "version")
      .select($"o_orderkey", round($"price", 2).as("price"),
        $"valid_from", $"valid_to", $"is_current")
  }

  /** D8: temporal dimension join — events enriched with the customer
    * balance-band version valid at event time; SCD2 history built
    * with µs timestamps as the version column, so validity ranges
    * come straight out of scd2History. Equi-join on the key, validity
    * predicate rides the join condition.
    */
  private def qTemporalJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val us = (d: String) =>
      unix_micros(lit(d).cast("timestamp"))
    val c = table(s, dir, "customer").select($"c_custkey".as("k"),
      floor(floor($"c_acctbal" * 100 + 0.5) / 200000.0)
        .cast("long").as("band"))
    val v0 = c.select($"k", $"band", us("2023-12-01").as("vts"))
    val v1 = c.filter($"k" % 3 === 0)
      .select($"k", ($"band" + 1).as("band"), us("2024-01-15").as("vts"))
    val dim = Loads.scd2History(v0.unionByName(v1), Seq("k"), "vts")
    val ev = table(s, dir, "events")
      .select($"event_id", $"user_id", unix_micros($"ts").as("us"))
    Loads.temporalJoin(ev, "user_id", "us", dim, "k")
      .select($"event_id", $"user_id", $"band", $"valid_from",
        $"is_current")
  }

  /** H5: salted two-phase aggregation THROUGH the gate — the events
    * table's 5 event types are a degenerate hot-key distribution (20k+
    * rows per key at sf0.01); the salt phase splits each hot reduce key
    * across 8 reducers, and the result is exactly the plain groupBy
    * (which is what the oracle checks).
    */
  private def qSaltedAgg(s: SparkSession, dir: String): DataFrame =
    Skew.saltedCount(table(s, dir, "events")
      .select(col("event_id"), col("event_type")), "event_type", 8)

  /** F6: per-user EWMA of event values — the sequential-recurrence
    * operator family (mapPartitions carry-state scan, the custom-op
    * ladder's last rung, used exactly where windows can't express the
    * recurrence without numeric blow-up). Bit-identical to the DuckDB
    * list_reduce fold because both are total-ordered left folds.
    */
  private def qEwma(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TimeSeries.ewmaPerKey(s, table(s, dir, "events"), "user_id", "ts",
        "event_id", "value", 0.3)
      .select($"user_id", $"n_events", round($"ewma", 6).as("ewma"))
  }

  /** F10: Holt linear-trend smoothing per user — the trend-aware
    * EWMA upgrade and one-step forecaster. Same mapPartitions rung;
    * the oracle replays the identical IEEE op sequence through a
    * recursive CTE (a two-component state has no list_reduce form).
    */
  private def qHoltTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TimeSeries.holtPerKey(s, table(s, dir, "events"), "user_id", "ts",
        "event_id", "value", alpha = 0.4, beta = 0.2)
      .select($"user_id", $"n_events", round($"level", 6).as("level"),
        round($"trend", 6).as("trend"), round($"forecast", 6).as("forecast"))
  }

  /** H30: interval coalescing — events become validity intervals
    * (duration proportional to value), overlapping/touching ones
    * merge into maximal islands per user. One keyed sort, two window
    * passes, integer µs throughout.
    */
  private def qIntervalMerge(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val iv = table(s, dir, "events").select($"user_id",
      unix_micros($"ts").as("start_us"), $"event_id",
      (unix_micros($"ts") +
        floor($"value" * 100 + 0.5).cast("long") * 1000000L).as("end_us"))
    Intervals.coalesceIntervals(iv, "user_id", "start_us", "end_us",
        "event_id")
      .select($"user_id", $"island", $"island_start", $"island_end",
        $"n_intervals")
  }

  /** H3 direct gate: top-3 events per type via the custom bounded-heap
    * `topk_by` aggregate — map-side partial top-k (≤ k rows per task
    * cross the shuffle), oracled against the window-ranking form
    * incl. tie-breaks. Exercises the TypedImperativeAggregate rung
    * through the gate directly, not just inside ANN.
    */
  private def qTopkAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "events")
      .select($"event_type", $"event_id",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"event_type")
      .agg(graft.plans.TopKBy
        .topkBy($"cents".cast("double"), $"event_id", 3).as("top"))
      .select($"event_type", posexplode($"top"))
      .select($"event_type", $"col.id".as("event_id"),
        ($"pos" + 1).cast("long").as("rnk"),
        // integer cents round-trip the double score exactly (< 2^53)
        $"col.score".cast("long").as("cents"))
  }

  /** F15: seasonal-baseline anomaly detection — per (event_type,
    * hour-of-day) exact median (Stats.discreteQuantiles' integer rank
    * arithmetic) as the seasonal baseline, events flagged above k×
    * baseline by a pure integer test. Conditioning on the cycle
    * position is what MAD/z-score outliers (global per-group) miss:
    * a value normal at peak hour is anomalous at 4am. Baseline table
    * is (type × 24)-cardinality → broadcast back; one keyed agg +
    * one cheap window over distinct values.
    */
  private def qSeasonalAnomaly(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_type",
      hour($"ts").cast("long").as("hod"),
      floor($"value" * 100 + 0.5).cast("long").as("c"))
    val base = Stats.discreteQuantiles(e, Seq("event_type", "hod"), "c",
        Seq(5000))
      .select($"event_type", $"hod", $"q5000".as("med_c"))
    e.join(broadcast(base), Seq("event_type", "hod"))
      .groupBy($"event_type", $"hod")
      .agg(count(lit(1)).as("n"), first($"med_c").as("med_c"),
        sum(when($"c" > $"med_c" * 3, 1L).otherwise(0L)).as("n_anomalies"))
  }

  /** F13: one-sided CUSUM change detection per user — the clamped
    * recurrence de-recursed into two window aggregates (running sum −
    * clamped prefix min), all exact integer cents: no mapPartitions,
    * no rounding rule, bit-stable at any parallelism. Target $50.00
    * ± $5.00 allowance, alarm at $500 cumulative drift.
    */
  private def qCusum(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events").select($"user_id",
      unix_micros($"ts").as("us"), $"event_id",
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    TimeSeries.cusumPerKey(ev, "user_id", "us", "event_id", "cents",
      targetCents = 5000L, allowanceCents = 500L, hCents = 50000L)
  }

  /** F14: additive Holt-Winters per user (α=0.4, β=0.2, γ=0.3, m=4) —
    * level+trend+seasonal on the mapPartitions rung; oracle replays
    * the identical IEEE sequence via a recursive CTE with a list-
    * valued seasonal ring. 6dp rounding per the holt precedent.
    */
  private def qHoltWinters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    TimeSeries.holtWintersPerKey(s, table(s, dir, "events"), "user_id",
        "ts", "event_id", "value", alpha = 0.4, beta = 0.2, gamma = 0.3,
        period = 4)
      .select($"user_id", $"n_events", round($"level", 6).as("level"),
        round($"trend", 6).as("trend"),
        round($"season_next", 6).as("season_next"),
        round($"forecast", 6).as("forecast"))
  }

  /** H: bloom-pruned anti join — customers that never ordered. The
    * plain anti join shuffles every customer row; the bloom path
    * filters map-side against a broadcast sketch of the order keys and
    * shuffles only matches + the fpp sliver. Result is bit-identical
    * to NOT IN (bloom prunes, never decides), which the oracle checks.
    */
  private def qBloomPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // denylist is ~3% of customers → ~99% of orders never shuffle
    val keys = table(s, dir, "customer")
      .filter($"c_acctbal" < -700).select($"c_custkey".as("o_custkey"))
    Bloom.antiJoin(table(s, dir, "orders"), keys, "o_custkey", fpp = 0.01)
      .groupBy($"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum($"o_totalprice"), 2).as("sum_price"))
  }

  /** E23b: deterministic weighted sampling (Sequential Poisson) —
    * bottom-k of priority u/w, u hash-derived. Every arithmetic step
    * is exactly portable (dyadic u, one correctly-rounded division),
    * so the raw double priorities hash-match the DuckDB oracle.
    */
  private def qWeightedSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Sampling.weightedSample(table(s, dir, "orders"), $"o_orderkey",
        $"o_totalprice", 500)
      .select($"o_orderkey", $"priority")
  }

  /** H: Z-order curve key — Morton interleave (native codegen'd
    * expression) of two bucketized dims, aggregated per curve segment.
    * This is the key `Writers.zorderWrite` sorts by so parquet row
    * groups get tight bounding boxes in BOTH columns (multi-dim
    * min/max pruning); the oracle recomputes the interleave bitwise.
    */
  private def qZorder(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val z = LayoutFunctions.zorder2(($"o_orderkey" % 256).cast("long"),
      ($"o_custkey" % 256).cast("long"))
    o.select(z.as("z"))
      .groupBy(shiftright($"z", 8).as("z_bucket"))
      .agg(count(lit(1)).as("n"), min($"z").as("z_min"), max($"z").as("z_max"))
  }

  /** E25: text canonicalization — trim, whitespace collapse, Unicode
    * NFC (native expression over JDK Normalizer; DuckDB nfc_normalize
    * computes the identical canonical form). The gate decorates the
    * ASCII corpus with decomposed sequences (e+U+0301 etc.) so the
    * normalization path is actually exercised.
    */
  private def qTextClean(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = concat(substring($"text", 1, 40),
      lit(" Café niño Å"))
    table(s, dir, "documents")
      .select($"doc_id", raw.as("raw"))
      .select($"doc_id", length($"raw").as("len_raw"),
        LayoutFunctions.nfcNormalize(
          regexp_replace(trim($"raw"), "\\s+", " ")).as("clean"))
      .withColumn("len_clean", length($"clean"))
  }

  /** H: interval-overlap join — concurrent sessions across users.
    * Bucket decomposition turns the θ-join into an equi-join on hour
    * buckets (no cartesian), with first-shared-bucket dedup instead of
    * a distinct shuffle. Oracle runs the textbook θ-join directly.
    */
  private def qIntervalOverlap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sess = Sessions.sessionSummary(table(s, dir, "events"),
        "user_id", "ts", "value", 1800L)
      .select($"user_id", $"session_idx", $"start_us", $"end_us")
    val a = sess.toDF("user_a", "sess_a", "start_a", "end_a")
    val b = sess.toDF("user_b", "sess_b", "start_b", "end_b")
    // round-12: pin the bucket-join width from the raw scan (measured
    // 0.83s single-task pair explosion under AQE coalescing)
    Intervals.overlapJoin(a, "start_a", "end_a", b, "start_b", "end_b",
        3600L * 1000000L, width = spreadWidth(table(s, dir, "events")))
      .filter($"user_a" < $"user_b")
      .groupBy($"user_a".as("user_id"))
      .agg(count(lit(1)).as("n_overlaps"))
  }

  /** E26: char-level entropy quality signal — one-pass native
    * expression (codegen'd, ASCII byte fast path). Low entropy flags
    * repetitive boilerplate; the oracle recomputes the distribution by
    * unnesting codepoints. round(6) absorbs libm ln's final ulp.
    */
  private def qCharEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id",
        round(graft.plans.TextNativeFunctions.charEntropy($"text"), 6)
          .as("entropy"),
        length($"text").as("n_chars"))
  }

  /** H: blocked fuzzy match — near-identical part names within a
    * brand (equi-join blocking keeps it shuffle-hash-joinable; the
    * edit-distance predicate runs post-join on the tiny per-brand
    * candidate sets). Integer distances — bit-exact across engines.
    */
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = table(s, dir, "part")
      .select($"p_partkey", $"p_brand", $"p_name")
    val a = p.toDF("key_a", "brand", "name_a")
    val b = p.toDF("key_b", "brand", "name_b")
    // Blocked banded scan, NOT operators.EditJoin's PassJoin signature
    // join (asserted equivalent in EditJoinSpec): this corpus draws
    // names from a ~90-word vocabulary, so ~3% of in-block pairs are
    // true ED≤2 matches and exact-segment signatures collide
    // constantly — the signature join fans out past the cost of just
    // scanning (measured 12.5s vs 6.5s at sf0.1). EditJoin is the
    // right plan when near-pairs are SPARSE (real-world name linkage);
    // the scan wins when they are dense. Same result either way.
    // round-12: the banded-DP kernel runs in a's scan stage — spread it
    fanOutHeavy(a, $"key_a").join(b, Seq("brand"))
      .filter($"key_a" < $"key_b" &&
        // lossless band: edit distance ≥ |length difference|
        abs(length($"name_a") - length($"name_b")) <= 2)
      // native banded DP with common prefix/suffix stripping
      // (plans.BandedLevenshtein, fuzz-asserted ≡ the built-in 3-arg
      // levenshtein): shared runs shed before the DP, band width 5,
      // whole-row early exit — ~2× the built-in on this corpus
      .withColumn("dist",
        graft.plans.StringSimFunctions.bandedLevenshtein(
          $"name_a", $"name_b", 2))
      .filter($"dist" >= 0)
      .select($"brand", $"key_a", $"key_b", $"dist")
  }

  /** H21: Jaro-Winkler record-linkage scoring over the same brand
    * blocking as the fuzzy match — native codegen'd expression with
    * DuckDB-exact semantics (fuzz-validated; see NativeStringSim).
    * High-similarity pairs only, so the output is linkage-sized.
    */
  private def qJaroWinkler(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = table(s, dir, "part").select($"p_partkey", $"p_brand", $"p_name")
    val a = p.toDF("key_a", "brand", "name_a")
    val b = p.toDF("key_b", "brand", "name_b")
    // round-12: the JW kernel runs in a's scan stage — spread it
    fanOutHeavy(a, $"key_a").join(b, Seq("brand"))
      .filter($"key_a" < $"key_b")
      // threshold-pruned kernel: exact value for anything that can
      // round to ≥ 0.88 (abort bound 0.8799 < any such value), −1 for
      // provably-below pairs — the ≥ 0.88 filter output is therefore
      // IDENTICAL to the full jaro_winkler, ~2× faster (the abort
      // fires mid-scan on most of the 8M non-matching pairs)
      .withColumn("jw",
        round(graft.plans.StringSimFunctions.jaroWinklerGte(
          $"name_a", $"name_b", 0.8799), 4))
      .filter($"jw" >= 0.88)
      .select($"brand", $"key_a", $"key_b", $"jw")
  }

  // ---------------------------------------------------------------- C35+. event analytics / robust stats (round 3)

  /** C35: last-touch attribution — each purchase credited to the
    * nearest preceding non-purchase event of the same user via ONE
    * window pass (operators.Analytics.lastTouch); no per-conversion
    * self-join. Value totals accumulate in exact integer cents.
    */
  private def qAttribution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Analytics.lastTouch(ev, "user_id", "ts", "event_id",
        "event_type", "purchase")
      .groupBy($"channel")
      .agg(count(lit(1)).as("n_conversions"),
        round((sum($"cents") / 100.0), 2).as("attributed_value"))
  }

  /** C36: time-bounded sequence funnel (MATCH_RECOGNIZE-lite) —
    * view → click → purchase with each hop ≤ 24 h, per user, via two
    * window passes over the user timeline (Analytics.sequenceFunnel);
    * the naive form is a cubic event-stream self-join.
    */
  private def qSeqFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
    operators.Analytics.sequenceFunnel(ev, "user_id", "us", "event_id",
      "event_type", "view", "click", "purchase", 86400000000L)
  }

  /** C37: MAD outlier detection per event type — median and MAD via
    * exact discrete quantiles (pure integer rank arithmetic, Stats.
    * madOutliers); |x−med| > 3·MAD. Bit-stable flags at any
    * parallelism, unlike stddev z-scores which the outliers themselves
    * drag.
    */
  private def qMadOutliers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events").select($"event_type",
      floor($"value" * 100 + 0.5).cast("long").as("c"))
    Stats.madOutliers(ev, Seq("event_type"), "c", 3)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        count_if($"is_outlier").as("n_outliers"),
        first($"med").as("med_c"), first($"mad").as("mad_c"))
  }

  /** C38: robust scaling (x − median)/IQR per event type — quantiles
    * exact-integer and broadcast back (Stats.robustScale); the only
    * float op is one division per row, same order on both engines.
    */
  private def qRobustScale(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events").select($"event_id", $"event_type",
      floor($"value" * 100 + 0.5).cast("long").as("c"))
    // rs stays a RAW double: (c−med)/iqr over exact integers is
    // bit-identical across engines, while round(…,4) of a rational
    // can hit exact half-boundaries where HALF_UP ≠ HALF_EVEN
    Stats.robustScale(ev, Seq("event_type"), "c", "rs")
      .select($"event_id", $"event_type", $"rs")
  }

  /** C39: RFM segmentation — recency/frequency/monetary per customer,
    * each bucketed into exact discrete quintiles (integer rank
    * arithmetic; boundaries broadcast back, bucket = 4 codegen'd
    * compares per dimension — NO ntile global sort). Output is the
    * 125-cell segment histogram.
    */
  private def qRfm(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // persisted: the 3 quantile passes + the main scoring pass all read
    // this key-cardinality aggregate — without the persist each pass
    // re-aggregates orders (harmless at any scale, wasteful everywhere)
    val per = table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(datediff(lit("2026-08-12").cast("date"), max($"o_orderdate"))
          .cast("long").as("rec"),
        count(lit(1)).as("freq"),
        sum(($"o_totalprice" * 100).cast("long")).as("mon"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // round-12: the 3 quantile broadcasts + the scoring pass race on a
    // lazy cache under AQE (each recomputed the orders aggregate —
    // measured 4 × ~0.4s scan+agg jobs). Materialize once.
    per.count()
    def buckets(valueCol: String, outCol: String)(df: DataFrame): DataFrame = {
      val q = Stats.discreteQuantiles(per, Nil, valueCol,
        Seq(2000, 4000, 6000, 8000))
      df.crossJoin(broadcast(q))
        .withColumn(outCol,
          (Seq(2000, 4000, 6000, 8000).map(p =>
            when(col(valueCol) > col(s"q$p"), 1).otherwise(0))
            .reduce(_ + _) + 1).cast("long"))
        .drop(Seq(2000, 4000, 6000, 8000).map(p => s"q$p"): _*)
    }
    val scored = buckets("mon", "m_b")(buckets("freq", "f_b")(
      buckets("rec", "r_b")(per)))
    // low recency days = RECENT = best: invert so 5 is best, like f/m
    scored.select($"o_custkey", (lit(6) - $"r_b").as("r"), $"f_b".as("f"),
        $"m_b".as("m"))
      .groupBy($"r", $"f", $"m")
      .agg(count(lit(1)).as("n_customers"))
  }

  /** C40: join-key skew diagnostics (Analytics.keySkewProfile) — the
    * pre-flight numbers for broadcast/salt/AQE decisions: hottest-key
    * share and exact discrete p50/p99 of per-key counts.
    */
  private def qSkewMetrics(s: SparkSession, dir: String): DataFrame =
    operators.Analytics.keySkewProfile(
      table(s, dir, "orders").select(col("o_custkey")), "o_custkey")

  /** E32: top-k keywords per document — TF-IDF scores (Corpus.tfidf
    * plan: two keyed aggs + 1-row broadcast) ranked per doc with a
    * deterministic tie-break (score desc, term asc), k=3.
    */
  private def qKeywordTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = Corpus.tfidf(
        fanOutHeavy(table(s, dir, "documents").select($"doc_id", $"text"),
          $"doc_id"),
        "text", "doc_id", TextFunctions.words)
      .select($"id".as("doc_id"), $"term", round($"tfidf_raw", 4).as("tfidf"))
    val w = Window.partitionBy($"doc_id")
      .orderBy($"tfidf".desc, $"term")
    scored.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"doc_id", $"term", $"tfidf", $"rank".cast("long").as("rank"))
  }

  /** E33: feature hashing (the hashing trick) — term → one of 64
    * buckets via md5 (engine-portable: DuckDB mirrors the same two hex
    * digits), counts per (doc, bucket). Fixed-width sparse features
    * from unbounded vocabularies with zero vocabulary state — the
    * standard trick for training-data featurization at corpus scale.
    */
  private def qFeatureHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "documents")
      .select($"doc_id", explode(TextFunctions.words($"text")).as("term"))
      .withColumn("bucket",
        (conv(substring(md5($"term"), 7, 2), 16, 10).cast("long") % 64))
      .groupBy($"doc_id", $"bucket")
      .agg(count(lit(1)).as("n"))
  }

  /** E34: co-purchase graph degree profile — parts appearing together
    * in an order (lineitem self-equi-join on the order key — shuffle-
    * partitionable, never cartesian), distinct-neighbor degree per
    * part, then the degree histogram. The market-basket shape of the
    * dedup-pair degree analysis.
    */
  private def qCopurchaseDegree(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-13: keyed fanOut widens the basket agg + pair expansion
    // stages (the q_assortativity QProf rationale)
    val li = fanOut(table(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey"), $"l_orderkey")
    // order-local pair expansion (the q_assortativity rung, adopted
    // here in round 12 — measured: the self-equi-join form spent
    // ~1.2s in a narrow scan+shuffle-write map stage at sf0.1, the
    // keyed agg + in-row nested transform halves it; baskets are
    // small (≤7 lines) so the quadratic blowup stays inside a
    // bounded array instead of a shuffle). Same distinct (pa<pb)
    // edge set as the legacy a⋈b join — oracle hash unchanged.
    // each distinct pair contributes one degree to BOTH endpoints via a
    // single explode
    val pairs = li.groupBy($"l_orderkey")
      .agg(array_sort(collect_set($"l_partkey")).as("ps"))
      .select(explode(flatten(transform($"ps", (x, i) =>
        transform(slice($"ps", i + 2, size($"ps")), y =>
          struct(x.as("pa"), y.as("pb")))))).as("e"))
      .select($"e.pa", $"e.pb").distinct()
    val deg = pairs.select(explode(array($"pa", $"pb")).as("p"))
      .groupBy($"p").agg(count(lit(1)).as("degree"))
    deg.groupBy($"degree").agg(count(lit(1)).as("n_parts"))
  }

  /** C43: A/B experiment read-out — deterministic md5 arm assignment
    * (the split_assign gate trick), ONE map-combinable exact-moment
    * aggregate per arm, Welch z on the metric, Wilson interval on
    * conversion. All float math fixed-order ops on exact integers.
    */
  private def qAbTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders").select(
      when(substring(md5($"o_orderkey".cast("string")), 1, 1) < "8", "A")
        .otherwise("B").as("variant"),
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
      ($"o_orderstatus" === "F").as("converted"))
    Analytics.abTest(o, "variant", "cents", "converted")
  }

  /** E44: degree assortativity of the co-purchase graph — Pearson r
    * of endpoint degrees over the symmetrized edge list; exact
    * decimal moments, the only float math is the final five-op
    * r = A/(√B·√C) on exact integers (raw-double safe).
    */
  private def qAssortativity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // order-local pair expansion: baskets are small (≤7 lines), so the
    // canonical pair set comes from ONE keyed agg + in-row nested
    // transform — half the cost of the self-equi-join at sf0.1 and the
    // hot-order quadratic blowup stays inside a bounded array instead
    // of a shuffle. Same distinct (pa<pb) edge set either way (E34
    // keeps the self-join form as the exemplar of that rung).
    // round-13 (QProf): the basket agg + pair expansion ran as two
    // 3-4-task stages (0.55 s + 0.74 s of the 2.6 s total) — the
    // keyed fanOut widens BOTH (the groupBy reuses the explicit
    // exchange, and a user repartition is not AQE-coalesced)
    val li = fanOut(table(s, dir, "lineitem")
      .select($"l_orderkey", $"l_partkey"), $"l_orderkey")
    val pairs = li.groupBy($"l_orderkey")
      .agg(array_sort(collect_set($"l_partkey")).as("ps"))
      .select(explode(flatten(transform($"ps", (x, i) =>
        transform(slice($"ps", i + 2, size($"ps")), y =>
          struct(x.as("pa"), y.as("pb")))))).as("e"))
      .select($"e.pa", $"e.pb").distinct()
    // parts are dimension-bounded → degree table broadcastable
    Graph.degreeAssortativity(pairs, "pa", "pb",
      broadcastDegrees = true, assumeCanonical = true)
  }

  /** E51: multi-source BFS over the co-purchase graph — min hop
    * distance from the Brand#13 part set, capped at 3 hops. The
    * "blast radius of a seed set" query (recall propagation, fraud
    * ring expansion, contamination spread) that transitive closure
    * can't bound and per-pair shortest-path can't afford. Frontier
    * expansion: each round touches frontier-sized data only; the
    * oracle replays it as a recursive CTE with the hop cap in the
    * recursion guard.
    */
  private def qBfs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // high-quantity lines only: the full co-purchase graph is near-
    // complete within 1 hop (all-187-at-hop-1 certifies nothing); the
    // sparsified graph spreads distances over the whole 0..4 range and
    // leaves parts unreached, so the gate exercises min-hop selection,
    // the hop cap, AND the reachability frontier
    val li = table(s, dir, "lineitem").filter($"l_quantity" >= 45)
      .select($"l_orderkey", $"l_partkey")
    val pairs = li.groupBy($"l_orderkey")
      .agg(array_sort(collect_set($"l_partkey")).as("ps"))
      .select(explode(flatten(transform($"ps", (x, i) =>
        transform(slice($"ps", i + 2, size($"ps")), y =>
          struct(x.as("pa"), y.as("pb")))))).as("e"))
      .select($"e.pa", $"e.pb").distinct()
    val seeds = table(s, dir, "part").filter($"p_brand" === "Brand#13")
      .select($"p_partkey")
    Graph.shortestHops(pairs, "pa", "pb", seeds, "p_partkey", maxHops = 4)
  }

  /** F16: top-20 session paths — ordered event-type sequences per
    * 30-min-gap session, counted across sessions. Path order is made
    * deterministic by in-row struct sort (collect order is partition-
    * dependent); the oracle's string_agg orders by the same (us, type)
    * key.
    */
  private def qEventPaths(s: SparkSession, dir: String): DataFrame =
    graft.operators.Sessions.topPaths(table(s, dir, "events"),
      "user_id", "ts", "event_type", 1800L, 20)

  /** F17: autocorrelation of daily order revenue at lags 1, 2, 3, 7 —
    * the seasonality probe. Exact integer cents per day, deviations
    * scaled by n (corr_stats discipline), each acf ONE double division
    * of exact decimals; the lag window runs over day-cardinality rows
    * only.
    */
  private def qAcf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "orders")
      .select(date_format($"o_orderdate", "yyyy-MM-dd").as("day"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
      .groupBy($"day").agg(sum($"c").as("x"))
    graft.operators.TimeSeries.acf(daily, "day", "x", Seq(1, 2, 3, 7))
  }

  /** E78: temperature-flattened mixture plan (class ∝ √n, the
    * multilingual-LM sampling standard) — weights quantized to exact
    * integers (IEEE sqrt is correctly rounded) so the plan carries a
    * hash gate with zero fold-order exposure.
    */
  private def qTemperatureMix(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.temperatureMix(table(s, dir, "documents"),
      "source", 300L)

  /** C52: quantile normalization — every segment's balance
    * distribution mapped onto the global quantile function (the
    * classic batch-effect remover); pure integer rank arithmetic,
    * two-level global ranks, one rank-keyed join.
    */
  private def qQuantileNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_custkey", $"c_mktsegment",
      floor($"c_acctbal" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.quantileNormalize(c, "c_mktsegment", "cents",
        "c_custkey")
      .select($"c_custkey", $"c_mktsegment", $"cents",
        $"q_value".as("q_cents"))
  }

  /** C53: Q-Q table of BUILDING vs MACHINERY balance cents at deciles
    * — the distribution-shift diagnostic as exact integer ranks.
    */
  private def qQqTable(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_custkey", $"c_mktsegment",
      floor($"c_acctbal" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.qqTable(c, "c_mktsegment", "cents", "c_custkey",
      "BUILDING", "MACHINERY", 10)
  }

  /** C54: exact two-sample KS distance of BUILDING vs MACHINERY
    * balance cents — q_qq_table's scalar companion: the max CDF gap
    * carried as the integral numerator |cumA·n_b − cumB·n_a| (pure
    * integer arithmetic; `d` is one raw double division at the end).
    */
  private def qKsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_mktsegment",
      floor($"c_acctbal" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.ksDistance(c, "c_mktsegment", "cents",
      "BUILDING", "MACHINERY")
  }

  /** C55: exact ROC AUC of event value (cents) predicting the
    * purchase label — ≡ Mann–Whitney U via rank arithmetic with ties
    * at ½ in the integral 2U carrier; the number every model-based
    * curation filter (E60) reports, computed without float curves.
    */
  private def qAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select(
      ($"event_type" === "purchase").as("is_purchase"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.rocAuc(e, "is_purchase", "cents")
  }

  /** C56: contingency profile (chi-square, Cramér's V, mutual
    * information) of market segment × nation — association strength
    * of two categoricals from ONE contingency pass; exact integer
    * counts, sorted-cell double folds, 6dp.
    */
  private def qChiSquare(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_mktsegment",
      $"c_nationkey".cast("long").as("nation"))
    operators.Stats.contingencyProfile(c, "c_mktsegment", "nation")
  }

  /** E84: multinomial Naive Bayes language classifier, trained on the
    * documents corpus by pure counting and self-scored — exact
    * integer model state, sorted-term ln folds (6dp), argmax via one
    * per-doc window over class-cardinality rows.
    */
  private def qNaiveBayes(s: SparkSession, dir: String): DataFrame =
    Corpus.naiveBayesScore(
      fanOutHeavy(table(s, dir, "documents"),
        org.apache.spark.sql.functions.col("doc_id")),
      "doc_id", "lang", "text", TextFunctions.words)

  /** E85: fixed-point batch perceptron — 3 training rounds of an
    * is-English classifier over hashed bag-of-words features, all
    * state exact integers (bit-identical at any parallelism), so
    * TRAINING itself is hash-gated against 3 unrolled integer oracle
    * rounds.
    */
  private def qPerceptron(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.perceptronTrain(
      table(s, dir, "documents").withColumn("is_en", $"lang" === "en"),
      "doc_id", "is_en", "text", TextFunctions.words)
  }

  /** F26: Kaplan–Meier user-lifetime curve — duration = days between
    * a user's first and last event; users whose last event is within
    * 7 days of the observation end are CENSORED (still alive), the
    * bias naive average-lifetime aggregates can't avoid. Exact
    * integer at-risk/event counts; survival products fold in fixed
    * ascending-t order (6dp).
    */
  private def qKaplanMeier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val perCust = o.groupBy($"o_custkey").agg(
      min(to_date($"o_orderdate")).as("first_d"),
      max(to_date($"o_orderdate")).as("last_d"))
    val cutoff = o.agg(max(to_date($"o_orderdate")).as("cut"))
    val subj = perCust.crossJoin(broadcast(cutoff))
      .select(expr("CAST(datediff(last_d, first_d) AS BIGINT) div 7")
          .as("dur_weeks"),
        (datediff($"cut", $"last_d") > 365).as("churned"))
    TimeSeries.kaplanMeier(subj, "dur_weeks", "churned")
  }

  /** C100: two-group log-rank test — does the even-key customer
    * cohort churn differently from the odd-key cohort? Same tenure/
    * churn derivation as q_kaplan_meier, split by key parity
    * (operators.TimeSeries.logRank).
    */
  private def qLogRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val perCust = o.groupBy($"o_custkey").agg(
      min(to_date($"o_orderdate")).as("first_d"),
      max(to_date($"o_orderdate")).as("last_d"))
    val cutoff = o.agg(max(to_date($"o_orderdate")).as("cut"))
    val subj = perCust.crossJoin(broadcast(cutoff))
      .select(pmod($"o_custkey", lit(2)).as("grp"),
        expr("CAST(datediff(last_d, first_d) AS BIGINT) div 7")
          .as("dur_weeks"),
        (datediff($"cut", $"last_d") > 365).as("churned"))
    TimeSeries.logRank(subj, "grp", "dur_weeks", "churned")
  }

  /** H36: JL ±1 random projection of the int8-quantized embeddings to
    * 16 dims — exact integer dot products against md5-derived signs,
    * hash-gated bit-for-bit.
    */
  private def qJlProject(s: SparkSession, dir: String): DataFrame =
    Similarity.jlProject(table(s, dir, "embeddings"), "vec_id",
      "embedding", 16)

  /** C57: cumulative gains table of event value predicting purchases
    * — q_auc's operational companion ("the top decile by score
    * captures X% of positives"); exact integer ranks, buckets,
    * captures.
    */
  private def qGains(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select(
      ($"event_type" === "purchase").as("is_purchase"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"), $"event_id")
    operators.Stats.gainsTable(e, "is_purchase", "cents", "event_id", 10)
  }

  /** H37: fixed-point power iteration — dominant eigenvector of the
    * int8 scatter matrix in exact integer arithmetic (5 rounds),
    * hash-gated against unrolled HUGEINT oracle rounds.
    */
  private def qPowerIteration(s: SparkSession, dir: String): DataFrame =
    Similarity.powerIterationFixed(table(s, dir, "embeddings"),
      "vec_id", "embedding", 5)

  /** C58: isotonic calibration of the purchase rate over value-cent
    * bins — PAV via the declarative minimax identity on the bin
    * spine; every candidate mean ONE exact-int division, no driver
    * pass.
    */
  private def qIsotonic(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bins = table(s, dir, "events")
      .select(($"event_type" === "purchase").as("pos"),
        expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 500").as("bin"))
      .groupBy($"bin").agg(count(lit(1)).as("n"),
        sum(when($"pos", 1L).otherwise(0L)).as("n_pos"))
    operators.Stats.isotonicFit(bins, "bin", "n", "n_pos")
  }

  /** E86: Zipf rank-frequency fit over the documents vocabulary —
    * OLS of ln(freq) on ln(rank) for the top-500 terms; rank via
    * TakeOrdered, fixed-order ln folds, 6dp.
    */
  private def qZipf(s: SparkSession, dir: String): DataFrame =
    Corpus.zipfFit(table(s, dir, "documents"), "text",
      TextFunctions.words, 500)

  /** C59: Theil–Sen robust slope of daily revenue — the median of
    * all pairwise day slopes; outlier days can't drag it the way
    * they drag OLS. Exact-int divisions, integer-rank median.
    */
  private def qTheilSen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .groupBy(datediff(to_date($"ts"), to_date(lit("2024-01-01")))
        .cast("long").as("day"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
    TimeSeries.theilSen(daily, "day", "cents")
  }

  /** H38: ANN recall pre-flight — SRP-LSH top-5 scored against the
    * brute-force truth per query; exact integer hits, one division.
    */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "embeddings")
    val q = e.filter($"vec_id" % 1000 === 0)
    Similarity.annRecall(
      Similarity.bruteForceTopKAgg(e, q, "vec_id", "embedding", 5),
      Similarity.lshTopK(e, q, "vec_id", "embedding", 5, 8, 64))
  }

  /** C60: LATERAL correlated subquery — per-customer top-2 orders via
    * the SQL-standard lateral join (Spark 4 surface); Catalyst plans
    * it as a ranked window, not a per-row re-execution.
    */
  private def qLateral(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").createOrReplaceTempView("orders_lv")
    table(s, dir, "customer").createOrReplaceTempView("customer_lv")
    s.sql("""
      SELECT c.c_custkey, o.o_orderkey, o.cents
      FROM customer_lv c,
      LATERAL (SELECT o_orderkey,
                      CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
               FROM orders_lv
               WHERE o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) o""")
  }

  /** C61: VARIANT semi-structured extraction (new Spark 4 type) —
    * JSON built from typed columns, parsed to VARIANT once, fields
    * pulled back out with typed paths. GROUND-TRUTH oracle: it emits
    * the planted values without parsing any JSON, so hash equality
    * proves parse_json/variant_get invert the construction.
    */
  private def qVariant(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val j = concat(lit("{\"user\":{\"id\":"), $"user_id",
      lit(",\"ty\":\""), $"event_type", lit("\"},\"vals\":["),
      get_json_object($"props", "$.k"), lit(",2]}"))
    table(s, dir, "events")
      .select($"event_id", parse_json(j).as("v"))
      .select($"event_id",
        variant_get($"v", "$.user.id", "long").as("uid"),
        variant_get($"v", "$.user.ty", "string").as("ty"),
        variant_get($"v", "$.vals[0]", "long").as("v0"))
  }

  /** H39: incremental top-k maintenance — stored top-5 merged with a
    * decorated batch; hash equality against the FULL-recompute oracle
    * proves the merge lossless.
    */
  private def qAnnIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "embeddings")
    val batch = e.filter($"vec_id" % 20 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"embedding")
    Similarity.incrementalTopK(e, batch,
      e.filter($"vec_id" % 1000 === 0), "vec_id", "embedding", 5)
  }

  /** H40: intrinsic dimension of the embedding space (two-NN MLE) —
    * label-blocked exact pair search, no sqrt (the √ cancels into
    * the factor 2), ln folds in id order at 6dp.
    */
  private def qIntrinsicDim(s: SparkSession, dir: String): DataFrame =
    Similarity.intrinsicDimension(table(s, dir, "embeddings"),
      "vec_id", "embedding", "label")

  /** H41: blocking-scheme evaluation — planted customer variants
    * (some moved to another nation, so completeness is provably < 1)
    * scored against nation blocking: candidate-pair count from block
    * SIZES alone, truth coverage from one two-sided block join.
    */
  private def qBlockingEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer")
    val base = c.select($"c_custkey".as("id"),
      $"c_nationkey".cast("long").as("blk"))
    val variants = c.filter($"c_custkey" % 10 === 0)
      .select(($"c_custkey" + 1000000L).as("id"),
        when($"c_custkey" % 30 === 0, ($"c_nationkey" + 1) % 25)
          .otherwise($"c_nationkey").cast("long").as("blk"))
    val truth = c.filter($"c_custkey" % 10 === 0)
      .select($"c_custkey".as("id_a"),
        ($"c_custkey" + 1000000L).as("id_b"))
    operators.Linkage.blockingProfile(base.unionByName(variants), "id",
      "blk", truth)
  }

  /** E87: strongly connected components of a sparsified DIRECTED
    * part⇄supplier graph (forward edges always, reverse edges on odd
    * line numbers — so mutual-reachability cycles genuinely form);
    * labels = component min id, oracle = recursive-closure mutual
    * reachability.
    */
  private def qScc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem")
      .filter($"l_orderkey" % 200 === 1 && $"l_partkey" % 3 === 0)
    val fwd = li.select($"l_partkey".as("s"),
      ($"l_suppkey" + 1000000L).as("d"))
    val back = li.filter($"l_linenumber" % 2 === 1)
      .select(($"l_suppkey" + 1000000L).as("s"), $"l_partkey".as("d"))
    Graph.stronglyConnectedComponents(fwd.unionByName(back), "s", "d")
  }

  /** E88: weighted shortest paths (bounded Bellman–Ford) over the
    * q_scc directed graph with quantity weights — exact integer
    * min-plus, 6 relaxation rounds, unrolled-round oracle.
    */
  private def qShortestPath(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem")
      .filter($"l_orderkey" % 200 === 1 && $"l_partkey" % 3 === 0)
    val fwd = li.select($"l_partkey".as("s"),
      ($"l_suppkey" + 1000000L).as("d"), $"l_quantity".cast("long").as("w"))
    val back = li.filter($"l_linenumber" % 2 === 1)
      .select(($"l_suppkey" + 1000000L).as("s"), $"l_partkey".as("d"),
        $"l_quantity".cast("long").as("w"))
    val edges = fwd.unionByName(back)
    val seeds = li.filter($"l_partkey" % 30 === 0)
      .select($"l_partkey".as("id")).distinct()
    Graph.shortestPaths(edges, "s", "d", "w", seeds, "id", 6)
  }

  /** C62: PSI of order value cents between the pre/post-1998 halves —
    * baseline-decile buckets in exact integer rank arithmetic,
    * add-one smoothing, bucket-ordered ln fold at 6dp.
    */
  private def qPsi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders").select(
      floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
      $"o_orderdate")
    operators.Stats.psi(
      o.filter($"o_orderdate" < "1998-01-01").select($"cents"),
      o.filter($"o_orderdate" >= "1998-01-01").select($"cents"),
      "cents", 10)
  }

  /** C63: runs test on daily revenue — exact above/below-median run
    * counts, fixed-order z at 6dp.
    */
  private def qRunsTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
    TimeSeries.runsTest(daily, "day", "cents")
  }

  /** E89: burstiness (Fano dispersion) of the top-20 corpus terms —
    * exact integer moments with zeros folded in via the identity,
    * one raw division per term.
    */
  private def qBurstiness(s: SparkSession, dir: String): DataFrame =
    Corpus.burstiness(table(s, dir, "documents"), "doc_id", "text",
      TextFunctions.words, 20)

  /** H33: Fellegi–Sunter probabilistic record linkage — nation-blocked
    * customer pairs scored by the exact-rational likelihood ratio
    * (u-probabilities estimated from the data as exact collision
    * counts, m = 9/10 prior, products in DECIMAL(38,0), lr as
    * integral micro-units); ONE block-keyed self-join, u stats are
    * plan-time constants.
    */
  private def qRecordLinkage(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_custkey",
      $"c_nationkey", $"c_mktsegment",
      floor($"c_acctbal" / 1000).cast("long").as("bal_bucket"),
      (floor($"c_acctbal" * 100 + 0.5).cast("long") % 10).as("cents_digit"))
    operators.Linkage.fsLinkage(c, "c_custkey", "c_nationkey",
      Seq("c_mktsegment", "bal_bucket", "cents_digit"))
  }

  /** F22: max drawdown of the running per-event-type value ledger —
    * exact integer cents, per-key windows under a total (ts, event_id)
    * order; the classic worst-degradation-window statistic.
    */
  private def qDrawdown(s: SparkSession, dir: String): DataFrame =
    graft.operators.TimeSeries.maxDrawdown(table(s, dir, "events"),
      "event_type", "ts", "event_id", "value")

  /** F23: cross-correlation of daily click vs purchase cents at lags
    * 0–3 — the lead-lag probe; exact decimal moments, one fixed
    * double-op order per ccf.
    */
  private def qCrossCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .filter($"event_type".isin("click", "purchase"))
      .groupBy(date_format($"ts", "yyyy-MM-dd").as("day"))
      .agg(
        sum(when($"event_type" === "click",
          floor($"value" * 100 + 0.5).cast("long")).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase",
          floor($"value" * 100 + 0.5).cast("long")).otherwise(0L)).as("y"))
    graft.operators.TimeSeries.crossCorrelation(daily, "day", "x", "y",
      Seq(0, 1, 2, 3))
  }

  /** C45: weighted discrete quantiles — revenue-weighted p50/p90/p99
    * of order quantity per return flag ("the median DOLLAR is spent on
    * N-unit lines"), pure integer rank arithmetic on exact cents
    * weights; window over value-cardinality rows only.
    */
  private def qWeightedQuantiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem")
      .select($"l_returnflag", $"l_quantity".cast("long").as("qty"),
        floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"))
    graft.operators.Stats.weightedQuantiles(li, Seq("l_returnflag"),
      "qty", "cents", Seq(5000, 9000, 9900))
  }

  /** E53: PMI bigram collocations over the documents corpus — top-30
    * bigrams by count with their pointwise mutual information; the PMI
    * argument is one exact-integer rational, so the float path is one
    * division + one ln, rounded to 6dp (the ln parity rule).
    */
  private def qCollocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-12 measured: fanOut here REGRESSED (0.97 -> 2.7s) — the
    // operator's branches re-evaluate the input expression and the
    // added exchange multiplied instead of sharing. Left alone.
    Corpus.collocations(table(s, dir, "documents"), "text",
        TextFunctions.words, 30)
      .select($"a", $"b", $"c_ab", round($"pmi_raw", 6).as("pmi"))
  }

  /** E54: winnowing fingerprints (MOSS, Schleimer et al. SIGMOD 2003)
    * — per doc the count and order-sensitive digest of its winnowed
    * fingerprint set (k=8 char-grams, window w=5): any shared
    * substring ≥ 12 chars between docs implies a shared fingerprint.
    * The native expression extracts fingerprints INSIDE the scan stage
    * (zero shuffles); the oracle replays the declarative spec —
    * md5 per k-gram, window minimum, distinct — and the md5-of-sorted-
    * set digest certifies every fingerprint value.
    */
  private def qWinnow(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.plans.TextNativeFunctions
    // round-12 measured: fanOut here was FLAT (0.69s both ways) and
    // breaks the "fingerprints extract shuffle-free" plan pin — the
    // winnow kernel is cheap relative to its output agg. Left alone.
    table(s, dir, "documents")
      .select($"doc_id", TextNativeFunctions.winnowFingerprints(
        TextFunctions.normalizeText($"text"), 8, 5).as("fps"))
      .filter(size($"fps") > 0)
      .select($"doc_id", size($"fps").cast("long").as("n_fps"),
        md5(array_join($"fps", "").cast("binary")).as("fps_md5"))
  }

  /** E55: winnowing-join over the dup-seeded corpus — substring-level
    * near-dup candidate pairs from shared MOSS fingerprints,
    * containment-scored (|∩|/min) with exact-integer acceptance at
    * ≥ 1/2. Fingerprints seen in more than 20 docs are dropped before
    * the pair join (MOSS common-code elimination): the synthetic
    * corpus's small vocabulary makes hot grams pair-quadratic (99 s at
    * sf0.1 uncapped → sub-second capped); exact dups still score
    * containment exactly 1.0 since their rare sets coincide.
    */
  private def qWinnowPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(dupCorpus(s, dir), "text", "doc_id",
      k = 8, w = 5, thrNum = 1, thrDen = 2, maxDf = 20L)

  /** E52: token-blocklist screen over the documents corpus — per doc
    * the blocked-token hit count, the matched terms, and the keep
    * verdict; the blocklist side is broadcast (real blocklists are
    * kilobytes against a 100 TB token stream).
    */
  private def qBlocklist(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.blocklistScreen(table(s, dir, "documents"), "text", "doc_id",
      TextFunctions.words, Seq("dup", "slow", "big").toDF("term"), "term")
  }

  /** E58: per-domain caps over synthesized crawl URLs — docs carry a
    * deterministic source-derived URL; each domain keeps at most 15
    * docs chosen by content-hash order (Corpus.domainCap).
    */
  private def qDomainCap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val withUrl = table(s, dir, "documents")
      .withColumn("url", concat(lit("https://"), $"source",
        lit(".example.com/docs/"), $"doc_id".cast("string")))
    Corpus.domainCap(withUrl, "url", "doc_id", 15)
      .select($"id".as("doc_id"), $"domain", $"rnk", $"keep")
  }

  /** A10: l-diversity audit — k-anonymity's blind spot: a group can
    * be large (k-anonymous) yet expose everyone because all members
    * share one sensitive value. Per quasi-identifier group report
    * size, distinct sensitive values, and the diversity verdict —
    * group-cardinality output at any table size.
    */
  private def qLDiversity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // band via exact cents → double → floor (cents < 2^52 so the
    // double is exact; floor rounds toward −inf identically on both
    // engines, unlike integer `div` which truncates toward zero on
    // negative balances)
    table(s, dir, "customer")
      .select($"c_nationkey", $"c_mktsegment",
        floor(floor($"c_acctbal" * 100 + 0.5) / 200000.0)
          .cast("long").as("bal_band"))
      .groupBy($"c_nationkey", $"c_mktsegment")
      .agg(count(lit(1)).as("group_size"),
        countDistinct($"bal_band").as("l_distinct"))
      .withColumn("diverse", $"l_distinct" >= 3)
  }

  /** A11: Benford first-digit audit (fraud/quality signal on
    * financial columns) — leading digit of the exact integer cents
    * (invariant under the ×100 scaling), counts per digit, observed
    * share (one exact-int division, raw-double safe) vs the Benford
    * expectation log10(1+1/d) (transcendental → rounded 6dp, the
    * q_lm_score parity rule).
    */
  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // floor(x·100 + 0.5): DOUBLE→cents identically on both engines
    // (bare cast truncates on Spark but rounds on DuckDB)
    val cents = table(s, dir, "orders")
      .select(floor($"o_totalprice" * 100 + 0.5).cast("long").as("c"))
      .filter($"c" > 0)
    val n = cents.agg(count(lit(1)).as("n_total"))
    cents.select(substring($"c".cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(n))
      .select($"digit", $"n",
        ($"n".cast("double") / $"n_total".cast("double")).as("share"),
        round(log(lit(1.0) + lit(1.0) / $"digit".cast("double")) /
          log(lit(10.0)), 6).as("expected"))
  }

  /** E61: HTML → text extraction — documents wrapped in a synthetic
    * (deterministic) markup shell: head with style + script elements
    * whose CONTENT must vanish wholesale (the script body contains
    * `<`, `>`, quotes and a fake closing tag inside a string — the
    * classic naive-strip traps), comments, heading/paragraph tags,
    * and entity-encoded punctuation that must decode exactly once
    * (`&amp;lt;` → literal `&lt;`). Every step is a codegen'd
    * regexp in the RE2 ∩ Java dialect, so the oracle runs the
    * IDENTICAL pattern strings (TextFunctions.stripHtml).
    */
  private def qHtmlStrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val html = concat(
      lit("<html><head><title>Doc "), $"doc_id", lit("</title>"),
      lit("<style type=\"text/css\">body { color: #c00; }</style>"),
      lit("<script>if (1 < 2 && 0 > -1) { var s = \"</div>\"; }</script>"),
      lit("</head>\n<body>\n<!-- crawl:"), $"source",
      lit("\n  snapshot -->\n<h1 class=\"t\">"), $"source",
      lit("</h1>\n<p>"), $"text",
      lit(" &amp;lt;tail&amp;gt; A &amp; B &lt;ok&gt; &quot;q&#39;s&quot;&nbsp;end</p>\n<br/></body></html>"))
    table(s, dir, "documents")
      .select($"doc_id", TextFunctions.stripHtml(html).as("clean"))
      .withColumn("n_chars", length($"clean").cast("long"))
  }

  /** E59: corpus divergence — KL both ways + Jensen–Shannon between
    * the even-id and odd-id halves of the documents corpus, add-one
    * smoothed over the union vocabulary. Exact-integer counts and
    * denominators; ln sums folded in sorted-term order; 6dp (the
    * ln-ulp rule — Corpus.distributionDivergence).
    */
  private def qCorpusDivergence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    Corpus.distributionDivergence(
        d.filter($"doc_id" % 2 === 0), d.filter($"doc_id" % 2 === 1),
        "text", TextFunctions.words)
      .select($"n_terms", $"tot_a", $"tot_b",
        round($"kl_ab", 6).as("kl_ab"), round($"kl_ba", 6).as("kl_ba"),
        round($"js", 6).as("js"))
  }

  /** E60: model-based quality filter — fasttext-shaped hashed linear
    * classifier over the documents corpus: hashing-trick features
    * (E33's md5 buckets), deterministic broadcast milli-unit weights,
    * integer dot product. z_milli is EXACT (hash-stable); the score
    * rounds at 6dp (sigmoid's exp — the transcendental rule); keep
    * (σ ≥ ½ ⇔ z ≥ 0) is exact integer arithmetic
    * (Corpus.hashedLinearScore).
    */
  private def qQualityClassifier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.hashedLinearScore(table(s, dir, "documents"), "text", "doc_id",
        TextFunctions.words, Corpus.hashedWeights(s), "bucket", "w_milli")
      .select($"id".as("doc_id"), $"n_tokens", $"z_milli",
        round($"score_raw", 6).as("score"), $"keep")
  }

  /** E64: canonical outlink edge list — documents wrapped in a markup
    * shell carrying three anchors (one uppercase-HREF with tracking
    * params + fragment, one RELATIVE href that must be dropped, one
    * single-quoted with default port + trailing slash); extraction +
    * canonicalization compose entirely inside the scan
    * (TextFunctions.extractLinks → normalizeUrl). The exploded
    * (doc_id, pos, link) rows ARE the web graph input.
    */
  private def qExtractLinks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val html = concat(lit("<html><body><p>"), $"text",
      lit("</p>\n<a class=\"m\" HREF=\"HTTP://WWW."), $"source",
      lit(".Example.COM:80/Docs/p"), ($"doc_id" % 8).cast("string"),
      lit("?utm_source=f&b="), ($"doc_id" % 3).cast("string"),
      lit("#s\">x</a>\n<a href=\"/relative/skip\">r</a>\n<a href='https://cdn.example.net:443/a/"),
      ($"doc_id" % 5).cast("string"), lit("/'>y</a></body></html>"))
    table(s, dir, "documents")
      .select($"doc_id", TextFunctions.extractLinks(html).as("ls"))
      .select($"doc_id",
        posexplode(transform($"ls", l => TextFunctions.normalizeUrl(l)))
          .as(Seq("pos", "link")))
      .withColumn("pos", $"pos".cast("long"))
      .select($"doc_id", $"pos", $"link")
  }

  /** E63: URL canonicalization + URL-level dedup groups — documents
    * decorated with deterministic raw URLs in every transport-noise
    * variant (scheme/host case, default ports, utm params, param
    * order, fragments, trailing slashes); canonical form collapses
    * them to dedup groups (TextFunctions.normalizeUrl). The ONLY
    * shuffle is the group count; canonicalization runs in the scan.
    */
  private def qUrlNormalize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val url = concat(
      when($"doc_id" % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("https://www.")),
      $"source", lit(".Example.COM"),
      when($"doc_id" % 2 === 0, lit(":80")).otherwise(lit(":443")),
      lit("/Docs/p"), ($"doc_id" % 8).cast("string"),
      when($"doc_id" % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?b="), ($"doc_id" % 3).cast("string"),
      lit("&utm_source=feed"),
      when($"doc_id" % 4 === 0, lit("&a=1")).otherwise(lit("")),
      when($"doc_id" % 3 === 0, lit("#top")).otherwise(lit("")))
    val w = Window.partitionBy($"canon")
    table(s, dir, "documents")
      .select($"doc_id", TextFunctions.normalizeUrl(url).as("canon"))
      .withColumn("n_same", count(lit(1)).over(w))
      .withColumn("is_dup", $"n_same" > 1)
  }

  /** C45: revenue concentration (Gini / Lorenz) — inequality of
    * per-customer revenue as exact-integer arithmetic: cents sums,
    * ascending rank (value, key tie-break — Gini is tie-order
    * invariant, the sort just pins determinism), numerator
    * Σ(2i−n−1)·xᵢ in decimal(38,0), ONE double division at the end
    * (raw-double safe). The rank comes from Stats.globalValueRank's
    * TWO-LEVEL plan — no bare global window serializing 15M customers
    * onto one partition at sf100.
    */
  private def qGini(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
    val ranked = Stats.globalValueRank(r, "cents", "o_custkey", "i")
    val t = r.agg(count(lit(1)).as("n"), sum($"cents").as("tot"))
    ranked.crossJoin(broadcast(t))
      .agg(first($"n").as("n_customers"), first($"tot").as("total_cents"),
        (sum((($"i" * 2 - $"n" - 1)).cast("decimal(38,0)") *
            $"cents".cast("decimal(38,0)")).cast("double") /
          (first($"n").cast("double") * first($"tot").cast("double")))
          .as("gini"))
  }

  /** C46: Lorenz-curve deciles — the distributional companion to
    * q_gini's scalar: customers ranked ascending by integer-cents
    * revenue, decile id by pure integer arithmetic
    * `min(9, (i−1)·10 div n)` (NOT ntile — remainder placement is
    * engine-defined), cumulative revenue share per decile. Cumulative
    * sums exact integers; each share is ONE division of exact ints
    * (raw-double safe). The customer rank is Stats.globalValueRank's
    * two-level plan; the only globally-ordered window left runs over
    * the 10 decile rows.
    */
  private def qLorenz(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val r = table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
    val t = r.agg(count(lit(1)).as("n"), sum($"cents").as("tot"))
    val byDecile = Stats.globalValueRank(r, "cents", "o_custkey", "i")
      .crossJoin(broadcast(t))
      .withColumn("decile", least(lit(9L), expr("(i - 1) * 10 div n")))
      .groupBy($"decile")
      .agg(count(lit(1)).as("n_customers"), sum($"cents").as("cents_sum"),
        first($"tot").as("tot"))
    val cum = Window.orderBy($"decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile
      .withColumn("cum_cents", sum($"cents_sum").over(cum))
      .select($"decile", $"n_customers", $"cents_sum",
        ($"cum_cents".cast("double") / $"tot".cast("double"))
          .as("cum_share"))
  }

  /** E68: incremental URL screening — the crawl-as-a-stream form of
    * E63: today's fetch batch (odd doc_ids) screens against the
    * persisted canonical-URL store built from yesterday's crawl (even
    * doc_ids). In-batch keep-lowest-id on the canon, then ONE anti
    * join against the store — the store side is canon-distinct and
    * far smaller than the fetch stream, and yesterday's content is
    * never re-read (the E40/E45 incremental-store discipline applied
    * to the URL key).
    */
  private def qIncrementalUrl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    def canonOf(df: DataFrame) = {
      // decorations vary; the canonical identity (host, path, b param)
      // is shared across batches so cross-batch hits actually occur
      val url = concat(lit("HTTP://WWW."), col("source"),
        lit(".Example.COM"),
        when(col("doc_id") % 2 === 0, lit(":80")).otherwise(lit("")),
        lit("/Docs/p"), (col("doc_id") % 8).cast("string"),
        lit("?b="), (col("doc_id") % 3).cast("string"),
        lit("&utm_source=feed"),
        when(col("doc_id") % 3 === 0, lit("#top")).otherwise(lit("")))
      df.select(col("doc_id"), TextFunctions.normalizeUrl(url).as("canon"))
    }
    val store = canonOf(d.filter($"doc_id" % 2 === 0))
      .select($"canon").distinct()
    val batch = canonOf(d.filter($"doc_id" % 2 =!= 0))
    val w = Window.partitionBy($"canon").orderBy($"doc_id")
    batch.withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1).drop("__rn")
      .join(store, Seq("canon"), "left_anti")
      .select($"doc_id", $"canon")
  }

  /** E67 flagship composition: the crawl-curation funnel — the first
    * three passes every web corpus runs, chained from this library's
    * operators over raw "crawl records" (doc + decorated URL + markup
    * shell):
    *
    *  1. URL-level dedup (E63): canonical URL, keep lowest doc_id —
    *     the cheapest key kills transport-noise copies BEFORE any
    *     content work;
    *  2. HTML → text (E61) on the survivors;
    *  3. model-based quality filter (E60) on the STRIPPED text,
    *     integer keep verdict.
    *
    * One funnel row of exact integers; the oracle replays all three
    * stages (canon pipeline → regexp strip chain → md5 classifier)
    * end to end.
    */
  private def qCrawlFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    val url = concat(
      when($"doc_id" % 2 === 0, lit("HTTP://WWW.")).otherwise(lit("https://www.")),
      $"source", lit(".Example.COM"),
      when($"doc_id" % 2 === 0, lit(":80")).otherwise(lit(":443")),
      lit("/Docs/p"), ($"doc_id" % 8).cast("string"),
      when($"doc_id" % 3 === 0, lit("/")).otherwise(lit("")),
      lit("?b="), ($"doc_id" % 3).cast("string"),
      lit("&utm_source=feed"),
      when($"doc_id" % 4 === 0, lit("&a=1")).otherwise(lit("")),
      when($"doc_id" % 3 === 0, lit("#top")).otherwise(lit("")))
    val w = Window.partitionBy($"__canon").orderBy($"doc_id")
    val urlKept = d
      .withColumn("__canon", TextFunctions.normalizeUrl(url))
      .withColumn("__rn", row_number().over(w))
      .filter($"__rn" === 1)
    val html = concat(
      lit("<html><head><title>Doc "), $"doc_id", lit("</title>"),
      lit("<style type=\"text/css\">body { color: #c00; }</style>"),
      lit("<script>if (1 < 2 && 0 > -1) { var s = \"</div>\"; }</script>"),
      lit("</head>\n<body>\n<!-- crawl:"), $"source",
      lit("\n  snapshot -->\n<h1 class=\"t\">"), $"source",
      lit("</h1>\n<p>"), $"text",
      lit(" &amp;lt;tail&amp;gt; A &amp; B &lt;ok&gt; &quot;q&#39;s&quot;&nbsp;end</p>\n<br/></body></html>"))
    val stripped = urlKept.select($"doc_id",
      TextFunctions.stripHtml(html).as("clean"))
    val scored = Corpus.hashedLinearScore(stripped, "clean", "doc_id",
      TextFunctions.words, Corpus.hashedWeights(s), "bucket", "w_milli")
    d.agg(count(lit(1)).as("n_input"))
      .crossJoin(stripped.agg(count(lit(1)).as("n_unique_url")))
      .crossJoin(scored.agg(
        sum(when($"keep", 1L).otherwise(0L)).as("n_quality_keep"),
        sum(when($"keep", $"n_tokens").otherwise(0L)).as("tokens_kept")))
  }

  /** E66: cut the duplicated spans out of the dup-seeded corpus —
    * duplicateSpans' ranges applied back (Corpus.cutSpans): exact
    * copies collapse to empty text, partial overlaps keep their
    * unique tail, untouched docs pass through byte-identical. The
    * oracle re-derives detection AND cutting.
    */
  private def qCutSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = dupCorpus(s, dir)
    val spans = Corpus.duplicateSpans(corpus, "text", "doc_id",
      TextFunctions.words, 5)
    Corpus.cutSpans(corpus, "text", "doc_id", TextFunctions.words, spans)
      .select($"id".as("doc_id"), $"clean_text", $"n_kept", $"n_cut")
  }

  /** C44b: GLOBAL skyline — same dims as q_skyline without the brand
    * key, exercising the two-phase plan (per-partition dominance
    * buffers → final pass over the candidate union) that the grouped
    * gate's single-pass path never runs.
    */
  private def qSkylineGlobal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Analytics.skyline(s, table(s, dir, "part"), "p_partkey",
        Seq("p_size" -> true, "p_retailprice" -> false), None)
      .select($"p_partkey", $"p_size".cast("long").as("p_size"),
        $"p_retailprice")
  }

  /** C44: per-brand skyline (Pareto frontier) of the part catalog —
    * parts no same-brand part beats on BOTH size (max) and retail
    * price (min). Keyed single-pass plan: one shuffle on the brand,
    * per-key dominance buffer over the Σdims-desc in-partition sort
    * (Analytics.skyline). Dominance compares exact doubles — no
    * rounding anywhere.
    */
  private def qSkyline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Analytics.skyline(s, table(s, dir, "part"), "p_partkey",
        Seq("p_size" -> true, "p_retailprice" -> false), Some("p_brand"))
      .select($"p_brand", $"p_partkey",
        $"p_size".cast("long").as("p_size"), $"p_retailprice")
  }

  /** E62: maximal duplicated token spans over the dup-seeded corpus
    * (Corpus.duplicateSpans, k=5) — the exact-substring-dedup output:
    * which token ranges to CUT, not which documents to drop. Planted
    * exact copies flag whole-document spans in both directions; the
    * truncated near-dups flag everything but their clipped tail. All
    * columns exact integers.
    */
  private def qDupSpans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.duplicateSpans(dupCorpus(s, dir), "text", "doc_id",
        TextFunctions.words, 5)
      .select($"id".as("doc_id"), $"span_start", $"span_end",
        $"span_tokens", $"n_grams")
  }

  /** E35: triangle census of the near-dup graph (Graph.triangleStats) —
    * canonical-orientation wedge join (two keyed equi-joins, no
    * cartesian); clustering coefficient is one double division of
    * exact integer counts. Dup clusters triangulate heavily; spurious
    * LSH chains don't — a one-row quality fingerprint for the dedup
    * funnel.
    */
  private def qTriangleStats(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.triangleStats(pairs, "id_a", "id_b")
  }

  /** E39: label-propagation communities over the near-dup graph —
    * deterministic LPA (min-label tie-break, 3 synchronized rounds)
    * splits components along dense cores; with CC (q_dedup_cluster)
    * this gives both views of the pair graph. The oracle unrolls the
    * identical rounds in SQL.
    */
  private def qCommunities(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.labelPropagation(pairs, "id_a", "id_b", rounds = 3)
  }

  /** E47: 2-core of the near-dup graph — peeling isolates duplicate
    * CLIQUES from the chains/pendants LSH noise produces; the third
    * graph view beside CC (components) and LPA (label cores). The
    * oracle unrolls 6 peel rounds; the operator runs to fixpoint —
    * equality also certifies convergence depth on the gate data.
    */
  private def qKcore(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.kCore(pairs, "id_a", "id_b", k = 2)
  }

  /** E111: 3-truss of the near-dup pair graph — edges that close at
    * least one triangle WITHIN the surviving subgraph; the template-hub
    * cut k-core can't make (operators.Graph.kTruss).
    */
  private def qKtruss(s: SparkSession, dir: String): DataFrame = {
    val pairs = Dedup.ngramJaccardPairs(dupCorpus(s, dir), "text", "doc_id",
      5, 0.6)
    Graph.kTruss(pairs, "id_a", "id_b", k = 3)
  }

  /** F11: VWAP per (event_type, day) — notional (cents × quantity)
    * accumulates as exact integers; the only float op is ONE division
    * at the end, identical on both engines. TWAP/VWAP is the standard
    * finance/metrics roll-up the OHLC bars don't cover.
    */
  private def qVwap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = floor($"value" * 100 + 0.5).cast("long")
    val qty = get_json_object($"props", "$.k").cast("long")
    table(s, dir, "events")
      .select($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"),
        cents.as("c"), qty.as("q"))
      .groupBy($"event_type", $"day")
      .agg(count(lit(1)).as("n"), sum($"q").as("total_qty"),
        sum($"c" * $"q").as("notional_cents"))
      .select($"event_type", $"day", $"n", $"total_qty", $"notional_cents",
        when($"total_qty" > 0, $"notional_cents".cast("double") /
          (lit(100.0) * $"total_qty".cast("double"))).as("vwap"))
  }

  /** A8: referential-integrity audit — orphan counts per FK
    * relationship via anti joins (the scale-correct form; never a
    * driver-side key set). events→customer genuinely has orphans in
    * the testdata, so the check provably fires; the TPC-H FKs hold.
    */
  private def qRefIntegrity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def rel(child: DataFrame, key: String, parent: DataFrame, pkey: String,
            name: String): DataFrame = {
      val total = child.agg(count(lit(1)).as("n_child"))
      val orph = child.select(col(key))
        .join(parent.select(col(pkey)), col(key) === col(pkey), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
      total.crossJoin(broadcast(orph)).select(lit(name).as("relationship"),
        $"n_child", $"n_orphans")
    }
    rel(table(s, dir, "lineitem"), "l_orderkey",
        table(s, dir, "orders"), "o_orderkey", "lineitem->orders")
      .unionByName(rel(table(s, dir, "orders"), "o_custkey",
        table(s, dir, "customer"), "c_custkey", "orders->customer"))
      .unionByName(rel(table(s, dir, "customer"), "c_nationkey",
        table(s, dir, "nation"), "n_nationkey", "customer->nation"))
      .unionByName(rel(table(s, dir, "events"), "user_id",
        table(s, dir, "customer"), "c_custkey", "events->customer"))
  }

  /** C42: market-basket lift — brand co-occurrence across orders
    * (lineitem ⋈ broadcast part → distinct (order, brand) baskets),
    * a-priori pruned self-join, exact-integer supports, lift and
    * confidence each one raw double division.
    */
  private def qBasketLift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-12: the basket collect_set map runs in this scan's stage
    // (measured 0.72s on 3 tasks) — spread the fact side
    val baskets = fanOut(table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey"), $"l_orderkey")
      .join(broadcast(table(s, dir, "part")), $"l_partkey" === $"p_partkey")
      .select($"l_orderkey".as("bk"), $"p_brand".as("it"))
    Analytics.basketLift(baskets, "bk", "it", minSupport = 20)
  }

  /** C41: latency-band dashboard — exact discrete p50/p90/p99 of
    * event value cents per (event_type, hour-of-day), pure integer
    * rank arithmetic (Stats.discreteQuantiles): the observability
    * percentile roll-up, bit-stable at any parallelism.
    */
  private def qLatencyBands(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_type",
      hour($"ts").cast("long").as("hod"),
      floor($"value" * 100 + 0.5).cast("long").as("c"))
    Stats.discreteQuantiles(e, Seq("event_type", "hod"), "c",
        Seq(5000, 9000, 9900))
      .select($"event_type", $"hod", $"q5000".as("p50_c"),
        $"q9000".as("p90_c"), $"q9900".as("p99_c"))
  }

  /** H22: PassJoin segment-blocked edit-distance self-join on a
    * SPARSE-duplicate corpus (40-char doc prefixes + seeded 1-edit
    * variants, blocked by language) — the regime the signature join is
    * built for: candidates ≈ true pairs, the levenshtein kernel runs
    * on ~0.1% of the naive pair count. The dense-regime counterpart
    * (q_fuzzy_match) deliberately keeps the blocked scan; see the H22
    * SURVEY row for the measured crossover.
    */
  private def qEditJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
      .select($"doc_id".as("key"), $"lang", substring($"text", 1, 40).as("name"))
    // seeded variants: substitute position 1 → true distance-1 pairs
    val v = d.filter($"key" % 5 === 0)
      .select(($"key" + 1000000).as("key"), $"lang",
        concat(lit("x"), substring($"name", 2, 39)).as("name"))
    EditJoin.selfJoin(fanOutHeavy(d.unionByName(v), $"key"),
        "key", "name", "lang", 2)
      .select($"block".as("lang"), $"key_a", $"key_b", $"dist")
  }

  /** E36: near-dup survivorship ("golden record") — pairs → connected
    * components → one keeper per multi-member cluster by the classic
    * most-complete-record rule (max length, ties to min id — picked in
    * ONE aggregate via lexicographic struct max, no second pass).
    * Singleton docs are their own cluster (left join + coalesce).
    */
  private def qGoldenRecord(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = dupCorpus(s, dir)
    val pairs = Dedup.ngramJaccardPairs(corpus, "text", "doc_id", 5, 0.6)
    val cc = Graph.connectedComponents(pairs, "id_a", "id_b")
      .withColumnRenamed("id", "doc_id")
    corpus.join(cc, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster_id"),
        length($"text").cast("long").as("len"))
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(struct($"len", (-$"doc_id").as("neg_id"))).as("best"),
        max($"len").as("max_len"),
        sum($"len").as("total_len"))
      .filter($"n_members" > 1)
      .select($"cluster_id", $"n_members", (-$"best.neg_id").as("keeper_id"),
        $"max_len", $"total_len")
  }

  /** F9: OHLC down-sampling (tick → hourly bar) — open/high/low/close/
    * volume per (type, hour) in ONE map-combinable aggregate via
    * min_by/max_by on the unique µs timestamp; integer cents keep the
    * volume sum exact (TimeSeries.resampleOhlc).
    */
  private def qOhlcResample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events").select($"event_type",
      unix_micros($"ts").as("us"),
      floor($"value" * 100 + 0.5).cast("long").as("c"))
    TimeSeries.resampleOhlc(ev, Seq("event_type"), "us", "c", 3600000000L)
  }

  /** F7: hopping (sliding) windows — 1h windows every 15min, so each
    * event lands in 4 overlapping windows. Spark's `window()` handles
    * the fan-out natively; the oracle unnests the 4 offsets with pure
    * integer bucket arithmetic (windows are epoch-aligned in both).
    */
  private def qHopAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "events")
      .groupBy(window($"ts", "1 hour", "15 minutes"), $"event_type")
      .agg(count(lit(1)).as("n"), round(sum($"value"), 2).as("total"))
      .select(unix_micros($"window.start").as("start_us"), $"event_type",
        $"n", $"total")
  }

  /** C32: sketched distinct counts — approx_count_distinct (HLL++)
    * per event type beside the exact count. At 100 TB the exact
    * distinct is a full shuffle of every key; the sketch is one pass,
    * mergeable, and bounded-error (rows-only gate: HLL internals are
    * engine-specific; SkewApproxSpec bounds the relative error).
    */
  private def qApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "events")
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id", 0.02).as("approx_users"),
        count_distinct($"user_id").as("exact_users"))
  }

  /** E7c: k-means IVF-index training — Lloyd iterations with broadcast
    * centroids; only k·dim scalars cross the driver per iteration.
    * Rows-only gate (fp-summation makes inertia engine-specific);
    * semantics spec'd in AsOfIvfSpec (monotone inertia, partition
    * independence, trained centroids feeding ivfTopK).
    */
  private def qKmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.kmeansTrain(table(s, dir, "embeddings"),
        "vec_id", "embedding", 8, 3)
      .select($"cid", $"n_assigned", round($"inertia", 2).as("inertia"))
  }

  /** H19: fixed-point k-means twin — the SAME Lloyd shape as q_kmeans
    * (k=8, 3 iters, k·D driver scalars per round) but on int8-quantized
    * vectors with all-integer arithmetic (exact distances, DIV centroid
    * update, md5-portable init), so unlike the float form it carries a
    * HARD hash-equality oracle: DuckDB unrolls the same 3 Lloyd rounds
    * in integer SQL and must match bit-for-bit.
    */
  private def qKmeansFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.kmeansFixedTrain(table(s, dir, "embeddings"),
      "vec_id", "embedding", 8, 3)
  }

  /** E79: k-center coreset — Gonzalez farthest-first on the int8
    * grid (k=8): deterministic diverse-subset selection with cover
    * guarantee; integer distances, md5-portable seed, argmax ties to
    * the lowest id ⇒ hash-gateable.
    */
  private def qKcenter(s: SparkSession, dir: String): DataFrame =
    Similarity.kCenterSelect(table(s, dir, "embeddings"),
      "vec_id", "embedding", 8)

  /** H28: fixed-point PQ twin — integer Lloyd training of all m=8
    * subspace codebooks (k=16, 3 iters, joint (sb)-keyed jobs) plus
    * code assignment, on the int8 grid with md5-portable init; the
    * full code table is bit-identical on any engine, so PQ TRAINING
    * carries a hard hash oracle (the float recall path q_ann_pq
    * stays rows-only).
    */
  private def qPqFixed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Similarity.pqFixedEncode(table(s, dir, "embeddings"),
        "vec_id", "embedding", 8, 16, 3)
      .select($"id".as("vec_id"), $"sb", $"code")
  }

  /** E7d: product-quantization ANN — m=8 subspace codebooks × 16
    * centroids (8-byte codes, 32× compression); per-query LUT + ADC
    * lookup scan + exact rerank. Rows-only gate (Lloyd training is
    * fp-order-specific); recall/determinism spec'd in AsOfIvfSpec.
    */
  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "embeddings")
    val books = Similarity.pqTrain(e, "vec_id", "embedding",
      m = 8, k = 16, iters = 3)
    Similarity.pqTopK(e, e.filter($"vec_id" % 100 === 0),
      "vec_id", "embedding", books, k = 5, rerankFactor = 10)
  }

  /** D5: snapshot diff (CDC derivation) — one full-outer join on the
    * key classifies every row I/D/U against the previous dump; the
    * (small) changeset feeds incremental loads when the source has no
    * CDC log. The "new" snapshot is derived deterministically from
    * orders (drops %97, +10 price on %101, re-keyed inserts on %103)
    * so both engines diff identical inputs.
    */
  private def qSnapshotDiff(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
      .select($"o_orderkey", $"o_orderstatus", $"o_totalprice")
    val neu = o.filter($"o_orderkey" % 97 =!= 0)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 101 === 0, $"o_totalprice" + 10.0)
          .otherwise($"o_totalprice"))
      .unionByName(o.filter($"o_orderkey" % 103 === 0)
        .select(($"o_orderkey" + 10000000).as("o_orderkey"),
          $"o_orderstatus", $"o_totalprice"))
    Loads.snapshotDiff(o, neu, "o_orderkey")
      .groupBy($"change")
      .agg(count(lit(1)).as("n"),
        round(sum($"o_totalprice"), 2).as("sum_price"))
  }

  /** D6: incremental aggregate maintenance — partial agg states from
    * independent batches (split by key parity) merge into the exact
    * global aggregate; the oracle aggregates the whole table directly.
    * This is the algebraic-measure foundation of materialized-view
    * upkeep: the view shuffles key-cardinality rows, never the facts.
    */
  private def qIncrAgg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = table(s, dir, "lineitem")
      .select($"l_orderkey", $"l_returnflag", $"l_quantity",
        $"l_extendedprice")
    val halves = Seq(0, 1).map(p =>
      Loads.aggState(li.filter($"l_orderkey" % 2 === p),
        Seq("l_returnflag"), Seq("l_quantity", "l_extendedprice")))
    Loads.mergeAggStates(halves, Seq("l_returnflag"),
        Seq("l_quantity", "l_extendedprice"))
      .select($"l_returnflag", $"__n".as("n"),
        round($"__sum_l_quantity", 2).as("sum_qty"),
        round($"__sum_l_extendedprice" / $"__n", 4).as("avg_price"))
  }

  /** E25: fixed-size char chunking with overlap (RAG / context-window
    * prep) — `sequence` + `posexplode` per-row expressions, ZERO
    * shuffles: a 100 TB corpus chunks inside the scan stage and chunks
    * stay co-partitioned with their doc.
    */
  private def qChunkDocs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.chunk(table(s, dir, "documents").select($"doc_id", $"text"),
      "text", "doc_id", size = 100, overlap = 20)
  }

  /** E26: C4-style cross-corpus line dedup — dup-seeded corpus
    * reformatted into 8-word lines, every repeated line kept only at
    * its first occurrence (min doc, then min pos), docs reassembled
    * from surviving lines. One shuffle on line content + one on doc id;
    * exact-dup docs provably lose all their lines.
    */
  private def qLineDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = TextFunctions.words($"text")
    val nLines = ceil(size(w) / lit(8.0)).cast("int")
    val multi = dupCorpus(s, dir).select($"doc_id",
      array_join(transform(sequence(lit(0), nLines - 1, lit(1)),
        i => concat_ws(" ", slice(w, i * 8 + 1, lit(8)))), "\n").as("text"))
    Corpus.lineDedup(multi, "text", "doc_id")
      .select($"id".as("doc_id"), $"n_lines", $"n_kept",
        md5($"kept_text".cast("binary")).as("kept_fp"))
  }

  /** E41: corpus-self bigram LM scoring (perplexity-filter shape) —
    * add-one-smoothed mean log-probability per doc; counts exact,
    * one ln per bigram, position-ordered fold (oracle replays the
    * identical op sequence via an ORDER BY list_reduce).
    */
  private def qLmScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round(6): JVM Math.log (intrinsic, fdlibm-lineage) and DuckDB's
    // glibc ln differ by 1 ulp on ~0.1% of inputs, so a 50-term sum
    // of lns is NOT bit-stable across engines the way single
    // divisions are — unlike the raw-double ratio queries, this one
    // must round (the q_ewma precedent)
    Corpus.bigramLmScore(
        fanOut(table(s, dir, "documents"), $"doc_id"), "text", "doc_id")
      .select($"id".as("doc_id"), $"n_bigrams",
        round($"avg_lnp", 6).as("avg_lnp"))
  }

  /** E37: duplicated-span detection over the dup-seeded corpus —
    * word-5-gram spans occurring in 2+ docs, per-doc duplicated
    * fraction (one exact-int IEEE division), flag at 50%. The seeded
    * exact/near duplicates must score ≈1.0; organic docs score by how
    * much boilerplate they share.
    */
  private def qSpanDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.spanDedup(dupCorpus(s, dir), "text", "doc_id",
        n = 5, minDocs = 2, flagAt = 0.5)
      .select($"id".as("doc_id"), $"n_spans", $"n_dup_spans",
        $"dup_frac", $"flagged")
  }

  /** E42: set-similarity self-join with prefix filtering
    * (AllPairs/PPJoin) over the dup-seeded corpus, on 5-gram shingle
    * sets at τ = 3/5 — the pairs q_dedup_ngram finds at 0.6, through
    * the same prefix-filtered kernel (`SetSim.prefixJoin`) with exact
    * integer pruning and acceptance instead of Dedup's IEEE-double
    * size test and 4-dp rounding. The oracle is the brute-force
    * shared-shingle pair set — equality IS the prefix-filter
    * correctness theorem, checked end-to-end.
    */
  private def qSetsimJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SetSim.jaccardSelfJoin(dupCorpus(s, dir), "text", "doc_id", 3, 5,
      c => TextFunctions.shingles(c, 5))
  }

  /** E43: vocabulary build + token-id encoding — top-64 terms by
    * (count desc, term asc) become ids 1..64, docs re-emitted as
    * position-ordered id sequences with OOV = 0. Vocabulary cut is a
    * TakeOrderedAndProject (per-partition heaps), encode is a
    * broadcast join; the corpus shuffles once.
    */
  private def qVocabEncode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.vocabEncode(table(s, dir, "documents"), "text", "doc_id", 64)
      .select($"id".as("doc_id"), $"n_tokens", $"n_oov", $"ids")
  }

  /** E46: BPE merge-candidate statistics — adjacent char-pair counts
    * inside normalized words, top-30; the distributed counting step
    * of one BPE training iteration.
    */
  private def qBpePairs(s: SparkSession, dir: String): DataFrame =
    Corpus.bpePairStats(fanOut(table(s, dir, "documents"),
      org.apache.spark.sql.functions.col("doc_id")), "text", topK = 30)

  /** E49: token-stream block packing — vocab ids + EOS concatenated
    * in doc order, cut into 128-id blocks via the two-level global
    * prefix sum (no single-partition window over data-sized frames).
    */
  private def qTrainBlocks(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val enc = Corpus.vocabEncode(
        fanOut(table(s, dir, "documents"), $"doc_id"), "text",
        "doc_id", 64, asArray = true)
      .select($"id", $"ids")
    graft.operators.Packing
      .packTokenStream(enc, "id", "ids", blockSize = 128L,
        bucketWidth = 64L)
      .select($"block_id", $"n_ids", $"n_docs",
        array_join($"ids", ",").as("ids"))
  }

  /** E50: containment (subsumption) near-dup pairs on 5-gram shingle
    * sets at τ = 9/10 — the trimmed near-dups score containment 1.0
    * (their shingles are a subset of the original's) regardless of
    * how asymmetric the sizes are.
    */
  private def qContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    SetSim.containmentSelfJoin(dupCorpus(s, dir), "text", "doc_id", 9, 10,
      c => TextFunctions.shingles(c, 5))
  }

  /** E27: TF-IDF term scoring — (doc, term) tf agg, term df agg, and
    * the corpus size N re-joined as a 1-row broadcast (no
    * single-partition window). Float math is exactly `tf * ln(N/df)`
    * on both engines.
    */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.tfidf(table(s, dir, "documents").select($"doc_id", $"text"),
        "text", "doc_id", TextFunctions.words)
      .select($"id".as("doc_id"), $"term", $"tf", $"df",
        round($"tfidf_raw", 4).as("tfidf"))
  }

  /** C32: per-group z-score normalization (feature scaling for
    * training) — the corr_stats discipline: exact integer-moment sums
    * (cents as decimal) per group, broadcast back to rows, and the only
    * float ops are one divide + one sqrt per row in identical order on
    * both engines: z = (n·c − sx) / √(n·sxx − sx²).
    */
  private def qZscore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dec = "decimal(38,0)"
    val ev = table(s, dir, "events").select($"event_id", $"event_type",
      floor($"value" * 100 + 0.5).cast("long").as("c"))
    val m = ev.groupBy($"event_type")
      .agg(count(lit(1)).cast(dec).as("n"),
        sum($"c".cast(dec)).as("sx"),
        sum(($"c" * $"c").cast(dec)).as("sxx"))
      .select($"event_type", $"n", $"sx",
        ($"n" * $"sxx" - $"sx" * $"sx").as("a"))
    ev.join(broadcast(m), "event_type")
      .select($"event_id", $"event_type",
        round(($"n" * $"c" - $"sx").cast("double") /
          sqrt($"a".cast("double")), 4).as("z"))
  }

  /** E28: Okapi BM25 term scoring — tfidf's plan plus exact integer
    * doc-length accumulation; corpus stats ride a 1-row broadcast.
    * Float expression tree mirrored operation-for-operation by the
    * oracle (constants embedded via round-trip double formatting).
    */
  private def qBm25(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.bm25(
        fanOutHeavy(table(s, dir, "documents").select($"doc_id", $"text"),
          $"doc_id"),
        "text", "doc_id", TextFunctions.words)
      .select($"id".as("doc_id"), $"term", $"tf", $"df",
        round($"bm25_raw", 4).as("bm25"))
  }

  /** E29: inverted index — term → df + sorted posting-list head. One
    * keyed shuffle on the term.
    */
  private def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Corpus.invertedIndex(table(s, dir, "documents")
      .select($"doc_id", $"text"), "text", "doc_id",
      TextFunctions.words, cap = 10)
  }

  /** A6: data profiling — one scan, one aggregate for every column's
    * null/distinct/min/max; numeric and string extremes in separate
    * typed columns (engines disagree on float→string formatting).
    */
  private def qProfile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Validate.profile(table(s, dir, "customer"),
      strCols = Seq("c_name", "c_mktsegment"),
      numCols = Seq("c_acctbal", "c_nationkey"))
  }

  /** A9: profile drift — reference batch (even order keys) vs a
    * current batch (odd keys; prices nulled on %5=0 and shifted
    * +600k) through Validate.profileDrift: the null-rate spike and
    * numeric range escape provably fire on o_totalprice while the
    * string columns stay quiet. Every drift test is exact integer
    * arithmetic.
    */
  private def qProfileDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-12 measured: fanOut here REGRESSED (1.5 → 2.0s) — the
    // multi-countDistinct profile is bounded by its Expand+final-agg
    // stages, not the scan; spreading the scan just added an exchange.
    // Left alone (profile restructure is the real lever, deferred).
    val o = table(s, dir, "orders")
    val ref = o.filter($"o_orderkey" % 2 === 0)
    val cur = o.filter($"o_orderkey" % 2 === 1)
      .withColumn("o_totalprice",
        when($"o_orderkey" % 5 === 0, lit(null).cast("double"))
          .otherwise($"o_totalprice" + 600000.0)) // null spike + range escape
    def prof(df: DataFrame) = Validate.profile(df,
      strCols = Seq("o_orderstatus", "o_orderpriority"),
      numCols = Seq("o_totalprice", "o_custkey"))
    Validate.profileDrift(prof(ref), prof(cur),
      nullBpTol = 100, distinctBpTol = 2000)
  }

  /** E40: incremental exact dedup — the new batch (doc_id %3 ≠ 0)
    * against the historical fingerprint store (%3 = 0): in-batch
    * keep-first, then an anti join on the fingerprint. The dup-seeded
    * corpus guarantees both in-batch and cross-batch collisions.
    */
  private def qDedupIncremental(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = dupCorpus(s, dir)
    val seen = corpus.filter($"doc_id" % 3 === 0)
      .select(TextFunctions.fingerprint($"text").as("fp")).distinct()
    Dedup.incrementalExact(corpus.filter($"doc_id" % 3 =!= 0),
        "text", "doc_id", seen)
      .select($"doc_id", $"fp")
  }

  /** C33: winsorization via exact discrete quantiles — per-type [p5,
    * p95] bounds from pure integer rank arithmetic (distinct-value
    * window, no interpolation, no doubles anywhere), clamp broadcast
    * back, and every output stays integral (cents) — bit-stable at any
    * parallelism or scale.
    */
  private def qWinsorize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events").select($"event_type",
      floor($"value" * 100 + 0.5).cast("long").as("c"))
    Stats.winsorize(ev, Seq("event_type"), "c", pLo = 500, pHi = 9500)
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"), sum($"c_w").as("sum_cw"),
        min($"c_w").as("lo_c"), max($"c_w").as("hi_c"))
  }

  /** F8: LOCF forward fill — per-user carry of the last purchase value
    * across subsequent events (sparse→dense imputation). Declarative
    * window (one keyed shuffle + sort), no recurrence needed; rows
    * before a user's first purchase stay null.
    */
  private def qLocf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events").select($"event_id", $"user_id", $"ts",
      $"event_type",
      when($"event_type" === "purchase", $"value").as("pv"))
    TimeSeries.locf(ev, "user_id", "ts", "event_id", "pv")
      .select($"event_id", $"user_id", $"event_type",
        round($"pv_filled", 2).as("last_purchase_value"))
  }

  /** A7: k-anonymity report — quasi-identifier groups (market segment ×
    * nation × balance band) below the anonymity threshold k=5. One
    * keyed aggregate; the report is group-cardinality sized at any
    * table size. Balance banding is integer floor division (exact).
    */
  private def qKAnonymity(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "customer")
      .groupBy($"c_mktsegment", $"c_nationkey".cast("long").as("nation"),
        floor($"c_acctbal" / 1000).cast("long").as("bal_band"))
      .agg(count(lit(1)).as("n"))
      .filter($"n" < 5)
  }

  /** A13: k-anonymity enforcement — the A7 audit's release-side
    * companion: customers whose (segment, nation, balance-band) group
    * has < 5 members are suppressed; every surviving row is
    * k-anonymous by construction.
    */
  private def qKAnonymize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_custkey", $"c_mktsegment",
      $"c_nationkey".cast("long").as("nation"),
      floor($"c_acctbal" / 1000).cast("long").as("bal_band"))
    // quasi = (segment, nation): coarse enough that both outcomes
    // (kept AND suppressed rows) occur at every test SF
    operators.Validate.kAnonymize(c, Seq("c_mktsegment", "nation"), 3L)
  }

  /** A14: l-diversity enforcement — quasi groups homogeneous in the
    * sensitive attribute (balance sign as a stand-in) are suppressed
    * even when k-large.
    */
  private def qLDiversify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer").select($"c_custkey", $"c_mktsegment",
      $"c_nationkey".cast("long").as("nation"),
      when($"c_acctbal" < 0, "neg").otherwise("pos").as("bal_sign"))
    operators.Validate.lDiversify(c, Seq("c_mktsegment", "nation"),
      "bal_sign", 2L)
  }

  /** E31: corpus heavy hitters — terms with ≥2% frequency share.
    * Integer threshold test (n·10⁴ ≥ total·φ) → bit-stable membership;
    * the share itself is one double division, rounded.
    */
  private def qHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val terms = table(s, dir, "documents")
      .select(explode(TextFunctions.words($"text")).as("term"))
    Stats.heavyHitters(terms, "term", phiBp = 200)
  }

  /** C34: path transitions (Markov step counts) — consecutive
    * event-type pairs per user via one lag window (single keyed
    * shuffle + sort), then a transition-matrix aggregate with exact
    * integer probabilities at 4 decimals via round of n/total.
    */
  private def qTransitions(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
    val steps = table(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type")
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
    val byPrev = Window.partitionBy($"prev_type")
    steps.groupBy($"prev_type", $"event_type".as("next_type"))
      .agg(count(lit(1)).as("n"))
      .withColumn("p_next",
        round($"n".cast("double") / sum($"n").over(byPrev).cast("double"), 4))
  }

  /** C28: cohort retention — users grouped by first-activity week
    * (Monday-truncated), distinct-user counts per (cohort, week
    * offset). Two keyed shuffles (per-user min, then cohort agg).
    */
  private def qCohortRetention(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"user_id", to_date(date_trunc("week", $"ts")).as("aw"))
      .distinct()
    val cohorts = ev.groupBy($"user_id").agg(min($"aw").as("cw"))
    ev.join(cohorts, "user_id")
      .groupBy($"cw", ((datediff($"aw", $"cw") / 7).cast("long")).as("week_offset"))
      .agg(countDistinct($"user_id").as("n_users"))
      .select(date_format($"cw", "yyyy-MM-dd").as("cohort_week"),
        $"week_offset", $"n_users")
  }

  /** C29: ordered funnel — per-user first-touch timestamps per stage
    * via conditional min aggregates (ONE pass over events, no
    * per-stage self-joins), then strict-order stage counts.
    */
  private def qFunnel(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    def firstUs(t: String) =
      min(when($"event_type" === t, unix_micros($"ts")))
    table(s, dir, "events")
      .groupBy($"user_id")
      .agg(firstUs("view").as("v"), firstUs("click").as("c"),
        firstUs("purchase").as("p"))
      .agg(count(lit(1)).as("n_users"),
        count($"v").as("n_view"),
        count(when($"c" > $"v", 1)).as("n_click_after_view"),
        count(when($"p" > $"c" && $"c" > $"v", 1))
          .as("n_purchase_after_click"))
  }

  /** C30: exact decile bucketing WITHOUT a global sort: boundaries from
    * one exact-percentile aggregate, broadcast back, bucket = 1 + count
    * of boundaries below (nine codegen'd comparisons per row). The
    * ntile() window formulation would funnel every row through a single
    * total-order partition; this shape is one agg + one map stage at
    * any scale (at 100 TB the boundary agg would switch to
    * approx_percentile + a refinement pass, same plan shape).
    */
  private def qQuantileBucket(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val bounds = o.agg(percentile($"o_totalprice",
      typedLit((1 to 9).map(_ / 10.0))).as("bs"))
    val bucket = (1 to 9).map(i =>
        when($"o_totalprice" > element_at($"bs", i), 1).otherwise(0))
      .reduce(_ + _) + 1
    o.crossJoin(broadcast(bounds))
      .select(bucket.cast("long").as("bucket"), $"o_totalprice")
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n"),
        round(min($"o_totalprice"), 2).as("lo"),
        round(max($"o_totalprice"), 2).as("hi"))
  }

  /** C31: correlation / regression slope via EXACT integer-moment
    * accumulation: quantities and whole-cent prices are integers, so
    * the five moments are summed exactly (decimal accumulators — no
    * float accumulation-order nondeterminism at ANY parallelism) and
    * the float math happens once, on the final one-row-per-group
    * moments. `corr()` built-ins stream doubles and give
    * partitioning-dependent last bits; this form is bit-stable.
    */
  private def qCorrStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qty = $"l_quantity".cast("long")
    val cents = floor($"l_extendedprice" * 100 + 0.5).cast("long")
    val dec = "decimal(38,0)"
    val m = table(s, dir, "lineitem")
      .select($"l_returnflag", qty.as("x"), cents.as("y"))
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum($"x".cast(dec)).as("sx"), sum($"y".cast(dec)).as("sy"),
        sum(($"x" * $"x").cast(dec)).as("sxx"),
        sum(($"y" * $"y").cast(dec)).as("syy"),
        sum(($"x" * $"y").cast(dec)).as("sxy"))
    val (n, sx, sy) = ($"n".cast("double"), $"sx".cast("double"),
      $"sy".cast("double"))
    val (sxx, syy, sxy) = ($"sxx".cast("double"), $"syy".cast("double"),
      $"sxy".cast("double"))
    val cov = n * sxy - sx * sy
    val vx = n * sxx - sx * sx
    val vy = n * syy - sy * sy
    m.select($"l_returnflag", $"n",
      round(sx / n, 6).as("mean_qty"),
      round(cov / sqrt(vx * vy), 6).as("corr_qty_price"),
      round(cov / vx, 6).as("slope_cents_per_unit"))
  }

  // ---------------------------------------------------------------- E12. multimodal

  /** E12: binary media columns — payload synthesized from text bytes
    * (every 4th doc gets a PNG magic header), metadata via pure exprs.
    * The batched decode path is exercised in MultimodalSpec.
    */
  private def qMultimodalMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    val bin = when($"doc_id" % 4 === 0,
      concat(unhex(lit("89504E47")), $"text".cast("binary")))
      .otherwise($"text".cast("binary"))
    Multimodal.metadata(d.select($"doc_id", bin.as("payload")),
      "doc_id", "payload")
  }

  /** E12b: byte-level image header parsing — VALID PNG, GIF, and JPEG
    * headers are constructed with dimensions derived from doc_id, then
    * Multimodal.imageDims parses them back from the raw bytes. The
    * JPEG plant is a real marker chain (SOI → APP0/JFIF → COM → SOF0),
    * so the parser must WALK segments to a variable SOF offset, not
    * read a fixed position. The oracle emits the PLANTED dimensions
    * directly (it never parses), so hash equality proves the Spark
    * parser exactly inverts each container layout — a ground-truth
    * check, not a mirrored computation.
    */
  private def qImageDims(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    val wPng = ($"doc_id" % 1024 + 16).cast("long")
    val hPng = (($"doc_id" * 7) % 1024 + 16).cast("long")
    val wGif = ($"doc_id" % 500 + 1).cast("long")
    val hGif = (($"doc_id" * 3) % 500 + 1).cast("long")
    val wJpg = ($"doc_id" % 2000 + 1).cast("long")
    val hJpg = (($"doc_id" * 5) % 2000 + 1).cast("long")
    def be32(v: org.apache.spark.sql.Column) =
      unhex(lpad(hex(v), 8, "0"))
    def be16(v: org.apache.spark.sql.Column) =
      unhex(lpad(hex(v), 4, "0"))
    def le16(v: org.apache.spark.sql.Column) =
      unhex(concat(lpad(hex(v % 256), 2, "0"),
        lpad(hex(((v - v % 256) / 256).cast("long")), 2, "0")))
    // JPEG prefix (45 bytes): SOI, 18-byte APP0/JFIF, 6-byte COM
    // ("AB CD"), SOF0 "FFC0 0011 08" + BE16 height + BE16 width +
    // 3-component spec — a layout-faithful header the walk must chase
    val jpgPre = "FFD8" +
      "FFE000104A46494600010100000100010000" +
      "FFFE0004ABCD" + "FFC0001108"
    val bin = when($"doc_id" % 4 === 0,
        concat(unhex(lit("89504E470D0A1A0A0000000D49484452")),
          be32(wPng), be32(hPng), $"text".cast("binary")))
      .when($"doc_id" % 4 === 1,
        concat(unhex(lit("474946383961")), le16(wGif), le16(hGif),
          $"text".cast("binary")))
      .when($"doc_id" % 4 === 2,
        concat(unhex(lit(jpgPre)), be16(hJpg), be16(wJpg),
          unhex(lit("03011100021101031101")), $"text".cast("binary")))
      .otherwise($"text".cast("binary"))
    Multimodal.imageDims(d.select($"doc_id", bin.as("payload")),
      "doc_id", "payload")
  }

  // ---------------------------------------------------------------- F. events

  /** F1: gap-based sessionization (30-min gap) with per-session rollup. */
  private def qSessionize(s: SparkSession, dir: String): DataFrame =
    Sessions.sessionSummary(table(s, dir, "events"), "user_id", "ts",
      "value", 1800L)

  /** F12 through the gate: Catalyst's native `session_window` on a
    * BATCH frame — gap-merged sessions per user with exact integer
    * rollups, oracled against the declarative gaps-and-islands form
    * (lag > gap ⇒ boundary). Window end = last event + gap
    * (exclusive) per the operator's contract.
    */
  private def qSessionNative(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    table(s, dir, "events")
      .select($"user_id", $"ts",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"user_id", session_window($"ts", "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum($"cents").as("sum_cents"))
      .select($"user_id",
        unix_micros($"session_window.start").as("start_us"),
        unix_micros($"session_window.end").as("end_us"),
        $"n_events", $"sum_cents")
  }

  /** C44: recursive CTE through Spark SQL (WITH RECURSIVE, new in
    * Spark 4) — a recursively generated month spine LEFT-joined to
    * order counts, so months with zero orders surface (the gap the
    * bare GROUP BY can't see). Identical SQL text runs on both
    * engines; all arithmetic integral.
    */
  private def qSqlRecursive(s: SparkSession, dir: String): DataFrame = {
    table(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """WITH RECURSIVE spine(m) AS (
        |  SELECT DATE '1995-01-01'
        |  UNION ALL
        |  SELECT CAST(m + INTERVAL '1' MONTH AS DATE) FROM spine
        |  WHERE m < DATE '2001-08-01'
        |),
        |mo AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |    count(*) AS n,
        |    sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS cents
        |  FROM orders GROUP BY 1)
        |SELECT CAST(spine.m AS STRING) AS month,
        |  coalesce(mo.n, 0) AS n_orders,
        |  coalesce(mo.cents, 0) AS sum_cents
        |FROM spine LEFT JOIN mo ON mo.m = spine.m""".stripMargin)
  }

  /** F2: tumbling hourly aggregate per event type. */
  private def qWindowedAgg(s: SparkSession, dir: String): DataFrame =
    Sessions.hourlyAgg(table(s, dir, "events"), "ts", "event_type", "value")

  // ------------------------------------------------------------ round 3 cont.

  /** C47: linear multi-touch attribution — every purchase's value split
    * equally (integer micro-cent floor division, exact at any
    * parallelism) across the same user's touches since the previous
    * purchase; one window pass + two keyed aggs, no per-conversion
    * self-join (operators.Analytics.linearAttribution). Last-touch
    * (q_attribution) answers "what closed"; this answers "what
    * participated".
    */
  private def qAttributionLinear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"user_id", $"ts", $"event_id", $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Analytics.linearAttribution(ev, "user_id", "ts", "event_id",
      "event_type", "cents", "purchase")
  }

  /** E69: template detection — structure-skeleton fingerprints group
    * docs generated from one template regardless of content words
    * (operators.Corpus.templateFingerprint). The corpus is decorated
    * with 1-in-25 planted "invoice" docs whose numbers/words vary but
    * whose punctuation skeleton is shared — they must collapse to a
    * single fingerprint group.
    */
  private def qTemplateDetect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    val planted = d.filter($"doc_id" % 25 === 0)
      .select(($"doc_id" + 3000000).as("doc_id"),
        concat(lit("Invoice #"), $"doc_id".cast("string"),
          lit(": total "), $"n_chars".cast("string"),
          lit(" USD, ref ("), $"lang", lit("-"),
          $"doc_id".cast("string"), lit(").")).as("text"))
    val docs = d.select($"doc_id", $"text").unionByName(planted)
    operators.Corpus.templateFingerprint(docs, "doc_id", "text", 3L)
  }

  /** A12: functional-dependency audit — declared lhs→rhs dependencies
    * checked as per-lhs distinct-rhs counts (operators.Validate
    * .fdViolations); covers a violated natural-key FD, a violated
    * code→code FD, and a holding PK FD so both verdicts appear.
    */
  private def qFdCheck(s: SparkSession, dir: String): DataFrame =
    operators.Validate.fdViolations(table(s, dir, "orders"), Seq(
      ("cust_to_status", "o_custkey", "o_orderstatus"),
      ("status_to_priority", "o_orderstatus", "o_orderpriority"),
      ("orderkey_to_cust", "o_orderkey", "o_custkey")))

  /** E70: semantic decontamination — every corpus embedding scored
    * against the broadcast eval set (1-in-20 vectors, so exact matches
    * provably fire at cos=1); the embedding-space complement of the
    * 8-gram q_decontaminate (operators.Similarity
    * .semanticDecontaminate).
    */
  private def qSemanticDecontam(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = table(s, dir, "embeddings")
    operators.Similarity.semanticDecontaminate(
      emb, emb.filter($"vec_id" % 20 === 0), "vec_id", "embedding", 0.9)
  }

  /** C48: join-size pre-flight — the exact cardinality events ⋈
    * customer WOULD produce, from per-key counts alone (key-cardinality
    * join, never fact-cardinality); events carries genuine orphan
    * user_ids so the matched/unmatched split is non-trivial
    * (operators.Analytics.joinSizeProfile).
    */
  private def qJoinSize(s: SparkSession, dir: String): DataFrame =
    operators.Analytics.joinSizeProfile(
      table(s, dir, "events"), table(s, dir, "customer"),
      "user_id", "c_custkey")

  /** C49: reciprocal-rank fusion — per-nation customer top-10s by
    * revenue and by order count fused into one ranking, score =
    * Σ 1/(60+rank) (two fixed-order reciprocals of exact ints — raw
    * double safe) (operators.Analytics.rrfFuse).
    */
  private def qRrfFuse(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = table(s, dir, "orders")
      .join(table(s, dir, "customer"),
        $"o_custkey" === $"c_custkey")
      .groupBy($"c_nationkey".as("q"), $"o_custkey".as("d"))
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"),
        count(lit(1)).as("cnt"))
    val wA = Window.partitionBy($"q").orderBy($"cents".desc, $"d")
    val wB = Window.partitionBy($"q").orderBy($"cnt".desc, $"d")
    val a = base.withColumn("rank", row_number().over(wA))
      .filter($"rank" <= 10).select($"q", $"d", $"rank")
    val b = base.withColumn("rank", row_number().over(wB))
      .filter($"rank" <= 10).select($"q", $"d", $"rank")
    operators.Analytics.rrfFuse(a, b, "q", "d", "rank", 60, 5)
      .select($"q".as("nation_key"), $"d".as("cust"), $"rrf",
        $"fused_rank")
  }

  /** E71: anchor-text aggregation — the web-graph relevance signal:
    * per link target, the terms OTHER pages use when linking to it
    * (operators.Corpus.anchorText). Decorated anchors exercise the
    * traps: uppercase tag/attr, mixed-case URL needing
    * canonicalization, inner markup + entity in the anchor text, and a
    * relative href that must drop.
    */
  private def qAnchorText(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val html = concat(lit("<p>"), $"text",
      lit("</p><A Href=\"HTTPS://Docs.Example.ORG/t"),
      ($"doc_id" % 4).cast("string"),
      lit("\">Best "), $"lang",
      lit(" guide</A><a href='https://cdn.example.net/d/"),
      ($"doc_id" % 3).cast("string"),
      lit("'>download <b>now</b> &amp; docs</a><a href=\"/rel\">skip</a>"))
    operators.Corpus.anchorText(
      table(s, dir, "documents").select(html.as("html")), "html", 3)
  }

  /** C50: corpus-percentile score calibration — "keep the top 25% by
    * token count" as exact integer rank arithmetic over the two-level
    * global rank; the percentile-based (distribution-tracking) form
    * production curation gates use (operators.Stats
    * .percentileCalibrate).
    */
  private def qQualityPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = table(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("score"))
    operators.Stats.percentileCalibrate(scored, "doc_id", "score", 2500L)
  }

  /** E72: n-gram novelty vs a reference corpus — "is this crawl adding
    * anything": probe docs (odd ids, plus planted exact copies of
    * reference docs that must score novelty 0) against the even-id
    * reference's distinct word-5-gram set (operators.Corpus
    * .noveltyScore).
    */
  private def qNovelty(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents").select($"doc_id", $"text")
    val probe = d.filter($"doc_id" % 2 === 1)
      .unionByName(d.filter($"doc_id" % 14 === 0)
        .select(($"doc_id" + 4000000).as("doc_id"), $"text"))
    val ref = d.filter($"doc_id" % 2 === 0)
    operators.Corpus.noveltyScore(probe, ref, "text", "doc_id", 5)
  }

  /** F18: state-change islands — contiguous same-event-type runs per
    * user as run-length encoding of the state timeline; the
    * state-conditioned sibling of gap sessionization, one keyed
    * shuffle (operators.Sessions.stateRuns).
    */
  private def qStateRuns(s: SparkSession, dir: String): DataFrame =
    operators.Sessions.stateRuns(table(s, dir, "events"),
      "user_id", "ts", "event_id", "event_type")

  /** F19: time-weighted average gauge per event type — step
    * interpolation over the irregular sample timeline; the
    * metering/billing mean that burst sampling can't skew
    * (operators.TimeSeries.timeWeightedAvg).
    */
  private def qTimeWeighted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"event_type", unix_micros($"ts").as("us"), $"event_id",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.TimeSeries.timeWeightedAvg(ev, "event_type", "us",
      "event_id", "cents")
  }

  /** F20: watermark pre-flight — per event type, arrival lateness vs
    * the running event-time high-water mark (arrival order =
    * event_id), with drop counts at 1 min / 5 min / 1 h candidate
    * watermark delays (operators.TimeSeries.latenessProfile).
    */
  private def qLateness(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"event_type", unix_micros($"ts").as("us"), $"event_id")
    operators.TimeSeries.latenessProfile(ev, "event_type", "us",
      "event_id", Seq(60000000L, 300000000L, 3600000000L))
  }

  /** D10: content-digest reconciliation — order-invariant summed
    * row-hash digests per table (the stronger form of q_count_verify:
    * counts match but a value drifted → the digest flips); timestamps
    * enter as epoch micros so both engines hash identical strings
    * (operators.Loads.digestReport).
    */
  private def qTableDigest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Loads.digestReport(Map(
      "nation" -> ((table(s, dir, "nation"),
        Seq("n_nationkey", "n_name", "n_regionkey"))),
      "customer" -> ((table(s, dir, "customer"),
        Seq("c_custkey", "c_name", "c_mktsegment"))),
      "orders" -> ((table(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey", $"o_orderstatus",
          $"o_orderpriority", unix_micros($"o_orderdate".cast("timestamp")).as("od_us")),
        Seq("o_orderkey", "o_custkey", "o_orderstatus",
          "o_orderpriority", "od_us")))))
  }

  /** C51: funnel drop-off table — per-step survivor counts under
    * strict sequential chaining (a click counts only after a chained
    * view, a purchase only after a chained click); the step-level view
    * q_funnel's one-row summary doesn't give (operators.Analytics
    * .funnelSteps).
    */
  private def qFunnelSteps(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type")
    operators.Analytics.funnelSteps(ev, "user_id", "us", "event_id",
      "event_type", Seq("view", "click", "purchase"))
  }

  /** E73: deterministic token-budget sample — docs in content-keyed
    * md5 order kept while the running token total stays ≤ 10,000; the
    * exact-budget cut rate-based hash gates can't make, running total
    * via the E49 two-level prefix sum (operators.Packing
    * .tokenBudgetSample).
    */
  private def qTokenBudget(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val scored = table(s, dir, "documents")
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens"))
    operators.Packing.tokenBudgetSample(scored, "doc_id", "n_tokens",
      10000L)
  }

  /** C69: frequent 3-itemsets at 35bp relative support over
    * order-brand baskets — basketLift's pair mining extended one
    * Apriori level, with the downward-closure prune bounding the
    * triple-candidate join (operators.Analytics.frequentTriples).
    * The oracle counts triples directly; downward closure makes the
    * two answer sets provably identical.
    */
  private def qItemsets3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // round-12: the triple expansion runs in this scan's stage —
    // spread the fact side before the broadcast join (kernel-bound:
    // driver-verified win at the full spread)
    val baskets = fanOutHeavy(table(s, dir, "lineitem")
        .select($"l_orderkey", $"l_partkey"), $"l_orderkey")
      .join(broadcast(table(s, dir, "part")),
        $"l_partkey" === $"p_partkey")
      .select($"l_orderkey", $"p_brand")
    operators.Analytics.frequentTriples(baskets, "l_orderkey", "p_brand",
      35)
  }

  /** C70: decision-stump fit — the dollar threshold on event value
    * that best separates purchases from everything else by training
    * accuracy; model FITTING as exact integer argmax, so the trained
    * model itself is hash-gated (operators.Stats.decisionStump).
    */
  private def qStump(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select(
      ($"event_type" === "purchase").as("is_purchase"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100")
        .as("dollar"))
    operators.Stats.decisionStump(e, "is_purchase", "dollar")
  }

  /** C71: Mann–Whitney U rank-sum test, purchase vs view event values
    * in integer cents — the nonparametric sibling of q_ab_test's Welch
    * z; 2×rank carriers keep tied ranks exact BIGINTs
    * (operators.Stats.mannWhitney).
    */
  private def qMannWhitney(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_type",
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.mannWhitney(e, "event_type", "cents", "purchase",
      "view")
  }

  /** H42: grid-blocked spatial radius self-join — all embedding pairs
    * within integer distance 30 in the (dim0, dim1) plane quantized to
    * milli-units; the geohash-bucket join pattern, exact by
    * construction (operators.Spatial.gridRadiusJoin), oracled against
    * DuckDB's brute-force cross join.
    */
  private def qSpatialJoin(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val p = table(s, dir, "embeddings").select($"vec_id",
      floor(element_at($"embedding", 1).cast("double") * 1000 + 0.5)
        .cast("long").as("x"),
      floor(element_at($"embedding", 2).cast("double") * 1000 + 0.5)
        .cast("long").as("y"))
    operators.Spatial.gridRadiusJoin(p, "vec_id", "x", "y", 30L)
  }

  /** C64: 2-round boosted stumps over the q_stump feature — ensemble
    * TRAINING hash-gated end to end: integer ×2 reweighting of
    * misclassified rows keeps every round's model state exact BIGINT
    * (operators.Stats.boostedStumps); the oracle unrolls both rounds.
    */
  private def qBoost(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select(
      ($"event_type" === "purchase").as("is_purchase"),
      expr("CAST(floor(value * 100 + 0.5) AS BIGINT) div 100")
        .as("dollar"))
    operators.Stats.boostedStumps(e, "is_purchase", "dollar", 2)
  }

  /** C65: Poisson-bootstrap 5–95% CI on mean event value — the
    * resampling itself is md5-derived and therefore deterministic, so
    * statistical INFERENCE is hash-gated; per-row draws need no global
    * n, the property that lets the bootstrap map over an arbitrarily
    * large table (operators.Stats.bootstrapMeanCI).
    */
  private def qBootstrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_id",
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.bootstrapMeanCI(e, "event_id", "cents", 40)
  }

  /** C66: calibration (reliability) table of event value predicting
    * purchases — q_auc tells discrimination, q_gains tells capture;
    * this tells WHERE along the score the implied probability is
    * honest. All-integer deciles and micro-unit rates
    * (operators.Stats.calibrationTable).
    */
  private def qCalibration(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select(
      ($"event_type" === "purchase").as("is_purchase"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.calibrationTable(e, "is_purchase", "cents")
  }

  /** H43: pairwise label-centroid cosine over the embeddings table —
    * embedding-space class-separation health; sum-vector carriers
    * make the whole matrix exact-integer up to one final sqrt/division
    * (operators.Similarity.labelCentroidCosine).
    */
  private def qLabelCentroids(s: SparkSession, dir: String): DataFrame =
    operators.Similarity.labelCentroidCosine(
      table(s, dir, "embeddings"), "label", "embedding")

  /** C67: Monte-Carlo permutation test on purchase-vs-view mean value
    * — the third leg of the inference triangle with q_ab_test's Welch
    * z and q_mann_whitney's rank test; the null distribution is
    * md5-seeded binomial relabeling, so the p-value itself hash-gates
    * (operators.Stats.permutationTest).
    */
  private def qPermTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_id", $"event_type",
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.permutationTest(e, "event_id", "event_type", "cents",
      "purchase", "view", 60)
  }

  /** C68: Cochran–Armitage trend test — is the F-status rate MONOTONE
    * in order priority (scores 1..5 from the priority prefix), the
    * ordered question q_chi_square's omnibus statistic can't ask
    * (operators.Stats.cochranArmitage).
    */
  private def qTrendTest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders").select(
      substring($"o_orderpriority", 1, 1).cast("long").as("score"),
      ($"o_orderstatus" === "F").as("is_f"))
    operators.Stats.cochranArmitage(o, "score", "is_f")
  }

  /** C77: feature-association ranking — nation / region / balance
    * band each scored against market segment with the full C56 triple
    * in one table: the "which columns carry signal" feature-selection
    * read-out (operators.Stats.miRanking).
    */
  private def qMiRanking(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = table(s, dir, "customer")
      .join(broadcast(table(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
    operators.Stats.miRanking(c, "c_mktsegment", Seq(
      "nation" -> $"c_nationkey".cast("long").cast("string"),
      "region" -> $"n_regionkey".cast("long").cast("string"),
      "bal_band" -> when($"c_acctbal" < 0, "neg")
        .when($"c_acctbal" < 5000, "low").otherwise("high")))
  }

  /** C78: uplift by segment — the q_ab_test experiment read out per
    * order priority: treatment-vs-control conversion difference in
    * exact micro rates with a pooled two-proportion z — "did it work"
    * becomes "for whom" (operators.Stats.upliftBySegment).
    */
  private def qUplift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders").select(
      $"o_orderpriority".as("seg"),
      when(substring(md5($"o_orderkey".cast("string")), 1, 1) < "8", "A")
        .otherwise("B").as("variant"),
      ($"o_orderstatus" === "F").as("converted"))
    operators.Stats.upliftBySegment(o, "seg", "variant", "converted",
      "A", "B")
  }

  /** C79: Mann–Kendall trend test on the daily value series — the
    * significance half of the robust-trend pair with C59's Theil–Sen
    * magnitude; integer S over day-cardinality² pairs, tie-corrected
    * variance, ±1 continuity z (operators.TimeSeries.mannKendall).
    */
  private def qMannKendall(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .groupBy(datediff(to_date($"ts"), to_date(lit("2024-01-01")))
        .cast("long").as("day"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
    TimeSeries.mannKendall(daily, "day", "cents")
  }

  /** H44: leave-one-out 5-NN label accuracy on the embeddings table —
    * "do these embeddings carry the labels": the local evaluation
    * sibling of H43's centroid view, exact integer distances with
    * packed (d2, id) tie-breaks through the map-side top-k aggregate
    * (operators.Similarity.knnClassifyEval).
    */
  private def qKnnEval(s: SparkSession, dir: String): DataFrame =
    // queryMod left at auto: the modulus derives from the corpus count
    // so pair work stays ≤ Similarity.SamplerPairBudget at any sf (the
    // oracle mirrors greatest(1, (n²+B−1)//B) exactly)
    operators.Similarity.knnClassifyEval(
      table(s, dir, "embeddings"), "vec_id", "label", "embedding", 5)

  /** H45: sampled silhouette per label — the clustering-quality
    * member of the meta-evaluation family (knn_eval: do embeddings
    * carry labels; this: are label clusters compact AND separated).
    * Exact integer micro-unit a/b/s with sign-explicit divisions.
    */
  private def qSilhouette(s: SparkSession, dir: String): DataFrame =
    // queryMod auto — the qKnnEval budget discipline
    operators.Similarity.silhouetteEval(
      table(s, dir, "embeddings"), "vec_id", "label", "embedding")

  /** E92: MMR diversity re-ranking (Carbonell & Goldstein 1998) — the
    * RAG selection step between ANN and the context window. k=3
    * greedy picks from a 20-candidate pool at λ=0.55; the oracle
    * unrolls the same three argmax steps.
    */
  private def qMmrRerank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = table(s, dir, "embeddings")
    operators.Similarity.mmrRerank(emb,
      emb.filter($"vec_id" % 1000 === 0), "vec_id", "embedding",
      k = 3, poolSize = 20, lambdaBp = 5500)
  }

  /** E90: HITS hubs & authorities over the doc→page web graph (each
    * document links its site-section page and a shared CDN page —
    * deterministic string edges, the E64 crawl-graph shape without
    * re-gating extraction). Two fixed-point integer rounds,
    * max-renormalized — order-free sums, hash-gateable.
    */
  private def qHits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents")
    val edges = d.select(concat(lit("doc:"), $"doc_id").as("src"),
        concat(lit("page:"), $"source", lit(":"),
          ($"doc_id" % 8).cast("string")).as("dst"))
      .unionByName(d.select(
        concat(lit("doc:"), $"doc_id").as("src"),
        concat(lit("cdn:"), ($"doc_id" % 5).cast("string")).as("dst")))
    operators.Graph.hitsFixedPoint(edges, "src", "dst", rounds = 2)
      .select($"id", $"hub_fp", $"auth_fp")
  }

  /** C80: Page–Hinkley mean-shift drift detection per event_type —
    * the self-calibrating CUSUM sibling (no known target; deviation
    * from the RUNNING mean). Pure window algebra, exact integers.
    */
  private def qPageHinkley(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events")
      .select($"event_type", $"ts", $"event_id",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.TimeSeries.pageHinkley(e, "event_type", "ts", "event_id",
      "cents", deltaMicro = 500000000L, lambdaMicro = 20000000000L)
  }

  /** E93: Good–Turing frequency spectrum — smoothed counts r* and the
    * unseen-mass estimate N₁/N, the "is this corpus exhausted" number
    * for crawl-more decisions. Exact integers, micro-unit ratios.
    */
  private def qGoodTuring(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // word 3-grams as the term unit: the synthetic ~90-word vocabulary
    // has NO low-frequency tail at the word level (every word occurs
    // dozens of times), while the 3-gram space is sparse enough to
    // carry the singleton/doubleton spectrum Good–Turing smooths
    operators.Corpus.goodTuring(table(s, dir, "documents"), "doc_id",
        "text", c => TextFunctions.shingles(c, 3), maxR = 8)
      .select($"r", $"n_r", $"r_star_micro", $"p0_micro")
  }

  /** F32: EWMA control chart over the same daily revenue series as
    * the Shewhart chart — quantized integer z-recurrence (λ = 1/5),
    * exact 1/3 steady-state limit factor, hash-exact breach counts.
    */
  private def qEwmaChart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_type",
      date_format($"ts", "yyyy-MM-dd").as("day"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.TimeSeries.ewmaChart(e, "event_type", "day", "cents")
  }

  /** F33: Nelson–Aalen cumulative hazard on the same censored
    * customer-lifetime cohort as q_kaplan_meier — the additive
    * estimator quantizes to cumulative ⌊10⁶·d/n⌋ micro-units, so
    * unlike KM's 6dp product chain this gate is hash-exact.
    */
  private def qNelsonAalen(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val perCust = o.groupBy($"o_custkey").agg(
      min(to_date($"o_orderdate")).as("first_d"),
      max(to_date($"o_orderdate")).as("last_d"))
    val cutoff = o.agg(max(to_date($"o_orderdate")).as("cut"))
    val subj = perCust.crossJoin(broadcast(cutoff))
      .select(expr("CAST(datediff(last_d, first_d) AS BIGINT) div 7")
          .as("dur_weeks"),
        (datediff($"cut", $"last_d") > 365).as("churned"))
    operators.TimeSeries.nelsonAalen(subj, "dur_weeks", "churned")
  }

  /** E104: NDCG@10 over the three-term query set the RAG flagship
    * retrieves — graded-relevance ranking quality of quantized-BM25
    * retrieval against the ideal (tf-ordered) ranking, as exact
    * integer micro-unit dot products with driver-shared discount
    * literals.
    */
  private def qNdcg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Corpus.ndcgAtK(
      fanOut(table(s, dir, "documents"), $"doc_id"), "text",
      "doc_id", TextFunctions.words, Seq("stream", "join", "vector"))
  }

  /** E105: interpolated Kneser–Ney bigram scoring — the
    * continuation-count smoothing next to E41's add-one baseline;
    * exact-rational probabilities, position-ordered ln fold, 6dp.
    */
  private def qKneserNey(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Corpus.kneserNeyScore(
        fanOutHeavy(table(s, dir, "documents"), $"doc_id"), "text", "doc_id")
      .select($"id".as("doc_id"), $"n_bigrams", $"kn_avg_lnp")
  }

  /** E102: Heaps'-law vocabulary-growth curve — cumulative distinct
    * vocabulary vs cumulative tokens over 16 doc-id prefix slices via
    * the distributed first-occurrence method, plus the log-log β fit
    * (β ≈ 0.5 healthy text; ≈ 0 exhausted/templated corpus).
    */
  private def qHeapsLaw(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // word 3-grams as the vocabulary unit, the q_good_turing rationale:
    // the synthetic ~30-word vocabulary saturates inside the FIRST
    // prefix slice at the unigram level (flat curve ⇒ the β regression
    // degenerates to a 0/−0 cancellation), while the 3-gram space is
    // sparse enough to keep growing
    operators.Corpus.heapsLaw(table(s, dir, "documents"), "doc_id",
      "text", c => TextFunctions.shingles(c, 3))
  }

  /** E103: Unicode script-mix profile per labeled language — exact
    * per-script code-point counts over explicit BMP ranges (identical
    * regex semantics cross-engine), with mixed-script doc counts (the
    * confusable-spoofing / encoding-damage signal) and the Latin
    * share in micro-units.
    */
  private def qScriptMix(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val counts = TextFunctions.ScriptClasses.map { case (n, cls) =>
      TextFunctions.charClassCount($"text", cls).cast("long").as(s"c_$n")
    }
    val nonLatin = $"c_cyrillic" + $"c_greek" + $"c_arabic" + $"c_cjk"
    table(s, dir, "documents")
      .select($"lang" +: length($"text").cast("long").as("n_chars") +:
        counts: _*)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("n_chars"),
        sum($"c_latin").as("n_latin"),
        sum($"c_digit").as("n_digit"),
        sum(nonLatin).as("n_nonlatin_script"),
        sum(when($"c_latin" > 0 && nonLatin > 0, 1L).otherwise(0L))
          .as("n_mixed"))
      .select($"lang", $"n_docs", $"n_chars", $"n_latin", $"n_digit",
        $"n_nonlatin_script", $"n_mixed",
        expr("case when n_chars > 0 then n_latin * 1000000L div n_chars end")
          .as("latin_micro"))
  }

  /** C81: Kendall τ-b between daily click volume and daily purchase
    * revenue — rank correlation judged by pair order only (outlier-
    * and transform-immune), with exact integer S and tie counts; run
    * at day cardinality per the Mann–Kendall discipline.
    */
  private def qKendallTau(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("c"))
      .groupBy($"day")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase", $"c").otherwise(0L)).as("y"))
    operators.Stats.kendallTauB(daily, "day", "x", "y")
  }

  /** F30: classical additive seasonal decomposition of the per-type
    * daily value series (period 7) — trend/seasonal/residual in exact
    * micro-units, the exploratory split before a Holt-Winters fit.
    */
  private def qSeasonalDecompose(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .select($"event_type", date_format($"ts", "yyyy-MM-dd").as("day"),
        floor($"value" * 100 + 0.5).cast("long").as("c"))
      .groupBy($"event_type", $"day").agg(sum($"c").as("cents"))
      .withColumn("tie", lit(0L))
    operators.TimeSeries.classicalDecompose(daily, "event_type", "day",
        "tie", "cents", period = 7)
      .select($"event_type", $"day", $"cents", $"trend_micro",
        $"seasonal_micro", $"resid_micro")
  }

  /** E94: RAG context assembly (flagship composition #4) — BM25
    * retrieval (E28) → bounded top-100 candidate set → greedy
    * token-budget packing (the E49/E73 budget discipline) in rank
    * order: the retrieve-then-fit step between a search index and a
    * context window. Per-term BM25 is quantized to 0.1-milli units
    * BEFORE the per-doc sum (sums of raw ln-derived doubles fold in
    * partition order — the q_lm_score lesson), so the doc score is an
    * order-free exact integer; ranking and the packing cumsum run
    * over the top-k-bounded candidate set only.
    */
  private def qRagContext(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = fanOut(table(s, dir, "documents")
      .select($"doc_id", $"text"), $"doc_id")
    val scored = Corpus.bm25(d, "text", "doc_id", TextFunctions.words)
      .filter($"term".isin("stream", "join", "vector"))
      .withColumn("s4", floor($"bm25_raw" * 10000 + 0.5).cast("long"))
      .groupBy($"id".as("doc_id"))
      .agg(sum($"s4").as("score_4"))
    val toks = d.select($"doc_id",
      TextFunctions.wsTokenCount($"text").cast("long").as("n_tokens"))
    // bounded candidate set FIRST (TakeOrdered, no global sort of the
    // corpus), then rank + budget cumsum over <= 100 rows
    val top = scored.orderBy($"score_4".desc, $"doc_id").limit(100)
    val w = Window.orderBy($"score_4".desc, $"doc_id")
    top.join(toks, "doc_id")
      .withColumn("rank", row_number().over(w).cast("long"))
      .withColumn("cum_tokens", sum($"n_tokens").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter($"cum_tokens" <= 2000)
      .select($"rank", $"doc_id", $"score_4", $"n_tokens", $"cum_tokens")
  }

  /** C82: partial correlation r_xy·z — does the click↔revenue
    * relationship survive controlling for traffic volume, the
    * confounder check before reading C31's Pearson r causally. Exact
    * decimal moments; three r's and the partial fold in fixed IEEE op
    * order (6dp).
    */
  private def qPartialCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("c"))
      .groupBy($"day")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase", $"c").otherwise(0L)).as("y"),
        sum(when($"event_type" === "view", 1L).otherwise(0L)).as("z"))
    operators.Stats.partialCorrelation(daily, "x", "y", "z")
  }

  /** C83: Spearman ρ between daily click volume and purchase revenue
    * — Pearson on tie-averaged ranks (doubled to stay integer), the
    * robust-correlation default; completes the C31/C81 family.
    */
  private def qSpearman(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .select(date_format($"ts", "yyyy-MM-dd").as("day"), $"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("c"))
      .groupBy($"day")
      .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
        sum(when($"event_type" === "purchase", $"c").otherwise(0L)).as("y"))
    operators.Stats.spearman(daily, "x", "y")
  }

  /** A15: random rounding to base 3 — the Stats-NZ disclosure-control
    * release: customer counts per (segment, nation) perturbed to a
    * multiple of 3 by a content-keyed 2/3-1/3 coin, counts under 6
    * suppressed (operators.Validate.randomRound3).
    */
  private def qRr3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Validate.randomRound3(table(s, dir, "customer"),
      Seq("c_mktsegment", "c_nationkey"), suppressBelow = 6L)
  }

  /** C84: split-conformal prediction intervals on event value — the
    * per-type floor-mean predictor fitted on the md5-even half,
    * calibrated on the odd half at α = 10% (operators.Stats
    * .splitConformal).
    */
  private def qConformal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events").select($"event_type", $"event_id",
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.splitConformal(ev, "event_type", "cents", "event_id",
      alphaBp = 1000)
  }

  /** C85: time-decay attribution — purchase value credited to prior
    * touches with integer 2^-k half-life weights (half-life 1 day,
    * capped at 20), the recency-weighted sibling of
    * q_attribution_linear (operators.Analytics.timeDecayAttribution).
    */
  private def qAttributionDecay(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"user_id", unix_micros($"ts").as("us"), $"event_id",
        $"event_type", floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Analytics.timeDecayAttribution(ev, "user_id", "us",
      "event_id", "event_type", "cents", "purchase",
      halfLifeUs = 86400000000L, maxHalfLives = 20)
  }

  /** E95: hard-negative mining — for each 1-in-5 anchor embedding, the
    * 3 nearest cross-label neighbors by exact quantized distance
    * (operators.Similarity.hardNegatives): the contrastive-training
    * negative set, and the per-pair view behind q_knn_eval's accuracy.
    */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // queryMod auto — the qKnnEval budget discipline
    operators.Similarity.hardNegatives(table(s, dir, "embeddings"),
      "vec_id", "label", "embedding", k = 3)
  }

  /** E96: TextRank corpus keywords (Mihalcea & Tarau 2004) — integer
    * fixed-point PageRank over the adjacent-word co-occurrence graph,
    * top 30 (operators.Corpus.textRank; reuses E30's pageRankFixed).
    */
  private def qTextrank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Corpus.textRank(table(s, dir, "documents"), "text",
      iterations = 5, topK = 30)
  }

  /** C86: Brier decomposition — the decile-rate forecast fitted on the
    * md5-even half, Murphy's reliability/resolution/uncertainty on the
    * odd half, micro-quantized (operators.Stats.brierDecomposition).
    */
  private def qBrier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_id",
      ($"event_type" === "purchase").as("is_purchase"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.brierDecomposition(e, "is_purchase", "cents",
      "event_id")
  }

  /** C87: Cohen's kappa between the E8 language-ID heuristic and the
    * documents.lang ground truth — chance-corrected labeler scoring
    * (operators.Stats.cohenKappa).
    */
  private def qKappa(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents").select(
      TextFunctions.langId($"text").as("lang_pred"), $"lang")
    operators.Stats.cohenKappa(d, "lang_pred", "lang")
  }

  /** C89: Tukey 1.5·IQR fence outlier counts of event value cents per
    * event type — the box-plot rule as a monitoring aggregate
    * (operators.Stats.tukeyFences).
    */
  private def qTukeyFences(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_type",
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.tukeyFences(e, "event_type", "cents")
  }

  /** F31: Shewhart I-MR control chart over daily revenue per event
    * type — center line, moving-range dispersion, ±2.66·MR̄ breach
    * counts (operators.TimeSeries.controlChart).
    */
  private def qControlChart(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = table(s, dir, "events").select($"event_type",
      date_format($"ts", "yyyy-MM-dd").as("day"),
      floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.TimeSeries.controlChart(e, "event_type", "day", "cents")
  }

  /** H46: mergeable HLL distinct sketches across runs — two simulated
    * ingestion batches of orders, per-priority distinct customers via
    * DataSketches union (operators.Stats.hllMergeCounts). Rows-only:
    * the sketch estimate is engine-native; Round6OpsSpec asserts the
    * 3%-of-exact tolerance and batch-split ≡ one-shot determinism.
    */
  private def qHllStore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
      .select($"o_orderpriority", $"o_custkey", $"o_orderkey")
    val run1 = operators.Stats.hllMergeCounts(
      o.filter($"o_orderkey" % 3 =!= 0), "o_orderpriority", "o_custkey")
    operators.Stats.hllMergeCounts(
        o.filter($"o_orderkey" % 3 === 0), "o_orderpriority", "o_custkey",
        prior = Some(run1.select($"o_orderpriority", $"sk")))
      .select($"o_orderpriority", $"distinct_est".cast("long")
        .as("distinct_est"))
  }

  /** E99: cross-source duplication matrix over documents plus a
    * planted "mirror" source (doc_id % 7 exact copies) — which source
    * pairs share content, the pre-mixing governance table
    * (operators.Corpus.crossSourceDuplication).
    */
  private def qCrossSourceDup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = table(s, dir, "documents").select($"doc_id", $"text", $"source")
    val mirror = d.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 2000000).as("doc_id"), $"text",
        lit("mirror").as("source"))
    operators.Corpus.crossSourceDuplication(d.unionByName(mirror),
      "text", "source")
  }

  /** D11: SCD type-3 merge — current price + previous price on change
    * (the q_upsert_merge additive-delta update set, so cents stay off
    * rounding boundaries) (operators.Loads.scd3).
    */
  private def qScd3(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val base = o.select($"o_orderkey", $"o_totalprice".as("price"))
    val updates = o.filter($"o_orderkey" % 4 === 0)
      .select($"o_orderkey", ($"o_totalprice" + 100000).as("price"))
    operators.Loads.scd3(base, updates, Seq("o_orderkey"), "price")
      .select($"o_orderkey", round($"price", 2).as("price"),
        round($"prev_price", 2).as("prev_price"), $"changed")
  }

  /** C110: one-way ANOVA F across the five event types' value
    * distributions (integer cents) — the parametric sibling of
    * q_kruskal_wallis on the same input, exact DECIMAL(38,0) moment
    * sums, group-key-ordered SSB fold (operators.Stats.anovaF).
    */
  private def qAnova(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.anovaF(
      table(s, dir, "events").select($"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "cents")
  }

  /** C111: Cliff's delta effect size, purchase vs view event values —
    * the magnitude companion to q_mann_whitney on the same two
    * groups; pair counts from value-cardinality prefix windows,
    * never from pairs (operators.Stats.cliffsDelta).
    */
  private def qCliffsDelta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.cliffsDelta(
      table(s, dir, "events").select($"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "cents", "purchase", "view")
  }

  /** C112: Mood's median test across event types — pooled exact
    * discrete median, k×2 above/≤ chi² with group-key-ordered fold
    * (operators.Stats.moodMedian).
    */
  private def qMoodMedian(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.moodMedian(
      table(s, dir, "events").select($"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "cents")
  }

  /** C113: Cohen's d + Hedges' g, purchase vs view event values — one
    * conditional agg of exact decimal moments, fixed IEEE trees
    * (operators.Stats.effectSize).
    */
  private def qEffectSize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.effectSize(
      table(s, dir, "events").select($"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "cents", "purchase", "view")
  }

  /** F40: Pettitt change-point test per event type over the daily
    * revenue series — rank-based U_t scan, exact midrank carriers,
    * earliest-argmax t*, 6dp approximate p
    * (operators.TimeSeries.pettitt).
    */
  private def qPettitt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
    operators.TimeSeries.pettitt(daily, "event_type", "day", "cents")
      .select($"event_type", $"n_points", $"k_stat",
        $"t_star".cast("string").as("t_star"), $"p_6")
  }

  /** D15: SCD type-4 split — the q_scd2 version stream split into a
    * lean CURRENT table and a validity-stamped HISTORY table, union-
    * tagged for the gate (operators.Loads.scd4).
    */
  private def qScd4(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
    val base = o.select($"o_orderkey", $"o_totalprice".as("price"),
      lit(0).as("version"))
    val updates = o.filter($"o_orderkey" % 4 === 0)
      .select($"o_orderkey", ($"o_totalprice" + 100000).as("price"),
        lit(1).as("version"))
    val (cur, hist) = operators.Loads.scd4(
      base.unionByName(updates), Seq("o_orderkey"), "version")
    val curOut = cur.select($"o_orderkey",
      round($"price", 2).as("price"),
      $"version".cast("long").as("version"),
      lit(null).cast("long").as("valid_from"),
      lit(null).cast("long").as("valid_to"), lit("current").as("tbl"))
    val histOut = hist.select($"o_orderkey",
      round($"price", 2).as("price"),
      $"version".cast("long").as("version"),
      $"valid_from".cast("long").as("valid_from"),
      $"valid_to".cast("long").as("valid_to"), lit("history").as("tbl"))
    curOut.unionByName(histOut)
  }

  /** A17: rule-based row quarantine over customer — offending rows
    * with declaration-ordered reason codes; TPC-H negative balances
    * and a planted upper bound guarantee both rules fire
    * (operators.Validate.quarantine).
    */
  private def qQuarantine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Validate.quarantine(
      table(s, dir, "customer"),
      Seq(
        operators.Validate.Rule("balance_nonneg", $"c_acctbal" >= 0),
        operators.Validate.Rule("balance_lt_9000", $"c_acctbal" < 9000),
        operators.Validate.Rule("known_segment",
          $"c_mktsegment".isin("BUILDING", "MACHINERY", "AUTOMOBILE",
            "HOUSEHOLD", "FURNITURE"))))
      .select($"c_custkey", $"reasons")
  }

  /** E117: conversation QC stats — per-user event streams read as
    * dialogue transcripts (role = event_type, payload = props): turn
    * counts, role balance, alternation rate, mean inter-turn gap
    * (operators.Sessions.conversationStats).
    */
  private def qChatTurns(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Sessions.conversationStats(table(s, dir, "events"),
      "user_id", "ts", "event_id", "event_type", "props")
  }

  /** C114: Goodman–Kruskal gamma + Somers' D between lineitem
    * quantity (ordinal 1..50) and price band (capped floor buckets) —
    * concordant/discordant pair counts from the contingency-cell
    * pair join, never row pairs (operators.Stats.ordinalAssociation).
    */
  private def qGammaSomers(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.ordinalAssociation(
      table(s, dir, "lineitem").select(
        $"l_quantity".cast("long").as("qty_band"),
        least(floor($"l_extendedprice" / 5000), lit(20)).cast("long")
          .as("price_band")),
      "qty_band", "price_band")
  }

  /** C117: Page's L ordered-trend test over the q_friedman layout —
    * order buckets × priority systems, hypothesized order = the
    * priority names' lexicographic order ("1-URGENT" < … < "5-LOW"),
    * exact 2L carrier (operators.Stats.pageTrend).
    */
  private def qPageTrend(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val obs = table(s, dir, "orders")
      .select(pmod($"o_orderkey", lit(311L)).as("task"),
        $"o_orderpriority".as("sys"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      .groupBy($"task", $"sys").agg(sum($"cents").as("v"))
    operators.Stats.pageTrend(obs, "task", "sys", "v")
  }

  /** C118: Wilcoxon signed-rank — per-user paired difference of
    * purchase vs view cents (users with both), zero diffs dropped,
    * exact 2W⁺ carrier (operators.Stats.wilcoxonSignedRank).
    */
  private def qWilcoxon(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cents = floor($"value" * 100 + 0.5).cast("long")
    val per = table(s, dir, "events")
      .groupBy($"user_id")
      .agg(sum(when($"event_type" === "purchase", cents)).as("p"),
        sum(when($"event_type" === "view", cents)).as("v"))
      .filter($"p".isNotNull && $"v".isNotNull)
      .select(($"p" - $"v").as("diff"))
    operators.Stats.wilcoxonSignedRank(per, "diff")
  }

  /** F41: Croston's intermittent-demand forecast per user — each
    * event is a period, demand = value only on purchase events
    * (mostly zero by construction), α = 0.3; users with no purchases
    * emit no row (operators.TimeSeries.crostonPerKey).
    */
  private def qCroston(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val demand = table(s, dir, "events")
      .select($"user_id", $"ts", $"event_id",
        when($"event_type" === "purchase", $"value")
          .otherwise(lit(0.0)).as("demand"))
    operators.TimeSeries.crostonPerKey(s, demand, "user_id", "ts",
        "event_id", "demand", alpha = 0.3)
      .select($"user_id", $"n_periods", $"n_demands",
        round($"z_level", 6).as("z_level"),
        round($"p_interval", 6).as("p_interval"),
        round($"forecast", 6).as("forecast"))
  }

  /** C119: G-test of independence (likelihood-ratio chi²) over the
    * order status × priority table — exact cells/margins, one ln of
    * an exact ratio per cell folded in (row, col) order
    * (operators.Stats.gTest).
    */
  private def qGTest(s: SparkSession, dir: String): DataFrame =
    operators.Stats.gTest(table(s, dir, "orders"),
      "o_orderstatus", "o_orderpriority")

  /** C120: Levene mean-centered spread test across order priorities —
    * the classical rung beside q_brown_forsythe's median form, same
    * input so the ladder reads side by side (operators.Stats.levene).
    */
  private def qLevene(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
      .select($"o_orderpriority".as("g"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.levene(o, "g", "cents")
  }

  /** C121: Bartlett's normal-theory spread test, same input as
    * q_levene / q_brown_forsythe (operators.Stats.bartlett).
    */
  private def qBartlett(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = table(s, dir, "orders")
      .select($"o_orderpriority".as("g"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
    operators.Stats.bartlett(o, "g", "cents")
  }

  /** C125: Ansari–Bradley rank scale test, purchase vs view event
    * values — the nonparametric rung of the same ladder
    * (operators.Stats.ansariBradley).
    */
  private def qAnsari(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.ansariBradley(
      table(s, dir, "events").select($"event_type",
        floor($"value" * 100 + 0.5).cast("long").as("cents")),
      "event_type", "cents", "purchase", "view")
  }

  /** C122: Durbin–Watson residual-autocorrelation statistic per event
    * type over the daily revenue series (the q_pettitt input) —
    * exact-moment OLS residual sums, DW one fixed IEEE tree
    * (operators.TimeSeries.durbinWatson).
    */
  private def qDurbinWatson(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
    operators.TimeSeries.durbinWatson(daily, "event_type", "day",
      "cents")
  }

  /** C123: Grubbs' max-deviation outlier test on customer balances —
    * n-scaled exact deviations, deterministic suspect, G one IEEE
    * tree (operators.Stats.grubbs).
    */
  private def qGrubbs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    operators.Stats.grubbs(
      table(s, dir, "customer")
        .select(floor($"c_acctbal" * 100 + 0.5).cast("long")
          .as("cents")), "cents")
  }

  /** C124: between-nation Theil T decomposition of customer revenue —
    * the entropy member of the q_gini / q_lorenz concentration family
    * (operators.Stats.theilBetween).
    */
  private def qTheilIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = table(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
        .as("cents"))
    val cust = table(s, dir, "customer")
      .select($"c_custkey", $"c_nationkey")
    val nation = table(s, dir, "nation")
      .select($"n_nationkey", $"n_name")
    val d = rev.join(cust, $"o_custkey" === $"c_custkey")
      .join(broadcast(nation), $"c_nationkey" === $"n_nationkey")
      .select($"n_name", $"cents")
    operators.Stats.theilBetween(d, "n_name", "cents")
  }

  /** F42: Theta-method one-step forecast per user (θ = 2 ≡ SES +
    * half-slope drift, Hyndman & Billah 2003) — SES on the holt
    * mapPartitions rung with the (1−α)ⁿ factor carried in the
    * recurrence, slope from exact moments
    * (operators.TimeSeries.thetaPerKey).
    */
  private def qTheta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ev = table(s, dir, "events")
      .select($"user_id", $"ts", $"event_id",
        floor($"value" * 100 + 0.5).cast("long").as("cents"))
    operators.TimeSeries.thetaPerKey(s, ev, "user_id", "ts",
      "event_id", "cents", alpha = 0.4)
  }

  /** F43: Ljung–Box portmanteau whiteness test at lags 1..7 on the
    * global daily revenue series — the q_acf machinery pooled into
    * one Q statistic (operators.TimeSeries.ljungBox).
    */
  private def qLjungBox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val daily = table(s, dir, "events")
      .groupBy(to_date($"ts").as("day"))
      .agg(sum(floor($"value" * 100 + 0.5).cast("long")).as("cents"))
    operators.TimeSeries.ljungBox(daily, "day", "cents", maxLag = 7)
  }

  /** E118: self-BLEU-2 corpus diversity — every document scored
    * against the rest of the corpus as references, clipping via
    * per-gram global max/runner-up stats instead of doc×doc pairs
    * (operators.Corpus.selfBleu2).
    */
  private def qSelfBleu(s: SparkSession, dir: String): DataFrame =
    operators.Corpus.selfBleu2(table(s, dir, "documents"), "doc_id",
      "text")

  /** E119: per-document char-bigram conditional entropy — the
    * compressibility quality signal beside q_char_entropy's unigram
    * view (operators.Corpus.charConditionalEntropy).
    */
  private def qCondEntropy(s: SparkSession, dir: String): DataFrame =
    operators.Corpus.charConditionalEntropy(
      table(s, dir, "documents"), "doc_id", "text")

  // ---------------------------------------------------------------- catalog

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_summary" -> (qAggSummary _),
    "q_filter_scan" -> (qFilterScan _),
    "q_join_enrich" -> (qJoinEnrich _),
    "q_multi_join" -> (qMultiJoin _),
    "q_window_running" -> (qWindowRunning _),
    "q_topn_per_group" -> (qTopnPerGroup _),
    "q_rollup_report" -> (qRollupReport _),
    "q_clean_values" -> (qCleanValues _),
    "q_safe_date" -> (qSafeDate _),
    "q_safe_num" -> (qSafeNum _),
    "q_age_segment" -> (qAgeSegment _),
    "q_region_map" -> (qRegionMap _),
    "q_risk_category" -> (qRiskCategory _),
    "q_txn_category" -> (qTxnCategory _),
    "q_bool_parse" -> (qBoolParse _),
    "q_duration_months" -> (qDurationMonths _),
    "q_incremental_append" -> (qIncrementalAppend _),
    "q_upsert_merge" -> (qUpsertMerge _),
    "q_count_verify" -> (qCountVerify _),
    "q_stage_raw" -> (qStageRaw _),
    "q_token_count" -> (qTokenCount _),
    "q_readability" -> (qReadability _),
    "q_mojibake" -> (qMojibake _),
    "q_clustering_coeff" -> (qClusteringCoeff _),
    "q_seq_patterns" -> (qSeqPatterns _),
    "q_drawdown" -> (qDrawdown _),
    "q_record_linkage" -> (qRecordLinkage _),
    "q_temperature_mix" -> (qTemperatureMix _),
    "q_quantile_normalize" -> (qQuantileNormalize _),
    "q_qq_table" -> (qQqTable _),
    "q_ks_test" -> (qKsTest _),
    "q_auc" -> (qAuc _),
    "q_chi_square" -> (qChiSquare _),
    "q_naive_bayes" -> (qNaiveBayes _),
    "q_perceptron" -> (qPerceptron _),
    "q_kaplan_meier" -> (qKaplanMeier _),
    "q_jl_project" -> (qJlProject _),
    "q_gains" -> (qGains _),
    "q_power_iteration" -> (qPowerIteration _),
    "q_isotonic" -> (qIsotonic _),
    "q_zipf" -> (qZipf _),
    "q_theil_sen" -> (qTheilSen _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_lateral" -> (qLateral _),
    "q_variant" -> (qVariant _),
    "q_ann_incremental" -> (qAnnIncremental _),
    "q_intrinsic_dim" -> (qIntrinsicDim _),
    "q_blocking_eval" -> (qBlockingEval _),
    "q_scc" -> (qScc _),
    "q_shortest_path" -> (qShortestPath _),
    "q_psi" -> (qPsi _),
    "q_runs_test" -> (qRunsTest _),
    "q_burstiness" -> (qBurstiness _),
    "q_itemsets3" -> (qItemsets3 _),
    "q_stump" -> (qStump _),
    "q_mann_whitney" -> (qMannWhitney _),
    "q_spatial_join" -> (qSpatialJoin _),
    "q_boost" -> (qBoost _),
    "q_bootstrap" -> (qBootstrap _),
    "q_calibration" -> (qCalibration _),
    "q_label_centroids" -> (qLabelCentroids _),
    "q_perm_test" -> (qPermTest _),
    "q_trend_test" -> (qTrendTest _),
    "q_mi_ranking" -> (qMiRanking _),
    "q_uplift" -> (qUplift _),
    "q_mann_kendall" -> (qMannKendall _),
    "q_knn_eval" -> (qKnnEval _),
    "q_silhouette" -> (qSilhouette _),
    "q_mmr" -> (qMmrRerank _),
    "q_hits" -> (qHits _),
    "q_page_hinkley" -> (qPageHinkley _),
    "q_good_turing" -> (qGoodTuring _),
    "q_heaps_law" -> (qHeapsLaw _),
    "q_script_mix" -> (qScriptMix _),
    "q_ndcg" -> (qNdcg _),
    "q_kneser_ney" -> (qKneserNey _),
    "q_ewma_chart" -> (qEwmaChart _),
    "q_nelson_aalen" -> (qNelsonAalen _),
    "q_kendall_tau" -> (qKendallTau _),
    "q_seasonal_decompose" -> (qSeasonalDecompose _),
    "q_rag_context" -> (qRagContext _),
    "q_partial_corr" -> (qPartialCorr _),
    "q_spearman" -> (qSpearman _),
    "q_lang_id" -> (qLangId _),
    "q_quality_score" -> (qQualityScore _),
    "q_fingerprint" -> (qFingerprint _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_ngram" -> (qDedupNgram _),
    "q_dedup_minhash" -> (qDedupMinhash _),
    "q_dedup_eval" -> (qDedupEval _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_embed_dup" -> (qEmbedDup _),
    "q_semantic_dedup" -> (qSemanticDedup _),
    "q_ann_topk" -> (qAnnTopk _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_multimodal_meta" -> (qMultimodalMeta _),
    "q_image_dims" -> (qImageDims _),
    "q_sessionize" -> (qSessionize _),
    "q_windowed_agg" -> (qWindowedAgg _),
    "q_distinct_agg" -> (qDistinctAgg _),
    "q_percentiles" -> (qPercentiles _),
    "q_set_ops" -> (qSetOps _),
    "q_semi_join" -> (qSemiJoin _),
    "q_pivot" -> (qPivot _),
    "q_collect_agg" -> (qCollectAgg _),
    "q_window_funcs" -> (qWindowFuncs _),
    "q_json_extract" -> (qJsonExtract _),
    "q_string_funcs" -> (qStringFuncs _),
    "q_date_funcs" -> (qDateFuncs _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_ann_pq" -> (qAnnPq _),
    "q_asof_join" -> (qAsofJoin _),
    "q_range_window" -> (qRangeWindow _),
    "q_cube_agg" -> (qCubeAgg _),
    "q_split_assign" -> (qSplitAssign _),
    "q_validate" -> (qValidate _),
    "q_stats_agg" -> (qStatsAgg _),
    "q_pii_mask" -> (qPiiMask _),
    "q_pii_detect" -> (qPiiDetect _),
    "q_curate_corpus" -> (qCurateCorpus _),
    "q_asof_native" -> (qAsofNative _),
    "q_range_join" -> (qRangeJoin _),
    "q_simhash_portable" -> (qSimhashPortable _),
    "q_repetition" -> (qRepetition _),
    "q_pack_sequences" -> (qPackSequences _),
    "q_shuffle_shards" -> (qShuffleShards _),
    "q_sql_api" -> (qSqlApi _),
    "q_minmax_by" -> (qMinmaxBy _),
    "q_histogram" -> (qHistogram _),
    "q_unpivot" -> (qUnpivot _),
    "q_explode_embeddings" -> (qExplodeEmbeddings _),
    "q_null_semantics" -> (qNullSemantics _),
    "q_rank_suite" -> (qRankSuite _),
    "q_curate_neardup" -> (qCurateNeardup _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_scalar_subquery" -> (qScalarSubquery _),
    "q_window_frames" -> (qWindowFrames _),
    "q_conditional_agg" -> (qConditionalAgg _),
    "q_gapfill" -> (qGapfill _),
    "q_gopher_quality" -> (qGopherQuality _),
    "q_dedup_cluster" -> (qDedupCluster _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_stratified_sample" -> (qStratifiedSample _),
    "q_weighted_mix" -> (qWeightedMix _),
    "q_cohort_retention" -> (qCohortRetention _),
    "q_funnel" -> (qFunnel _),
    "q_quantile_bucket" -> (qQuantileBucket _),
    "q_corr_stats" -> (qCorrStats _),
    "q_scd2" -> (qScd2 _),
    "q_salted_agg" -> (qSaltedAgg _),
    "q_ewma" -> (qEwma _),
    "q_holt_trend" -> (qHoltTrend _),
    "q_bloom_prune" -> (qBloomPrune _),
    "q_weighted_sample" -> (qWeightedSample _),
    "q_zorder" -> (qZorder _),
    "q_text_clean" -> (qTextClean _),
    "q_interval_overlap" -> (qIntervalOverlap _),
    "q_char_entropy" -> (qCharEntropy _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_hop_agg" -> (qHopAgg _),
    "q_approx_distinct" -> (qApproxDistinct _),
    "q_kmeans" -> (qKmeans _),
    "q_kmeans_fixed" -> (qKmeansFixed _),
    "q_pq_fixed" -> (qPqFixed _),
    "q_kcenter" -> (qKcenter _),
    "q_snapshot_diff" -> (qSnapshotDiff _),
    "q_incr_agg" -> (qIncrAgg _),
    "q_chunk_docs" -> (qChunkDocs _),
    "q_line_dedup" -> (qLineDedup _),
    "q_span_dedup" -> (qSpanDedup _),
    "q_lm_score" -> (qLmScore _),
    "q_tfidf" -> (qTfidf _),
    "q_zscore" -> (qZscore _),
    "q_bm25" -> (qBm25 _),
    "q_inverted_index" -> (qInvertedIndex _),
    "q_profile" -> (qProfile _),
    "q_profile_drift" -> (qProfileDrift _),
    "q_dedup_incremental" -> (qDedupIncremental _),
    "q_winsorize" -> (qWinsorize _),
    "q_pagerank" -> (qPageRank _),
    "q_pagerank_fixed" -> (qPageRankFixed _),
    "q_ppr" -> (qPpr _),
    "q_link_predict" -> (qLinkPredict _),
    "q_token_f1" -> (qTokenF1 _),
    "q_merge_full" -> (qMergeFull _),
    "q_cuped" -> (qCuped _),
    "q_bradley_terry" -> (qBradleyTerry _),
    "q_distinct_ngrams" -> (qDistinctNgrams _),
    "q_eb_shrinkage" -> (qEbShrinkage _),
    "q_kruskal_wallis" -> (qKruskalWallis _),
    "q_anova" -> (qAnova _),
    "q_cliffs_delta" -> (qCliffsDelta _),
    "q_mood_median" -> (qMoodMedian _),
    "q_effect_size" -> (qEffectSize _),
    "q_pettitt" -> (qPettitt _),
    "q_scd4" -> (qScd4 _),
    "q_quarantine" -> (qQuarantine _),
    "q_chat_turns" -> (qChatTurns _),
    "q_gamma_somers" -> (qGammaSomers _),
    "q_page_trend" -> (qPageTrend _),
    "q_wilcoxon" -> (qWilcoxon _),
    "q_croston" -> (qCroston _),
    "q_jonckheere" -> (qJonckheere _),
    "q_woe_iv" -> (qWoeIv _),
    "q_log_rank" -> (qLogRank _),
    "q_corpus_card" -> (qCorpusCard _),
    "q_mcnemar" -> (qMcnemar _),
    "q_fleiss_kappa" -> (qFleissKappa _),
    "q_ece" -> (qEce _),
    "q_friedman" -> (qFriedman _),
    "q_cochran_q" -> (qCochranQ _),
    "q_kripp_alpha" -> (qKrippAlpha _),
    "q_changepoint" -> (qChangepoint _),
    "q_count_min" -> (qCountMin _),
    "q_brown_forsythe" -> (qBrownForsythe _),
    "q_bleu2" -> (qBleu2 _),
    "q_cmh" -> (qCmh _),
    "q_rouge_l" -> (qRougeL _),
    "q_friedman_posthoc" -> (qFriedmanPosthoc _),
    "q_pass_at_k" -> (qPassAtK _),
    "q_mase" -> (qMase _),
    "q_dsir" -> (qDsir _),
    "q_fdr_battery" -> (qFdrBattery _),
    "q_fertility" -> (qFertility _),
    "q_locf" -> (qLocf _),
    "q_k_anonymity" -> (qKAnonymity _),
    "q_k_anonymize" -> (qKAnonymize _),
    "q_l_diversify" -> (qLDiversify _),
    "q_heavy_hitters" -> (qHeavyHitters _),
    "q_transitions" -> (qTransitions _),
    "q_jaro_winkler" -> (qJaroWinkler _),
    "q_attribution" -> (qAttribution _),
    "q_seq_funnel" -> (qSeqFunnel _),
    "q_mad_outliers" -> (qMadOutliers _),
    "q_robust_scale" -> (qRobustScale _),
    "q_rfm" -> (qRfm _),
    "q_skew_metrics" -> (qSkewMetrics _),
    "q_keyword_topk" -> (qKeywordTopk _),
    "q_feature_hash" -> (qFeatureHash _),
    "q_copurchase_degree" -> (qCopurchaseDegree _),
    "q_triangle_stats" -> (qTriangleStats _),
    "q_communities" -> (qCommunities _),
    "q_vwap" -> (qVwap _),
    "q_ref_integrity" -> (qRefIntegrity _),
    "q_latency_bands" -> (qLatencyBands _),
    "q_basket_lift" -> (qBasketLift _),
    "q_edit_join" -> (qEditJoin _),
    "q_golden_record" -> (qGoldenRecord _),
    "q_ohlc_resample" -> (qOhlcResample _),
    "q_quantize_int8" -> (qQuantizeInt8 _),
    "q_setsim_join" -> (qSetsimJoin _),
    "q_vocab_encode" -> (qVocabEncode _),
    "q_cusum" -> (qCusum _),
    "q_assortativity" -> (qAssortativity _),
    "q_bfs" -> (qBfs _),
    "q_event_paths" -> (qEventPaths _),
    "q_acf" -> (qAcf _),
    "q_cross_corr" -> (qCrossCorr _),
    "q_blocklist" -> (qBlocklist _),
    "q_domain_cap" -> (qDomainCap _),
    "q_weighted_quantiles" -> (qWeightedQuantiles _),
    "q_collocations" -> (qCollocations _),
    "q_winnow" -> (qWinnow _),
    "q_winnow_pairs" -> (qWinnowPairs _),
    "q_ab_test" -> (qAbTest _),
    "q_minhash_incremental" -> (qMinhashIncremental _),
    "q_interval_merge" -> (qIntervalMerge _),
    "q_holt_winters" -> (qHoltWinters _),
    "q_bpe_pairs" -> (qBpePairs _),
    "q_kcore" -> (qKcore _),
    "q_ktruss" -> (qKtruss _),
    "q_temporal_join" -> (qTemporalJoin _),
    "q_minhash_est" -> (qMinhashEst _),
    "q_train_blocks" -> (qTrainBlocks _),
    "q_topk_agg" -> (qTopkAgg _),
    "q_session_native" -> (qSessionNative _),
    "q_seasonal_anomaly" -> (qSeasonalAnomaly _),
    "q_containment" -> (qContainment _),
    "q_sql_recursive" -> (qSqlRecursive _),
    "q_l_diversity" -> (qLDiversity _),
    "q_benford" -> (qBenford _),
    "q_html_strip" -> (qHtmlStrip _),
    "q_corpus_divergence" -> (qCorpusDivergence _),
    "q_quality_classifier" -> (qQualityClassifier _),
    "q_dup_spans" -> (qDupSpans _),
    "q_skyline" -> (qSkyline _),
    "q_url_normalize" -> (qUrlNormalize _),
    "q_extract_links" -> (qExtractLinks _),
    "q_leakage_split" -> (qLeakageSplit _),
    "q_cut_spans" -> (qCutSpans _),
    "q_crawl_funnel" -> (qCrawlFunnel _),
    "q_incremental_url" -> (qIncrementalUrl _),
    "q_gini" -> (qGini _),
    "q_lorenz" -> (qLorenz _),
    "q_skyline_global" -> (qSkylineGlobal _),
    "q_attribution_linear" -> (qAttributionLinear _),
    "q_template_detect" -> (qTemplateDetect _),
    "q_fd_check" -> (qFdCheck _),
    "q_semantic_decontam" -> (qSemanticDecontam _),
    "q_join_size" -> (qJoinSize _),
    "q_rrf_fuse" -> (qRrfFuse _),
    "q_anchor_text" -> (qAnchorText _),
    "q_quality_percentile" -> (qQualityPercentile _),
    "q_novelty" -> (qNovelty _),
    "q_state_runs" -> (qStateRuns _),
    "q_time_weighted" -> (qTimeWeighted _),
    "q_lateness" -> (qLateness _),
    "q_table_digest" -> (qTableDigest _),
    "q_funnel_steps" -> (qFunnelSteps _),
    "q_token_budget" -> (qTokenBudget _),
    "q_rr3" -> (qRr3 _),
    "q_conformal" -> (qConformal _),
    "q_attribution_decay" -> (qAttributionDecay _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_textrank" -> (qTextrank _),
    "q_brier" -> (qBrier _),
    "q_kappa" -> (qKappa _),
    "q_tukey_fences" -> (qTukeyFences _),
    "q_control_chart" -> (qControlChart _),
    "q_hll_store" -> (qHllStore _),
    "q_cross_source_dup" -> (qCrossSourceDup _),
    "q_g_test" -> (qGTest _),
    "q_levene" -> (qLevene _),
    "q_bartlett" -> (qBartlett _),
    "q_ansari" -> (qAnsari _),
    "q_durbin_watson" -> (qDurbinWatson _),
    "q_grubbs" -> (qGrubbs _),
    "q_theil_index" -> (qTheilIndex _),
    "q_theta" -> (qTheta _),
    "q_ljung_box" -> (qLjungBox _),
    "q_self_bleu" -> (qSelfBleu _),
    "q_cond_entropy" -> (qCondEntropy _),
    "q_scd3" -> (qScd3 _))

  /** Queries whose semantics aren't DuckDB-expressible (engine-native
    * hashes); the driver records the weaker rows-only check, and a
    * ScalaTest spec covers the semantics instead.
    */
  val rowsOnly: Set[String] =
    Set("q_dedup_simhash", "q_approx_distinct", "q_kmeans", "q_pagerank",
      "q_ann_pq", "q_hll_store")

  def oracleSql: Map[String, String] = OracleSql.all
}
