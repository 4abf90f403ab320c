package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Robust-statistics operators built on EXACT integer rank arithmetic —
  * no interpolating percentiles, so results are bit-identical across
  * engines, partitionings, and scale factors.
  */
object Stats {

  /** Exact discrete quantile bounds per group over an integer column:
    * for each p in `ps` (per-10000 to keep the rank threshold in pure
    * integer math), the smallest value whose cumulative count reaches
    * `ceil(p/10000 · n)`.
    *
    * Plan shape: groupBy (keys, value) collapses the data to distinct
    * values per group BEFORE any window — the running-count window then
    * runs over value-cardinality rows only (bounded for integer-cent /
    * bucketed data), partitioned by group. No global sort, no
    * interpolation, no doubles.
    */
  def discreteQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
                        ps: Seq[Int]): DataFrame = {
    val k = keys.map(col)
    val counts = df.groupBy((k :+ col(valueCol)): _*)
      .agg(count(lit(1)).as("__c"))
    val cum = sum(col("__c")).over(
      Window.partitionBy(k: _*).orderBy(col(valueCol)))
    val tot = sum(col("__c")).over(Window.partitionBy(k: _*))
    val withCum = counts.select((k :+ col(valueCol) :+ cum.as("__cum")
      :+ tot.as("__n")): _*)
    // cum ≥ ceil(p·n/10000) ⟺ cum·10000 ≥ p·n (cum integral) — pure
    // integer comparison, no division at all
    val aggs = ps.map { p =>
      min(when(col("__cum") * 10000 >= col("__n") * p,
        col(valueCol))).as(s"q$p")
    }
    withCum.groupBy(k: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Weighted discrete quantiles — [[discreteQuantiles]] with the
    * count measure replaced by an EXACT INTEGER weight sum: q_p =
    * smallest value whose cumulative weight w(≤v) reaches p·W/10⁴
    * (`cum·10⁴ ≥ p·W`, pure integer comparison — no interpolation, no
    * doubles, bit-stable at any parallelism). The ops-and-finance
    * question discreteQuantiles can't answer: "the median ORDER takes
    * 20 units, but the median DOLLAR is spent on 35-unit orders."
    *
    * Scale shape unchanged: one keyed collapse to distinct (key,
    * value) rows with summed weights, window over value-cardinality
    * rows only, then one keyed min per requested p. Weights must be
    * exact integers (cents, counts); cum·10⁴ needs Σw < 9.2e14 per
    * group (long headroom) — pre-scale the weight unit above that.
    */
  def weightedQuantiles(df: DataFrame, keys: Seq[String], valueCol: String,
                        weightCol: String, ps: Seq[Int]): DataFrame = {
    val k = keys.map(col)
    val counts = df.groupBy((k :+ col(valueCol)): _*)
      .agg(sum(col(weightCol)).as("__w"))
    val cum = sum(col("__w")).over(
      Window.partitionBy(k: _*).orderBy(col(valueCol)))
    val tot = sum(col("__w")).over(Window.partitionBy(k: _*))
    val withCum = counts.select((k :+ col(valueCol) :+ cum.as("__cum")
      :+ tot.as("__n")): _*)
    val aggs = ps.map { p =>
      min(when(col("__cum") * 10000 >= col("__n") * p,
        col(valueCol))).as(s"q$p")
    }
    withCum.groupBy(k: _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact heavy hitters: values whose frequency share reaches
    * `phiBp`/10000. One keyed aggregate + a 1-row broadcast total; the
    * threshold test is pure integer arithmetic (`n·10⁴ ≥ total·φ`), so
    * membership is bit-stable across engines. The approximate
    * counterpart for streams/unioned sketches is `df.stat.freqItems`
    * (superset guarantee — asserted against this exact operator in
    * StatsProfileSpec).
    */
  def heavyHitters(df: DataFrame, valueCol: String, phiBp: Int): DataFrame = {
    val counts = df.groupBy(col(valueCol)).agg(count(lit(1)).as("n"))
    val total = df.agg(count(lit(1)).as("__total"))
    counts.crossJoin(broadcast(total))
      .filter(col("n") * 10000 >= col("__total") * phiBp)
      .select(col(valueCol), col("n"),
        round(col("n").cast("double") / col("__total").cast("double"), 4)
          .as("share"))
  }

  /** MAD-based outlier detection per group, entirely in integer
    * arithmetic: med = exact discrete median of the integer column,
    * MAD = exact discrete median of |x − med|, and x is an outlier
    * when |x − med| > k·MAD (k integral). No interpolation, no
    * doubles — the flag is bit-stable across engines and partitionings,
    * unlike stddev-based z-scores which both accumulate floats AND
    * get dragged by the very outliers they're hunting.
    *
    * Two quantile passes (each a groupBy collapse to distinct values +
    * a group-partitioned window) and two broadcast joins back; the
    * fact table never shuffles beyond its one groupBy.
    */
  def madOutliers(df: DataFrame, keys: Seq[String], valueCol: String,
                  k: Int): DataFrame = {
    val med = discreteQuantiles(df, keys, valueCol, Seq(5000))
      .withColumnRenamed("q5000", "__med")
    val withMed = df.join(broadcast(med), keys)
      .withColumn("__dev", abs(col(valueCol) - col("__med")))
    val mad = discreteQuantiles(withMed, keys, "__dev", Seq(5000))
      .withColumnRenamed("q5000", "__mad")
    withMed.join(broadcast(mad), keys)
      .withColumn("is_outlier", col("__dev") > col("__mad") * k)
      .withColumnRenamed("__med", "med")
      .withColumnRenamed("__mad", "mad")
      .drop("__dev")
  }

  /** Robust scaling (x − median) / IQR per group — the feature-scaling
    * form that survives heavy tails. Median and the exact discrete
    * [p25, p75] come from [[discreteQuantiles]] (integer arithmetic,
    * broadcast back); the ONLY float operation is one division per
    * row, identical order on every engine. Groups with IQR = 0 yield
    * null (constant features carry no scale).
    */
  def robustScale(df: DataFrame, keys: Seq[String], valueCol: String,
                  outCol: String): DataFrame = {
    val q = discreteQuantiles(df, keys, valueCol, Seq(2500, 5000, 7500))
    df.join(broadcast(q), keys)
      .withColumn(outCol,
        when(col("q7500") =!= col("q2500"),
          (col(valueCol) - col("q5000")).cast("double") /
            (col("q7500") - col("q2500")).cast("double")))
      .drop("q2500", "q5000", "q7500")
  }

  /** Count-min-sketch frequency estimates for a candidate value set —
    * the streaming/mergeable counterpart of exact [[heavyHitters]].
    * ONE pass builds the sketch (`df.stat.countMinSketch`, mergeable
    * across partitions/streams/days — how per-hour sketches roll into
    * per-day counts without re-reading 100 TB); candidates are then
    * estimated driver-side in O(1) each.
    *
    * Guarantees (classic CMS, never under-counts): for every value,
    * `true ≤ estimate ≤ true + eps·N` with confidence `1 − 1/2^d`.
    * Asserted against exact counts in SkewApproxSpec.
    */
  def cmsEstimates(df: DataFrame, valueCol: String, candidates: Seq[String],
                   eps: Double = 0.001, confidence: Double = 0.99,
                   seed: Int = 42): Seq[(String, Long)] = {
    val sketch = df.stat.countMinSketch(col(valueCol), eps, confidence, seed)
    candidates.map(v => v -> sketch.estimateCount(v))
  }

  /** H46: mergeable distinct-count sketches across ingestion runs —
    * incremental approximate COUNT(DISTINCT key) per group WITHOUT
    * retaining raw keys: each run reduces its batch to ONE DataSketches
    * HLL sketch per group (`hll_sketch_agg`), merges it with the prior
    * run's sketch table (`hll_union_agg`), and reads the estimate with
    * `hll_sketch_estimate`. This is the sketch the incremental-store
    * family (E40 exact fingerprints, E45 MinHash, E68 URLs) was
    * missing: state size is O(groups·2^lgK) REGARDLESS of key
    * cardinality, and the merge is associative — shard sketches union
    * to exactly the sketch of the union, so a 1000-executor ingest and
    * a replayed backfill land on the same registers.
    *
    * Determinism: HLL registers are per-hash MAXes — insertion order,
    * partitioning, and batch boundaries cannot change the merged
    * sketch (asserted batch-split ≡ one-shot in Round6OpsSpec), which
    * is what makes a rows-only gate on the estimates meaningful.
    *
    * @param prior previous run's (group, sk) table, or None for the
    *              first run.
    * @return per group: (groupCol, sk binary — persist this as the
    *         next run's prior — and distinct_est long).
    */
  def hllMergeCounts(batch: DataFrame, groupCol: String, keyCol: String,
                     prior: Option[DataFrame] = None,
                     lgK: Int = 12): DataFrame = {
    require(lgK >= 4 && lgK <= 21)
    val b = batch.groupBy(col(groupCol).as("g"))
      .agg(hll_sketch_agg(col(keyCol), lit(lgK)).as("sk"))
    val merged = prior match {
      case None => b
      case Some(p) =>
        b.unionByName(p.select(col(p.columns.head).as("g"),
            col("sk")))
          .groupBy(col("g"))
          .agg(hll_union_agg(col("sk"), lit(true)).as("sk"))
    }
    merged.select(col("g").as(groupCol), col("sk"),
      hll_sketch_estimate(col("sk")).as("distinct_est"))
  }

  /** Winsorization (outlier clamping) of an integer-valued column per
    * group: values clamped to the exact discrete [pLo, pHi] quantile
    * bounds (per-10000). Bounds come from [[discreteQuantiles]] and
    * join back as a broadcast (group-cardinality rows); the clamp is
    * two codegen'd comparisons per row. Everything stays integral —
    * aggregates over the clamped column are exact.
    */
  def winsorize(df: DataFrame, keys: Seq[String], valueCol: String,
                pLo: Int, pHi: Int): DataFrame = {
    val bounds = discreteQuantiles(df, keys, valueCol, Seq(pLo, pHi))
      .withColumnRenamed(s"q$pLo", "__lo")
      .withColumnRenamed(s"q$pHi", "__hi")
    df.join(broadcast(bounds), keys)
      .withColumn(s"${valueCol}_w",
        least(greatest(col(valueCol), col("__lo")), col("__hi")))
      .drop("__lo", "__hi")
  }

  /** Corpus-percentile calibration of a per-row integer score — the
    * curation gate "keep the top X% by quality/length/score" expressed
    * as EXACT rank arithmetic: global ascending rank via
    * [[globalValueRank]]'s two-level plan (no single-partition window
    * ever sees data-sized frames), percentile in basis points
    * `rank·10⁴ div n`, keep ⟺ `rank·10⁴ > n·(10⁴ − keepTopBp)` — all
    * integers, no float percentile to disagree on. Threshold-free by
    * construction: a corpus-wide score distribution shift moves the
    * cut with it, which is why production curation gates are
    * percentile-based rather than absolute.
    *
    * @return (idCol, scoreCol, rank, pct_bp, keep).
    */
  def percentileCalibrate(df: DataFrame, idCol: String, scoreCol: String,
                          keepTopBp: Long): DataFrame = {
    require(keepTopBp >= 0 && keepTopBp <= 10000)
    val ranked = globalValueRank(df.select(col(idCol), col(scoreCol)),
      scoreCol, idCol, "rank")
    val n = df.agg(count(lit(1)).as("__n"))
    ranked.crossJoin(broadcast(n))
      .select(col(idCol), col(scoreCol), col("rank"),
        expr("rank * 10000 div __n").as("pct_bp"),
        (col("rank") * lit(10000L) >
          col("__n") * lit(10000L - keepTopBp)).as("keep"))
  }

  /** C53: Q-Q table between two groups — the distribution-shift
    * diagnostic read as a table instead of a plot: for each quantile
    * q/nq, the exact discrete value each group attains at rank
    * ⌈q·n_g/nq⌉. Points on y=x ⇒ same distribution; a parallel offset
    * ⇒ location shift; a fan ⇒ scale/tail shift. Pure integer rank
    * arithmetic (per-group windows, a tiny broadcast quantile spine),
    * engine-exact.
    *
    * @return one row per quantile point: (q, v_a, v_b).
    */
  def qqTable(df: DataFrame, groupCol: String, valueCol: String,
              tieCol: String, groupA: String, groupB: String,
              nq: Int): DataFrame = {
    require(nq >= 2, s"nq must be ≥ 2: $nq")
    val spark = df.sparkSession
    import spark.implicits._
    val two = df.filter(col(groupCol).isin(groupA, groupB))
    val wg = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(tieCol))
    val ranked = two
      .withColumn("__r", row_number().over(wg).cast("long"))
      .withColumn("__ng",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
    val spine = (1 until nq).map(_.toLong).toDF("q")
    val points = ranked.join(broadcast(spine),
        col("__r") === expr(s"(q * __ng + ${nq - 1}) div $nq"))
      .select(col("q"), col(groupCol), col(valueCol))
    points.groupBy(col("q")).agg(
        max(when(col(groupCol) === groupA, col(valueCol))).as("v_a"),
        max(when(col(groupCol) === groupB, col(valueCol))).as("v_b"))
  }

  /** C52: quantile normalization across groups — map each group's
    * values onto the GLOBAL empirical quantile function, the classic
    * batch-effect remover (microarray lineage) and distribution-
    * matching feature transform: after it, every group has (as close
    * as ranks allow) the same marginal distribution.
    *
    * Pure integer rank arithmetic, engine-exact: within-group rank r
    * (window per GROUP — never data-sized single-partition), group
    * size n_g, global rank via [[globalValueRank]] (two-level, same
    * discipline), target = the global value at rank
    * ⌈r·N / n_g⌉ = (r·N + n_g − 1) div n_g, fetched with ONE
    * rank-keyed equi join.
    *
    * @return input keys + (value, q_value) — q_value is the
    *         quantile-normalized value.
    */
  def quantileNormalize(df: DataFrame, groupCol: String, valueCol: String,
                        tieCol: String): DataFrame = {
    val n = df.count()
    val wg = Window.partitionBy(col(groupCol))
      .orderBy(col(valueCol), col(tieCol))
    val ranked = df
      .withColumn("__r", row_number().over(wg).cast("long"))
      .withColumn("__ng",
        count(lit(1)).over(Window.partitionBy(col(groupCol))))
      .withColumn("__t",
        expr(s"(__r * ${n}L + __ng - 1) div __ng"))
    val globalRanks = globalValueRank(
        df.select(col(valueCol), col(tieCol)), valueCol, tieCol, "__gr")
      .select(col("__gr").as("__t"), col(valueCol).as("q_value"))
    ranked.join(globalRanks, "__t")
      .drop("__r", "__ng", "__t")
  }

  /** C54: exact two-sample Kolmogorov–Smirnov distance — the
    * distribution-equality test behind drift monitors and A/B sanity
    * checks, in PURE integer arithmetic: D = max over values of
    * |F_a(v) − F_b(v)| carried as the integral numerator
    * `|cumA·n_b − cumB·n_a|` (denominator n_a·n_b), so the decision
    * quantity is bit-identical on any engine or partitioning; the
    * emitted `d` is ONE raw double division of exact ints at the end.
    *
    * Plan shape: one groupBy collapses the two groups to distinct
    * values with per-group counts BEFORE any window (the
    * discreteQuantiles rationale — the running-count window sees
    * value-cardinality rows only), then one scalar aggregate.
    *
    * @return one row: (n_a, n_b, d_num, d).
    */
  /** Running (inclusive) sums of `sumCols` in ascending `orderCol`
    * order WITHOUT a data-sized single-partition window — the E49/C45
    * two-level discipline applied to running sums: integer value
    * bucket, per-bucket totals, prefix offsets over the BUCKET-
    * cardinality frame only, within-bucket keyed running sum. Rows
    * must be distinct per `orderCol` (group first). Output: input
    * columns + `__cum_<c>` per sum column.
    */
  private def twoLevelCumSums(d0: DataFrame, orderCol: String,
                              sumCols: Seq[String],
                              bucketWidth: Long = 1L << 20): DataFrame = {
    val d = d0.withColumn("__bkt",
      floor(col(orderCol).cast("long") / bucketWidth).cast("long"))
    val tAggs = sumCols.map(c => sum(col(c)).as(s"__t_$c"))
    val totals = d.groupBy(col("__bkt")).agg(tAggs.head, tAggs.tail: _*)
    val prefix = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals.select(col("__bkt") +: sumCols.map(c =>
      coalesce(sum(col(s"__t_$c")).over(prefix), lit(0L))
        .as(s"__off_$c")): _*)
    val within = Window.partitionBy(col("__bkt")).orderBy(col(orderCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    d.join(broadcast(offsets), "__bkt")
      .select(d0.columns.map(col) ++ sumCols.map(c =>
        (col(s"__off_$c") + sum(col(c)).over(within)).as(s"__cum_$c")): _*)
  }

  def ksDistance(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val byVal = df.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(valueCol)).agg(
        sum(when(col(groupCol) === groupA, 1L).otherwise(0L)).as("__ca"),
        sum(when(col(groupCol) === groupB, 1L).otherwise(0L)).as("__cb"))
    val cum = twoLevelCumSums(byVal, valueCol, Seq("__ca", "__cb"))
      .select(col("__cum___ca").as("__cumA"), col("__cum___cb").as("__cumB"))
    val tot = byVal.agg(sum(col("__ca")).as("n_a"),
      sum(col("__cb")).as("n_b"))
    cum.crossJoin(broadcast(tot))
      .agg(first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"),
        max(abs(col("__cumA") * col("n_b") - col("__cumB") * col("n_a")))
          .as("d_num"))
      .select(col("n_a"), col("n_b"), col("d_num"),
        (col("d_num").cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("d"))
  }

  /** C55: exact ROC AUC (≡ Mann–Whitney U) of a numeric score against
    * a binary label — the evaluation number every model-based curation
    * filter (E60) reports, computed EXACTLY by rank arithmetic instead
    * of trapezoid-summed float curves: ties count ½, so the integral
    * carrier is 2U = Σ_v p_v·(2·negBelow(v) + q_v) over distinct score
    * values (p/q = positives/negatives at v). One groupBy collapse +
    * a window over value-cardinality rows + one scalar aggregate; AUC
    * is ONE raw double division of exact ints (raw-double safe).
    *
    * @return one row: (n_pos, n_neg, u2, auc).
    */
  def rocAuc(df: DataFrame, labelCol: String, scoreCol: String): DataFrame = {
    val byVal = df.groupBy(col(scoreCol)).agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("__p"),
      sum(when(col(labelCol), 0L).otherwise(1L)).as("__q"))
    val terms = twoLevelCumSums(byVal, scoreCol, Seq("__q"))
      .select(col("__p"), col("__q"),
        (col("__cum___q") - col("__q")).as("__qb"))
    terms.agg(
        sum(col("__p")).as("n_pos"), sum(col("__q")).as("n_neg"),
        sum(col("__p") * (col("__qb") * 2 + col("__q"))).as("u2"))
      .select(col("n_pos"), col("n_neg"), col("u2"),
        (col("u2").cast("double") /
          (col("n_pos") * col("n_neg") * 2).cast("double")).as("auc"))
  }

  /** C56: contingency-table profile of two categorical columns —
    * chi-square independence statistic, Cramér's V, and mutual
    * information in ONE pass over the (tiny) contingency table.
    *
    * Exactness discipline: cell/row/col/total counts are exact
    * integers; each chi² term is (o·N − r·c)²/(N·r·c) with the
    * deviation computed in integer arithmetic first (one long), and
    * each MI term (o/N)·ln(o·N/(r·c)) divides exact integer products
    * — so every term is IEEE-identical on both engines, and the SUMS
    * fold in sorted (a,b) cell order over a cell-cardinality array
    * (categories are bounded; the corpus is not). 6dp at output (the
    * ln-ulp rule). Long-overflow guard: o·N and r·c need N² < 9.2e18,
    * i.e. N < 3e9 rows — beyond that, pre-aggregate or widen to
    * decimal.
    *
    * @return one row: (n, n_rows, n_cols, dof, chi2, cramers_v,
    *         mi_nats).
    */
  def contingencyProfile(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("__o"))
    val rowT = cells.groupBy(col(aCol)).agg(sum(col("__o")).as("__r"))
    val colT = cells.groupBy(col(bCol)).agg(sum(col("__o")).as("__c"))
    val tot = cells.agg(sum(col("__o")).as("__n"),
      count_distinct(col(aCol)).as("__ra"),
      count_distinct(col(bCol)).as("__cb"))
    val dev = (col("__o") * col("__n") - col("__r") * col("__c"))
      .cast("double")
    val den = col("__n").cast("double") * col("__r").cast("double") *
      col("__c").cast("double")
    val chiT = dev * dev / den
    val miT = (col("__o").cast("double") / col("__n").cast("double")) *
      log((col("__o") * col("__n")).cast("double") /
        (col("__r") * col("__c")).cast("double"))
    val terms = cells
      .join(broadcast(rowT), aCol).join(broadcast(colT), bCol)
      .crossJoin(broadcast(tot))
      .select(struct(col(aCol).as("a"), col(bCol).as("b"),
          chiT.as("chi"), miT.as("mi")).as("s"),
        (col("__r") * col("__c")).as("__rc"),
        col("__n"), col("__ra"), col("__cb"))
    def foldField(f: String) =
      aggregate(transform(col("arr"), x => x(f)), lit(0.0), _ + _)
    // UNOBSERVED cells still contribute e = r·c/N to chi² (each term
    // is (0−e)²/e = e); their total has the closed form
    // (N² − Σ_observed r·c)/N — exact integer numerator, ONE division
    // — so zero cells never materialize. MI needs no adjustment
    // (0·ln 0 ≡ 0).
    val chi2 = foldField("chi") +
      (col("__n") * col("__n") - col("__src")).cast("double") /
        col("__n").cast("double")
    val minDof = least(col("__ra") - 1, col("__cb") - 1)
    terms.groupBy(col("__n"), col("__ra"), col("__cb"))
      .agg(array_sort(collect_list(col("s"))).as("arr"),
        sum(col("__rc")).as("__src"))
      .select(col("__n").as("n"), col("__ra").as("n_rows"),
        col("__cb").as("n_cols"),
        ((col("__ra") - 1) * (col("__cb") - 1)).as("dof"),
        round(chi2, 6).as("chi2"),
        round(when(minDof > 0,
          sqrt(chi2 / (col("__n") * minDof).cast("double"))), 6)
          .as("cramers_v"),
        round(foldField("mi"), 6).as("mi_nats"))
  }

  /** Feature-association ranking: every candidate feature scored
    * against the label with the full [[contingencyProfile]] triple
    * (chi², Cramér's V, mutual information) in ONE table — the
    * feature-selection read-out ("which columns carry signal about
    * y") that single-pair C56 can't give. Each feature is one
    * independent contingency pass over the fact table; the union is
    * feature-cardinality rows. Exactness is inherited wholesale from
    * contingencyProfile (integer cells, sorted-cell folds, 6dp).
    *
    * @return per feature: (feature, n_levels, chi2, cramers_v,
    *         mi_nats).
    */
  def miRanking(df: DataFrame, labelCol: String,
                features: Seq[(String, org.apache.spark.sql.Column)])
      : DataFrame = {
    require(features.nonEmpty)
    features.map { case (name, c) =>
      contingencyProfile(
        df.select(c.as("__f"), col(labelCol).as("__y")), "__f", "__y")
        .select(lit(name).as("feature"), col("n_rows").as("n_levels"),
          col("chi2"), col("cramers_v"), col("mi_nats"))
    }.reduce(_ unionByName _)
  }

  /** Uplift-by-segment table: the heterogeneous-treatment-effect
    * read-out an experiment analysis ends in — per segment the
    * treatment-vs-control conversion-rate difference with a pooled
    * two-proportion z. The variant-level A/B read-out
    * ([[Analytics]]'s Welch table) answers "did it work"; this
    * answers "for WHOM".
    *
    * One map-combinable groupBy collapses the fact table to segment
    * cardinality; uplift is a difference of exact floor-div micro
    * rates; z folds in fixed IEEE op order on exact integer counts
    * (6dp).
    *
    * @return per segment: (segment, n_a, conv_a, n_b, conv_b,
    *         uplift_micro, z).
    */
  def upliftBySegment(df: DataFrame, segCol: String, variantCol: String,
                      convCol: String, variantA: String,
                      variantB: String): DataFrame = {
    val g = df
      .filter(col(variantCol) === variantA || col(variantCol) === variantB)
      .groupBy(col(segCol).as("segment"))
      .agg(
        sum(when(col(variantCol) === variantA, 1L).otherwise(0L))
          .as("n_a"),
        sum(when(col(variantCol) === variantA && col(convCol), 1L)
          .otherwise(0L)).as("conv_a"),
        sum(when(col(variantCol) === variantB, 1L).otherwise(0L))
          .as("n_b"),
        sum(when(col(variantCol) === variantB && col(convCol), 1L)
          .otherwise(0L)).as("conv_b"))
    val na = col("n_a").cast("double"); val nb = col("n_b").cast("double")
    val pa = col("conv_a").cast("double") / na
    val pb = col("conv_b").cast("double") / nb
    val pp = (col("conv_a") + col("conv_b")).cast("double") /
      (col("n_a") + col("n_b")).cast("double")
    val se2 = pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb)
    g.filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("segment"), col("n_a"), col("conv_a"), col("n_b"),
        col("conv_b"),
        (expr("conv_a * 1000000 div n_a") -
          expr("conv_b * 1000000 div n_b")).as("uplift_micro"),
        round(when(se2 > 0, (pa - pb) / sqrt(se2)), 6).as("z"))
  }

  /** C57: cumulative gains / lift table — [[rocAuc]]'s operational
    * companion: rank the population by score DESCENDING (ties broken
    * by `tieCol` — deterministic at any parallelism), cut into
    * `nBuckets` equal-count buckets, and report per bucket the
    * cumulative positive capture and precision. The curation read:
    * "the top 10% of scored docs captures X% of the good ones" — the
    * number that decides where to put a model-based filter's
    * threshold.
    *
    * All arithmetic exact integers: global rank via
    * [[globalValueRank]]'s two-level plan (never a data-sized
    * single-partition window), bucket = integer arithmetic on ranks,
    * capture/precision in basis points by integral division; the
    * cumulative window runs over nBuckets rows only.
    *
    * @return one row per bucket: (bucket, n, n_pos, cum_n, cum_pos,
    *         capture_bp, precision_bp).
    */
  def gainsTable(df: DataFrame, labelCol: String, scoreCol: String,
                 tieCol: String, nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2)
    // rank by score DESC via globalValueRank on the negated score
    val ranked = globalValueRank(
      df.select(col(labelCol), col(scoreCol), col(tieCol))
        .withColumn("__neg", -col(scoreCol)), "__neg", tieCol, "__rank")
    val tot = df.agg(count(lit(1)).as("__n"),
      sum(when(col(labelCol), 1L).otherwise(0L)).as("__npos"))
    val bucketed = ranked.crossJoin(broadcast(tot))
      .withColumn("bucket",
        least(lit(nBuckets.toLong - 1),
          expr(s"(__rank - 1) * $nBuckets div __n")) + 1)
      .groupBy(col("bucket")).agg(
        count(lit(1)).as("n"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"),
        first(col("__npos")).as("__npos"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, 0)
    bucketed
      .withColumn("cum_n", sum(col("n")).over(w))
      .withColumn("cum_pos", sum(col("n_pos")).over(w))
      .select(col("bucket"), col("n"), col("n_pos"), col("cum_n"),
        col("cum_pos"),
        when(col("__npos") > 0,
          expr("cum_pos * 10000 div __npos")).as("capture_bp"),
        expr("cum_pos * 10000 div cum_n").as("precision_bp"))
  }

  /** C58: isotonic regression (PAV) of a binned positive rate — the
    * classic score-calibration step between a ranker (C55/C57) and a
    * probability consumer: fit the best monotone non-decreasing rate
    * curve over ordered bins. Computed via the MINIMAX identity
    * fitted(i) = max_{j≤i} min_{k≥i} mean(j..k) — equivalent to
    * pool-adjacent-violators but fully DECLARATIVE: two non-equi
    * joins + two nested aggregates over the BIN spine (bins are
    * bounded — score buckets — while the corpus is not), so no
    * sequential driver pass at all.
    *
    * Exactness: bin/cumulative counts exact integers; every candidate
    * mean is ONE IEEE division of exact ints (raw-double safe), and
    * max/min pick among those exact values — bit-identical on both
    * engines, no rounding needed.
    *
    * @param bins one row per bin: (binCol ordered, nCol, posCol).
    * @return (bin, n, pos, rate, iso) with iso monotone in bin.
    */
  def isotonicFit(bins: DataFrame, binCol: String, nCol: String,
                  posCol: String): DataFrame = {
    val w = Window.orderBy(col("i"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val c = bins.select(col(binCol).as("i"), col(nCol).as("n"),
        col(posCol).as("pos"))
      .withColumn("__cn", sum(col("n")).over(w))
      .withColumn("__cp", sum(col("pos")).over(w))
    val cj = c.select(col("i").as("j"), (col("__cn") - col("n")).as("__cnj"),
      (col("__cp") - col("pos")).as("__cpj"))
    val ck = c.select(col("i").as("k"), col("__cn").as("__cnk"),
      col("__cp").as("__cpk"))
    val spine = c.select(col("i"), col("n"), col("pos"))
    val jk = spine.join(cj, col("j") <= col("i"))
      .join(ck, col("k") >= col("i"))
      .select(col("i"), col("n"), col("pos"), col("j"),
        ((col("__cpk") - col("__cpj")).cast("double") /
          (col("__cnk") - col("__cnj")).cast("double")).as("__m"))
    jk.groupBy(col("i"), col("n"), col("pos"), col("j"))
      .agg(min(col("__m")).as("__mn"))
      .groupBy(col("i"), col("n"), col("pos"))
      .agg(max(col("__mn")).as("iso"))
      .select(col("i").as(binCol), col("n").as(nCol),
        col("pos").as(posCol),
        (col("pos").cast("double") / col("n").cast("double")).as("rate"),
        col("iso"))
  }

  /** C62: population stability index (PSI) — the standard score/
    * feature drift monitor between a baseline and a current period:
    * PSI = Σ_buckets (p_a − p_b)·ln(p_a/p_b), buckets cut at the
    * BASELINE's exact discrete deciles (integer rank arithmetic —
    * the same boundaries on any engine), add-one smoothing keeping
    * every p an exact-integer ratio, the ln sum folding in bucket
    * order over an nBuckets array (6dp — the ln rule). Folklore
    * thresholds: < 0.1 stable, 0.1–0.25 drifting, > 0.25 shifted.
    *
    * Scale shape: one quantile collapse on the baseline, boundaries
    * broadcast, one bucket-count aggregate per side (a codegen'd
    * compare ladder — no sort), the bucket spine tiny.
    *
    * @return one row: (n_a, n_b, psi).
    */
  def psi(a: DataFrame, b: DataFrame, valueCol: String,
          nBuckets: Int = 10): DataFrame = {
    require(nBuckets >= 2)
    val spark = a.sparkSession
    import spark.implicits._
    val ps = (1 until nBuckets).map(_ * 10000 / nBuckets)
    val bounds = broadcast(discreteQuantiles(
      a.select(col(valueCol)).withColumn("__g", lit(1)),
      Seq("__g"), valueCol, ps).drop("__g"))
    def counts(df: DataFrame, out: String) = {
      val bucket = (lit(1) + ps.map(p =>
        when(col(valueCol) > col(s"q$p"), 1).otherwise(0)).reduce(_ + _))
        .cast("long")
      df.crossJoin(bounds).select(bucket.as("bucket"))
        .groupBy(col("bucket")).agg(count(lit(1)).as(out))
    }
    val spine = (1L to nBuckets.toLong).toDF("bucket")
    val byBucket = spine
      .join(counts(a, "__ca"), Seq("bucket"), "left")
      .join(counts(b, "__cb"), Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("__ca"), lit(0L)).as("ca"),
        coalesce(col("__cb"), lit(0L)).as("cb"))
    val tot = byBucket.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val pa = (col("ca") + 1).cast("double") /
      (col("n_a") + nBuckets).cast("double")
    val pb = (col("cb") + 1).cast("double") /
      (col("n_b") + nBuckets).cast("double")
    val terms = byBucket.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        struct(col("bucket"), ((pa - pb) * log(pa / pb)).as("t")).as("s"))
    terms.groupBy(col("n_a"), col("n_b"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(col("n_a"), col("n_b"),
        round(aggregate(transform(col("arr"), x => x("t")),
          lit(0.0), _ + _), 6).as("psi"))
  }

  /** Decision-stump training (Holte 1993's 1R weak learner, the
    * AdaBoost base classifier): the single integer threshold t on
    * `xCol` that maximizes TRAINING ACCURACY when each side of the
    * split predicts its own majority label. The whole fit is exact
    * integer counting — candidate evaluation is an argmax over
    * (correct desc, threshold asc), so the trained model is
    * bit-identical at any parallelism and on any engine: model FITTING
    * itself is hash-gateable (the perceptron/k-means-fixed
    * discipline, SURVEY §7).
    *
    * Plan shape: one map-combinable groupBy collapses the fact table
    * to x-cardinality (pos, n) rows; prefix sums + the argmax window
    * run over that bounded domain (integer-cent / bucketed features),
    * never over the data. Accuracy is ONE IEEE division at output.
    *
    * @return one row: (threshold, left_pos, left_neg, right_pos,
    *         right_neg, correct, accuracy, predict_left,
    *         predict_right) — x <= threshold routes left; a side
    *         predicts positive iff pos strictly exceeds neg.
    */
  def decisionStump(df: DataFrame, labelCol: String,
                    xCol: String): DataFrame = {
    val g = df.groupBy(col(xCol).as("x")).agg(
      sum(when(col(labelCol), 1L).otherwise(0L)).as("pos"),
      count(lit(1)).as("n"))
    val tot = g.agg(sum(col("pos")).as("tp"), sum(col("n")).as("tn"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.withColumn("clp", sum(col("pos")).over(w))
      .withColumn("cln", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("x").as("threshold"),
        col("clp").as("left_pos"), (col("cln") - col("clp")).as("left_neg"),
        (col("tp") - col("clp")).as("right_pos"),
        (col("tn") - col("cln") - col("tp") + col("clp")).as("right_neg"),
        col("tn"))
    val scored = cum.withColumn("correct",
      greatest(col("left_pos"), col("left_neg")) +
        greatest(col("right_pos"), col("right_neg")))
    val best = Window.orderBy(col("correct").desc, col("threshold"))
    scored.withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("threshold"), col("left_pos"), col("left_neg"),
        col("right_pos"), col("right_neg"), col("correct"),
        round(col("correct").cast("double") / col("tn").cast("double"), 6)
          .as("accuracy"),
        (col("left_pos") > col("left_neg")).as("predict_left"),
        (col("right_pos") > col("right_neg")).as("predict_right"))
  }

  /** One round of a WEIGHT-aware stump fit: per-x weighted (pos, n)
    * counts, prefix sums, argmax by (weighted correct desc, threshold
    * asc). Factored out so [[boostedStumps]] can refit under updated
    * integer weights; all state exact BIGINT.
    */
  private def weightedStumpFit(wdf: DataFrame): DataFrame = {
    val g = wdf.groupBy(col("x")).agg(
      sum(when(col("y"), col("w")).otherwise(0L)).as("pos"),
      sum(col("w")).as("n"))
    val tot = g.agg(sum(col("pos")).as("tp"), sum(col("n")).as("tn"))
    val w = Window.orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = g.withColumn("clp", sum(col("pos")).over(w))
      .withColumn("cln", sum(col("n")).over(w))
      .crossJoin(broadcast(tot))
      .select(col("x").as("threshold"), col("clp").as("lp"),
        (col("cln") - col("clp")).as("lneg"),
        (col("tp") - col("clp")).as("rp"),
        (col("tn") - col("cln") - col("tp") + col("clp")).as("rneg"),
        col("tn"))
    val scored = cum.withColumn("w_correct",
      greatest(col("lp"), col("lneg")) + greatest(col("rp"), col("rneg")))
    val best = Window.orderBy(col("w_correct").desc, col("threshold"))
    scored.withColumn("__rn", row_number().over(best))
      .filter(col("__rn") === 1)
      .select(col("threshold"), col("w_correct"), col("tn").as("w_total"),
        (col("lp") > col("lneg")).as("predict_left"),
        (col("rp") > col("rneg")).as("predict_right"))
  }

  /** Boosted decision stumps with INTEGER reweighting — a
    * deterministic ensemble trainer in the fixed-point-twin discipline
    * (SURVEY §7): each round fits the accuracy-maximal weighted stump
    * ([[weightedStumpFit]]), then DOUBLES the weight of every
    * misclassified row (the boosting-by-majority simplification of
    * AdaBoost's exp(±α) — Freund 1995 — chosen because ×2 keeps every
    * weight an exact BIGINT, so multi-round ensemble TRAINING is
    * hash-gateable on any engine; exp-weights would be float folds).
    *
    * Plan shape per round: one map-combinable weighted groupBy to
    * x-cardinality rows + the argmax window (the decisionStump
    * rationale), then one broadcast of the 1-row fit back onto the
    * data to reweight. `rounds` is a small constant, so lineage depth
    * is bounded.
    *
    * @return one row per round: (round, threshold, w_correct, w_total,
    *         err_micro, predict_left, predict_right) — err_micro =
    *         ⌊(w_total−w_correct)·10⁶ / w_total⌋ exact integer.
    */
  def boostedStumps(df: DataFrame, labelCol: String, xCol: String,
                    rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 4)
    var cur = df.select(col(labelCol).as("y"), col(xCol).as("x"),
      lit(1L).as("w"))
    var outs = Vector.empty[DataFrame]
    var fits = Vector.empty[DataFrame]
    for (r <- 1 to rounds) {
      // persist + materialize each round's 1-row fit: without it, the
      // DataFrame lineage re-evaluates every prior round's fit on each
      // reuse (round r would scan the base ~2^r times)
      val fit = weightedStumpFit(cur)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      fit.count()
      fits :+= fit
      outs :+= fit.withColumn("round", lit(r.toLong))
      if (r < rounds) {
        val f = fit.select(col("threshold").as("__t"),
          col("predict_left").as("__pl"), col("predict_right").as("__pr"))
        cur = cur.crossJoin(broadcast(f))
          .withColumn("w",
            when((col("x") <= col("__t") && col("y") === col("__pl")) ||
              (col("x") > col("__t") && col("y") === col("__pr")),
              col("w")).otherwise(col("w") * 2))
          .select(col("y"), col("x"), col("w"))
      }
    }
    // `rounds` rows total: seal — materialize, release the per-round fits
    graft.sealResult(outs.reduce(_ unionByName _)
      .select(col("round"), col("threshold"), col("w_correct"),
        col("w_total"),
        expr("(w_total - w_correct) * 1000000 div w_total")
          .as("err_micro"),
        col("predict_left"), col("predict_right")),
      fits: _*)
  }

  /** Percentile-bootstrap confidence interval for a mean, with the
    * resampling DERIVED from md5 — deterministic, so the whole
    * inference is hash-gateable cross-engine (the q_feature_hash /
    * quality-classifier md5 discipline applied to RESAMPLING). Each of
    * `reps` replicas draws a pseudo-Poisson(1) count per row from the
    * row's md5-seeded integer mod 10⁴ against the Poisson CDF ladder
    * (.3679/.7358/.9197/.9810 → 0..4) — the standard Poisson
    * bootstrap (Chamandy et al. 2012), the resampling scheme that
    * needs NO global n and therefore maps over a 100 TB table (each
    * row draws independently; classic resampling needs n i.i.d.
    * index draws = a global shuffle).
    *
    * All replica state is exact integers: sums of cnt·v, means in
    * floor-div micro-units, CI endpoints picked by integer rank over
    * the replica frame (ties broken by replica id). One md5 per ROW
    * seeds a 48-bit integer; each replica's draw expands the seed with
    * odd-multiplier integer mixing (seed·(2b+1)+b mod 10⁴) — one hash
    * per row instead of one per (row × replica), which is the whole
    * constant factor of the operator (reps× fewer digest calls), and
    * plain BIGINT arithmetic reproduces it on any engine.
    *
    * @return one row: (n_rows, mean_micro, n_reps, ci_lo_micro,
    *         ci_hi_micro) — 5th/95th percentile replica means.
    */
  def bootstrapMeanCI(df: DataFrame, idCol: String, valueCol: String,
                      reps: Int = 40): DataFrame = {
    require(reps >= 10 && reps <= 200)
    val base = df.select(col(idCol).as("id"), col(valueCol).as("v"))
    val full = base.agg(count(lit(1)).as("n_rows"),
      expr("sum(v) * 1000000 div count(*)").as("mean_micro"))
    val h = (col("seed") * (col("b") * 2 + 1) + col("b")) % 10000
    val drawn = base
      .withColumn("seed",
        conv(substring(md5(col("id").cast("string")), 1, 12), 16, 10)
          .cast("long"))
      .withColumn("b", explode(lit((1 to reps).map(_.toLong).toArray)))
      .withColumn("h", h)
      .withColumn("cnt",
        when(col("h") < 3679, 0L).when(col("h") < 7358, 1L)
          .when(col("h") < 9197, 2L).when(col("h") < 9810, 3L)
          .otherwise(4L))
    val repMeans = drawn.groupBy(col("b")).agg(
        sum(col("cnt") * col("v")).as("s"), sum(col("cnt")).as("m"))
      .filter(col("m") > 0)
      .select(col("b"), expr("s * 1000000 div m").as("rep_mean"))
    // ranks derive from the SURVIVING replica count (after the m>0
    // degenerate-replica filter), not the requested reps — a dropped
    // replica must shift the percentile picks, never null them out
    val ranked = repMeans
      .withColumn("rn",
        row_number().over(Window.orderBy(col("rep_mean"), col("b"))))
      .withColumn("nr", count(lit(1)).over(
        Window.orderBy(col("rep_mean"), col("b"))
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val ci = ranked.agg(
      count(lit(1)).as("n_reps"),
      max(when(col("rn") === expr("(nr * 500 + 9999) div 10000"),
        col("rep_mean"))).as("ci_lo_micro"),
      max(when(col("rn") === expr("(nr * 9500 + 9999) div 10000"),
        col("rep_mean"))).as("ci_hi_micro"))
    full.crossJoin(broadcast(ci))
      .select(col("n_rows"), col("mean_micro"), col("n_reps"),
        col("ci_lo_micro"), col("ci_hi_micro"))
  }

  /** Monte-Carlo permutation test for a difference in group means,
    * with the null distribution DERIVED deterministically (the
    * [[bootstrapMeanCI]] seed-mixing discipline): replicate r
    * reassigns each row to group A with probability n_a/N via
    * (seed·(2r+1)+r) mod 10⁴ against the group-A share in basis
    * points — binomial relabeling, the independent-draws Monte-Carlo
    * approximation of the permutation null that needs no global
    * shuffle and therefore maps over any table size. The p-value uses
    * the standard add-one estimator (1 + #{|diff_r| ≥ |diff_obs|}) /
    * (R+1).
    *
    * Every compared quantity is an exact integer: group means in
    * floor-div micro-units, diffs and the ≥ comparisons on those
    * integers, p in floor-div micro-units.
    *
    * @return one row: (n_a, n_b, diff_obs_micro, n_reps, n_ge,
    *         p_micro).
    */
  def permutationTest(df: DataFrame, idCol: String, groupCol: String,
                      valueCol: String, groupA: String, groupB: String,
                      reps: Int = 60): DataFrame = {
    require(reps >= 10 && reps <= 500)
    val d = df.filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .select((col(groupCol) === groupA).as("isa"), col(valueCol).as("v"),
        conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
          .cast("long").as("seed"))
    val obs = d.agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("isa"), 0L).otherwise(1L)).as("n_b"),
        sum(when(col("isa"), col("v")).otherwise(0L)).as("sa"),
        sum(when(col("isa"), 0L).otherwise(col("v"))).as("sb"))
      .select(col("n_a"), col("n_b"),
        (expr("sa * 1000000 div n_a") - expr("sb * 1000000 div n_b"))
          .as("diff_obs_micro"),
        expr("n_a * 10000 div (n_a + n_b)").as("pa_bp"))
    val flips = d.crossJoin(broadcast(obs.select(col("pa_bp"))))
      .withColumn("r", explode(lit((1 to reps).map(_.toLong).toArray)))
      .withColumn("toA",
        (col("seed") * (col("r") * 2 + 1) + col("r")) % 10000 < col("pa_bp"))
    val repDiffs = flips.groupBy(col("r")).agg(
        sum(when(col("toA"), 1L).otherwise(0L)).as("ma"),
        sum(when(col("toA"), 0L).otherwise(1L)).as("mb"),
        sum(when(col("toA"), col("v")).otherwise(0L)).as("ra"),
        sum(when(col("toA"), 0L).otherwise(col("v"))).as("rb"))
      .filter(col("ma") > 0 && col("mb") > 0)
      .select((expr("ra * 1000000 div ma") - expr("rb * 1000000 div mb"))
        .as("diff_r"))
    val tail = repDiffs.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_reps"),
        sum(when(abs(col("diff_r")) >= abs(col("diff_obs_micro")), 1L)
          .otherwise(0L)).as("n_ge"))
    obs.select(col("n_a"), col("n_b"), col("diff_obs_micro"))
      .crossJoin(broadcast(tail))
      .select(col("n_a"), col("n_b"), col("diff_obs_micro"),
        col("n_reps"), col("n_ge"),
        expr("(1 + n_ge) * 1000000 div (n_reps + 1)").as("p_micro"))
  }

  /** Cochran–Armitage trend test (Cochran 1954, Armitage 1955): is a
    * binary outcome rate MONOTONE in an ordered categorical exposure —
    * the question chi-square (which ignores order) cannot ask. The
    * statistic is T = Σ sᵢ(rᵢ·N − R·nᵢ) over levels with integer
    * scores sᵢ, variance N·(R/N)(1−R/N)·(N·Σsᵢ²nᵢ − (Σsᵢnᵢ)²)
    * rearranged to exact integer carriers: every sum is BIGINT from
    * one level-cardinality aggregate; z folds in fixed IEEE op order
    * (6dp).
    *
    * Plan shape: one map-combinable groupBy to |levels| rows, one
    * 1-row fold. Nothing else.
    *
    * @return one row: (n, n_pos, n_levels, t_num, z).
    */
  def cochranArmitage(df: DataFrame, scoreCol: String,
                      labelCol: String): DataFrame = {
    val g = df.groupBy(col(scoreCol).as("s")).agg(
      count(lit(1)).as("n_i"),
      sum(when(col(labelCol), 1L).otherwise(0L)).as("r_i"))
    val a = g.agg(
      sum(col("n_i")).as("n"),
      sum(col("r_i")).as("n_pos"),
      count(lit(1)).as("n_levels"),
      sum(col("s") * col("n_i")).as("sn"),
      sum(col("s") * col("s") * col("n_i")).as("ssn"),
      sum(col("s") * col("r_i")).as("sr"))
    // carriers: T' = N·Σsr − R·Σsn (= N·T);
    // z = T'·√N / √(R(N−R) · (N·Σs²n − (Σsn)²)) — the two variance
    // factors stay separate exact BIGINTs (their product would
    // overflow int64 at large N) and meet only as one double multiply
    val t = col("n") * col("sr") - col("n_pos") * col("sn")
    val rnr = col("n_pos") * (col("n") - col("n_pos"))
    val w = col("n") * col("ssn") - col("sn") * col("sn")
    a.select(col("n"), col("n_pos"), col("n_levels"),
      t.as("t_num"),
      round(when(rnr > 0 && w > 0,
        t.cast("double") * sqrt(col("n").cast("double")) /
          sqrt(rnr.cast("double") * w.cast("double"))), 6).as("z"))
  }

  /** Calibration (reliability) table of a score against a binary
    * outcome: rows bucketed by exact score decile, per bucket the
    * observed positive rate next to the mean score — the diagnostic
    * that says WHERE a ranking model's probabilities are trustworthy,
    * complementing q_auc's single-number discrimination and q_gains'
    * capture curve.
    *
    * Everything is integer: decile bounds via [[discreteQuantiles]]
    * (exact rank arithmetic), per-bucket sums, and micro-unit means by
    * floor division — no float folds anywhere, so the table hash-gates
    * bit-for-bit.
    *
    * @return per bucket: (bucket, n, n_pos, mean_score_micro,
    *         pos_rate_micro).
    */
  def calibrationTable(df: DataFrame, labelCol: String,
                       scoreCol: String): DataFrame = {
    val ps = (1 to 9).map(_ * 1000)
    val d = df.select(col(labelCol).as("y"), col(scoreCol).as("s"))
    val bounds = broadcast(discreteQuantiles(
      d.select(col("s")).withColumn("__g", lit(1)), Seq("__g"), "s", ps)
      .drop("__g"))
    val bucket = (lit(1) + ps.map(p =>
      when(col("s") > col(s"q$p"), 1).otherwise(0)).reduce(_ + _))
      .cast("long")
    d.crossJoin(bounds)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("n_pos"),
        sum(col("s")).as("ssum"))
      .select(col("bucket"), col("n"), col("n_pos"),
        expr("ssum * 1000000 div n").as("mean_score_micro"),
        expr("n_pos * 1000000 div n").as("pos_rate_micro"))
  }

  /** C86: Brier-score decomposition (Murphy, J. Appl. Meteorol. 1973)
    * — reliability / resolution / uncertainty, the three numbers that
    * say WHY a probabilistic forecast's Brier score is what it is:
    * reliability = how far forecast probabilities sit from observed
    * rates (lower better), resolution = how much the forecast
    * separates outcomes from the base rate (higher better),
    * uncertainty = the irreducible ō(1−ō).
    *
    * The forecast under evaluation is the repo's honest one: per
    * score-decile positive rates FITTED ON the md5-even train half
    * (C84's split discipline), decomposed OUT-OF-SAMPLE on the odd
    * half — the "is my calibrated model still calibrated on data it
    * never saw" readout that [[calibrationTable]] (in-sample) can't
    * give.
    *
    * Micro-quantized variant, documented: forecast and outcome rates
    * are FLOOR micro-units (f_k = pos·10⁶ div n), every moment an
    * exact integer/decimal sum, resolution expanded around the floored
    * base rate — no float folds, hash-gates bit-for-bit. Pico-units
    * (micro²) for the three components.
    *
    * @return one row: (n, o_bar_micro, uncertainty_pico,
    *         reliability_pico, resolution_pico) over the
    *         calibration half.
    */
  def brierDecomposition(df: DataFrame, labelCol: String, centsCol: String,
                         idCol: String): DataFrame = {
    val h = conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 8), 16, 10).cast("long")
    val base = df.select(col(labelCol).as("y"),
      col(centsCol).cast("long").as("s"), (h % 2 === 0).as("__train"))
    val tr = base.filter(col("__train"))
    val ps = (1 to 9).map(_ * 1000)
    val bounds = broadcast(discreteQuantiles(
      tr.select(col("s")).withColumn("__g", lit(1)), Seq("__g"), "s", ps)
      .drop("__g"))
    val bucket = (lit(1) + ps.map(p =>
      when(col("s") > col(s"q$p"), 1).otherwise(0)).reduce(_ + _))
      .cast("long")
    val fcast = tr.crossJoin(bounds)
      .groupBy(bucket.as("bucket"))
      .agg(expr("sum(case when y then 1 else 0 end) * 1000000 div count(1)")
        .as("f_micro"))
    val binned = base.filter(!col("__train")).crossJoin(bounds)
      .select(bucket.as("bucket"), col("y"))
      .join(broadcast(fcast), "bucket")
      .groupBy(col("bucket"), col("f_micro"))
      .agg(count(lit(1)).as("n_k"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos_k"))
      .withColumn("o_micro", expr("pos_k * 1000000 div n_k"))
    binned.agg(
        sum(col("n_k")).as("n"), sum(col("pos_k")).as("pos"),
        sum(expr("cast(n_k as decimal(38,0)) * (f_micro - o_micro) * " +
          "(f_micro - o_micro)")).as("relnum"),
        sum(expr("cast(n_k as decimal(38,0)) * o_micro")).as("osum"),
        sum(expr("cast(n_k as decimal(38,0)) * o_micro * o_micro"))
          .as("osq"))
      .withColumn("o_bar_micro", expr("pos * 1000000 div n"))
      .select(col("n"), col("o_bar_micro"),
        (col("o_bar_micro") * (lit(1000000L) - col("o_bar_micro")))
          .as("uncertainty_pico"),
        expr("cast(relnum div n as long)").as("reliability_pico"),
        expr("cast((osq - 2 * o_bar_micro * osum + " +
          "n * o_bar_micro * o_bar_micro) div n as long)")
          .as("resolution_pico"))
  }

  /** C87: Cohen's kappa (Cohen, Educ. Psychol. Meas. 1960) — chance-
    * corrected agreement between two categorical raters, the standard
    * way to score a heuristic labeler against ground truth (raw
    * agreement flatters: a majority-class rater "agrees" often by
    * chance alone). κ = (p_o − p_e)/(1 − p_e) with p_e the marginal
    * chance-agreement rate.
    *
    * Exactness: one contingency aggregate (category²-cardinality),
    * integer diagonal and margins; κ is computed on the COMMON
    * denominator N² — (n_agree·N − Σr_i·c_i)/(N² − Σr_i·c_i), ONE
    * division of exact decimals (raw double, the keySkewProfile rule);
    * null when every pair lands in one cell (p_e = 1, κ undefined).
    *
    * @return one row: (n, n_agree, kappa).
    */
  def cohenKappa(df: DataFrame, raterACol: String,
                 raterBCol: String): DataFrame = {
    val cells = df.groupBy(col(raterACol).as("a"), col(raterBCol).as("b"))
      .agg(count(lit(1)).as("n_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // round-12: four consumer subtrees race on a lazy cache — materialize
    cells.count()
    val n = cells.agg(sum(col("n_ab")).as("n"))
    val agree = cells.filter(col("a") === col("b"))
      .agg(coalesce(sum(col("n_ab")), lit(0L)).as("n_agree"))
    val rowm = cells.groupBy(col("a")).agg(sum(col("n_ab")).as("ra"))
    val colm = cells.groupBy(col("b")).agg(sum(col("n_ab")).as("cb"))
    val pe = rowm.join(colm, col("a") === col("b"))
      .agg(coalesce(sum(expr("cast(ra as decimal(38,0)) * cb")),
        lit(0).cast("decimal(38,0)")).as("pe_num"))
    val out = n.crossJoin(broadcast(agree)).crossJoin(broadcast(pe))
      .select(col("n"), col("n_agree"),
        when(expr("cast(n as decimal(38,0)) * n - pe_num") =!= 0,
          expr("cast(cast(n_agree as decimal(38,0)) * n - pe_num " +
            "as double)") /
          expr("cast(cast(n as decimal(38,0)) * n - pe_num as double)"))
          .as("kappa"))
    graft.sealResult(out, cells)
  }

  /** C89: Tukey-fence outlier table (Tukey, EDA 1977) — per group the
    * exact quartiles and how many points fall beyond the classic
    * 1.5·IQR fences, the box-plot's outlier rule as a monitoring
    * aggregate (the robust companion of C37's MAD z-scores: fences
    * flag counts, MAD scores points).
    *
    * All integer: quartiles from [[discreteQuantiles]] (exact rank
    * arithmetic), and the fence tests are DOUBLED to stay integral —
    * 2x < 2·Q1 − 3·IQR ⟺ x < Q1 − 1.5·IQR with no halves anywhere.
    *
    * @return per group: (group, n, q1, q3, n_low, n_high).
    */
  def tukeyFences(df: DataFrame, groupCol: String,
                  valueCol: String): DataFrame = {
    val d = df.select(col(groupCol).as("g"), col(valueCol).cast("long").as("v"))
    val q = broadcast(discreteQuantiles(d, Seq("g"), "v", Seq(2500, 7500)))
    d.join(q, "g")
      .groupBy(col("g").as(groupCol))
      .agg(count(lit(1)).as("n"),
        max(col("q2500")).as("q1"),
        max(col("q7500")).as("q3"),
        sum(when(col("v") * 2 <
          col("q2500") * 2 - (col("q7500") - col("q2500")) * 3, 1L)
          .otherwise(0L)).as("n_low"),
        sum(when(col("v") * 2 >
          col("q7500") * 2 + (col("q7500") - col("q2500")) * 3, 1L)
          .otherwise(0L)).as("n_high"))
  }

  /** C84: split-conformal prediction intervals (Vovk et al.; Lei et
    * al., JASA 2018 "Distribution-Free Predictive Inference") — the
    * model-agnostic way to attach finite-sample-valid intervals to ANY
    * point predictor: fit on one half of the data (here the simplest
    * conditional predictor, the per-group floor mean), score absolute
    * residuals on the held-out calibration half, and release the
    * ⌈(1−α)(n_cal+1)⌉-th smallest residual as the interval half-width.
    * Coverage ≥ 1−α holds by exchangeability alone — no distributional
    * assumption, which is why it became the standard ML-uncertainty
    * wrapper.
    *
    * Determinism discipline: the train/calibration split is
    * content-keyed (md5 parity of the id — [[graft.operators.Sampling]]
    * hash-gate argument), the predictor is an integer floor mean,
    * residuals are exact integers, and the conformal quantile is exact
    * rank arithmetic with ties broken by id — the whole table
    * hash-gates bit-for-bit on any engine or partitioning.
    *
    * Plan shape: one map-combinable aggregate for the per-group
    * predictor (broadcast back), one window rank over calibration
    * residuals per group — two keyed shuffles, group-cardinality
    * output. Groups with no train rows are dropped (no predictor to
    * calibrate).
    *
    * @param alphaBp miscoverage α in basis points (1000 → 90% target).
    * @return per group: (group, n_train, n_cal, yhat_cents, q_cents) —
    *         predict yhat_cents ± q_cents.
    */
  def splitConformal(df: DataFrame, groupCol: String, centsCol: String,
                     idCol: String, alphaBp: Int = 1000): DataFrame = {
    require(alphaBp > 0 && alphaBp < 10000)
    val h = conv(substring(md5(col(idCol).cast("string").cast("binary")),
      1, 8), 16, 10).cast("long")
    val base = df.select(col(groupCol).as("g"),
      col(centsCol).cast("long").as("cents"),
      col(idCol).cast("long").as("id"), (h % 2 === 0).as("__train"))
    val fit = base.filter(col("__train"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_train"),
        expr("sum(cents) div count(1)").as("yhat_cents"))
    val cal = base.filter(!col("__train"))
      .join(broadcast(fit), "g")
      .withColumn("__res", abs(col("cents") - col("yhat_cents")))
    val wRank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g")).orderBy(col("__res"), col("id"))
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(col("g"))
    cal.withColumn("__rn", row_number().over(wRank))
      .withColumn("__ncal", count(lit(1)).over(wAll))
      .filter(col("__rn") === least(
        expr(s"((10000 - $alphaBp) * (__ncal + 1) + 9999) div 10000"),
        col("__ncal")))
      .select(col("g").as(groupCol), col("n_train"),
        col("__ncal").as("n_cal"), col("yhat_cents"),
        col("__res").as("q_cents"))
  }

  /** Mann–Whitney U rank-sum test (Mann & Whitney 1947) between two
    * groups of an integer-valued metric — the nonparametric two-sample
    * test that, unlike the Welch z in [[Analytics.abReadout]]'s family,
    * needs no moment assumptions; completes the KS/AUC/contingency
    * block (C54-C56).
    *
    * Exactness discipline: tied ranks are kept integral by carrying
    * 2×rank (lo+hi of each tie run), so the rank sum 2R and the U
    * carrier 2U = 2R − n_a(n_a+1) are exact BIGINTs — hash-stable at
    * any parallelism. The normal approximation applies the standard
    * tie correction: σ² = (n_a·n_b/12)·((N+1) − Σ(t³−t)/(N(N−1))),
    * with Σ(t³−t) an exact integer aggregate; z folds in fixed IEEE
    * op order (6dp).
    *
    * Plan shape: one groupBy collapses to distinct metric values
    * (bounded domain — the discreteQuantiles rationale), prefix sums
    * over that value-cardinality frame, one final 1-row fold. The
    * data is never sorted globally row-by-row.
    *
    * @return one row: (n_a, n_b, u2_a, u_a, z) — u2_a = 2·U_a exact,
    *         u_a its half as double (exact .5 steps).
    */
  /** First-order partial correlation r_xy·z (Yule 1907 recursion) —
    * the confounder check before reading a Pearson r causally: the
    * x↔y correlation with the shared driver z partialled out,
    * r_xy·z = (r_xy − r_xz·r_yz)/√((1−r_xz²)(1−r_yz²)).
    *
    * Exactness: all ten moments (n, three sums, three squares, three
    * cross-products) accumulate as exact DECIMAL(38,0) in ONE
    * map-combinable aggregate pass; each pairwise r is
    * cov/√(var_a·var_b) with cov = n·Sab − Sa·Sb exact and the
    * cast-to-double, product, sqrt, division in one fixed IEEE op
    * order (the C31/F23 discipline); the partial fold is four more
    * fixed-order double ops, 6dp. Null when any variance is zero or
    * either control correlation is ±1 (the recursion's undefined
    * cases).
    *
    * @return one row: (n, r_xy, r_xz, r_yz, r_xy_z) — pairwise r at
    *         6dp alongside the partial.
    */
  def partialCorrelation(df: DataFrame, xCol: String, yCol: String,
                         zCol: String): DataFrame = {
    val d = df.select(col(xCol).cast("decimal(38,0)").as("x"),
      col(yCol).cast("decimal(38,0)").as("y"),
      col(zCol).cast("decimal(38,0)").as("z"))
    val m = d.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("z")).as("sz"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"),
      sum(col("z") * col("z")).as("szz"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("z")).as("sxz"),
      sum(col("y") * col("z")).as("syz"))
    def cov(sab: String, a: String, b: String) =
      (col("n") * col(sab) - col("s" + a) * col("s" + b))
    def rr(sab: String, a: String, b: String) = {
      val va = cov("s" + a + a, a, a)
      val vb = cov("s" + b + b, b, b)
      when(va > 0 && vb > 0,
        cov(sab, a, b).cast("double") /
          sqrt(va.cast("double") * vb.cast("double")))
    }
    m.select(col("n").cast("long").as("n"),
        rr("sxy", "x", "y").as("__rxy"),
        rr("sxz", "x", "z").as("__rxz"),
        rr("syz", "y", "z").as("__ryz"))
      .select(col("n"),
        round(col("__rxy"), 6).as("r_xy"),
        round(col("__rxz"), 6).as("r_xz"),
        round(col("__ryz"), 6).as("r_yz"),
        round(when(abs(col("__rxz")) < 1.0 && abs(col("__ryz")) < 1.0,
          (col("__rxy") - col("__rxz") * col("__ryz")) /
            sqrt((lit(1.0) - col("__rxz") * col("__rxz")) *
              (lit(1.0) - col("__ryz") * col("__ryz")))), 6).as("r_xy_z"))
  }

  /** Spearman rank correlation ρ (Spearman 1904) — completes the
    * correlation family: C31 Pearson (linear), C81 Kendall τ-b (pair
    * concordance), this (Pearson on RANKS — monotone association,
    * outlier-immune, the default robust r).
    *
    * Exactness: tie-averaged ranks carried DOUBLED so they stay
    * integers (avg rank of a tie group = min + (cnt−1)/2 →
    * 2·avg = 2·rank + cnt − 1, from one rank() + one per-value count
    * window); ρ is then the [[partialCorrelation]] moment discipline
    * on the doubled ranks — exact DECIMAL(38,0) covariance/variances,
    * one cast-to-double fold, 6dp. Doubling cancels in ρ (scale
    * invariance), so the result IS Spearman's ρ.
    *
    * Windows run over the AGGREGATED series (day/group cardinality —
    * the kendallTauB discipline), never raw events.
    *
    * @return one row: (n, rho — null when either metric is constant).
    */
  def spearman(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def r2(c: String) =
      rank().over(Window.orderBy(col(c))) * 2 +
        count(lit(1)).over(Window.partitionBy(col(c))) - 1
    val ranked = df.select(col(xCol), col(yCol))
      .withColumn("rx", r2(xCol).cast("decimal(38,0)"))
      .withColumn("ry", r2(yCol).cast("decimal(38,0)"))
    val m = ranked.agg(count(lit(1)).cast("decimal(38,0)").as("n"),
      sum(col("rx")).as("sx"), sum(col("ry")).as("sy"),
      sum(col("rx") * col("rx")).as("sxx"),
      sum(col("ry") * col("ry")).as("syy"),
      sum(col("rx") * col("ry")).as("sxy"))
    val cov = col("n") * col("sxy") - col("sx") * col("sy")
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    m.select(col("n").cast("long").as("n"),
      round(when(vx > 0 && vy > 0,
        cov.cast("double") /
          sqrt(vx.cast("double") * vy.cast("double"))), 6).as("rho"))
  }

  /** Kendall τ-b rank correlation between two metrics (Kendall 1938;
    * τ-b tie correction) — the robust bivariate sibling of the
    * Mann–Kendall trend test (that one is τ against TIME): does metric
    * y rise with metric x, judged only by pair ORDER, immune to
    * outliers and monotone transforms. The pre-flight before trusting
    * a Pearson r (C31) on skewed engagement/revenue metrics.
    *
    * Exactness: S = Σ_{i<j} sign(xⱼ−xᵢ)·sign(yⱼ−yᵢ) and both tie
    * counts are exact integer aggregates off ONE id-ordered pair
    * join; τ-b = S/√((n₀−n₁)(n₀−n₂)) is a product+sqrt+division in
    * fixed IEEE op order (6dp). Quadratic in rows by design — run on
    * an AGGREGATED series (the mannKendall discipline: day/group
    * cardinality, never raw events).
    *
    * @return one row: (n, s_stat, ties_x, ties_y, tau_b — null when
    *         either metric is constant).
    */
  def kendallTauB(df: DataFrame, idCol: String, xCol: String,
                  yCol: String): DataFrame = {
    val d = df.select(col(idCol).as("i"), col(xCol).as("x"),
      col(yCol).as("y"))
    val a = d.toDF("i", "xa", "ya")
    val b = d.toDF("j", "xb", "yb")
    val pairs = a.join(b, col("i") < col("j"))
      .select(signum(col("xb") - col("xa")).cast("long").as("sx"),
        signum(col("yb") - col("ya")).cast("long").as("sy"))
    val n = d.agg(count(lit(1)).as("n"))
    pairs.agg(
        sum(col("sx") * col("sy")).as("s_stat"),
        sum(when(col("sx") === 0, 1L).otherwise(0L)).as("ties_x"),
        sum(when(col("sy") === 0, 1L).otherwise(0L)).as("ties_y"))
      .crossJoin(broadcast(n))
      .select(col("n"), col("s_stat"), col("ties_x"), col("ties_y"),
        expr("""CASE WHEN (n * (n - 1) div 2 - ties_x) = 0
                 OR (n * (n - 1) div 2 - ties_y) = 0 THEN NULL
                ELSE round(s_stat / sqrt(
                  CAST(n * (n - 1) div 2 - ties_x AS DOUBLE) *
                  CAST(n * (n - 1) div 2 - ties_y AS DOUBLE)), 6)
                END""").as("tau_b"))
  }

  def mannWhitney(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val d = df.filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .select((col(groupCol) === groupA).as("isa"),
        col(valueCol).as("v"))
    val g = d.groupBy(col("v")).agg(
      count(lit(1)).as("t"),
      sum(when(col("isa"), 1L).otherwise(0L)).as("ta"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    // 2×avg-rank of a tie run ending at cumulative count hi with t
    // members: lo + hi = (hi − t + 1) + hi
    val ranked = g.withColumn("hi", sum(col("t")).over(w))
      .select(col("t"), col("ta"),
        (col("hi") * 2 - col("t") + 1).as("r2"),
        (col("t") * col("t") * col("t") - col("t")).as("tc"))
    val agg = ranked.agg(
      sum(col("ta")).as("n_a"),
      sum(col("t") - col("ta")).as("n_b"),
      sum(col("ta") * col("r2")).as("r2_a"),
      sum(col("tc")).as("tie_sum"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val nn = na + nb
    val u2 = col("r2_a") - col("n_a") * (col("n_a") + 1)
    val sig2 = na * nb / lit(12.0) *
      ((nn + 1.0) - col("tie_sum").cast("double") / (nn * (nn - 1.0)))
    agg.select(col("n_a"), col("n_b"), u2.as("u2_a"),
      (u2.cast("double") / 2.0).as("u_a"),
      round(when(sig2 > 0,
        (u2.cast("double") / 2.0 - na * nb / 2.0) / sqrt(sig2)), 6)
        .as("z"))
  }

  /** Global dense 1..n rank by (value, tie) WITHOUT the bare
    * `Window.orderBy` that serializes the whole table onto one
    * partition — the E49 two-level trick applied to VALUE order:
    * coarse value bucket (integer div — deterministic, unlike a
    * sampled range partitioner), per-bucket counts, prefix offsets
    * over the BUCKET-cardinality frame (that window being
    * single-partition is immaterial), within-bucket rank as a KEYED
    * window. rank = bucket offset + within-bucket row_number — the
    * identical total order at any parallelism, all integer
    * arithmetic. Skewed value distributions skew the bucket window's
    * partitions, not a single global one; shrink `bucketWidth` to
    * spread them.
    *
    * @return df plus `rankCol` (long, 1-based).
    */
  def globalValueRank(df: DataFrame, valueCol: String, tieCol: String,
                      rankCol: String,
                      bucketWidth: Long = 1L << 20): DataFrame = {
    require(bucketWidth > 0)
    val d = df.withColumn("__bkt",
      floor(col(valueCol).cast("long") / bucketWidth).cast("long"))
    val totals = d.groupBy(col("__bkt")).agg(count(lit(1)).as("__bn"))
    val prefix = Window.orderBy(col("__bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = totals
      .withColumn("__boff", coalesce(sum(col("__bn")).over(prefix), lit(0L)))
      .select(col("__bkt"), col("__boff"))
    val within = Window.partitionBy(col("__bkt"))
      .orderBy(col(valueCol), col(tieCol))
    d.join(broadcast(offsets), "__bkt")
      .withColumn(rankCol,
        (col("__boff") + row_number().over(within)).cast("long"))
      .drop("__bkt", "__boff")
  }

  /** C94: grouped permutation battery + Benjamini–Hochberg step-up
    * (Benjamini & Hochberg, JRSS-B 1995) — the multiple-testing layer
    * every monitoring battery needs: running C75's permutation test
    * over k segments and acting on every p < 0.05 discovers ~k/20
    * false "drifts" on pure noise; BH bounds the EXPECTED FALSE
    * DISCOVERY RATE at q instead.
    *
    * Per segment: C75's md5-seeded binomial-relabeling Monte-Carlo
    * test verbatim (exact floor-div micro integers, add-one p-value,
    * replicates with an empty side dropped). Across segments: ranks by
    * (p asc, segment asc), k* = max{k : pₖ·m ≤ k·q} by exact integer
    * cross-multiplication (never a float division), reject rank ≤ k*.
    *
    * Scale shape: the relabeling stage is data×reps rows but
    * map-combines to (segment, rep) before anything wide; everything
    * after is segment-cardinality (the only global window ranks the
    * ≤k segment rows). A segment with either observed side empty is
    * dropped (no test exists), same rule both engines.
    *
    * @param isA boolean column splitting each segment's rows into the
    *            two compared groups.
    * @return per segment: (segCol, n_a, n_b, diff_obs_micro, p_micro,
    *         rank, rejected).
    */
  def permutationBatteryFdr(df: DataFrame, segCol: String, idCol: String,
                            isA: Column, valueCol: String,
                            reps: Int = 60,
                            qMicro: Long = 100000L): DataFrame = {
    require(reps >= 10 && reps <= 500 && qMicro >= 1 && qMicro <= 1000000L)
    val d = df.select(col(segCol).as("seg"), isA.as("isa"),
      col(valueCol).cast("long").as("v"),
      conv(substring(md5(col(idCol).cast("string")), 1, 12), 16, 10)
        .cast("long").as("seed"))
    val obs = d.groupBy(col("seg")).agg(
        sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
        sum(when(col("isa"), 0L).otherwise(1L)).as("n_b"),
        sum(when(col("isa"), col("v")).otherwise(0L)).as("sa"),
        sum(when(col("isa"), 0L).otherwise(col("v"))).as("sb"))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .select(col("seg"), col("n_a"), col("n_b"),
        (expr("sa * 1000000 div n_a") - expr("sb * 1000000 div n_b"))
          .as("diff_obs_micro"),
        expr("n_a * 10000 div (n_a + n_b)").as("pa_bp"))
    val flips = d.join(broadcast(obs.select(col("seg"), col("pa_bp"))),
        "seg")
      .withColumn("r", explode(lit((1 to reps).map(_.toLong).toArray)))
      .withColumn("toA",
        (col("seed") * (col("r") * 2 + 1) + col("r")) % 10000
          < col("pa_bp"))
    val repDiffs = flips.groupBy(col("seg"), col("r")).agg(
        sum(when(col("toA"), 1L).otherwise(0L)).as("ma"),
        sum(when(col("toA"), 0L).otherwise(1L)).as("mb"),
        sum(when(col("toA"), col("v")).otherwise(0L)).as("ra"),
        sum(when(col("toA"), 0L).otherwise(col("v"))).as("rb"))
      .filter(col("ma") > 0 && col("mb") > 0)
      .select(col("seg"),
        (expr("ra * 1000000 div ma") - expr("rb * 1000000 div mb"))
          .as("diff_r"))
    val tail = repDiffs
      .join(broadcast(obs.select(col("seg"),
        col("diff_obs_micro").as("dobs"))), "seg")
      .groupBy(col("seg"))
      .agg(count(lit(1)).as("n_reps"),
        sum(when(abs(col("diff_r")) >= abs(col("dobs")), 1L)
          .otherwise(0L)).as("n_ge"))
    val pv = obs.join(tail, Seq("seg"), "left")
      .select(col("seg"), col("n_a"), col("n_b"), col("diff_obs_micro"),
        expr("(1 + coalesce(n_ge, 0L)) * 1000000 div " +
          "(coalesce(n_reps, 0L) + 1)").as("p_micro"))
    val m = pv.agg(count(lit(1)).as("m"))
    val w = Window.orderBy(col("p_micro"), col("seg"))
    val ranked = pv.crossJoin(broadcast(m))
      .withColumn("rank", row_number().over(w).cast("long"))
    val kstar = ranked
      .agg(coalesce(max(when(
        col("p_micro") * col("m") <= col("rank") * qMicro,
        col("rank"))), lit(0L)).as("kstar"))
    ranked.crossJoin(broadcast(kstar))
      .select(col("seg").as(segCol), col("n_a"), col("n_b"),
        col("diff_obs_micro"), col("p_micro"), col("rank"),
        (col("rank") <= col("kstar")).as("rejected"))
  }

  /** C93: Kruskal–Wallis H (Kruskal & Wallis, JASA 1952) — "is ANY of
    * k groups different", the k-group extension of C71 Mann–Whitney
    * (which this collapses to at k = 2) and the nonparametric sibling
    * of the C43 z read-out: rank-based, so value outliers can't buy a
    * significant H.
    *
    * Exactness: mid-ranks are half-integers, so everything carries
    * 2·midrank = 2·cum + t + 1 (exact BIGINT from value-cardinality
    * tie counts); per-group rank sums are exact; the only floats are
    * the final H assembly — per-group terms (2R_g)²/(4n_g) folded in
    * GROUP-KEY order (the ln-sum rule: a fixed fold order makes the
    * double sum engine-identical), one fixed expression tree, 6dp.
    * Tie correction C = 1 − Σ(t³−t)/(N³−N); all-tied input → C = 0 →
    * h_tie_6 null.
    *
    * Scale shape: ranks come from VALUE-cardinality tie counts (one
    * keyed agg + a window over distinct values — never a row-level
    * global sort); group terms are group-cardinality.
    *
    * @return one row: (n_total, n_groups, h_6, h_tie_6).
    */
  def kruskalWallis(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val d = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val vals = d.groupBy(col("v")).agg(count(lit(1)).as("t"))
    // distinct-value window: value-cardinality rows, tiny by
    // construction relative to the data (the winsorize discipline)
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = vals
      .withColumn("cum", coalesce(sum(col("t")).over(w), lit(0L)))
      .select(col("v"), col("t"),
        (lit(2L) * col("cum") + col("t") + 1L).as("mr2"))
    val rg = d.groupBy(col("g"), col("v")).agg(count(lit(1)).as("n_gv"))
      .join(ranked, "v")
      .groupBy(col("g"))
      .agg(sum(col("n_gv")).as("n_g"),
        sum(col("n_gv") * col("mr2")).as("r2_g"))
    val tot = ranked.agg(sum(col("t")).as("nn"),
      sum(col("t") * col("t") * col("t") - col("t")).as("tie"))
    val folded = rg
      .agg(array_sort(collect_list(
        struct(col("g"), col("n_g"), col("r2_g")))).as("arr"))
      .crossJoin(broadcast(tot))
    val s = aggregate(transform(col("arr"), x =>
        (x("r2_g").cast("double") * x("r2_g").cast("double")) /
          (lit(4.0) * x("n_g").cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val nnD = col("nn").cast("double")
    val h = lit(12.0) * col("s") / (nnD * (nnD + 1.0)) -
      lit(3.0) * (nnD + 1.0)
    val c = lit(1.0) - col("tie").cast("double") /
      (nnD * nnD * nnD - nnD)
    folded.withColumn("s", s)
      .select(col("nn").as("n_total"),
        size(col("arr")).cast("long").as("n_groups"),
        round(h, 6).as("h_6"),
        when(col("tie").cast("double") === nnD * nnD * nnD - nnD,
          lit(null).cast("double"))
          .otherwise(round(h / c, 6)).as("h_tie_6"))
  }

  /** C92: empirical-Bayes beta-binomial shrinkage of per-segment rates
    * (Robbins 1956 lineage; the method-of-moments beta fit every
    * "which domain/source is actually good" table needs): a segment
    * with 3/4 successes should NOT outrank one with 950/1000 — raw
    * rates are noise at small n, so each rate shrinks toward the
    * corpus prior with strength ∝ the prior's equivalent sample size
    * (α+β): shrunk = (x + α)/(n + α + β), with (α, β) fitted from the
    * across-segment moments μ and σ² of the raw rates via
    * common = μ(1−μ)/σ² − 1, α = μ·common, β = (1−μ)·common.
    *
    * Exactness: per-segment (n, x) are exact longs; raw rates are
    * floor-div micro-units; the moment inputs are exact integer sums
    * (Σr, Σr², k) so the double-valued (μ, σ², α, β) come from ONE
    * fixed expression tree over identical integers — IEEE ops are
    * exactly rounded, so the tree is bit-identical cross-engine (the
    * repo's float hazard is fold ORDER, absent here); the final shrunk
    * rate is rounded 6dp. Degenerate corpora fall back loudly in-band:
    * σ² ≤ 0 (all rates equal) or common ≤ 0 (over-dispersed beyond the
    * beta family) → shrunk = raw rate, prior columns null.
    *
    * Scale shape: one keyed aggregate to segments, one 1-row moment
    * aggregate broadcast back — segment-cardinality everywhere.
    *
    * @param success boolean column marking a "success" row.
    * @return per segment: (segment key, n, x, rate_micro, shrunk_6)
    *         plus the fitted (alpha_6, beta_6) repeated on every row
    *         (null under the degenerate fallback).
    */
  def ebShrinkage(df: DataFrame, segCols: Seq[String],
                  success: Column): DataFrame = {
    require(segCols.nonEmpty)
    val seg = df.groupBy(segCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("x"))
      .withColumn("rate_micro", expr("x * 1000000 div n"))
    val mom = seg.agg(count(lit(1)).as("k"),
      sum(col("rate_micro")).as("sr"),
      sum(col("rate_micro") * col("rate_micro")).as("srr")).head
    val k = mom.getLong(0)
    val (alpha, beta) =
      if (k < 2) (Double.NaN, Double.NaN)
      else {
        val sr = mom.getLong(1)
        val srr = mom.getLong(2)
        // μ and σ² of the micro-unit rates, rescaled to [0,1]: exact
        // integer numerators, one division each — a fixed tree
        val mu = sr.toDouble / (k.toDouble * 1e6)
        val varNum = (k.toDouble * srr.toDouble - sr.toDouble * sr.toDouble)
        val v = varNum / (k.toDouble * (k - 1).toDouble * 1e12)
        if (v <= 0) (Double.NaN, Double.NaN)
        else {
          val common = mu * (1 - mu) / v - 1
          if (common <= 0) (Double.NaN, Double.NaN)
          else (mu * common, (1 - mu) * common)
        }
      }
    if (alpha.isNaN)
      seg.select(segCols.map(col) ++ Seq(col("n"), col("x"),
        col("rate_micro"),
        round(col("x").cast("double") / col("n"), 6).as("shrunk_6"),
        lit(null).cast("double").as("alpha_6"),
        lit(null).cast("double").as("beta_6")): _*)
    else
      seg.select(segCols.map(col) ++ Seq(col("n"), col("x"),
        col("rate_micro"),
        round((col("x") + lit(alpha)) / (col("n") + lit(alpha + beta)), 6)
          .as("shrunk_6"),
        round(lit(alpha), 6).as("alpha_6"),
        round(lit(beta), 6).as("beta_6")): _*)
  }

  /** C103: expected calibration error (Naeini et al., AAAI 2015;
    * Guo et al., ICML 2017) — the single calibration number the
    * LLM-eval world quotes where C74's table gives the full picture:
    * equal-width confidence bins on [0,1],
    * ECE = Σ_b (n_b/N)·|acc_b − conf_b|, plus MCE = max_b gap.
    *
    * EXACT integers end to end (a hard hash gate, no 6dp hedge):
    * confidence arrives in micro-units [0, 10⁶]; per bin
    * acc = pos·10⁶ div n and conf = Σconf div n are floor divisions,
    * the gap an integer |·|, ECE one final Σ(n_b·gap) div N. Per-bin
    * floor loses < 1 micro — documented semantics, identical on any
    * engine.
    *
    * @param confMicroCol confidence in [0, 10⁶] micro-units (cast
    *                     long); out-of-range values fail loudly.
    * @return one row: (n, n_bins_used, ece_micro, mce_micro).
    */
  def expectedCalibrationError(df: DataFrame, labelCol: String,
                               confMicroCol: String,
                               nBins: Int = 10): DataFrame = {
    require(nBins >= 2)
    val d = df.select(col(labelCol).as("y"),
      col(confMicroCol).cast("long").as("conf"))
    val guarded = d.withColumn("conf",
      when(col("conf") < 0 || col("conf") > 1000000L,
        raise_error(lit("expectedCalibrationError: confidence outside " +
          "[0, 1e6] micro-units")).cast("long"))
        .otherwise(col("conf")))
    val bucket = least(expr(s"conf * $nBins div 1000000"),
      lit(nBins - 1L)).cast("long")
    val byBin = guarded.groupBy(bucket.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("y"), 1L).otherwise(0L)).as("pos"),
        sum(col("conf")).as("sconf"))
      .select(col("bin"), col("n"),
        abs(expr("pos * 1000000 div n") - expr("sconf div n")).as("gap"))
    byBin.agg(sum(col("n")).as("nTot"),
        count(lit(1)).as("n_bins_used"),
        sum(col("n") * col("gap")).as("wgap"),
        max(col("gap")).as("mce_micro"))
      .select(col("nTot").as("n"), col("n_bins_used"),
        expr("wgap div nTot").as("ece_micro"), col("mce_micro"))
  }

  /** C102: Fleiss' kappa (Fleiss 1971) — chance-corrected agreement
    * for ANY fixed number of raters per item, the k-rater
    * generalization of C87 Cohen's κ (2 raters): the labeling-ops
    * readout for "do my N annotators agree beyond chance?" before
    * majority-voted labels feed a classifier.
    *
    * P̄ = (ΣᵢΣ_c n_ic² − N·n)/(N·n·(n−1)) and P̄e = Σ_c(Σᵢn_ic)²/(N·n)²
    * are each ONE IEEE division of exactly-computed integers
    * (decimal(38) where squares can outgrow longs); κ = (P̄−P̄e)/(1−P̄e)
    * the fixed tree on those two results, 6dp; P̄e = 1 (every rating
    * one category) → null κ. Items without exactly `raters` ratings
    * are dropped (Fleiss requires a constant panel size) and counted.
    *
    * Plan: two keyed count aggs + two 1-row reductions; nothing
    * data-sized after the first agg.
    *
    * @return one row (n_items, n_dropped_items, n_raters,
    *         n_categories, pbar_6, pe_6, kappa_6).
    */
  def fleissKappa(df: DataFrame, itemCol: String, categoryCol: String,
                  raters: Int): DataFrame = {
    require(raters >= 2, s"raters must be ≥ 2: $raters")
    val counts = df.groupBy(col(itemCol).as("i"),
        col(categoryCol).as("cat"))
      .agg(count(lit(1)).as("nic"))
      .persist()
    // round-12: materialize before the concurrent consumer subtrees
    // (the jonckheere lesson)
    counts.count()
    val perItem = counts.groupBy(col("i"))
      .agg(sum(col("nic")).as("n"),
        sum((col("nic") * col("nic")).cast("decimal(38,0)")).as("sq"))
    val st = perItem.agg(
      sum(when(col("n") === raters, 1L).otherwise(0L)).as("nItems"),
      sum(when(col("n") =!= raters, 1L).otherwise(0L)).as("nDropped"),
      sum(when(col("n") === raters, col("sq"))).as("sumSq")).head()
    val kept = perItem.filter(col("n") === raters).select(col("i"))
    val ca = counts.join(kept, Seq("i"), "left_semi")
      .groupBy(col("cat")).agg(sum(col("nic")).as("tc"))
      .agg(count(lit(1)).as("k"),
        sum((col("tc").cast("decimal(38,0)") * col("tc"))).as("sumTc2"))
      .head()
    counts.unpersist()
    val nItems = st.getLong(0)
    val nDropped = st.getLong(1)
    val spark = df.sparkSession
    import spark.implicits._
    if (nItems == 0)
      return Seq((0L, nDropped, raters.toLong, 0L,
        null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double],
        null.asInstanceOf[java.lang.Double]))
        .toDF("n_items", "n_dropped_items", "n_raters", "n_categories",
          "pbar_6", "pe_6", "kappa_6")
    val n = BigDecimal(raters)
    val bigN = BigDecimal(nItems)
    val sumSq = BigDecimal(st.getDecimal(2))
    val sumTc2 = BigDecimal(ca.getDecimal(1))
    val pbar = (sumSq - bigN * n).doubleValue /
      (bigN * n * (n - 1)).doubleValue
    val pe = sumTc2.doubleValue / (bigN * n * bigN * n).doubleValue
    def r6(v: Double): java.lang.Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    val kappa: java.lang.Double =
      if (pe >= 1.0) null else r6((pbar - pe) / (1.0 - pe))
    Seq((nItems, nDropped, raters.toLong, ca.getLong(0),
      r6(pbar), r6(pe), kappa))
      .toDF("n_items", "n_dropped_items", "n_raters", "n_categories",
        "pbar_6", "pe_6", "kappa_6")
  }

  /** C101: McNemar's paired test (McNemar 1947, continuity-corrected)
    * — THE comparison for two classifiers evaluated on the SAME
    * examples (model A vs model B on one eval set): only the
    * discordant pairs carry information, χ² = (|n01−n10|−1)²/(n01+n10).
    * An unpaired two-proportion test on the same data wastes the
    * pairing and misses real differences — this is the eval-harness
    * significance test.
    *
    * Exact: the 2×2 concordance table is four exact longs from ONE
    * map-combined aggregate; χ² is one division of exact integers,
    * 6dp; zero discordant pairs → null (no evidence either way).
    *
    * @return one row (n00, n01, n10, n11, chi2_6) where n01 = A
    *         correct & B wrong, n10 = A wrong & B correct.
    */
  def mcnemar(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val a = col(aCol); val b = col(bCol)
    val t = df.agg(
      sum(when(!a && !b, 1L).otherwise(0L)).as("n00"),
      sum(when(a && !b, 1L).otherwise(0L)).as("n01"),
      sum(when(!a && b, 1L).otherwise(0L)).as("n10"),
      sum(when(a && b, 1L).otherwise(0L)).as("n11"))
    val disc = col("n01") + col("n10")
    // Edwards' continuity correction, clamped at 0 so a perfectly
    // balanced table reads χ² = 0 rather than the 1/(n01+n10) artifact
    val cc = greatest(abs(col("n01") - col("n10")) - 1, lit(0L))
    val num = cc * cc
    t.select(col("n00"), col("n01"), col("n10"), col("n11"),
      when(disc > 0,
        round(num.cast("double") / disc.cast("double"), 6)).as("chi2_6"))
  }

  /** C99: weight-of-evidence / information-value binning (the
    * credit-scoring feature-screening standard — Siddiqi 2006): bin a
    * numeric feature by its own exact decile bounds, per bin
    * WOE = ln(%good/%bad), IV = Σ(%good − %bad)·WOE with the usual
    * reading ≥0.3 strong, 0.1–0.3 medium, <0.02 useless.
    *
    * Exactness discipline: counts exact longs; add-one smoothing like
    * [[psi]] (zero-count bins stay finite and the oracle mirrors it);
    * each WOE is ONE ln of a single IEEE division of two
    * exactly-computed integer products — 6dp; IV folds its ≤nBins
    * terms in bin order via the psi sorted-collect fold, 6dp.
    *
    * Null discipline ([[expectedCalibrationError]] pattern): a null
    * `valueCol` or `labelCol` raises loudly — silently landing nulls
    * in bin 1 (null > bound is null → otherwise(0)) while the label
    * null skews n_good would corrupt the score invisibly.
    *
    * Scale shape: one quantile collapse (value-cardinality window),
    * bounds broadcast, ONE bucket-count aggregate, bin-cardinality
    * everything after.
    *
    * @param labelCol 0/1 integer (1 = "bad"/event, the modeled class)
    * @return per bin: (bin, n, n_good, n_bad, woe_6, iv_6) — iv_6 is
    *         the feature-level total, replicated per row.
    */
  def woeIv(df: DataFrame, valueCol: String, labelCol: String,
            nBins: Int = 10): DataFrame = {
    require(nBins >= 2)
    val spark = df.sparkSession
    import spark.implicits._
    val ps = (1 until nBins).map(_ * 10000 / nBins)
    val bounds = broadcast(discreteQuantiles(
      df.select(col(valueCol)).withColumn("__g", lit(1)),
      Seq("__g"), valueCol, ps).drop("__g"))
    val bucket = (lit(1) + ps.map(p =>
      when(col(valueCol) > col(s"q$p"), 1).otherwise(0)).reduce(_ + _))
      .cast("long")
    val yGuarded = when(col(valueCol).isNull || col(labelCol).isNull,
      raise_error(lit(s"woeIv: null $valueCol or $labelCol — nulls " +
        "are not binnable; filter or impute upstream")).cast("long"))
      .otherwise(col(labelCol).cast("long"))
    val binned = df.select(col(valueCol), yGuarded.as("__y"))
      .crossJoin(bounds)
      .select(bucket.as("bin"), col("__y"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("__y")).as("n_bad"))
      .select(col("bin"), col("n"), (col("n") - col("n_bad")).as("n_good"),
        col("n_bad"))
    val spine = (1L to nBins.toLong).toDF("bin")
    val full = spine.join(binned, Seq("bin"), "left")
      .select(col("bin"), coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_good"), lit(0L)).as("n_good"),
        coalesce(col("n_bad"), lit(0L)).as("n_bad"))
    val tot = full.agg(sum(col("n_good")).as("tg"),
      sum(col("n_bad")).as("tb"))
    // smoothed shares: pg = (g+1)/(G+k), pb = (b+1)/(B+k); WOE is ONE
    // ln of the exact-integer cross ratio (g+1)(B+k) / ((b+1)(G+k))
    val pgNum = (col("n_good") + 1) * (col("tb") + nBins)
    val pbNum = (col("n_bad") + 1) * (col("tg") + nBins)
    val woe = log(pgNum.cast("double") / pbNum.cast("double"))
    val pg = (col("n_good") + 1).cast("double") /
      (col("tg") + nBins).cast("double")
    val pb = (col("n_bad") + 1).cast("double") /
      (col("tb") + nBins).cast("double")
    val terms = full.crossJoin(broadcast(tot))
      .select(col("bin"), col("n"), col("n_good"), col("n_bad"),
        round(woe, 6).as("woe_6"),
        struct(col("bin"), ((pg - pb) * woe).as("t")).as("s"))
    val iv = terms.groupBy()
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(round(aggregate(transform(col("arr"), x => x("t")),
        lit(0.0), _ + _), 6).as("iv_6"))
    terms.select(col("bin"), col("n"), col("n_good"), col("n_bad"),
      col("woe_6")).crossJoin(broadcast(iv))
  }

  /** C98: Jonckheere–Terpstra ordered-alternative test (Jonckheere
    * 1954; Terpstra 1952) — the trend-aware k-group test C93
    * Kruskal–Wallis can't be: KW asks "any difference?", JT asks "do
    * values INCREASE with the group order?" (dose-response, cohort
    * age, quality tier), gaining power by using the ordering.
    * J = Σ_{i<j} U_ij over group pairs in ascending group order;
    * ties contribute ½, so the emitted statistic is the EXACT integer
    * 2J (the C71 Mann–Whitney carrier discipline). z uses the
    * standard no-tie moments μ = (N²−Σn²)/4,
    * σ² = (N²(2N+3) − Σn²(2n+3))/72 (documented approximation under
    * heavy ties), computed from exact integers with ONE fixed IEEE
    * expression, 6dp.
    *
    * Plan: one keyed (group, value) count agg collapses the data;
    * the value spine × k groups grid (k is tiny — broadcast) gets a
    * per-group running sum over VALUE-CARDINALITY rows only; 2J is
    * one equi-join of the grid with itself on the value with a
    * group-order filter — no data-sized window, no pair explosion
    * beyond |spine|·k².
    *
    * @return one row (n_total, k_groups, j2, z_6); group order =
    *         natural ascending order of `groupCol`.
    */
  def jonckheere(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val src = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val c = src.groupBy(col("g"), col("v"))
      .agg(count(lit(1)).as("cnt"))
      .persist()
    // round-12 (measured): the J2 plan references c from several
    // concurrent subtrees (spine, grps, grid, both cum sides) — a
    // lazily persisted c is recomputed by ALL of them under AQE
    // (observed: six ~0.4-1.0s scan+agg jobs). Materialize once.
    c.count()
    val spine = c.select(col("v")).distinct()
    val grps = c.select(col("g")).distinct()
    val grid = spine.crossJoin(broadcast(grps))
      .join(c, Seq("g", "v"), "left")
      .select(col("g"), col("v"), coalesce(col("cnt"), lit(0L)).as("cnt"))
    val cum = grid.withColumn("cum",
      sum(col("cnt")).over(Window.partitionBy(col("g")).orderBy(col("v"))))
    val a = cum.select(col("g").as("gi"), col("v"),
      col("cnt").as("ci"), col("cum").as("cumi"))
    val b = cum.select(col("g").as("gj"), col("v"), col("cnt").as("cj"))
    val j2 = a.join(b, Seq("v")).filter(col("gi") < col("gj"))
      .agg(coalesce(sum((col("cj") * (col("cumi") * 2 - col("ci")))
        .cast("decimal(38,0)")), lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head().getDecimal(0)
    val sizes = src.groupBy(col("g")).agg(count(lit(1)).as("n"))
      .select(col("n")).collect().map(_.getLong(0))
    c.unpersist()
    val k = sizes.length.toLong
    val nt = BigDecimal(sizes.sum)
    val sn2 = sizes.map(n => BigDecimal(n) * BigDecimal(n)).sum
    val sn23 = sizes.map(n =>
      BigDecimal(n) * BigDecimal(n) * BigDecimal(2L * n + 3)).sum
    val m2 = (nt * nt - sn2) / 2 // always even: N²−Σn² = 2Σ_{i<j}nᵢnⱼ
    val v72 = nt * nt * (nt * 2 + 3) - sn23
    val z =
      if (v72 == 0) 0.0
      else (BigDecimal(j2) - m2).doubleValue /
        (2.0 * math.sqrt(v72.doubleValue / 72.0))
    val spark = df.sparkSession
    import spark.implicits._
    Seq((nt.toLong, k, BigDecimal(j2).toLong,
      BigDecimal(z).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble))
      .toDF("n_total", "k_groups", "j2", "z_6")
  }

  /** C97: CUPED variance-reduced experiment readout (Deng, Xu, Kohavi
    * & Walker, WSDM 2013) — the industry-standard A/B sensitivity
    * boost: adjust each unit's outcome by its pre-experiment covariate,
    * Y' = Y − θ(X − x̄) with θ = cov(X,Y)/var(X) pooled, which leaves
    * every arm mean unbiased while removing the variance X explains.
    *
    * Exactness discipline: X/Y are integer (cents); the moment sums
    * Σx, Σy, Σx², Σxy fold in decimal(38,0) (order-free, exact), θ is
    * ONE double division of two exactly-computed integers, and each
    * adjusted mean is the fixed expression ȳ_a − θ·(x̄_a − x̄) over
    * exact-int ratios — deterministic IEEE both engines, emitted in
    * floor(·10⁶+0.5) micro-units. Constant X (var = 0) → θ = 0 (CUPED
    * no-op), the standard convention.
    *
    * Plan: one map-combined global agg (1 driver row — the documented
    * 1-row-aggregate rung), one keyed arm agg; nothing else. Loud
    * bound: |x|,|y| < 3·10⁹ so the long products stay exact.
    *
    * @return (armCol, n_units, mean_y_micro, mean_cuped_micro,
    *          theta_micro)
    */
  def cuped(units: DataFrame, armCol: String, xCol: String,
            yCol: String): DataFrame = {
    val u = units.select(col(armCol).as("arm"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val g = u.agg(count(lit(1)).as("n"),
      max(greatest(abs(col("x")), abs(col("y")))).as("mx"),
      sum(col("x").cast("decimal(38,0)")).as("sx"),
      sum(col("y").cast("decimal(38,0)")).as("sy"),
      // try_multiply: an overflowing product nulls instead of ANSI-
      // throwing mid-agg, so the require below reports the BOUND (with
      // the rescale hint) rather than a bare SparkArithmeticException
      sum(expr("try_multiply(x, x)").cast("decimal(38,0)")).as("sxx"),
      sum(expr("try_multiply(x, y)").cast("decimal(38,0)")).as("sxy"))
      .head()
    val n = g.getLong(0)
    require(n > 0, "cuped: empty input")
    require(g.getLong(1) < 3000000000L,
      s"cuped: |x|,|y| max ${g.getLong(1)} — long products would " +
        "overflow past 3e9; rescale the metric units")
    def bd(i: Int) = BigDecimal(g.getDecimal(i))
    val (sx, sy, sxx, sxy) = (bd(2), bd(3), bd(4), bd(5))
    val den = BigDecimal(n) * sxx - sx * sx
    val theta =
      if (den == 0) 0.0
      else (BigDecimal(n) * sxy - sx * sy).doubleValue / den.doubleValue
    val xbar = sx.doubleValue / n.toDouble
    val arms = u.groupBy(col("arm"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("x").cast("decimal(38,0)")).as("sxa"),
        sum(col("y").cast("decimal(38,0)")).as("sya"))
    val meanY = col("sya").cast("double") / col("n_units").cast("double")
    val meanXa = col("sxa").cast("double") / col("n_units").cast("double")
    def micro(c: Column) =
      floor(c * lit(1000000.0) + lit(0.5)).cast("long")
    arms.select(col("arm").as(armCol), col("n_units"),
      micro(meanY).as("mean_y_micro"),
      micro(meanY - lit(theta) * (meanXa - lit(xbar)))
        .as("mean_cuped_micro"),
      micro(lit(theta)).as("theta_micro"))
  }

  /** C104: Friedman test (Friedman, JASA 1937) — THE k-system × n-task
    * comparison on a shared benchmark: Demšar (JMLR 2006) prescribes
    * exactly this for "compare k models over n datasets" where C71
    * Mann–Whitney handles 2 unpaired groups and C101 McNemar 2 paired
    * classifiers. Within each task the k systems are midranked;
    * χ²_F = 12/(nk(k+1))·ΣR_j² − 3n(k+1) with R_j the rank sum of
    * system j (the average-rank form; no tie correction — documented).
    *
    * Exactness: midranks carried as the exact INTEGER m2 = 2·midrank
    * (= 2·min_rank + ties − 1), rank sums R2_j = Σm2 exact longs,
    * ΣR2_j² in decimal(38,0); with R_j = R2_j/2 the statistic
    * collapses to χ²_F = 3·ΣR2_j²/(nk(k+1)) − 3n(k+1) — ONE fixed
    * IEEE tree over exact integers, 6dp.
    *
    * Complete blocks only: tasks with exactly one observation per
    * system (and the full system set) are kept; incomplete tasks are
    * dropped AND counted — silent drops would bias the ranks.
    *
    * Plan: one distinct-systems scalar, one per-task completeness agg,
    * one task-keyed window (k rows per task) for midranks, one
    * system-keyed rank-sum agg (k rows to the driver — the fleissKappa
    * scalar-assembly discipline).
    *
    * @param valueCol integer-comparable (caller quantizes, the
    *                 jonckheere convention); higher = better is
    *                 irrelevant — χ² is direction-free.
    * @return per system: (system, r2_sum) + replicated
    *         (n_tasks, k_systems, n_dropped_tasks, chi2_6).
    */
  def friedman(df: DataFrame, taskCol: String, systemCol: String,
               valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(taskCol).as("t"),
      col(systemCol).cast("string").as("sys"),
      col(valueCol).cast("long").as("v")).persist()
    try {
      val k = src.select(col("sys")).distinct().count()
      require(k >= 2, s"friedman: needs ≥ 2 systems, got $k")
      val taskCnt = src.groupBy(col("t"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("sys")).as("ds"))
      val keepDrop = taskCnt.agg(
        sum(when(col("cnt") === k && col("ds") === k, 1L).otherwise(0L)),
        sum(when(col("cnt") === k && col("ds") === k, 0L).otherwise(1L)))
        .head()
      val n = keepDrop.getLong(0)
      val nDropped = keepDrop.getLong(1)
      if (n == 0)
        return Seq.empty[(String, Long, Long, Long, Long,
            java.lang.Double)]
          .toDF("system", "r2_sum", "n_tasks", "k_systems",
            "n_dropped_tasks", "chi2_6")
      val kept = taskCnt.filter(col("cnt") === k && col("ds") === k)
        .select(col("t"))
      val wRank = Window.partitionBy(col("t")).orderBy(col("v"))
      val wTie = Window.partitionBy(col("t"), col("v"))
      val ranked = src.join(kept, Seq("t"), "left_semi")
        .withColumn("m2",
          rank().over(wRank).cast("long") * 2 +
            count(lit(1)).over(wTie) - 1)
      val r2 = ranked.groupBy(col("sys"))
        .agg(sum(col("m2")).as("r2_sum"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
      val sumR2Sq = r2.map(x => BigDecimal(x._2) * BigDecimal(x._2)).sum
      val chi2 = (BigDecimal(3) * sumR2Sq).doubleValue /
        (BigDecimal(n) * k * (k + 1)).doubleValue -
        3.0 * n * (k + 1)
      val chi6 = BigDecimal(chi2)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      r2.toSeq.map { case (s, r) =>
        (s, r, n, k, nDropped, chi6: java.lang.Double)
      }.toDF("system", "r2_sum", "n_tasks", "k_systems",
        "n_dropped_tasks", "chi2_6")
    } finally { src.unpersist(); () }
  }

  /** C107: Brown–Forsythe test (Brown & Forsythe, JASA 1974 — the
    * median-centered Levene): are the k groups' SPREADS equal? The
    * variance-homogeneity check that gates pooled-variance methods
    * (C43's z, ANOVA), robust to non-normality because deviations are
    * taken from the exact per-group MEDIAN, not the mean. The
    * dispersion sibling of C93 Kruskal–Wallis (location).
    *
    * Exactness: per-group medians from [[discreteQuantiles]] (exact
    * integer, no interpolation); z = |x − med| exact longs; group/grand
    * z-means quantized ONCE to floor-div micros (z ≥ 0, div ≡ floor on
    * both engines; documented ≤1-micro loss); SSB = Σn_g(z̄_g−z̄)² and
    * SSW = Σ(z·10⁶−z̄_g)² in decimal(38,0) exact; W = (N−k)·SSB /
    * ((k−1)·SSW) — ONE IEEE division of two exact integer products,
    * 6dp; SSW = 0 → null.
    *
    * Plan: one value-cardinality quantile collapse, medians broadcast
    * back, two keyed aggs + one 1-row reduction.
    *
    * @param valueCol integer-quantized by the caller (cents).
    * @return one row (n, k_groups, w_6).
    */
  def brownForsythe(df: DataFrame, groupCol: String,
                    valueCol: String): DataFrame = {
    val src = df.select(col(groupCol).as("g"),
      col(valueCol).cast("long").as("v"))
    val med = broadcast(discreteQuantiles(src, Seq("g"), "v", Seq(5000))
      .select(col("g"), col("q5000").as("med")))
    // persist z: the two jobs below would otherwise each re-run the
    // quantile collapse + median join from the source (the bleu2
    // lesson — driver-assembled stats must not re-execute their input)
    val z = src.join(med, Seq("g"))
      .select(col("g"), abs(col("v") - col("med")).as("z"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val spark = df.sparkSession
    import spark.implicits._
    try {
      // group table is k rows — collected once; SSB assembled exactly
      // driver-side in BigDecimal (no third job)
      val grpRows = z.groupBy(col("g"))
        .agg(sum(col("z")).as("sz"), count(lit(1)).as("n"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      val k = grpRows.length.toLong
      val nAll = grpRows.map(_._3).sum
      // micro-quantization is exact Long math ONLY while Σ|z|·1e6
      // fits — beyond ~9.2e12 cents of total deviation Spark would
      // silently wrap where the DuckDB oracle's BIGINT errors loudly.
      // Match the oracle: fail loudly at the same boundary.
      val szTotal = grpRows.map(m => BigInt(m._2)).sum
      require(szTotal <= Long.MaxValue / 1000000L,
        s"brownForsythe: Σ|z| = $szTotal overflows the micro " +
          "quantization (Long.MaxValue/1e6) — rescale valueCol")
      val zbarAll = szTotal.toLong * 1000000L / nAll // z ≥ 0
      val zbar = grpRows.map { case (g, sz, n) =>
        (g, sz * 1000000L / n) }.toMap
      val ssb = grpRows.map { case (g, _, n) =>
        val d = BigDecimal(zbar(g) - zbarAll); d * d * n }.sum
      val zbarDf = broadcast(zbar.toSeq.toDF("g", "zbar"))
      val ssw = BigDecimal(z.join(zbarDf, Seq("g"))
        .agg(sum(((col("z") * 1000000L - col("zbar"))
          .cast("decimal(38,0)") *
          (col("z") * 1000000L - col("zbar")))).as("ssw"))
        .head().getDecimal(0))
      val w6: java.lang.Double =
        if (ssw == 0 || k < 2) null
        else BigDecimal(
          (BigDecimal(nAll - k) * ssb).doubleValue /
            (BigDecimal(k - 1) * ssw).doubleValue)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((nAll, k, w6)).toDF("n", "k_groups", "w_6")
    } finally { z.unpersist(); () }
  }

  /** C108: Cochran–Mantel–Haenszel test + MH pooled odds ratio
    * (Mantel & Haenszel, JNCI 1959) — the STRATIFIED 2×2 layer the
    * experimentation family was missing: C43's A/B read-out assumes
    * one homogeneous population; CMH asks "does exposure associate
    * with outcome CONTROLLING for the stratum" (country, cohort,
    * device — Simpson's-paradox insurance), pooling per-stratum 2×2
    * tables instead of collapsing them.
    *
    * Exactness: per-stratum cells (a,b,c,d) exact longs from ONE
    * keyed agg; each stratum contributes terms that are single IEEE
    * divisions of exact integer products — (ad−bc)/n (≡ a−E, exact
    * identity), V = (a+b)(c+d)(a+c)(b+d)/(n²(n−1)), ad/n, bc/n —
    * and the cross-strata sums fold in STRATUM ORDER via the
    * 0.0-seeded sorted-collect fold ([[woeIv]] discipline; the list
    * is stratum-cardinality). χ²_CMH = (|Σ(ad−bc)/n| − ½)²/ΣV with
    * the standard continuity correction clamped at 0; OR_MH =
    * Σ(ad/n)/Σ(bc/n); both 6dp, degenerate denominators → null.
    *
    * @return one row: (n_strata, n, sum_d_6, sum_v_6, chi2_6, or_mh_6).
    */
  def cmh(df: DataFrame, stratumCol: String, exposedCol: String,
          outcomeCol: String): DataFrame = {
    val e = col(exposedCol); val o = col(outcomeCol)
    val cells = df.groupBy(col(stratumCol).cast("string").as("s"))
      .agg(sum(when(e && o, 1L).otherwise(0L)).as("a"),
        sum(when(e && !o, 1L).otherwise(0L)).as("b"),
        sum(when(!e && o, 1L).otherwise(0L)).as("c"),
        sum(when(!e && !o, 1L).otherwise(0L)).as("d"))
      .withColumn("n", col("a") + col("b") + col("c") + col("d"))
      .filter(col("n") >= 2) // n−1 divisor; degenerate strata drop
    val dec = "decimal(38,0)"
    val terms = cells.select(col("s"), col("n"),
      ((col("a") * col("d") - col("b") * col("c")).cast("double") /
        col("n").cast("double")).as("td"),
      (((col("a") + col("b")) * (col("c") + col("d"))).cast(dec) *
        ((col("a") + col("c")) * (col("b") + col("d"))).cast(dec))
        .cast("double").divide(
          (col("n").cast(dec) * col("n") * (col("n") - 1))
            .cast("double")).as("tv"),
      ((col("a") * col("d")).cast("double") / col("n").cast("double"))
        .as("tad"),
      ((col("b") * col("c")).cast("double") / col("n").cast("double"))
        .as("tbc"))
    val folded = terms
      .agg(sum(col("n")).as("nAll"), count(lit(1)).as("k"),
        array_sort(collect_list(struct(col("s"), col("td").as("td"),
          col("tv").as("tv"), col("tad").as("tad"),
          col("tbc").as("tbc")))).as("arr"))
      .select(col("nAll"), col("k"),
        aggregate(transform(col("arr"), x => x("td")), lit(0.0), _ + _)
          .as("sd"),
        aggregate(transform(col("arr"), x => x("tv")), lit(0.0), _ + _)
          .as("sv"),
        aggregate(transform(col("arr"), x => x("tad")), lit(0.0), _ + _)
          .as("sad"),
        aggregate(transform(col("arr"), x => x("tbc")), lit(0.0), _ + _)
          .as("sbc"))
    val cc = greatest(abs(col("sd")) - 0.5, lit(0.0))
    folded.select(col("k").as("n_strata"), col("nAll").as("n"),
      round(col("sd"), 6).as("sum_d_6"),
      round(col("sv"), 6).as("sum_v_6"),
      when(col("sv") > 0, round(cc * cc / col("sv"), 6)).as("chi2_6"),
      when(col("sbc") > 0, round(col("sad") / col("sbc"), 6))
        .as("or_mh_6"))
  }

  /** C109: Nemenyi post-hoc pairwise table (Nemenyi 1963; Demšar,
    * JMLR 2006 §3.2.2) — [[friedman]] says the k systems differ
    * SOMEWHERE; this says WHICH PAIRS: mean-rank differences against
    * the caller-supplied critical difference CD = q_α·√(k(k+1)/6n)
    * (q_α is a table constant — supplied in rank micro-units so the
    * operator stays transcendental-free).
    *
    * Exactness: the same 2×-integer midrank machinery as [[friedman]];
    * mean ranks quantized ONCE to micro rank units ⌊10⁶·R2/(2n)⌋
    * (exact longs; ≤1-micro documented loss), pair differences exact
    * long subtraction, significance an integer comparison. The pair
    * table is a k²-row broadcast self-join of the k-row rank-sum
    * aggregate — no data-sized work past the rank window.
    *
    * @param cdMicro critical difference in rank micro-units (10⁶ = one
    *                rank position).
    * @return per unordered pair (sys_a < sys_b): (sys_a, sys_b,
    *         mr_a_micro, mr_b_micro, diff_micro, significant).
    */
  def friedmanPosthoc(df: DataFrame, taskCol: String, systemCol: String,
                      valueCol: String, cdMicro: Long): DataFrame = {
    require(cdMicro >= 0, s"cdMicro must be ≥ 0: $cdMicro")
    val src = df.select(col(taskCol).as("t"),
      col(systemCol).cast("string").as("sys"),
      col(valueCol).cast("long").as("v")).persist()
    try {
      val k = src.select(col("sys")).distinct().count()
      require(k >= 2, s"friedmanPosthoc: needs ≥ 2 systems, got $k")
      val taskCnt = src.groupBy(col("t"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("sys")).as("ds"))
      // kept is task-cardinality; the semi-join probes it once and the
      // count materializes it — a checkpoint-free persist released
      // with the source below via the shared finally
      val kept = taskCnt.filter(col("cnt") === k && col("ds") === k)
        .select(col("t"))
      val n = kept.count()
      require(n >= 1, "friedmanPosthoc: no complete tasks")
      val wRank = Window.partitionBy(col("t")).orderBy(col("v"))
      val wTie = Window.partitionBy(col("t"), col("v"))
      val r2 = src.join(kept, Seq("t"), "left_semi")
        .withColumn("m2",
          rank().over(wRank).cast("long") * 2 +
            count(lit(1)).over(wTie) - 1)
        .groupBy(col("sys")).agg(sum(col("m2")).as("r2"))
        .select(col("sys"),
          expr(s"r2 * 1000000 div (2 * $n)").as("mr_micro"))
      val a = r2.select(col("sys").as("sys_a"),
        col("mr_micro").as("mr_a_micro"))
      val b = r2.select(col("sys").as("sys_b"),
        col("mr_micro").as("mr_b_micro"))
      a.join(broadcast(b), col("sys_a") < col("sys_b"))
        .select(col("sys_a"), col("sys_b"), col("mr_a_micro"),
          col("mr_b_micro"),
          abs(col("mr_a_micro") - col("mr_b_micro")).as("diff_micro"),
          (abs(col("mr_a_micro") - col("mr_b_micro")) > cdMicro)
            .as("significant"))
    } finally { src.unpersist(); () }
  }

  /** C105: Cochran's Q test (Cochran, Biometrika 1950) — the BINARY
    * sibling of [[friedman]] and the k-classifier generalization of
    * C101 McNemar (k = 2 collapses to McNemar without correction):
    * k systems judged pass/fail on the same n items, "do the k
    * pass rates differ?" — the eval-harness question for k model
    * checkpoints on one benchmark.
    *
    * Exact end to end: with T_j = per-system pass count, u_i =
    * per-item pass count, N = Σu_i,
    * Q = (k−1)·(k·ΣT_j² − N²) / (k·N − Σu_i²) — every term an exact
    * integer (decimal(38,0) squares), ONE IEEE division, 6dp; a
    * degenerate denominator (all items unanimous) → null.
    *
    * Complete blocks only, dropped items counted ([[friedman]] rule).
    *
    * @return one row (n_items, n_dropped_items, k_systems, n_pass, q_6).
    */
  def cochranQ(df: DataFrame, itemCol: String, systemCol: String,
               successCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(itemCol).as("i"),
      col(systemCol).cast("string").as("sys"),
      when(col(successCol), 1L).otherwise(0L).as("x")).persist()
    try {
      val k = src.select(col("sys")).distinct().count()
      require(k >= 2, s"cochranQ: needs ≥ 2 systems, got $k")
      val perItem = src.groupBy(col("i"))
        .agg(count(lit(1)).as("cnt"), countDistinct(col("sys")).as("ds"),
          sum(col("x")).as("u"))
      val complete = col("cnt") === k && col("ds") === k
      val st = perItem.agg(
        sum(when(complete, 1L).otherwise(0L)).as("nItems"),
        sum(when(complete, 0L).otherwise(1L)).as("nDropped"),
        sum(when(complete, col("u")).otherwise(0L)).as("bigN"),
        sum(when(complete,
          (col("u") * col("u")).cast("decimal(38,0)"))).as("sumU2"))
        .head()
      val kept = perItem.filter(complete).select(col("i"))
      val tj = src.join(kept, Seq("i"), "left_semi")
        .groupBy(col("sys")).agg(sum(col("x")).as("tj"))
        .agg(sum((col("tj").cast("decimal(38,0)") * col("tj"))))
        .head()
      val nItems = st.getLong(0)
      val nDropped = st.getLong(1)
      if (nItems == 0)
        return Seq((0L, nDropped, k, 0L,
            null.asInstanceOf[java.lang.Double]))
          .toDF("n_items", "n_dropped_items", "k_systems", "n_pass",
            "q_6")
      val bigN = BigDecimal(st.getLong(2))
      val sumU2 = BigDecimal(st.getDecimal(3))
      val sumTj2 = BigDecimal(tj.getDecimal(0))
      val den = BigDecimal(k) * bigN - sumU2
      val q: java.lang.Double =
        if (den == 0) null
        else BigDecimal(
          (BigDecimal(k - 1) * (BigDecimal(k) * sumTj2 - bigN * bigN))
            .doubleValue / den.doubleValue)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((nItems, nDropped, k, st.getLong(2), q))
        .toDF("n_items", "n_dropped_items", "k_systems", "n_pass", "q_6")
    } finally { src.unpersist(); () }
  }

  /** C106: Krippendorff's alpha, nominal data (Krippendorff 2004) —
    * the agreement coefficient that handles MISSING ratings, closing
    * the family: C87 Cohen κ (2 raters, complete), C102 Fleiss κ
    * (k raters, complete — incomplete items dropped), α (any number
    * of ratings per unit ≥ 2 — the real shape of crowdsourced
    * labeling queues).
    *
    * Exactness (the ECE/Nelson–Aalen micro-quantization discipline —
    * keyed aggregation at any cardinality, NO driver-side unit list):
    * per pairable unit the disagreement term
    * dₒ(u) = (m_u(m_u−1) − Σ_c n_uc(n_uc−1)) / (m_u−1) is quantized
    * once to ⌊10⁶·num/(m_u−1)⌋ micro-units (≤ 1 micro floor loss per
    * unit, documented semantics), summed exactly; with
    * D_e ∝ Σ_c n_c(n−n_c) the coefficient collapses algebraically to
    * α = 1 − Do_micro·(n−1) / (10⁶·Σ_c n_c(n−n_c)) — ONE IEEE
    * division of two exact integer products (decimal(38,0)), 6dp.
    * Units with a single rating are unpairable: dropped AND counted.
    * D_e = 0 (one category total) → null.
    *
    * @return one row (n_units, n_dropped_units, n_ratings,
    *         n_categories, alpha_6).
    */
  def krippendorffAlpha(df: DataFrame, unitCol: String,
                        valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val counts = df.groupBy(col(unitCol).as("u"),
        col(valueCol).cast("string").as("c"))
      .agg(count(lit(1)).as("nuc"))
      .persist()
    try {
      // round-12: materialize before concurrent consumers (jonckheere lesson)
      counts.count()
      val perUnit = counts.groupBy(col("u"))
        .agg(sum(col("nuc")).as("m"),
          sum(col("nuc") * (col("nuc") - 1)).as("agr"))
      val pairable = col("m") >= 2
      // exact floor division (CaseWhen short-circuits, so the div
      // never sees an unpairable unit's m−1 = 0 under ANSI mode)
      val withDo = perUnit.withColumn("do_micro",
        when(pairable,
          expr("(m * (m - 1) - agr) * 1000000 div (m - 1)"))
          .otherwise(0L))
      val st = withDo.agg(
        sum(when(pairable, 1L).otherwise(0L)).as("nUnits"),
        sum(when(pairable, 0L).otherwise(1L)).as("nDropped"),
        sum(when(pairable, col("m")).otherwise(0L)).as("n"),
        sum(col("do_micro").cast("decimal(38,0)")).as("doSum"))
        .head()
      val keptUnits = perUnit.filter(pairable).select(col("u"))
      val cat = counts.join(keptUnits, Seq("u"), "left_semi")
        .groupBy(col("c")).agg(sum(col("nuc")).as("nc"))
      val n = st.getLong(2)
      val de = cat.agg(count(lit(1)).as("kCat"),
          sum((col("nc").cast("decimal(38,0)") * (lit(n) - col("nc"))))
            .as("deSum"))
        .head()
      val nUnits = st.getLong(0)
      val nDropped = st.getLong(1)
      if (nUnits == 0)
        return Seq((0L, nDropped, 0L, 0L,
            null.asInstanceOf[java.lang.Double]))
          .toDF("n_units", "n_dropped_units", "n_ratings",
            "n_categories", "alpha_6")
      val doSum = BigDecimal(st.getDecimal(3))
      val deSum = BigDecimal(de.getDecimal(1))
      val alpha: java.lang.Double =
        if (deSum == 0) null
        else BigDecimal(1.0 -
          (doSum * (n - 1)).doubleValue /
            (BigDecimal(1000000L) * deSum).doubleValue)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      Seq((nUnits, nDropped, n, de.getLong(0), alpha))
        .toDF("n_units", "n_dropped_units", "n_ratings",
          "n_categories", "alpha_6")
    } finally { counts.unpersist(); () }
  }

  /** C110: one-way ANOVA F (Fisher 1925) — the PARAMETRIC k-group
    * mean comparison beside C93's rank-based Kruskal–Wallis: does at
    * least one group MEAN differ, under the equal-variance normal
    * model. The pair (F significant, H not / vice versa) is itself a
    * diagnostic — heavy tails or outliers split them.
    *
    * Exactness: per-group (n, Σv, Σv²) are exact DECIMAL(38,0) sums of
    * an integer-quantized column (one keyed map-combined agg; no
    * BIGINT overflow at any corpus size). SSB folds the per-group
    * S_g²/n_g doubles in GROUP-KEY order with a 0.0 prepend (the
    * kruskalWallis fold-parity rule); S_g → double is one
    * deterministic cast both engines round identically. SST = Q −
    * S²/N, SSW = SST − SSB, F = (SSB/(k−1))/(SSW/(N−k)) — fixed IEEE
    * expression trees over identical inputs. Null F when k < 2,
    * N ≤ k, or SSW ≤ 0 (all within-group variation zero).
    *
    * Plan: one keyed agg → group-cardinality rows → one 1-row fold.
    * No window, no join; scales as a single map-combined aggregation.
    */
  def anovaF(df: DataFrame, groupCol: String,
             valueCol: String): DataFrame = {
    val d = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val grp = d.groupBy(col("g")).agg(
      count(lit(1)).as("n_g"),
      sum(col("v").cast("decimal(38,0)")).as("s_g"),
      sum(col("v").cast("decimal(38,0)") * col("v")).as("q_g"))
    val folded = grp.agg(
      array_sort(collect_list(struct(col("g"), col("n_g"),
        col("s_g")))).as("arr"),
      sum(col("n_g")).as("nn"),
      sum(col("s_g")).as("s"),
      sum(col("q_g")).as("q"))
    val ssbFold = aggregate(transform(col("arr"), x =>
        (x("s_g").cast("double") * x("s_g").cast("double")) /
          x("n_g").cast("double")),
      lit(0.0), (acc, x) => acc + x)
    val nnD = col("nn").cast("double")
    val sD = col("s").cast("double")
    val ssb = col("ssb_fold") - sD * sD / nnD
    val sst = col("q").cast("double") - sD * sD / nnD
    val k = size(col("arr")).cast("long")
    folded.withColumn("ssb_fold", ssbFold)
      .select(col("nn").as("n_total"), k.as("n_groups"),
        round(ssb, 6).as("ssb_6"),
        round(sst - ssb, 6).as("ssw_6"),
        when(k >= 2 && col("nn") > k && (sst - ssb) > 0,
          round((ssb / (k - 1).cast("double")) /
            ((sst - ssb) / (col("nn") - k).cast("double")), 6))
          .as("f_6"))
  }

  /** C111: Cliff's delta ordinal effect size (Cliff, Psych. Bull.
    * 1993) — the MAGNITUDE companion to C71's Mann–Whitney p-value:
    * δ = (#{a>b} − #{a<b}) / (n_a·n_b) over all cross pairs, the
    * probability a random A value exceeds a random B value minus the
    * reverse. Robust (rank-only), bounded [−1, 1], the effect-size
    * reviewers ask for when t-test deltas are meaningless.
    *
    * Exactness: the pair counts come from the value-cardinality
    * table, never from pairs — #{a>b} = Σ_v ta_v · (#B below v) via
    * two prefix windows over distinct values (the mannWhitney
    * carrier discipline), all exact longs; δ is ONE IEEE division of
    * exact longs, 6dp.
    *
    * Plan: one keyed (value) agg → value-cardinality windows → 1-row
    * agg. The quadratic pair space is never materialized.
    */
  def cliffsDelta(df: DataFrame, groupCol: String, valueCol: String,
                  groupA: String, groupB: String): DataFrame = {
    val d = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .select((col(groupCol) === groupA).as("isa"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val g = d.groupBy(col("v")).agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("ta"),
      sum(when(col("isa"), 0L).otherwise(1L)).as("tb"))
    val wLt = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wGt = Window.orderBy(col("v"))
      .rowsBetween(1, Window.unboundedFollowing)
    val ranked = g
      .withColumn("b_lt", coalesce(sum(col("tb")).over(wLt), lit(0L)))
      .withColumn("b_gt", coalesce(sum(col("tb")).over(wGt), lit(0L)))
    val agg = ranked.agg(
      sum(col("ta")).as("n_a"), sum(col("tb")).as("n_b"),
      sum(col("ta") * col("b_lt")).as("n_gt"),
      sum(col("ta") * col("b_gt")).as("n_lt"))
    // n_a·n_b wraps silently past Long.MaxValue (~3e9 rows per side);
    // fail loudly at the same boundary where the oracle's CAST(… AS
    // BIGINT) errors, instead of emitting a silently-wrong delta
    // (the brownForsythe quantization-overflow discipline).
    val pairCount = when(
      col("n_b") > 0 && col("n_a") > lit(Long.MaxValue) / col("n_b"),
      raise_error(concat(lit("cliffsDelta: n_a*n_b = "),
        col("n_a").cast("string"), lit("*"), col("n_b").cast("string"),
        lit(" overflows Long — sample or stratify the groups")))
        .cast("long"))
      .otherwise(col("n_a") * col("n_b"))
    agg.select(col("n_a"), col("n_b"), col("n_gt"), col("n_lt"),
      when(col("n_a") > 0 && col("n_b") > 0,
        round((col("n_gt") - col("n_lt")).cast("double") /
          pairCount.cast("double"), 6))
        .as("delta_6"))
  }

  /** C112: Mood's median test (Mood 1950) — the k-group location test
    * with the WEAKEST assumptions in the family: dichotomize every
    * value at the pooled median, then chi² on the k×2 above/≤ table.
    * Less powerful than Kruskal–Wallis but valid under arbitrary
    * group-shape differences — the robustness rung below C93.
    *
    * Exactness: the pooled median is the exact discrete q5000 (the
    * discreteQuantiles convention: smallest value whose cumulative
    * count reaches ceil(n/2)); the k×2 observed cells are exact longs
    * from one keyed agg; each expected cell is a single IEEE division
    * of exact integers and the chi² terms fold in GROUP-KEY order
    * with a 0.0 prepend. Null chi² when either margin is empty.
    *
    * Plan: value-cardinality median (one agg + bounded window), 1-row
    * median broadcast-joined into the keyed agg, one fold.
    */
  def moodMedian(df: DataFrame, groupCol: String,
                 valueCol: String): DataFrame = {
    val d = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val vals = d.groupBy(col("v")).agg(count(lit(1)).as("t"))
    val wCum = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val tot = vals.agg(sum(col("t")).as("nn"))
    val med = vals.withColumn("cum", sum(col("t")).over(wCum))
      .crossJoin(broadcast(tot))
      .filter(col("cum") * 2 >= col("nn") + (col("nn") % 2))
      .agg(min(col("v")).as("med"), min(col("nn")).as("nn"))
    val grp = d.crossJoin(broadcast(med))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("n_g"),
        sum(when(col("v") > col("med"), 1L).otherwise(0L)).as("a_g"),
        min(col("med")).as("med"), min(col("nn")).as("nn"))
    val folded = grp.agg(
      array_sort(collect_list(struct(col("g"), col("n_g"),
        col("a_g")))).as("arr"),
      sum(col("a_g")).as("aa"), min(col("nn")).as("nn"),
      min(col("med")).as("med"))
    val nnD = col("nn").cast("double")
    val aD = col("aa").cast("double")
    val bD = (col("nn") - col("aa")).cast("double")
    val chi = aggregate(transform(col("arr"), x => {
        val ngD = x("n_g").cast("double")
        val ea = ngD * aD / nnD
        val eb = ngD * bD / nnD
        val oa = x("a_g").cast("double")
        val ob = (x("n_g") - x("a_g")).cast("double")
        (oa - ea) * (oa - ea) / ea + (ob - eb) * (ob - eb) / eb
      }), lit(0.0), (acc, x) => acc + x)
    folded.select(col("nn").as("n_total"),
      size(col("arr")).cast("long").as("n_groups"),
      col("med").as("pooled_median"), col("aa").as("n_above"),
      when(col("aa") > 0 && col("aa") < col("nn"), round(chi, 6))
        .as("chi2_6"))
  }

  /** C113: standardized mean-difference effect sizes — Cohen's d
    * (Cohen 1969) with the Hedges small-sample bias correction g
    * (Hedges 1981): the magnitude readout beside C43's significance
    * z. d = (x̄_A − x̄_B)/s_pooled; g = d·J with J = 1 − 3/(4m−9),
    * m = n_A + n_B (Hedges & Olkin's J approximation).
    *
    * Exactness: ONE conditional map-combined agg produces both
    * groups' exact (n, Σv, Σv²) as DECIMAL(38,0); every derived
    * number is a fixed IEEE expression tree over those integers
    * (single casts, no folds — nothing order-dependent), 6dp. Null
    * d/g when either group is empty, m < 3, or s_pooled ≤ 0.
    */
  def effectSize(df: DataFrame, groupCol: String, valueCol: String,
                 groupA: String, groupB: String): DataFrame = {
    val d = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .select((col(groupCol) === groupA).as("isa"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val vd = col("v").cast("decimal(38,0)")
    val agg = d.agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("n_a"),
      sum(when(!col("isa"), 1L).otherwise(0L)).as("n_b"),
      sum(when(col("isa"), vd).otherwise(lit(0).cast("decimal(38,0)")))
        .as("s_a"),
      sum(when(!col("isa"), vd).otherwise(lit(0).cast("decimal(38,0)")))
        .as("s_b"),
      sum(when(col("isa"), vd * col("v"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("q_a"),
      sum(when(!col("isa"), vd * col("v"))
        .otherwise(lit(0).cast("decimal(38,0)"))).as("q_b"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val saD = col("s_a").cast("double")
    val sbD = col("s_b").cast("double")
    val meanA = saD / naD
    val meanB = sbD / nbD
    val ssA = col("q_a").cast("double") - saD * saD / naD
    val ssB = col("q_b").cast("double") - sbD * sbD / nbD
    val m = col("n_a") + col("n_b")
    val varP = (ssA + ssB) / (m - 2).cast("double")
    val dEff = (meanA - meanB) / sqrt(varP)
    val j = lit(1.0) - lit(3.0) / (lit(4.0) * m.cast("double") - 9.0)
    val ok = col("n_a") > 0 && col("n_b") > 0 && m >= 3 && varP > 0
    agg.select(col("n_a"), col("n_b"),
      when(col("n_a") > 0, round(meanA, 6)).as("mean_a_6"),
      when(col("n_b") > 0, round(meanB, 6)).as("mean_b_6"),
      when(ok, round(dEff, 6)).as("d_6"),
      when(ok, round(dEff * j, 6)).as("g_6"))
  }

  /** C114: Goodman–Kruskal gamma + Somers' D (Goodman & Kruskal,
    * JASA 1954; Somers, ASR 1962) — ordinal×ordinal association for
    * BUCKETED/categorical columns, the pair C81's τ-b brackets:
    * gamma = (C−D)/(C+D) ignores ties entirely (the optimistic
    * bound); Somers' d_yx = (C−D)/(n₀−T_x) penalizes ties on the
    * DEPENDENT y only (the asymmetric "does x predict y" form).
    *
    * Exactness + scale shape: the data collapses to CONTINGENCY
    * CELLS first (one keyed agg); concordant/discordant pair counts
    * come from the cell-pair join (xa < xb) as Σ n₁·n₂ exact longs —
    * cell-cardinality², never row² (C81's row-pair join is the
    * small-input form; this is the 100 TB form for ordinal data,
    * which is bounded-cardinality BY DEFINITION — bucket first).
    * T_x from the x-margin in the same pass; gamma and d_yx are ONE
    * IEEE division each, 6dp; nulls when C+D = 0 / n₀ = T_x.
    */
  def ordinalAssociation(df: DataFrame, xCol: String,
                         yCol: String): DataFrame = {
    val cells = df.select(col(xCol).cast("long").as("x"),
        col(yCol).cast("long").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .groupBy(col("x"), col("y")).agg(count(lit(1)).as("cn"))
    val a = cells.toDF("xa", "ya", "na")
    val b = cells.toDF("xb", "yb", "nb")
    val cd = a.join(b, col("xa") < col("xb"))
      .agg(coalesce(sum(when(col("yb") > col("ya"),
          col("na") * col("nb")).otherwise(0L)), lit(0L)).as("c"),
        coalesce(sum(when(col("yb") < col("ya"),
          col("na") * col("nb")).otherwise(0L)), lit(0L)).as("d"))
    val marg = cells.groupBy(col("x")).agg(sum(col("cn")).as("tx"))
      .agg(sum(col("tx")).as("nn"),
        sum(col("tx") * (col("tx") - 1)).as("tx2"))
    cd.crossJoin(broadcast(marg))
      .select(col("nn").as("n_rows"), col("c").as("c_pairs"),
        col("d").as("d_pairs"),
        when(col("c") + col("d") > 0,
          round((col("c") - col("d")).cast("double") /
            (col("c") + col("d")).cast("double"), 6)).as("gamma_6"),
        when(col("nn") * (col("nn") - 1) - col("tx2") > 0,
          round((lit(2L) * (col("c") - col("d"))).cast("double") /
            (col("nn") * (col("nn") - 1) - col("tx2")).cast("double"),
            6)).as("somers_d_6"))
  }

  /** C118: Wilcoxon signed-rank test (Wilcoxon, Biometrics 1945) —
    * the PAIRED companion of C71's Mann–Whitney: same units measured
    * twice (before/after, variant A/B on the same user), is the
    * median paired difference zero. The caller supplies the integer
    * paired-difference column; zero diffs drop (the standard
    * convention), |d| ranks with midranks.
    *
    * Exactness: the mannWhitney carrier discipline on |d| —
    * value-cardinality tie counts, 2·midrank integers, W⁺ kept as
    * the exact 2W⁺ long; E and the tie-corrected variance enter one
    * fixed IEEE tree (2× carriers: z = (2W⁺ − n(n+1)/2) /
    * √(n(n+1)(2n+1)/6 − Σ(t³−t)/12)), 6dp; null z when the variance
    * degenerates (all |d| tied at one value with n ≤ 1, or n = 0).
    *
    * Plan: one keyed agg to |d|-cardinality rows + one bounded
    * window + one 1-row agg.
    */
  def wilcoxonSignedRank(df: DataFrame, diffCol: String): DataFrame = {
    val d = df.select(col(diffCol).cast("long").as("d"))
      .filter(col("d").isNotNull && col("d") =!= 0)
    val g = d.groupBy(abs(col("d")).as("ad")).agg(
      count(lit(1)).as("t"),
      sum(when(col("d") > 0, 1L).otherwise(0L)).as("tp"))
    val w = Window.orderBy(col("ad"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = g.withColumn("hi", sum(col("t")).over(w))
      .select(col("t"), col("tp"),
        (col("hi") * 2 - col("t") + 1).as("r2"),
        (col("t") * col("t") * col("t") - col("t")).as("tc"))
    val agg = ranked.agg(
      coalesce(sum(col("t")), lit(0L)).as("n"),
      coalesce(sum(col("tp") * col("r2")), lit(0L)).as("w2p"),
      coalesce(sum(col("tc")), lit(0L)).as("tie"))
    val nD = col("n").cast("double")
    val var4 = nD * (nD + 1.0) * (nD * 2.0 + 1.0) / lit(6.0) -
      col("tie").cast("double") / lit(12.0)
    agg.select(col("n").as("n_nonzero"), col("w2p").as("w_plus2"),
      col("tie").as("tie_sum"),
      when(var4 > 0, round(
        (col("w2p").cast("double") - nD * (nD + 1.0) / 2.0) /
          sqrt(var4), 6)).as("z_6"))
  }

  /** C117: Page's L trend test (Page, JASA 1963) — the ORDERED
    * alternative to C104's Friedman: Friedman asks "do the k systems
    * differ at all"; Page asks "do they improve in a HYPOTHESIZED
    * order" (model v1 < v2 < v3 across evaluation tasks), which is
    * the question an iterated-model eval table actually poses. The
    * within-task analog of C98's Jonckheere–Terpstra.
    *
    * The hypothesized order is the LEXICOGRAPHIC system-name order
    * (encode the order in sortable names — v01 < v02 < …), making
    * the statistic a pure function of the data. Reuses Friedman's
    * exact midrank machinery: 2L = Σ_j j·R2_j exact integer; E[2L] =
    * n·k(k+1)²/2 and Var[2L] = n·k²(k+1)²(k−1)/36 exact via
    * BigDecimal; z = (2L−E)/√Var one IEEE division, 6dp. Incomplete
    * tasks drop (the Friedman rule); ties midrank.
    *
    * Plan (the bleu2 job-economy bar, VERDICT r11 #7): ONE driver job,
    * no persist — per-task windows attach (cnt, ds, midrank, a
    * first-row-of-task flag) to every row, then a single
    * groupBy(sys, cnt, ds) collects rank sums and first-row task
    * counts at sys × task-shape cardinality; k, the keep/drop split
    * and 2L all fall out of that one collected table driver-side
    * (a task is kept iff its group has cnt = ds = k, and every task's
    * first row lands in exactly one group, so task counts are
    * additive across groups). Degenerate inputs mirror the oracle
    * exactly: empty input → one row (null, 0, null, null, null);
    * k < 2 or no complete task → one row with null l2/z (no more
    * require(k ≥ 2) throw — ADVICE r11).
    */
  def pageTrend(df: DataFrame, taskCol: String, systemCol: String,
                valueCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val src = df.select(col(taskCol).as("t"),
      col(systemCol).cast("string").as("sys"),
      col(valueCol).cast("long").as("v"))
    val wT = Window.partitionBy(col("t"))
    val wRank = Window.partitionBy(col("t")).orderBy(col("v"))
    val wTie = Window.partitionBy(col("t"), col("v"))
    val wFirst = Window.partitionBy(col("t"))
      .orderBy(col("sys"), col("v"))
    val grouped = src
      .withColumn("cnt", count(lit(1)).over(wT))
      .withColumn("ds",
        size(collect_set(col("sys")).over(wT)).cast("long"))
      .withColumn("m2", rank().over(wRank).cast("long") * 2 +
        count(lit(1)).over(wTie) - 1)
      .withColumn("first", row_number().over(wFirst) === 1)
      .groupBy(col("sys"), col("cnt"), col("ds"))
      .agg(sum(col("m2").cast("decimal(38,0)")).as("r2s"),
        sum(when(col("first"), 1L).otherwise(0L)).as("ntasks"))
      .collect()
    def nullL: java.lang.Long = null
    def nullD: java.lang.Double = null
    if (grouped.isEmpty)
      return Seq((nullL, 0L, nullL, nullL, nullD))
        .toDF("n_tasks", "k_systems", "n_dropped_tasks", "l2_stat",
          "z_6")
    val k = grouped.map(_.getString(0)).distinct.length.toLong
    val totalTasks = grouped.map(_.getLong(4)).sum
    val keptGroups = grouped
      .filter(r => r.getLong(1) == k && r.getLong(2) == k)
    val n = keptGroups.map(_.getLong(4)).sum
    val nDropped = totalTasks - n
    if (n == 0)
      return Seq((0L, k, nDropped, nullL, nullD))
        .toDF("n_tasks", "k_systems", "n_dropped_tasks", "l2_stat",
          "z_6")
    // 2L = Σ j·(2R_j) over the lexicographic system order, exact
    // (every kept task carries all k systems, so the kept groups are
    // exactly one per system)
    val l2 = keptGroups
      .map(r => r.getString(0) -> BigInt(r.getDecimal(3).toBigInteger))
      .sortBy(_._1).zipWithIndex
      .map { case ((_, r2s), i) => BigInt(i + 1) * r2s }.sum
    require(l2.isValidLong, s"pageTrend: 2L = $l2 overflows Long")
    // E[2L] = n·k(k+1)²/2 — k(k+1) is even, so the half is an exact
    // integer; Var[2L] = n·k²(k+1)²(k−1)/36 as ONE double division
    // of an exact integer (36 does not divide it in general — the
    // oracle mirrors the same single IEEE division)
    val e2 = BigInt(n) * k * (k + 1) * (k + 1) / 2
    val pv = BigInt(n) * k * k * (k + 1) * (k + 1) * (k - 1)
    require(pv.isValidLong, s"pageTrend: variance carrier $pv " +
      "overflows Long")
    val z: java.lang.Double =
      if (pv == 0) null
      else BigDecimal(
        (l2.toDouble - e2.toDouble) / math.sqrt(pv.toDouble / 36.0))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((java.lang.Long.valueOf(n), k, java.lang.Long.valueOf(nDropped),
        java.lang.Long.valueOf(l2.toLong), z))
      .toDF("n_tasks", "k_systems", "n_dropped_tasks", "l2_stat",
        "z_6")
  }

  /** C119: G-test of independence (likelihood-ratio chi² — Woolf
    * 1957; Sokal & Rohlf 1981 §17.4) — the LR companion of C56's
    * Pearson chi²: G = 2·Σ O·ln(O/E) over the r×c table with
    * E = R·C/N. G is ADDITIVE across partitions of a table (Pearson
    * is not), which is why hierarchical log-linear analyses pool it.
    *
    * Exactness: O, R, C, N are exact longs from one keyed agg (the
    * margin tables are category-cardinality, derived FROM the cell
    * table and broadcast back); each cell term is
    * O · ln((O·N)/(R·C)) — exact decimal products, two
    * correctly-rounded casts, ONE IEEE division, one transcendental —
    * folded in (row, col) key order with a 0.0 prepend; ×2 and 6dp
    * terminal (the ln-sum rule). Cells with O = 0 never materialize
    * (lim x·ln x = 0 — the standard convention). dof = (r−1)(c−1).
    *
    * @return one row: (n, n_rows, n_cols, dof, g_6).
    */
  def gTest(df: DataFrame, rowCol: String, colCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.select(col(rowCol).cast("string").as("r"),
        col(colCol).cast("string").as("c"))
      .filter(col("r").isNotNull && col("c").isNotNull)
    val cells = d.groupBy(col("r"), col("c"))
      .agg(count(lit(1)).as("o"))
    val rt = cells.groupBy(col("r")).agg(sum(col("o")).as("rt"))
    val ct = cells.groupBy(col("c")).agg(sum(col("o")).as("ct"))
    val folded = cells
      .join(broadcast(rt), Seq("r")).join(broadcast(ct), Seq("c"))
      .agg(array_sort(collect_list(struct(col("r"), col("c"), col("o"),
        col("rt"), col("ct")))).as("arr"),
        sum(col("o")).as("n"),
        countDistinct(col("r")).as("rr"),
        countDistinct(col("c")).as("cc"))
    val gFold = aggregate(transform(col("arr"), x =>
      x("o").cast("double") *
        log((x("o").cast(dec) * col("n")).cast("double") /
          (x("rt").cast(dec) * x("ct")).cast("double"))),
      lit(0.0), (acc, t) => acc + t)
    folded.select(col("n"), col("rr").as("n_rows"),
      col("cc").as("n_cols"),
      ((col("rr") - 1) * (col("cc") - 1)).as("dof"),
      when(col("rr") >= 2 && col("cc") >= 2,
        round(gFold * 2, 6)).as("g_6"))
  }

  /** C120: Levene's variance-homogeneity test, MEAN-centered (Levene
    * 1960) — the classical form beside C107's median-centered
    * Brown–Forsythe: z_ij = |x_ij − x̄_i|, then one-way ANOVA on z.
    * More powerful under near-normality, less robust to heavy tails —
    * carrying both lets the spread-equality question be answered at
    * either robustness rung.
    *
    * Exactness: the group mean is rational, so deviations are scaled
    * by n_i — u_ij = |n_i·x_ij − S_i| is an EXACT decimal(38,0)
    * (= n_i·z_ij); per-group carriers A_i = Σu, B_i = Σu² stay exact.
    * Every IEEE value derives from exact carriers in a fixed tree:
    * SSW_i = B_i/n_i² − A_i²/n_i³ (A_i cast once, squared in double —
    * A_i² can exceed 38 digits), z̄ = (Σ A_i/n_i)/N, SSB = Σ n_i·
    * (A_i/n_i² − z̄)², all group-key-ordered 0.0-prepend folds;
    * W = ((N−k)·SSB)/((k−1)·SSW), 6dp. Null when k < 2, N ≤ k or
    * SSW ≤ 0.
    *
    * Plan: one keyed agg → k-row broadcast join → one keyed agg →
    * k-cardinality folds. No window, no driver job.
    *
    * @return one row: (n, k_groups, w_6).
    */
  def levene(df: DataFrame, groupCol: String,
             valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val means = d.groupBy(col("g")).agg(count(lit(1)).as("ng"),
      sum(col("v").cast(dec)).as("sg"))
    val u = d.join(broadcast(means), Seq("g"))
      .select(col("g"),
        abs(col("ng").cast(dec) * col("v") - col("sg")).cast(dec)
          .as("u"), col("ng"))
    val grp = u.groupBy(col("g")).agg(min(col("ng")).as("ng"),
      sum(col("u")).as("a"), sum(col("u") * col("u")).as("b"))
    val folded = grp.agg(
      array_sort(collect_list(struct(col("g"), col("ng"), col("a"),
        col("b")))).as("arr"),
      sum(col("ng")).as("nn"), count(lit(1)).as("k"))
    def nD(x: Column) = x("ng").cast("double")
    def aD(x: Column) = x("a").cast("double")
    val sswFold = aggregate(transform(col("arr"), x =>
      x("b").cast("double") / (nD(x) * nD(x)) -
        aD(x) * aD(x) / (nD(x) * nD(x) * nD(x))),
      lit(0.0), (acc, t) => acc + t)
    val zsumFold = aggregate(transform(col("arr"), x =>
      aD(x) / nD(x)), lit(0.0), (acc, t) => acc + t)
    val staged = folded
      .withColumn("ssw", sswFold)
      .withColumn("zbar", zsumFold / col("nn").cast("double"))
    val ssbFold = aggregate(transform(col("arr"), x =>
      nD(x) * (aD(x) / (nD(x) * nD(x)) - col("zbar")) *
        (aD(x) / (nD(x) * nD(x)) - col("zbar"))),
      lit(0.0), (acc, t) => acc + t)
    staged.withColumn("ssb", ssbFold)
      .select(col("nn").as("n"), col("k").as("k_groups"),
        when(col("k") >= 2 && col("nn") > col("k") && col("ssw") > 0,
          round(((col("nn") - col("k")).cast("double") * col("ssb")) /
            ((col("k") - 1).cast("double") * col("ssw")), 6))
          .as("w_6"))
  }

  /** C121: Bartlett's variance-homogeneity test (Bartlett 1937) —
    * the PARAMETRIC apex of the spread-equality trio (C107
    * Brown–Forsythe median-robust → C120 Levene mean-centered →
    * this): most powerful under normality, notoriously sensitive
    * away from it — carried for the case where the normality box is
    * already ticked.
    *
    * {{{
    *   T = (N−k)·ln s_p² − Σ (n_i−1)·ln s_i²
    *   C = 1 + (Σ 1/(n_i−1) − 1/(N−k)) / (3(k−1));  χ² = T / C
    * }}}
    *
    * Exactness: per-group (n_i, S_i, Q_i) exact; s_i² =
    * (n_i·Q_i − S_i²)/(n_i(n_i−1)) is one IEEE division of an exact
    * decimal; s_p² and every Σ fold in group-key order with a 0.0
    * prepend; lns enter once per group (6dp terminal — the ln-sum
    * rule). Groups with n_i < 2 DROP (no variance); null χ² when
    * k < 2 or any s_i² ≤ 0.
    *
    * @return one row: (n, k_groups, chi2_6).
    */
  def bartlett(df: DataFrame, groupCol: String,
               valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val grp = d.groupBy(col("g")).agg(count(lit(1)).as("ng"),
        sum(col("v").cast(dec)).as("s"),
        sum(col("v").cast(dec) * col("v")).as("q"))
      .filter(col("ng") >= 2)
    val folded = grp.agg(
      array_sort(collect_list(struct(col("g"), col("ng"), col("s"),
        col("q")))).as("arr"),
      sum(col("ng")).as("nn"), count(lit(1)).as("k"))
    def nD(x: Column) = x("ng").cast("double")
    def s2(x: Column) =
      (x("ng").cast(dec) * x("q") - x("s") * x("s")).cast("double") /
        (nD(x) * (nD(x) - 1.0))
    val pooledFold = aggregate(transform(col("arr"), x =>
      (nD(x) - 1.0) * s2(x)), lit(0.0), (acc, t) => acc + t)
    val lnFold = aggregate(transform(col("arr"), x =>
      (nD(x) - 1.0) * log(s2(x))), lit(0.0), (acc, t) => acc + t)
    val invFold = aggregate(transform(col("arr"), x =>
      lit(1.0) / (nD(x) - 1.0)), lit(0.0), (acc, t) => acc + t)
    val s2min = aggregate(transform(col("arr"), x => s2(x)),
      lit(Double.MaxValue), (acc, t) => least(acc, t))
    val nkD = (col("nn") - col("k")).cast("double")
    val t = nkD * log(col("pooled") / nkD) - col("lnsum")
    val c = lit(1.0) + (col("invsum") - lit(1.0) / nkD) /
      (lit(3.0) * (col("k") - 1).cast("double"))
    folded
      .withColumn("pooled", pooledFold)
      .withColumn("lnsum", lnFold)
      .withColumn("invsum", invFold)
      .withColumn("s2min", s2min)
      .select(col("nn").as("n"), col("k").as("k_groups"),
        when(col("k") >= 2 && col("s2min") > 0,
          round(t / c, 6)).as("chi2_6"))
  }

  /** C123: Grubbs' maximum-deviation outlier test (Grubbs 1950;
    * Grubbs & Beck 1972) — "is the single most extreme value an
    * outlier": G = max|x − x̄| / s, with the suspect value surfaced.
    * The one-at-a-time companion of C89's Tukey fences (which flag a
    * SET) and C37's MAD screen (robust center): Grubbs is the
    * classical normal-theory form referees ask for.
    *
    * Exactness: deviations scaled by n — u = |n·x − S| exact
    * decimal; the suspect is max(struct(u, x)) (largest value among
    * maximal-deviation ties — deterministic, and what the oracle's
    * max-filter computes); G = (max u / n) / √((n·Q − S²)/(n(n−1)))
    * in one fixed IEEE tree of exact carriers, 6dp. Null when n < 3
    * or zero variance.
    *
    * Plan: one 1-row agg broadcast back into a second agg — two
    * scans, no window, no driver job.
    *
    * @return one row: (n, suspect, g_6).
    */
  def grubbs(df: DataFrame, valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.select(col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val tot = d.agg(count(lit(1)).cast(dec).as("n0"),
      sum(col("v").cast(dec)).as("s0"))
    val u = d.crossJoin(broadcast(tot))
      .select(col("v"),
        abs(col("n0") * col("v") - col("s0")).cast(dec).as("u"))
    val agg = u.agg(count(lit(1)).as("n"),
      max(struct(col("u"), col("v"))).as("mx"),
      sum(col("v").cast(dec)).as("s"),
      sum(col("v").cast(dec) * col("v")).as("q"))
    val nD = col("n").cast("double")
    val varCar =
      (col("n").cast(dec) * col("q") - col("s") * col("s"))
        .cast("double") / (nD * (nD - 1.0))
    agg.select(col("n"), col("mx")("v").as("suspect"),
      when(col("n") >= 3 && varCar > 0,
        round((col("mx")("u").cast("double") / nD) / sqrt(varCar), 6))
        .as("g_6"))
  }

  /** C125: Ansari–Bradley scale test (Ansari & Bradley, AMS 1960) —
    * the RANK rung of the spread-equality ladder (C121 Bartlett
    * normal-theory → C120 Levene mean → C107 Brown–Forsythe median →
    * this, fully nonparametric): score each value by its distance
    * from the NEAREST end of the pooled ranking, a = min(R, N+1−R);
    * a compressed group has systematically higher scores. Valid with
    * no moment assumptions at all — the scale analog of C71's
    * Mann–Whitney location test.
    *
    * Exactness: the mannWhitney 2×-carrier discipline — midranks as
    * exact integers R2 = 2·hi − t + 1 from the value-cardinality
    * table, scores a2 = min(R2, 2(N+1) − R2); W2 = Σ_A a2, S2 = Σ a2
    * and Q2 = Σ a2² exact decimals. z uses the general two-sample
    * linear-rank-statistic moments (tie-exact by construction —
    * midranks ARE the conditional scores):
    * {{{
    *   z = (N·W2 − n_a·S2) / N / √(n_a·n_b·(N·Q2 − S2²)/(N²(N−1)))
    * }}}
    * one fixed IEEE tree (2× carriers cancel), 6dp; null when either
    * group is empty or the variance degenerates.
    *
    * Plan: one keyed agg → value-cardinality window → one 1-row agg.
    *
    * @return one row: (n_a, n_b, w2_stat, z_6).
    */
  def ansariBradley(df: DataFrame, groupCol: String, valueCol: String,
                    groupA: String, groupB: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df
      .filter(col(groupCol) === groupA || col(groupCol) === groupB)
      .select((col(groupCol) === groupA).as("isa"),
        col(valueCol).cast("long").as("v"))
      .filter(col("v").isNotNull)
    val g = d.groupBy(col("v")).agg(
      sum(when(col("isa"), 1L).otherwise(0L)).as("ta"),
      sum(when(col("isa"), 0L).otherwise(1L)).as("tb"))
    val tot = g.agg(coalesce(sum(col("ta") + col("tb")), lit(0L))
      .as("nn"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val ranked = g
      .withColumn("hi", sum(col("ta") + col("tb")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("r2",
        col("hi") * 2 - (col("ta") + col("tb")) + 1)
      .withColumn("a2",
        least(col("r2"), (col("nn") + 1) * 2 - col("r2")))
    val agg = ranked.agg(
      coalesce(sum(col("ta")), lit(0L)).as("n_a"),
      coalesce(sum(col("tb")), lit(0L)).as("n_b"),
      coalesce(sum((col("ta") * col("a2")).cast(dec)), lit(0L)
        .cast(dec)).as("w2"),
      coalesce(sum(((col("ta") + col("tb")) * col("a2")).cast(dec)),
        lit(0L).cast(dec)).as("s2"),
      coalesce(sum(((col("ta") + col("tb")).cast(dec) * col("a2")
        * col("a2"))), lit(0L).cast(dec)).as("q2"))
    val nDec = (col("n_a") + col("n_b")).cast(dec)
    val nD = (col("n_a") + col("n_b")).cast("double")
    val num = (nDec * col("w2") - col("n_a").cast(dec) * col("s2"))
      .cast("double")
    val varCar = (col("n_a").cast(dec) * col("n_b") *
      (nDec * col("q2") - col("s2") * col("s2"))).cast("double") /
      (nD * nD * (nD - 1.0))
    agg.select(col("n_a"), col("n_b"),
      col("w2").cast("long").as("w2_stat"),
      when(col("n_a") > 0 && col("n_b") > 0 && varCar > 0,
        round(num / nD / sqrt(varCar), 6)).as("z_6"))
  }

  /** C124: between-group Theil T inequality decomposition (Theil
    * 1967; decomposability Shorrocks, Econometrica 1980) — the
    * entropy member of the concentration family beside C95's Gini
    * and C46's Lorenz deciles: T_between = Σ_g s_g·ln(s_g/p_g) where
    * s_g is the group's value share and p_g its population share.
    * Unlike Gini, Theil decomposes EXACTLY into between + within, so
    * the between-group term is the standard "how much inequality is
    * explained by the grouping" readout.
    *
    * Exactness: per-group (n_g, S_g) and totals exact; each term is
    * (S_g/S)·ln((S_g·N)/(n_g·S)) — exact decimal products, ONE IEEE
    * division inside the ln (the exact-ratio rule), share one more —
    * folded in group-key order with a 0.0 prepend, 6dp. Zero-share
    * groups contribute 0 (lim x·ln x = 0). Requires value ≥ 0
    * semantics (shares); caller supplies non-negative integers.
    *
    * @return one row: (n, n_groups, total, theil_between_6).
    */
  def theilBetween(df: DataFrame, groupCol: String,
                   valueCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val d = df.select(col(groupCol).cast("string").as("g"),
        col(valueCol).cast("long").as("v"))
      .filter(col("g").isNotNull && col("v").isNotNull)
    val grp = d.groupBy(col("g")).agg(count(lit(1)).as("ng"),
      sum(col("v").cast(dec)).as("sg"))
    val folded = grp.agg(
      array_sort(collect_list(struct(col("g"), col("ng"), col("sg"))))
        .as("arr"),
      sum(col("ng")).as("nn"), sum(col("sg")).as("ss"),
      count(lit(1)).as("k"))
    val termFold = aggregate(transform(col("arr"), x =>
      when(x("sg") > 0,
        (x("sg").cast("double") / col("ss").cast("double")) *
          log((x("sg") * col("nn")).cast("double") /
            (x("ng").cast(dec) * col("ss")).cast("double")))
        .otherwise(lit(0.0))),
      lit(0.0), (acc, t) => acc + t)
    folded.select(col("nn").as("n"), col("k").as("n_groups"),
      col("ss").cast("long").as("total"),
      when(col("ss") > 0, round(termFold, 6)).as("theil_between_6"))
  }
}
