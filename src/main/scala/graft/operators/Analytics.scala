package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-analytics operators over the activity stream (SURVEY.md §2.C):
  * marketing attribution, time-bounded sequential funnels, and join-key
  * skew diagnostics. All are single-keyed-shuffle window plans — the
  * per-user event timeline is the partition, so the work distributes by
  * user at any scale, and nothing ever self-joins the event stream.
  */
object Analytics {

  /** Last-touch attribution: every conversion event is credited to the
    * nearest PRECEDING non-conversion event ("channel") of the same
    * user. One window pass per user timeline (`last(ignoreNulls)` over
    * the unbounded-preceding frame) — the classic alternative, a
    * per-conversion self-join against prior events, is quadratic in
    * events-per-user and shuffles twice.
    *
    * Conversions with no prior event credit the `"none"` channel.
    * Reference basis: the reference tracks per-phase metrics but has no
    * attribution; this is the events-side analytics the brief's §C
    * window family covers.
    */
  def lastTouch(events: DataFrame, userCol: String, tsCol: String,
                tieCol: String, typeCol: String,
                conversionType: String): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("__channel",
        last(when(col(typeCol) =!= conversionType, col(typeCol)),
          ignoreNulls = true).over(w))
      .filter(col(typeCol) === conversionType)
      .withColumn("channel", coalesce(col("__channel"), lit("none")))
      .drop("__channel")
  }

  /** Linear multi-touch attribution: every conversion's value is split
    * EQUALLY across the non-conversion events ("touches") of the same
    * user since the previous conversion (exclusive). Completes the
    * attribution family next to [[lastTouch]]: last-touch answers "what
    * closed", linear answers "what participated".
    *
    * Plan shape: ONE window pass per user timeline assigns every event
    * its journey segment — the count of conversions strictly before it
    * (so touches between conversion k and k+1 share segment k with
    * conversion k+1) — then two keyed aggregates over (user, segment).
    * No per-conversion self-join (the naive form is quadratic in
    * events-per-user); trailing touches after a user's last conversion
    * match no conversion and drop in the join.
    *
    * Determinism: per-touch credit is integer floor division,
    * `cents·10⁶ div n_touches` micro-cents — a sum of integers, exact
    * at any parallelism and on any engine (a double 1/n split would be
    * fold-order-dependent). The div remainder (< n_touches µ¢ per
    * conversion) is deliberately dropped, not redistributed: remainder
    * placement would need an arbitrary touch order. Conversions with no
    * prior touch credit the `"none"` channel in full. Sums accumulate
    * in decimal(38,0) (long overflows near sf100).
    *
    * @return (channel, n_touches, n_journeys, credited_cents) where
    *         credited_cents = Σ per-touch micro-cents div 10⁶.
    */
  def linearAttribution(events: DataFrame, userCol: String, tsCol: String,
                        tieCol: String, typeCol: String,
                        centsCol: String, conversionType: String): DataFrame = {
    val wPrev = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val seg = events.withColumn("__seg",
      count(when(col(typeCol) === conversionType, lit(1))).over(wPrev))
    val touches = seg.filter(col(typeCol) =!= conversionType)
      .groupBy(col(userCol).as("u"), col("__seg").as("sg"),
        col(typeCol).as("channel"))
      .agg(count(lit(1)).as("n_ch"))
    val segTotals = touches.groupBy(col("u"), col("sg"))
      .agg(sum(col("n_ch")).as("n_touches"))
    val convs = seg.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("u"), col("__seg").as("sg"),
        col(centsCol).as("cents"))
    val joined = convs.join(segTotals, Seq("u", "sg"), "left")
    // integral `div` has no Column DSL method; expr() is the idiom
    // (q_lorenz precedent)
    val perTouchMicro =
      expr("cast(cents as decimal(38,0)) * 1000000 div n_touches")
    val credited = joined.filter(col("n_touches").isNotNull)
      .join(touches, Seq("u", "sg"))
      .select(col("channel"), col("n_ch"),
        (perTouchMicro * col("n_ch")).cast("decimal(38,0)").as("micro"))
    val none = joined.filter(col("n_touches").isNull)
      .select(lit("none").as("channel"), lit(0L).as("n_ch"),
        (col("cents").cast("decimal(38,0)") * lit(1000000L)).as("micro"))
    credited.unionByName(none)
      .groupBy(col("channel"))
      .agg(sum(col("n_ch")).as("n_touches"),
        count(lit(1)).as("n_journeys"),
        expr("cast(sum(micro) div 1000000 as long)").as("credited_cents"))
  }

  /** C85: time-decay multi-touch attribution — [[linearAttribution]]'s
    * recency-weighted sibling, the other standard marketing model: a
    * touch `k` half-lives before its conversion earns relative weight
    * 2^-k, so recent touches dominate while every touch in the journey
    * keeps nonzero credit (k capped at `maxHalfLives`).
    *
    * Exactness discipline: weights are the INTEGERS 2^(cap−k), never
    * the doubles 2^-k (normalizing makes them equivalent), per-journey
    * credit is cents·10⁶·w div Σw (floor micro-cents, remainder
    * dropped — the C47 rule), and every sum is integer/decimal:
    * hash-stable at any parallelism, no pow(), no float folds.
    *
    * Plan shape: two window passes over the per-user timeline (segment
    * number = conversions before me; next conversion's timestamp),
    * then channel-cardinality aggregates — O(events) per user, one
    * keyed shuffle+sort, no event-stream self-join (C35's rationale).
    *
    * @param usCol epoch-microseconds column (integer, pre-extracted)
    * @return (channel, n_touches, n_journeys, credited_cents);
    *         conversions with no prior touch credit "none" in full.
    */
  def timeDecayAttribution(events: DataFrame, userCol: String,
                           usCol: String, tieCol: String, typeCol: String,
                           centsCol: String, conversionType: String,
                           halfLifeUs: Long,
                           maxHalfLives: Int = 20): DataFrame = {
    require(halfLifeUs > 0 && maxHalfLives >= 1 && maxHalfLives <= 40)
    val wPrev = Window.partitionBy(col(userCol))
      .orderBy(col(usCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNext = Window.partitionBy(col(userCol))
      .orderBy(col(usCol), col(tieCol))
      .rowsBetween(1, Window.unboundedFollowing)
    val seg = events
      .withColumn("__seg",
        count(when(col(typeCol) === conversionType, lit(1))).over(wPrev))
      .withColumn("__conv_us",
        min(when(col(typeCol) === conversionType, col(usCol))).over(wNext))
    // per (journey, channel): touch count + integer weight sum; a
    // touch after the last conversion has no __conv_us and credits
    // nothing (the linearAttribution segment rule)
    val byChan = seg
      .filter(col(typeCol) =!= conversionType && col("__conv_us").isNotNull)
      .withColumn("__delta", col("__conv_us") - col(usCol))
      .withColumn("__w", expr(
        s"shiftleft(cast(1 as bigint), $maxHalfLives - " +
          s"cast(least(__delta div ${halfLifeUs}L, $maxHalfLives) as int))"))
      .groupBy(col(userCol).as("u"), col("__seg").as("sg"),
        col(typeCol).as("channel"))
      .agg(count(lit(1)).as("n_ch"), sum(col("__w")).as("w_ch"))
    val segTotals = byChan.groupBy(col("u"), col("sg"))
      .agg(sum(col("w_ch")).as("w_tot"))
    val convs = seg.filter(col(typeCol) === conversionType)
      .select(col(userCol).as("u"), col("__seg").as("sg"),
        col(centsCol).as("cents"))
    val joined = convs.join(segTotals, Seq("u", "sg"), "left")
    val credited = joined.filter(col("w_tot").isNotNull)
      .join(byChan, Seq("u", "sg"))
      .select(col("channel"), col("n_ch"),
        expr("cast(cents as decimal(38,0)) * 1000000 * w_ch div w_tot")
          .cast("decimal(38,0)").as("micro"))
    val none = joined.filter(col("w_tot").isNull)
      .select(lit("none").as("channel"), lit(0L).as("n_ch"),
        (col("cents").cast("decimal(38,0)") * lit(1000000L)).as("micro"))
    credited.unionByName(none)
      .groupBy(col("channel"))
      .agg(sum(col("n_ch")).as("n_touches"),
        count(lit(1)).as("n_journeys"),
        expr("cast(sum(micro) div 1000000 as long)").as("credited_cents"))
  }

  /** Time-bounded ordered funnel (MATCH_RECOGNIZE-lite): counts, per
    * user, conversions that complete the chain step1 → step2 → step3
    * with each hop within `maxGapUs` microseconds of the previous
    * step. Two window passes over the per-user timeline:
    *   1. each step2 event is "qualified" if a step1 occurred within
    *      the gap before it;
    *   2. each step3 event converts if a QUALIFIED step2 occurred
    *      within the gap before it.
    * Both are `max` over an unbounded-preceding frame — O(events) per
    * user, one keyed shuffle+sort total, no self-joins (the naive
    * 3-way event-stream self-join is cubic in events-per-user).
    *
    * @param usCol  epoch-microseconds column (integer, pre-extracted)
    * @return (user, n_conversions) for users with ≥1 full chain
    */
  def sequenceFunnel(events: DataFrame, userCol: String, usCol: String,
                     tieCol: String, typeCol: String,
                     step1: String, step2: String, step3: String,
                     maxGapUs: Long): DataFrame = {
    val wPrev = Window.partitionBy(col(userCol))
      .orderBy(col(usCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    events
      .withColumn("__last1",
        max(when(col(typeCol) === step1, col(usCol))).over(wPrev))
      .withColumn("__q2",
        when(col(typeCol) === step2 &&
          col("__last1") >= col(usCol) - maxGapUs, col(usCol)))
      .withColumn("__lastq2", max(col("__q2")).over(wPrev))
      .filter(col(typeCol) === step3 &&
        col("__lastq2") >= col(usCol) - maxGapUs)
      .groupBy(col(userCol))
      .agg(count(lit(1)).as("n_conversions"))
  }

  /** Join-key skew diagnostics: the numbers an engineer needs BEFORE
    * picking broadcast / salting / AQE for a key — distinct keys, total
    * rows, the hottest key's absolute count and its ratio to the mean,
    * and exact discrete p50/p99 of the per-key count distribution
    * (integer rank arithmetic via [[Stats.discreteQuantiles]]).
    * Key-cardinality shuffle only; the quantile window runs over
    * DISTINCT count values, not keys.
    */
  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val q = Stats.discreteQuantiles(counts, Nil, "n", Seq(5000, 9900))
    counts.agg(
        count(lit(1)).as("n_keys"),
        sum(col("n")).as("n_rows"),
        max(col("n")).as("max_key_rows"))
      .crossJoin(broadcast(q))
      .select(col("n_keys"), col("n_rows"), col("max_key_rows"),
        // raw double, deliberately UNROUNDED: (max·keys)/rows from
        // exact integers is bit-identical on every engine, while a
        // fixed-decimal round of a rational can land exactly on a
        // half-boundary where HALF_UP and HALF_EVEN engines diverge
        (col("max_key_rows").cast("double") * col("n_keys").cast("double")
          / col("n_rows").cast("double")).as("max_over_mean"),
        col("q5000").as("p50_key_rows"), col("q9900").as("p99_key_rows"))
  }

  /** C42: market-basket association rules — support / confidence /
    * lift over item pairs co-occurring in a basket (order). The
    * a-priori pruning step is built in: items below `minSupport`
    * baskets are dropped BEFORE pairing, so pair generation runs only
    * over frequent items (at 100 TB this is the difference between a
    * bounded pair table and n² explosion on hot baskets — the same
    * length-filter idea as the Jaccard join's prefix filter).
    *
    * Scale shape — ONE basket-keyed aggregate collapses the fact table
    * to (basket, sorted distinct item set) rows; pairs are generated
    * IN-ROW over those sets (explode of i<j combinations) and counted
    * by a hash aggregate. The original basket-keyed SELF-JOIN
    * formulation shuffled the fact table twice more to build the same
    * pairs through a join — the lesson [[frequentTriples]] recorded
    * one lattice level up, now applied here too. Small inputs (total
    * set cells after collapse within the shared [[graft.hybrid]]
    * rung) count on the driver instead — one job, zero further
    * shuffles — with both paths asserted bit-equal (Round4OpsSpec).
    *
    * All counts are exact integers; lift = (N·supp_ab)/(supp_a·supp_b)
    * and confidence = supp_ab/supp_a are each ONE double division of
    * exactly-representable integers — bit-identical on every engine,
    * raw (unrounded) by the same rule as [[keySkewProfile]].
    *
    * @param baskets (basket, item) pairs; duplicates collapse.
    * @return (item_a, item_b, supp_a, supp_b, supp_ab, confidence,
    *         lift) for pairs with supp_ab ≥ minSupport, item_a < item_b.
    */
  def basketLift(baskets: DataFrame, basketCol: String, itemCol: String,
                 minSupport: Long): DataFrame = {
    val spark = baskets.sparkSession
    import spark.implicits._
    val bs = baskets
      .groupBy(col(basketCol).as("bk"))
      .agg(sort_array(collect_set(col(itemCol))).as("items"))
      .select(col("items"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val st = bs.agg(count(lit(1)),
      coalesce(sum(size(col("items"))), lit(0L))).head
    val nBaskets = st.getLong(0)
    // 32 bytes per set cell: the item string plus its driver count entry
    graft.hybridSized("basketLift", bs.as[Seq[String]], st.getLong(1) * 32)(
        sets => Some(localPairCounts(sets, nBaskets, minSupport)
          .toDF("item_a", "item_b", "supp_a", "supp_b", "supp_ab",
            "confidence", "lift"))) { bs =>
      val supp = bs.select(explode(col("items")).as("it"))
        .groupBy(col("it")).agg(count(lit(1)).as("supp"))
        .filter(col("supp") >= minSupport) // a-priori: prune before pairing
      val f1arr = supp.agg(sort_array(collect_list(col("it"))).as("f1"))
      val pairs = bs.crossJoin(broadcast(f1arr))
        .select(filter(col("items"), x => array_contains(col("f1"), x))
          .as("items"))
        .filter(size(col("items")) >= 2)
        .select(explode(flatten(transform(col("items"), (x, i) =>
          transform(slice(col("items"), i + lit(2), size(col("items"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .groupBy(col("p.a").as("item_a"), col("p.b").as("item_b"))
        .agg(count(lit(1)).as("supp_ab"))
        .filter(col("supp_ab") >= minSupport)
      val out = pairs
        .join(broadcast(supp.select(col("it").as("item_a"),
          col("supp").as("supp_a"))), "item_a")
        .join(broadcast(supp.select(col("it").as("item_b"),
          col("supp").as("supp_b"))), "item_b")
        .select(col("item_a"), col("item_b"),
          col("supp_a"), col("supp_b"), col("supp_ab"),
          (col("supp_ab").cast("double") / col("supp_a").cast("double"))
            .as("confidence"),
          // nBaskets is already an exact collected long — a literal, not
          // another broadcast-crossJoin job
          ((lit(nBaskets) * col("supp_ab")).cast("double") /
            (col("supp_a") * col("supp_b")).cast("double")).as("lift"))
      // bounded output (pairs above minSupport): seal — materialize,
      // release the persisted basket table (graft.sealResult contract)
      graft.sealResult(out, bs)
    }
  }

  /** Driver-side pair counting over collected basket sets — the
    * small-input fast path (the Graph.scala hybrid-rung pattern).
    * Identical arithmetic to the distributed plan: exact long counts,
    * one IEEE division each for confidence and lift; sets arrive
    * sorted from `sort_array`, so i<j iteration preserves the
    * item_a < item_b contract.
    */
  private def localPairCounts(sets: Array[Seq[String]], nBaskets: Long,
      minSupport: Long): Seq[(String, String, Long, Long, Long, Double,
      Double)] = {
    val supp = scala.collection.mutable.HashMap.empty[String, Long]
    sets.foreach(_.foreach(it =>
      supp.update(it, supp.getOrElse(it, 0L) + 1L)))
    val freq = supp.filter(_._2 >= minSupport)
    val pair = scala.collection.mutable.HashMap.empty[(String, String), Long]
    sets.foreach { s =>
      val f = s.iterator.filter(freq.contains).toArray
      var i = 0
      while (i < f.length - 1) {
        var j = i + 1
        while (j < f.length) {
          val k = (f(i), f(j))
          pair.update(k, pair.getOrElse(k, 0L) + 1L)
          j += 1
        }
        i += 1
      }
    }
    pair.iterator
      .filter(_._2 >= minSupport)
      .map { case ((a, b), ab) =>
        val sa = freq(a); val sb = freq(b)
        (a, b, sa, sb, ab,
          ab.toDouble / sa.toDouble,
          (nBaskets * ab).toDouble / (sa * sb).toDouble)
      }.toSeq
  }

  /** Frequent 3-itemsets with RELATIVE minimum support (Agrawal &
    * Srikant, VLDB 1994 Apriori level 3): itemsets {a,b,c} present in
    * at least `minSupportBp`/10000 of all baskets. Extends
    * [[basketLift]]'s pair mining one level up the lattice.
    *
    * Scale shape — ONE basket-keyed aggregate collapses the fact table
    * to (basket, sorted item set) rows; every lattice level after that
    * is IN-ROW combination generation over those sets (explode +
    * hash-aggregate), never a basket-keyed self-join — the original
    * three-way self-join formulation re-shuffled the fact table per
    * lattice level and ran 10× slower. Apriori downward-closure prunes
    * bound the explosion: (1) items below minsup are filtered out of
    * every basket set first (broadcast frequent-item array); (2) each
    * in-row (a,b, suffix) pair candidate is semi-joined against the
    * broadcast frequent-PAIR set BEFORE the third item explodes, so
    * triple volume is Σ|frequent-pair occurrences|·|suffix|, not
    * Σ width³. A triple is emitted iff its own count clears minsup —
    * by downward closure exactly the set a direct unpruned count
    * emits, so the DuckDB oracle counts triples directly.
    *
    * Relative (basis-point) support keeps the answer stable across
    * scale factors; the threshold is ceil(n_baskets·bp/10000) in exact
    * integer arithmetic.
    *
    * @return (item_a, item_b, item_c, supp_abc, support) with
    *         item_a < item_b < item_c and support = supp/n at 6dp.
    */
  def frequentTriples(baskets: DataFrame, basketCol: String,
                      itemCol: String, minSupportBp: Int): DataFrame = {
    require(minSupportBp > 0 && minSupportBp <= 10000)
    val spark = baskets.sparkSession
    import spark.implicits._
    val bs0 = baskets
      .groupBy(col(basketCol).as("bk"))
      .agg(sort_array(collect_set(col(itemCol))).as("items0"))
      .select(col("items0"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val st = bs0.agg(count(lit(1)),
      coalesce(sum(size(col("items0"))), lit(0L))).head
    val nBaskets = st.getLong(0)
    // exact integer ceil-division on collected longs, mirroring the
    // oracle's `//` — a double divide would round-trip through IEEE
    val minsup = (nBaskets * minSupportBp + 9999L) / 10000L
    // small input (total set cells within the size gate): count the
    // whole lattice on the driver — one job after the collapse, zero
    // further shuffles (the Graph.scala hybrid-rung pattern; both paths
    // asserted bit-equal in Round4OpsSpec). 32 bytes per set cell, the
    // basketLift footprint.
    graft.hybridSized("frequentTriples", bs0.as[Seq[String]],
        st.getLong(1) * 32)(sets =>
      Some(localTripleCounts(sets, nBaskets, minsup)
        .toDF("item_a", "item_b", "item_c", "supp_abc", "support"))) {
        bs0 =>
      // level 1: frequent items → broadcast array filtering basket sets
      val f1arr = bs0.select(explode(col("items0")).as("it"))
        .groupBy(col("it")).agg(count(lit(1)).as("s1"))
        .filter(col("s1") >= minsup)
        .agg(sort_array(collect_list(col("it"))).as("f1arr"))
      val bs = bs0.crossJoin(broadcast(f1arr))
        .select(filter(col("items0"), x => array_contains(col("f1arr"), x))
          .as("items"))
        .filter(size(col("items")) >= 2)
      // in-row (a, b, rest-after-b) candidates: i < j in the sorted set
      val pairRest = flatten(transform(col("items"), (x, i) =>
        transform(slice(col("items"), i + lit(2), size(col("items"))),
          (y, k) => struct(x.as("ia"), y.as("ib"),
            slice(col("items"), i + k + lit(3), size(col("items")))
              .as("rest")))))
      val cand = bs.select(explode(pairRest).as("pr"))
        .select(col("pr.ia").as("ia"), col("pr.ib").as("ib"),
          col("pr.rest").as("rest"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // level 2: frequent pairs (bounded by frequent-item²), broadcast
      val p2 = cand.groupBy(col("ia"), col("ib"))
        .agg(count(lit(1)).as("s2"))
        .filter(col("s2") >= minsup)
        .select(col("ia").as("pa"), col("ib").as("pb"))
      // level 3: third item explodes only under a frequent (a, b)
      val triples = cand
        .join(broadcast(p2),
          col("ia") === col("pa") && col("ib") === col("pb"), "left_semi")
        .select(col("ia"), col("ib"), explode(col("rest")).as("ic"))
        .groupBy(col("ia").as("item_a"), col("ib").as("item_b"),
          col("ic").as("item_c"))
        .agg(count(lit(1)).as("supp_abc"))
        .filter(col("supp_abc") >= minsup)
      graft.sealResult(
        triples.select(col("item_a"), col("item_b"), col("item_c"),
          col("supp_abc"),
          round(col("supp_abc").cast("double") / lit(nBaskets.toDouble), 6)
            .as("support")),
        bs0, cand)
    }
  }

  /** Driver-side Apriori lattice over collected basket sets — the
    * small-input fast path of [[frequentTriples]]. Runs the identical
    * three-level downward-closure prune (frequent items → frequent
    * pairs gating third-item expansion) and the identical rounding:
    * `BigDecimal(x).setScale(6, HALF_UP)` is exactly Spark's
    * `round(double, 6)` evaluation.
    */
  private def localTripleCounts(sets: Array[Seq[String]], nBaskets: Long,
      minsup: Long): Seq[(String, String, String, Long, Double)] = {
    val s1 = scala.collection.mutable.HashMap.empty[String, Long]
    sets.foreach(_.foreach(it =>
      s1.update(it, s1.getOrElse(it, 0L) + 1L)))
    val f1 = s1.filter(_._2 >= minsup)
    val filtered = sets.iterator
      .map(_.iterator.filter(f1.contains).toArray)
      .filter(_.length >= 2).toArray
    val s2 = scala.collection.mutable.HashMap.empty[(String, String), Long]
    filtered.foreach { f =>
      var i = 0
      while (i < f.length - 1) {
        var j = i + 1
        while (j < f.length) {
          val k = (f(i), f(j))
          s2.update(k, s2.getOrElse(k, 0L) + 1L)
          j += 1
        }
        i += 1
      }
    }
    val p2 = s2.iterator.filter(_._2 >= minsup).map(_._1).toSet
    val s3 =
      scala.collection.mutable.HashMap.empty[(String, String, String), Long]
    filtered.foreach { f =>
      var i = 0
      while (i < f.length - 2) {
        var j = i + 1
        while (j < f.length - 1) {
          if (p2.contains((f(i), f(j)))) {
            var k = j + 1
            while (k < f.length) {
              val t = (f(i), f(j), f(k))
              s3.update(t, s3.getOrElse(t, 0L) + 1L)
              k += 1
            }
          }
          j += 1
        }
        i += 1
      }
    }
    s3.iterator.filter(_._2 >= minsup).map { case ((a, b, c), s) =>
      (a, b, c, s,
        BigDecimal(s.toDouble / nBaskets.toDouble)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toSeq
  }

  /** A/B experiment read-out: per variant the metric moments, the
    * two-sample Welch z statistic on the metric, and a Wilson score
    * interval (z=1.96) on the conversion rate. The experiment-
    * analysis shape every event pipeline ends in.
    *
    * Scale shape: ONE aggregate over the fact table (map-combinable
    * exact integer/decimal moments per variant) collapses everything
    * to variant-cardinality rows; all comparisons happen on that
    * 2-row frame. No window, no self-join, no second scan.
    *
    * Float discipline (corr_stats rule): moments are exact decimal
    * sums of integer cents; mean/variance/z are fixed-order IEEE ops
    * on those exact integers — deterministic at any parallelism. The
    * z statistic uses Welch's unpooled variance; the Wilson bounds
    * use the standard z²=3.8416 constant written as an exact decimal
    * literal so both engines fold it identically.
    *
    * @param df         fact rows
    * @param variantCol A/B arm label
    * @param centsCol   integral metric (e.g. cents)
    * @param convCol    boolean conversion indicator
    * @return one row per variant: n, mean, var (sample), conv_rate,
    *         wilson_lo, wilson_hi, plus z_vs_first: the Welch z of
    *         this variant against the lexicographically first variant
    *         (null for the baseline itself).
    */
  def abTest(df: DataFrame, variantCol: String, centsCol: String,
             convCol: String): DataFrame = {
    val dec = "decimal(38,0)"
    val m = df.groupBy(col(variantCol).as("variant"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col(centsCol).cast(dec)).as("sx"),
        sum(col(centsCol).cast(dec) * col(centsCol).cast(dec)).as("sxx"),
        sum(when(col(convCol), 1L).otherwise(0L)).cast(dec).as("conv"))
    // sample variance from exact moments: (n·Sxx − Sx²) / (n·(n−1))
    val withStats = m.select(col("variant"),
      col("n").cast("long").as("n"),
      (col("sx").cast("double") / col("n").cast("double")).as("metric_mean"),
      ((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") /
        (col("n") * (col("n") - 1)).cast("double")).as("metric_var"),
      (col("conv").cast("double") / col("n").cast("double")).as("conv_rate"),
      col("conv").cast("long").as("n_conv"))
    // Wilson score interval: (p̂ + z²/2n ± z·√(p̂(1−p̂)/n + z²/4n²)) / (1 + z²/n)
    val zz = lit(BigDecimal("3.8416")) // 1.96²; exact decimal literal
    val nD = col("n").cast("double")
    val p = col("conv_rate")
    val zzD = zz.cast("double")
    val center = p + zzD / (lit(2.0) * nD)
    val half = sqrt(p * (lit(1.0) - p) / nD +
      zzD / (lit(4.0) * nD * nD)) * lit(1.96)
    val denom = lit(1.0) + zzD / nD
    val wilson = withStats
      .withColumn("wilson_lo", (center - half) / denom)
      .withColumn("wilson_hi", (center + half) / denom)
    // baseline = lexicographically first variant, broadcast back
    val base = wilson.orderBy(col("variant")).limit(1)
      .select(col("n").as("bn"), col("metric_mean").as("bmean"),
        col("metric_var").as("bvar"), col("variant").as("bvariant"))
    wilson.crossJoin(broadcast(base))
      .withColumn("z_vs_first",
        when(col("variant") === col("bvariant"), lit(null).cast("double"))
          .otherwise((col("metric_mean") - col("bmean")) /
            sqrt(col("metric_var") / col("n").cast("double") +
              col("bvar") / col("bn").cast("double"))))
      .drop("bn", "bmean", "bvar", "bvariant")
  }

  /** Funnel drop-off table: per step, how many users have a STRICTLY
    * SEQUENTIALLY CHAINED occurrence — an event counts at step k only
    * if a chained step-(k−1) event happened strictly earlier in the
    * user's timeline (so view→click→purchase means THIS order, not
    * mere presence). The per-step survivors view q_funnel's single
    * summary row doesn't give.
    *
    * Plan shape: ONE keyed shuffle+sort carries k−1 running-min window
    * passes (chained-time so far), like [[sequenceFunnel]] without the
    * gap bound; the survivor counts are one aggregate (distinct users
    * per step) over the flagged stream. O(events) per user — the naive
    * form is a k-way self-join.
    *
    * @return (step_idx, step, n_users) — one row per step.
    */
  def funnelSteps(events: DataFrame, userCol: String, usCol: String,
                  tieCol: String, typeCol: String,
                  steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty)
    val wPrev = Window.partitionBy(col(userCol))
      .orderBy(col(usCol), col(tieCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    var df = events.withColumn("__c1",
      when(col(typeCol) === steps.head, col(usCol)))
    for (k <- 2 to steps.length) {
      val chainedBefore = min(col(s"__c${k - 1}")).over(wPrev)
      df = df.withColumn(s"__c$k",
        when(col(typeCol) === steps(k - 1) && chainedBefore.isNotNull,
          col(usCol)))
    }
    val counts = (1 to steps.length).map(k =>
      countDistinct(when(col(s"__c$k").isNotNull, col(userCol)))
        .as(s"__n$k"))
    val one = df.agg(counts.head, counts.tail: _*)
    val rows = steps.zipWithIndex.map { case (s, i) =>
      struct(lit(i + 1).cast("long").as("step_idx"), lit(s).as("step"),
        col(s"__n${i + 1}").as("n_users"))
    }
    one.select(inline(array(rows: _*)))
  }

  /** Join-size pre-flight: the EXACT output cardinality of
    * left ⋈ right on a key, computed WITHOUT running the join —
    * per-key counts on each side (two keyed aggs), joined at
    * key-cardinality (never fact-cardinality), Σ nₗ·nᵣ. The companion
    * to [[keySkewProfile]]: skew says how one input distributes, this
    * says what a join of two will produce — the number that decides
    * broadcast vs shuffle vs salt BEFORE the 100 TB join is launched,
    * plus the hottest key's share of the blow-up (`max_key_out` —
    * a single key producing most of the output is the AQE-skew /
    * salting signal).
    *
    * All exact integer arithmetic; products/sums in decimal(38,0)
    * (hot-key nₗ·nᵣ alone can pass 2⁶³ at web scale).
    *
    * @return one row: n_keys_left/right/matched, rows_left/right,
    *         predicted_rows, max_key_out.
    */
  def joinSizeProfile(left: DataFrame, right: DataFrame,
                      lKey: String, rKey: String): DataFrame = {
    val dec = "decimal(38,0)"
    val l = left.filter(col(lKey).isNotNull).groupBy(col(lKey).as("k"))
      .agg(count(lit(1)).cast(dec).as("nl"))
    val r = right.filter(col(rKey).isNotNull).groupBy(col(rKey).as("k"))
      .agg(count(lit(1)).cast(dec).as("nr"))
    val m = l.join(r, Seq("k"), "full_outer")
    m.agg(
      count(when(col("nl").isNotNull, 1)).as("n_keys_left"),
      count(when(col("nr").isNotNull, 1)).as("n_keys_right"),
      count(when(col("nl").isNotNull && col("nr").isNotNull, 1))
        .as("n_keys_matched"),
      coalesce(sum(col("nl")), lit(0).cast(dec)).cast("long").as("rows_left"),
      coalesce(sum(col("nr")), lit(0).cast(dec)).cast("long").as("rows_right"),
      coalesce(sum(col("nl") * col("nr")), lit(0).cast(dec)).cast("long")
        .as("predicted_rows"),
      coalesce(max(col("nl") * col("nr")), lit(0).cast(dec)).cast("long")
        .as("max_key_out"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): merge two rankings
    * of the same candidate space — BM25 beside ANN, spend beside
    * frequency — into one, score = Σ 1/(k + rankᵢ). Rank-based, so no
    * score calibration between the rankers is needed; k=60 is the
    * literature constant.
    *
    * Scale shape: ONE full-outer equi-join on (query, doc) — both
    * sides are top-N rankings, so the join is bounded by the ranking
    * sizes, not any corpus — then a per-query window over ≤ 2N
    * candidate rows. The score is a TWO-term fixed-order IEEE sum of
    * exact-integer reciprocals (1/(k+rank) each ONE division) —
    * engine-stable, no accumulation-order ambiguity. Ties break on
    * doc id; absent-from-one-ranking contributes 0 (the RRF
    * convention).
    *
    * @param a,b (qCol, docCol, rankCol) rankings, rank 1-based.
    * @return (query, doc, rrf, fused_rank) top `topN` per query.
    */
  def rrfFuse(a: DataFrame, b: DataFrame, qCol: String, docCol: String,
              rankCol: String, k: Int, topN: Int): DataFrame = {
    val ar = a.select(col(qCol).as("q"), col(docCol).as("d"),
      col(rankCol).as("ra"))
    val br = b.select(col(qCol).as("q"), col(docCol).as("d"),
      col(rankCol).as("rb"))
    val fused = ar.join(br, Seq("q", "d"), "full_outer")
      .select(col("q"), col("d"),
        (coalesce(lit(1.0) / (lit(k) + col("ra")).cast("double"), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k) + col("rb")).cast("double"), lit(0.0)))
          .as("rrf"))
    val w = Window.partitionBy(col("q"))
      .orderBy(col("rrf").desc, col("d"))
    fused.withColumn("fused_rank", row_number().over(w).cast("long"))
      .filter(col("fused_rank") <= topN)
      .select(col("q"), col("d"), col("rrf"), col("fused_rank"))
  }

  /** u strictly dominates v: ≥ on every dim, > on at least one (both
    * already normalized to bigger-is-better). Equal points never
    * dominate each other — duplicates of a Pareto point ALL survive.
    */
  private def dominates(u: Array[Double], v: Array[Double]): Boolean = {
    var i = 0; var strict = false
    while (i < u.length) {
      if (u(i) < v(i)) return false
      if (u(i) > v(i)) strict = true
      i += 1
    }
    strict
  }

  /** Skyline (Pareto frontier) — Börzsönyi et al. 2001's operator:
    * the rows no other row beats on EVERY dimension ("biggest part at
    * the lowest price"). Each dim carries its direction
    * (`true` = maximize); optionally grouped (`keyCol`) for a
    * per-category frontier.
    *
    * Distributed plan — the skyline is DISTRIBUTIVE
    * (skyline(A ∪ B) = skyline(skyline(A) ∪ skyline(B)), since
    * dominance is transitive), so:
    *
    *  - global: per-partition skyline via a small in-memory buffer
    *    (mapPartitions — the imperative rung, used because dominance
    *    needs all-pairs semantics no window frame expresses), then one
    *    final pass over the tiny candidate union. Partitions are
    *    pre-sorted by Σdims DESC: a dominator always has a strictly
    *    larger sum, so within a sorted run the buffer only grows —
    *    no quadratic re-scan (the removal branch stays for the
    *    unsorted final pass).
    *  - grouped: ONE keyed shuffle; groups are contiguous after the
    *    in-partition sort, so a per-key buffer reset gives the exact
    *    per-key frontier in a single pass. Buffer memory is one KEY's
    *    skyline, not the partition.
    *
    * Candidates return as id-sets and semi-join back (AQE broadcasts
    * the typically-tiny frontier), so callers keep their full rows
    * and arbitrary schema. `idCol` must be unique. Rows with a null
    * dim are excluded (dominance is undefined on them).
    *
    * At 1000 executors the candidate union is Σ per-partition
    * frontiers — for correlated/random data O(partitions · log n);
    * a pathological anti-correlated dataset whose frontier IS the
    * data degenerates gracefully: the final pass streams it through
    * one task, and the answer was never going to be smaller.
    */
  def skyline(spark: org.apache.spark.sql.SparkSession, df: DataFrame,
              idCol: String, dims: Seq[(String, Boolean)],
              keyCol: Option[String] = None): DataFrame = {
    import spark.implicits._
    require(dims.nonEmpty, "skyline: at least one dimension")
    val dirCols = dims.map { case (c, bigger) =>
      val d = col(c).cast("double"); if (bigger) d else -d }
    val vec = array(dirCols: _*)
    // plain column addition for the sort key, not aggregate() over the
    // array — a higher-order lambda would run interpreted per row and
    // fence codegen for the whole projection
    val base = df.filter(dims.map(d => col(d._1).isNotNull).reduce(_ && _))
      .select(keyCol.map(col(_).cast("string")).getOrElse(lit("")).as("k"),
        col(idCol).cast("long").as("id"), vec.as("v"),
        dirCols.reduce(_ + _).as("s"))
    val parted = keyCol match {
      case Some(_) => base.repartition(col("k"))
        .sortWithinPartitions(col("k"), col("s").desc, col("id"))
      case None => base.sortWithinPartitions(col("s").desc, col("id"))
    }
    def sky(it: Iterator[(String, Long, Array[Double])])
        : Iterator[(String, Long, Array[Double])] = {
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Array[Double])]()
      val buf = scala.collection.mutable.ArrayBuffer[(Long, Array[Double])]()
      var curKey: String = null
      def flush(): Unit = {
        if (curKey != null) out ++= buf.map(p => (curKey, p._1, p._2))
        buf.clear()
      }
      for ((k, id, v) <- it) {
        if (k != curKey) { flush(); curKey = k }
        if (!buf.exists(p => dominates(p._2, v))) {
          var i = 0
          while (i < buf.length) {
            if (dominates(v, buf(i)._2)) buf.remove(i) else i += 1
          }
          buf += ((id, v))
        }
      }
      flush()
      out.iterator
    }
    val pts = parted.select(col("k"), col("id"), col("v"))
      .as[(String, Long, Array[Double])]
    val partial = pts.mapPartitions(sky _)
    // grouped: each key lives in one partition — already exact.
    // global: one final pass over the candidate union.
    val winners = (keyCol match {
      case Some(_) => partial
      case None => partial.coalesce(1).mapPartitions(sky _)
    }).map(_._2).toDF("__sky_id")
    df.join(winners, col(idCol) === col("__sky_id"), "left_semi")
  }
}
