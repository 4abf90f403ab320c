package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.StreamingEtl
import graft.streaming.StreamingEtl.{Event, SessionOut}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def ts(min: Int, sec: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 10:$min%02d:$sec%02d")

  test("streaming windowed agg finalizes windows behind the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingEtl.windowedAgg(input.toDF(), "10 minutes", "5 minutes")
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 10, "click", 2.0),
        Event(3, ts(11), 10, "view", 5.0))
      q.processAllAvailable()
      // advance watermark far past the first window
      input.addData(Event(4, ts(40), 10, "click", 1.0))
      q.processAllAvailable()
      val rows = spark.table("win_out").collect()
      val first = rows.find(_.getAs[Timestamp]("window_start") ==
        Timestamp.valueOf("2024-01-01 10:00:00")).get
      assert(first.getAs[Long]("n") == 2 && first.getAs[Double]("total") == 3.0)
    } finally q.stop()
  }

  test("native session_window merges gap-adjacent events, evicts on watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingEtl.sessionWindowAgg(input.toDF(), gap = "10 minutes",
        watermark = "5 minutes")
      .writeStream.format("memory").queryName("sess_win_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // user 10: events at t+1, t+2 (same session), then t+30 (new one)
      input.addData(
        Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 10, "click", 2.0),
        Event(3, ts(30), 10, "view", 5.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(90), 10, "click", 1.0)) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("sess_win_out").collect()
        .map(r => (r.getAs[Timestamp]("session_start"),
          r.getAs[Long]("n_events"), r.getAs[Double]("total_value")))
      // first session: 2 events within the 10-min gap, closes at t+12
      assert(rows.contains((Timestamp.valueOf("2024-01-01 10:01:00"), 2L, 3.0)))
      // second session: the lone t+30 event
      assert(rows.contains((Timestamp.valueOf("2024-01-01 10:30:00"), 1L, 5.0)))
      // batch semantics: the SAME expression runs on a static frame
      val batch = StreamingEtl.sessionWindowAgg(
        Seq(Event(1, ts(1), 10, "click", 1.0),
          Event(2, ts(2), 10, "click", 2.0),
          Event(3, ts(30), 10, "view", 5.0)).toDF(), gap = "10 minutes")
      assert(batch.count() == 2) // same two sessions as the stream
    } finally q.stop()
  }

  test("streaming EWMA converges to the batch operator's answer") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingEtl.ewmaStream(spark, input.toDS(), 0.3)
      .writeStream.format("memory").queryName("ewma_out")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    val events = (0 until 12).map(i =>
      Event(i.toLong, ts(i), 7L + i % 2, "e", 1.0 + i * 0.5))
    try {
      // two micro-batches: state must carry across
      input.addData(events.take(5): _*)
      q.processAllAvailable()
      input.addData(events.drop(5): _*)
      q.processAllAvailable()
      // last Update-mode row per key = final running value
      val got = spark.table("ewma_out").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rs) => u -> {
          val last = rs.maxBy(_.getAs[Long]("n_events"))
          (last.getAs[Long]("n_events"), last.getAs[Double]("ewma"))
        } }
      val batch = graft.operators.TimeSeries.ewmaPerKey(spark,
          events.toDF(), "user_id", "ts", "event_id", "value", 0.3)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
      assert(got == batch)
    } finally q.stop()
  }

  test("streaming CUSUM carries clamp state across micro-batches, ≡ batch") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingEtl.cusumStream(spark, input.toDS(),
        targetCents = 200L, allowanceCents = 20L, hCents = 300L)
      .writeStream.format("memory").queryName("cusum_out")
      .outputMode("update").trigger(Trigger.ProcessingTime(0)).start()
    // user 7: drifting up (alarms); user 8: on-target (no alarms)
    val events = (0 until 14).map(i =>
      Event(i.toLong, ts(i), 7L + i % 2,
        "e", if (i % 2 == 0) 3.5 + i * 0.1 else 2.0))
    try {
      input.addData(events.take(6): _*)
      q.processAllAvailable()
      input.addData(events.drop(6): _*)
      q.processAllAvailable()
      val got = spark.table("cusum_out").collect()
        .groupBy(_.getAs[Long]("user_id"))
        .map { case (u, rs) => u -> {
          val last = rs.maxBy(_.getAs[Long]("n"))
          (last.getAs[Long]("n"), last.getAs[Long]("final_up"),
            last.getAs[Long]("max_up"), last.getAs[Long]("n_alarms_up"),
            last.getAs[Long]("final_dn"), last.getAs[Long]("max_dn"),
            last.getAs[Long]("n_alarms_dn"))
        } }
      val batch = graft.operators.TimeSeries.cusumPerKey(
          events.toDF().selectExpr("user_id", "ts", "event_id",
            "cast(floor(value * 100 + 0.5) as long) as cents"),
          "user_id", "ts", "event_id", "cents", 200L, 20L, 300L)
        .collect().map(r => r.getAs[Long]("user_id") ->
          (r.getAs[Long]("n"), r.getAs[Long]("final_up"),
            r.getAs[Long]("max_up"), r.getAs[Long]("n_alarms_up"),
            r.getAs[Long]("final_dn"), r.getAs[Long]("max_dn"),
            r.getAs[Long]("n_alarms_dn"))).toMap
      assert(got == batch)
      assert(batch(7L)._4 > 0)  // drifting user alarms
      assert(batch(8L)._4 == 0) // steady user clean on the up side
    } finally q.stop()
  }

  test("bank ETL transforms run unchanged on a CSV file stream") {
    import graft.pipeline.BankEtl
    import graft.sources.CsvStaging
    val entity = BankEtl.schemas.find(_.name == "loans").get
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val dir = SparkTestSession.tempDir("graft_etl_stream").toString
      java.nio.file.Files.copy(
        java.nio.file.Path.of(src.csv("loans")),
        java.nio.file.Path.of(dir, "loans.csv"))
      // the same transform stage works batch OR streaming: the plan is
      // declarative, the source is the only difference
      val stream = spark.readStream
        .schema(CsvStaging.schemaFor(entity.columns))
        .option("header", "true").csv(dir)
      val q = BankEtl.transform("loans", stream)
        .writeStream.format("memory").queryName(s"etl_stream_${src.name}")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val out = spark.table(s"etl_stream_${src.name}")
      assert(out.count() == src.rows("loans"))
      assert(out.filter(org.apache.spark.sql.functions.col("risk_category")
        .isin("High", "Medium", "Low")).count() == src.rows("loans"))
    }
  }

  test("AvailableNow file stream processes a batch then resumes from checkpoint") {
    import spark.implicits._
    val dir = SparkTestSession.tempDir("graft_stream").toString
    val ckpt = SparkTestSession.tempDir("graft_ckpt").toString
    val out = SparkTestSession.tempDir("graft_sout").toString
    def writeBatch(ids: Range): Unit =
      ids.map(i => Event(i, ts(i % 60), 1, "click", 1.0)).toDF()
        .coalesce(1).write.mode("append").parquet(dir)

    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(Seq.empty[Event].toDF().schema).parquet(dir)
      val q = stream.writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }

    writeBatch(0 until 10)
    runOnce() // "scheduled run" #1
    assert(spark.read.parquet(out).count() == 10)
    writeBatch(10 until 15)
    runOnce() // run #2: checkpoint ensures ONLY the new file is read
    val rows = spark.read.parquet(out)
    assert(rows.count() == 15)
    assert(rows.select("event_id").distinct().count() == 15) // no reprocessing
  }

  test("stream-static broadcast enrich joins each micro-batch against the dim") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val dim = Seq((10L, "gold"), (20L, "trial")).toDF("user_id", "tier")
    val input = MemoryStream[Event]
    val enriched = input.toDF()
      .join(org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")
    val q = enriched.writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      input.addData(Event(1, ts(1), 10, "click", 1.0),
        Event(2, ts(2), 99, "view", 2.0))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
        .map(r => r.getAs[Long]("event_id") -> r.getAs[String]("tier")).toMap
      assert(rows == Map(1L -> "gold", 2L -> null))
    } finally q.stop()
  }

  test("stream-stream interval join attributes purchases to recent clicks") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val clicks = MemoryStream[Event]
    val purchases = MemoryStream[Event]
    val joined = StreamingEtl.intervalJoin(
      purchases.toDF().select($"event_id".as("p_id"), $"user_id", $"ts".as("p_ts")),
      clicks.toDF().select($"event_id".as("c_id"), $"user_id".as("c_user"), $"ts".as("c_ts"))
        .withColumnRenamed("c_user", "user_id"),
      "user_id", "p_ts", "c_ts", "30 minutes", 600L)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode("append").start()
    try {
      clicks.addData(Event(1, ts(0), 5, "click", 1.0),
        Event(2, ts(14), 5, "click", 1.0))
      purchases.addData(Event(100, ts(5), 5, "purchase", 9.0)) // within 10m of click 1
      q.processAllAvailable()
      val rows = spark.table("ssj_out")
        .select("p_id", "c_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows == Set((100L, 1L))) // click 2 is AFTER the purchase
    } finally q.stop()
  }

  test("streaming dedup drops duplicate keys within the watermark") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingEtl.dedupStream(input.toDF(), Seq("event_id"), "ts",
        "10 minutes")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 1.0),
        Event(1, ts(1), 1, "click", 1.0), // dup key within watermark
        Event(2, ts(1), 1, "view", 2.0))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
    } finally q.stop()
  }

  test("stateful sessionize emits a session when the gap is exceeded") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val input = MemoryStream[Event]
    val q = StreamingEtl.sessionize(spark, input.toDS(), gapSeconds = 300)
      .writeStream.format("memory").queryName("sess_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(2), 7, "click", 2.0))
      q.processAllAvailable()
      input.addData(Event(3, ts(30), 7, "click", 4.0)) // 28-min gap → closes session
      q.processAllAvailable()
      val sessions = spark.table("sess_out").as[SessionOut].collect()
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.user_id == 7 && s.n_events == 2 && s.total_value == 3.0)
      assert(s.session_end_us - s.session_start_us == 120L * 1000000L)
    } finally q.stop()
  }

  test("transformWithState sessionize: event-time timer closes idle session") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    // the new API requires the RocksDB state store provider
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = StreamingEtl.sessionizeTws(spark, input.toDS(),
        gapSeconds = 300, watermarkDelay = "10 seconds")
      .writeStream.format("memory").queryName("tws_out")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(2), 7, "click", 2.0))
      q.processAllAvailable()
      // NO further user-7 events: the classic flatMapGroupsWithState
      // form would hold this session open forever under event-time
      // replay; here the WATERMARK (advanced by another user's
      // traffic) fires the registered timer
      input.addData(Event(3, ts(30), 8, "view", 4.0))
      q.processAllAvailable()
      input.addData(Event(4, ts(31), 8, "view", 1.0))
      q.processAllAvailable()
      val sessions = spark.table("tws_out").as[SessionOut].collect()
        .filter(_.user_id == 7)
      assert(sessions.length == 1)
      val s = sessions.head
      assert(s.n_events == 2 && s.total_value == 3.0)
      assert(s.session_end_us - s.session_start_us == 120L * 1000000L)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState ListState: running top-k accumulates across " +
    "micro-batches") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = StreamingEtl.topKStream(spark, input.toDS(), 3)
      .writeStream.format("memory").queryName("topk_out")
      .outputMode("update").start()
    try {
      input.addData(
        Event(1, ts(0), 1, "click", 5.0),
        Event(2, ts(0), 2, "click", 9.0),
        Event(3, ts(0), 3, "click", 1.0),
        Event(4, ts(0), 4, "click", 7.0))
      q.processAllAvailable()
      input.addData(
        Event(5, ts(1), 5, "click", 8.0),
        Event(6, ts(1), 6, "click", 2.0))
      q.processAllAvailable()
      val rows = spark.table("topk_out")
        .as[StreamingEtl.TopKOut].collect()
        .filter(_.event_type == "click").map(_.topk.toList)
      // batch 1's emission: top-3 of {5,9,1,7}; batch 2: merged with
      // {8,2} — 1.0 and 5.0 must have been evicted from state
      assert(rows.contains(List(9.0, 7.0, 5.0)))
      assert(rows.contains(List(9.0, 8.0, 7.0)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState MapState: per-type counts accumulate, " +
    "untouched entries persist") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = StreamingEtl.typeHistogramStream(spark, input.toDS())
      .writeStream.format("memory").queryName("hist_out")
      .outputMode("update").start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(0), 7, "click", 1.0),
        Event(3, ts(0), 7, "view", 1.0))
      q.processAllAvailable()
      // batch 2 touches only "click": the "view" entry must persist
      // untouched, and click continues from its stored count
      input.addData(Event(4, ts(1), 7, "click", 1.0))
      q.processAllAvailable()
      input.addData(Event(5, ts(2), 7, "view", 1.0))
      q.processAllAvailable()
      val rows = spark.table("hist_out").as[StreamingEtl.TypeCountOut]
        .collect().filter(_.user_id == 7)
        .map(r => (r.event_type, r.n)).toSet
      assert(rows.contains(("click", 2L))) // batch 1
      assert(rows.contains(("click", 3L))) // batch 2 continuation
      assert(rows.contains(("view", 1L)))  // batch 1
      assert(rows.contains(("view", 2L)))  // batch 3: persisted across
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState TTL: idle key's ValueState evicts between " +
    "micro-batches; active key unaffected") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = StreamingEtl.countGaugeTtl(spark, input.toDS(),
        java.time.Duration.ofMillis(300))
      .writeStream.format("memory").queryName("ttl_out")
      .outputMode("update").start()
    // ProcessingTime time mode runs a batch EVERY trigger (that is how
    // TTL/timers advance without input), so `noNewData` never latches
    // and processAllAvailable would wait forever — poll the sink
    def rows() = spark.table("ttl_out").as[StreamingEtl.GaugeOut]
      .collect().filter(_.user_id == 7).map(_.n).toSeq
    def waitRows(n: Int): Unit = {
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (rows().size < n && System.nanoTime() < deadline)
        Thread.sleep(100)
      assert(rows().size >= n, s"sink never reached $n rows: ${rows()}")
    }
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 1.0),
        Event(2, ts(0), 7, "click", 1.0))
      waitRows(1)
      assert(rows() == Seq(2L))
      // well past the 300 ms TTL: user 7's count state must have
      // expired — the key restarts from zero, not from 2
      Thread.sleep(1500)
      input.addData(Event(3, ts(1), 7, "click", 1.0))
      waitRows(2)
      assert(rows() == Seq(2L, 1L),
        s"expected TTL eviction to restart the count, got ${rows()}")
      // immediately again (inside the TTL window): state persists. A
      // slow host could stall >300 ms between the two batches, so only
      // assert it CONTINUED (2) or restarted (1) — never past 2
      input.addData(Event(4, ts(2), 7, "click", 1.0))
      waitRows(3)
      assert(rows()(2) == 2L || rows()(2) == 1L)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("transformWithState state-schema evolution: V2 (added field) " +
    "restarts from V1's checkpoint, carried count survives") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val encKey = "spark.sql.streaming.stateStore.encodingFormat"
    val prevProv = spark.conf.getOption(provKey)
    val prevEnc = spark.conf.getOption(encKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    // UnsafeRow state is bit-positional and cannot evolve; Avro can
    spark.conf.set(encKey, "avro")
    val ckpt = SparkTestSession.tempDir("tws_evolve").toString
    val input = MemoryStream[Event]
    // the memory sink cannot recover from a checkpoint — collect
    // through foreachBatch (which can) instead
    val got1 = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val q1 = StreamingEtl.visitStreamV1(spark, input.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[StreamingEtl.VisitOut],
         _: Long) =>
          df.collect().foreach(r => got1.add((r.user_id, r.n)))
      }
      .start()
    try {
      input.addData(
        Event(1, ts(0), 7, "click", 2.5),
        Event(2, ts(1), 7, "click", 4.0))
      q1.processAllAvailable()
      assert(got1.toArray.toSeq == Seq((7L, 2L)))
    } finally q1.stop()
    // restart from the SAME checkpoint with the EVOLVED state schema:
    // VisitV2 adds total: Option[Double]; user 7's V1 row must read as
    // (n = 2, total = None) — count carried, new field defaulted
    val got2 =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Double)]()
    val q2 = StreamingEtl.visitStreamV2(spark, input.toDS())
      .writeStream
      .option("checkpointLocation", ckpt)
      .outputMode("update")
      .foreachBatch {
        (df: org.apache.spark.sql.Dataset[StreamingEtl.VisitOut],
         _: Long) =>
          df.collect().foreach(r => got2.add((r.user_id, r.n, r.total)))
      }
      .start()
    try {
      input.addData(Event(3, ts(2), 7, "view", 1.5))
      q2.processAllAvailable()
      assert(got2.toArray.toSeq == Seq((7L, 3L, 1.5)),
        s"evolved restart read ${got2.toArray.toSeq}")
    } finally {
      q2.stop()
      prevProv match {
        case Some(v) => spark.conf.set(provKey, v)
        case None => spark.conf.unset(provKey)
      }
      prevEnc match {
        case Some(v) => spark.conf.set(encKey, v)
        case None => spark.conf.unset(encKey)
      }
    }
  }

  test("streaming PSI drift: reference freezes, same-distribution " +
    "batch reads ~0, shifted batch alarms") {
    import spark.implicits._
    implicit val sc = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = StreamingEtl.psiDriftStream(spark, input.toDS(),
        nBins = 10, refSize = 100)
      .writeStream.format("memory").queryName("psi_out")
      .outputMode("update").start()
    try {
      // batch 1: 100 uniform values over [0,100) -> reference frozen,
      // nothing emitted yet
      input.addData((0 until 100).map(i =>
        Event(i.toLong, ts(i % 50), 7, "click", i.toDouble)): _*)
      q.processAllAvailable()
      assert(spark.table("psi_out").count() == 0)
      // batch 2: the SAME uniform shape -> PSI ≈ 0
      input.addData((0 until 100).map(i =>
        Event(1000L + i, ts(60 + i % 50), 7, "click", i.toDouble)): _*)
      q.processAllAvailable()
      // batch 3: all mass in one bin -> PSI large
      input.addData((0 until 100).map(i =>
        Event(2000L + i, ts(120 + i % 50), 7, "click", 5.0)): _*)
      q.processAllAvailable()
      val rows = spark.table("psi_out").as[StreamingEtl.PsiOut]
        .collect().filter(_.key == "click").sortBy(_.n_batch).toSeq
      assert(rows.size == 2)
      val Seq(same, shifted) = rows.sortBy(_.psi_micro)
      assert(same.n_ref == 100 && same.n_batch == 100)
      // identical histograms differ only by smoothing -> tiny PSI
      assert(same.psi_micro < 50000L, s"same-dist PSI ${same.psi_micro}")
      // concentrated batch: PSI well past the classic 0.25 alarm
      assert(shifted.psi_micro > 250000L,
        s"shifted PSI ${shifted.psi_micro}")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("ledgerSink: epoch re-delivery and crash replay stay exactly-once") {
    import spark.implicits._
    val dir = SparkTestSession.tempDir("graft_lsrc").toString
    val ckpt = SparkTestSession.tempDir("graft_lck").toString
    val out = SparkTestSession.tempDir("graft_lout").toString + "/t"
    def writeBatch(ids: Range): Unit =
      ids.map(i => Event(i, ts(i % 60), 1, "click", 1.0)).toDF()
        .coalesce(1).write.mode("append").parquet(dir)
    def runOnce(): Unit = {
      val stream = spark.readStream
        .schema(Seq.empty[Event].toDF().schema).parquet(dir)
      val q = graft.streaming.StreamingEtl.ledgerSink(stream, out, ckpt)
      q.awaitTermination()
    }
    writeBatch(0 until 10)
    runOnce()
    assert(graft.sources.BatchLedger.read(spark, out).count() == 10)
    // crash-replay simulation: the SAME epoch body fires again (as it
    // would after a crash between foreachBatch and checkpoint commit)
    val replay = (0 until 10).map(i => Event(i, ts(i % 60), 1, "click", 1.0)).toDF()
    assert(!graft.sources.BatchLedger.publish(spark, replay, out,
      "epoch000000000000"))
    assert(graft.sources.BatchLedger.read(spark, out).count() == 10)
    // next scheduled run appends only the new epoch
    writeBatch(10 until 15)
    runOnce()
    val rows = graft.sources.BatchLedger.read(spark, out)
    assert(rows.count() == 15)
    assert(rows.select("event_id").distinct().count() == 15)
  }

}
