package graft.tools

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.streaming.StreamingEtl
import graft.streaming.StreamingEtl.Event

/** Streaming throughput soak (VERDICT r5 next #7): drives the stateful
  * streaming operators with the deterministic `rate-micro-batch`
  * source on the RocksDB state store provider and reports steady-state
  * rows/s per operator (first micro-batch excluded — it pays state
  * store init). Numbers land in SURVEY §7's streaming table.
  */
object StreamSoak {
  def main(args: Array[String]): Unit = {
    val rowsPerBatch = sys.env.getOrElse("SOAK_ROWS_PER_BATCH", "200000").toInt
    val nBatches = sys.env.getOrElse("SOAK_BATCHES", "5").toInt
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state." +
          "RocksDBStateStoreProvider")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val types = array(lit("view"), lit("click"), lit("purchase"),
      lit("refund"), lit("login"))
    // 10k distinct users / 5 event types; event time advances 1h per
    // micro-batch so watermarks progress and event-time sessions close
    def events: Dataset[Event] = spark.readStream
      .format("rate-micro-batch")
      .option("rowsPerBatch", rowsPerBatch.toLong)
      .option("numPartitions", 32)
      .option("startTimestamp", 0L)
      .option("advanceMillisPerBatch", 3600000L)
      .load()
      .select(col("value").as("event_id"), col("timestamp").as("ts"),
        (col("value") % 10000).as("user_id"),
        element_at(types, (col("value") % 5 + 1).cast("int"))
          .as("event_type"),
        (col("value") % 100).cast("double").as("value"))
      .as[Event]

    def soak(name: String, mode: String)
            (mk: Dataset[Event] => org.apache.spark.sql.DataFrame): Unit = {
      val ckpt = graft.SparkTestSession.tempDir(s"soak_$name")
        .toString
      val q = mk(events).writeStream.format("noop").outputMode(mode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.ProcessingTime("100 milliseconds"))
        .start()
      val deadline = System.nanoTime() + 300L * 1000000000L
      while (q.recentProgress.count(_.numInputRows > 0) < nBatches &&
        System.nanoTime() < deadline) Thread.sleep(200)
      q.stop()
      val ps = q.recentProgress.filter(_.numInputRows > 0)
        .drop(1).take(nBatches - 1) // batch 1 pays state-store init
      val rows = ps.map(_.numInputRows).sum
      val ms = ps.map(_.durationMs.get("triggerExecution").toLong).sum
      // state-store telemetry (VERDICT r6 #8): rows and bytes held per
      // operator at the LAST observed micro-batch — the number a
      // 100 TB/day deployment capacity-plans its state store on
      // (rows/s says nothing about whether state is O(keys) bounded
      // or accreting without eviction)
      val st = ps.lastOption.toSeq.flatMap(_.stateOperators.toSeq)
      val stateRows = st.map(_.numRowsTotal).sum
      val stateBytes = st.map(_.memoryUsedBytes).sum
      println(f"[soak] $name%-18s batches=${ps.length} " +
        f"rows=$rows ms=$ms rows_s=${rows * 1000.0 / ms}%,.0f " +
        f"state_rows=$stateRows state_mb=${stateBytes / 1048576.0}%.1f")
    }

    soak("sessionize_tws", "append")(ev =>
      StreamingEtl.sessionizeTws(spark, ev, gapSeconds = 1800L).toDF())
    soak("topk_stream", "update")(ev =>
      StreamingEtl.topKStream(spark, ev, k = 5).toDF())
    soak("type_histogram", "update")(ev =>
      StreamingEtl.typeHistogramStream(spark, ev).toDF())
    soak("dedup_stream", "append")(ev =>
      StreamingEtl.dedupStream(ev.toDF(), Seq("event_id"), "ts",
        "10 seconds"))
    soak("windowed_agg", "update")(ev =>
      StreamingEtl.windowedAgg(ev.toDF()))
    // operators added since the round-6 record (VERDICT r11 #6)
    soak("session_native", "append")(ev =>
      StreamingEtl.sessionWindowAgg(ev.toDF()))
    soak("ewma_stream", "update")(ev =>
      StreamingEtl.ewmaStream(spark, ev, alpha = 0.3).toDF())
    soak("cusum_stream", "update")(ev =>
      StreamingEtl.cusumStream(spark, ev, targetCents = 5000L,
        allowanceCents = 500L, hCents = 20000L).toDF())
    soak("gauge_ttl", "update")(ev =>
      StreamingEtl.countGaugeTtl(spark, ev,
        java.time.Duration.ofHours(1)).toDF())
    soak("psi_drift", "update")(ev =>
      StreamingEtl.psiDriftStream(spark, ev, nBins = 10,
        refSize = 100000L).toDF())
    spark.stop()
  }
}
