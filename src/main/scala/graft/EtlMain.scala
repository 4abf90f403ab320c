package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

import graft.pipeline.{BankEtl, BatchScheduler, RunLog}
import graft.sources.{CsvStaging, FileTracker}

/** CLI entrypoint — the reference's `main.py` controller: run the bank
  * ETL over a CSV directory into parquet production tables, with
  * file-level tracking and the reference's per-phase modes
  * (main.py --mode choices full/schedule/extract/transform/load; the
  * reference also ships test.py as the health check — `health` here).
  *
  * Usage:
  *   runMain graft.EtlMain <csvDir> <outDir> [batchDate]
  *     [--mode full|extract|transform|load|schedule|health]
  *     [--schedule-type twice_daily|daily|biweekly]
  *     [--run-time HH:MM] [--max-runs N]
  *
  * Layer layout mirrors the reference's MySQL-staging → production
  * split on parquet paths:
  *   <outDir>/_staging/<entity>      raw-string staged batch (extract)
  *   <outDir>/_transformed/<entity>  typed/cleaned batch (transform)
  *   <outDir>/<entity>               production tables (load)
  *   <outDir>/etl_file_tracker       processed-file state
  *
  * `full` runs the three phases FUSED (no intermediate writes — one
  * Spark plan end-to-end, the scale-preferred path); the split modes
  * exist for operational parity: re-running a failed phase, inspecting
  * a staged batch, loading under a different window. Re-running against
  * an unchanged CSV dir extracts nothing (incremental semantics),
  * exactly like the reference's re-run behavior.
  */
object EtlMain {

  final case class Config(csvDir: String, outDir: String,
                          batchDate: String, mode: String,
                          scheduleType: String, runTime: String,
                          maxRuns: Int)

  def parseArgs(args: Array[String]): Config = {
    val (flags, pos) = {
      var f = Map.empty[String, String]
      var p = Vector.empty[String]
      var i = 0
      while (i < args.length) {
        if (args(i).startsWith("--")) {
          require(i + 1 < args.length, s"missing value for ${args(i)}")
          f += args(i).drop(2) -> args(i + 1); i += 2
        } else { p :+= args(i); i += 1 }
      }
      (f, p)
    }
    require(pos.length >= 2,
      "usage: EtlMain <csvDir> <outDir> [batchDate] [--mode ...]")
    val mode = flags.getOrElse("mode", "full")
    require(Set("full", "extract", "transform", "load", "schedule",
      "health", "grants").contains(mode), s"unknown mode: $mode")
    val sched = flags.getOrElse("schedule-type", "twice_daily")
    require(Set("twice_daily", "daily", "biweekly").contains(sched),
      s"unknown schedule-type: $sched")
    Config(pos(0), pos(1),
      if (pos.length > 2) pos(2) else BatchDate,
      mode, sched, flags.getOrElse("run-time", "01:00"),
      flags.get("max-runs").map(_.toInt).getOrElse(Int.MaxValue))
  }

  private def staging(outDir: String, e: String) = s"$outDir/_staging/$e"
  private def transformed(outDir: String, e: String) = s"$outDir/_transformed/$e"

  /** One run log per invocation, living beside the data layers —
    * the reference's logs/etl_pipeline_<date>.log, structured.
    */
  private def openLog(outDir: String, log: Option[RunLog]): RunLog =
    log.getOrElse(new RunLog(s"$outDir/_logs", RunLog.newRunId()))

  /** Processed-file state path — named like the reference's
    * `etl_file_tracker` table. NOT underscore-prefixed: Spark's
    * streaming-metadata probe warn-logs "All paths were ignored" on
    * every read of a `_`-named root. Pre-rename layouts migrate by a
    * one-time directory rename.
    */
  private def trackerPath(spark: SparkSession, outDir: String): String = {
    val neu = new org.apache.hadoop.fs.Path(s"$outDir/etl_file_tracker")
    val old = new org.apache.hadoop.fs.Path(s"$outDir/_file_tracker")
    val fs = neu.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(neu) && fs.exists(old)) fs.rename(old, neu)
    neu.toString
  }

  /** Runs `body` on each entity with new files under `csvDir`, logging
    * under `phase`. The tracker hashes every entity's files in one job
    * up front and records the processed ones, with exactly the hashes
    * it diffed, in one write at the end.
    *
    * Invariants:
    *  - the pending entities run concurrently, one driver thread each,
    *    so their Spark jobs overlap; each thread carries the caller's
    *    Spark local properties (job group, description, scheduler pool);
    *  - `body` runs the one action on its entity's staged `data`; the
    *    staging stats are read after it;
    *  - RunLog records stay per entity; the tracker records exactly the
    *    entities that finished, also when another one failed, so a
    *    re-run skips what loaded;
    *  - when entities fail, the first failure in schema order is
    *    rethrown once every entity has finished.
    */
  private def forEachPending(spark: SparkSession, csvDir: String,
                             outDir: String, phase: String, rl: RunLog)
                            (body: (BankEtl.EntitySchema, CsvStaging.StagingResult) => Long): Unit = {
    val tracker = new FileTracker(spark, trackerPath(spark, outDir))
    val globs = BankEtl.schemas.map(e => e -> s"$csvDir/${e.name}*.csv")
    val pending = tracker.pending(globs.map(_._2))
    val (idle, work) = globs.partition { case (_, glob) => pending.files(glob).isEmpty }
    idle.foreach { case (entity, _) =>
      rl.log(phase, entity.name, "skip", "reason" -> "no new files")
    }
    val outcomes = sideBySide(work) { case (entity, glob) =>
      rl.timed[(Long, Seq[(FileTracker.TrackedFile, Long)])](phase, entity.name,
        r => Seq("rows_out" -> r._1)) {
        val staged = BankEtl.extract(spark, glob, entity)
        val n = body(entity, staged)
        rl.log(phase, entity.name, "stats",
          "csv_rows" -> staged.totalRows,
          "invalid_pk" -> staged.invalidKeyRows,
          "deduped" -> staged.dedupedRows)
        // per-FILE raw counts (not the glob total against every file)
        (n, pending.files(glob).map(f => f -> staged.perFileRows.getOrElse(f.name, 0L)))
      }._2
    }
    try outcomes.foreach(_.get)
    finally {
      val processed = outcomes.flatMap(_.toOption).flatten
      if (processed.nonEmpty) tracker.record(pending, processed)
    }
  }

  /** `body` on each item, each on a new driver thread, and every
    * outcome in item order once all have finished. A thread started by
    * the caller inherits a copy of its Spark local properties (job
    * group, description, scheduler pool) and its active session.
    */
  private def sideBySide[A, B](items: Seq[A])(body: A => B): Seq[Try[B]] = {
    val outcomes = new Array[Try[B]](items.size)
    val threads = items.zipWithIndex.map { case (a, i) =>
      val t = new Thread(() => outcomes(i) =
        try Success(body(a)) catch { case e: Throwable => Failure(e) },
        s"graft-etl-$i")
      t.start()
      t
    }
    try threads.foreach(_.join())
    catch { case e: InterruptedException =>
      threads.foreach(_.interrupt())
      throw e
    }
    outcomes.toSeq
  }

  /** Extract phase: stage new CSV files (raw strings, PK-filtered,
    * deduped) into the staging layer and mark them processed. The
    * reference's extract.py → MySQL-staging leg.
    */
  def runExtract(spark: SparkSession, csvDir: String, outDir: String,
                 log: Option[RunLog] = None): Unit =
    forEachPending(spark, csvDir, outDir, "extract", openLog(outDir, log)) {
      (entity, staged) =>
        sources.ParquetIo.replace(staged.data, staging(outDir, entity.name))
        staged.totalRows - staged.invalidKeyRows - staged.dedupedRows
    }

  /** Transform phase: staged batch → typed/cleaned batch. The
    * reference's transform.py leg.
    */
  def runTransform(spark: SparkSession, outDir: String,
                   batchDate: String, log: Option[RunLog] = None): Unit = {
    val rl = openLog(outDir, log)
    BankEtl.schemas.foreach { entity =>
      sources.ParquetIo.readIfExists(spark, staging(outDir, entity.name)) match {
        case None =>
          rl.log("transform", entity.name, "skip",
            "reason" -> "no staged batch")
        case Some(staged) =>
          rl.timed[Long]("transform", entity.name,
            n => Seq("rows_out" -> n)) {
            val (out, rows) = BankEtl.withRowMetric(
              BankEtl.transform(entity.name, staged, batchDate))
            sources.ParquetIo.replace(out, transformed(outDir, entity.name))
            rows()
          }
      }
    }
  }

  /** Load phase: transformed batch → incremental append into the
    * partitioned production tables. The reference's load.py leg.
    */
  def runLoad(spark: SparkSession, outDir: String,
              log: Option[RunLog] = None): Unit = {
    val rl = openLog(outDir, log)
    BankEtl.schemas.foreach { entity =>
      sources.ParquetIo.readIfExists(spark, transformed(outDir, entity.name)) match {
        case None =>
          rl.log("load", entity.name, "skip",
            "reason" -> "no transformed batch")
        case Some(batch) =>
          rl.timed[Long]("load", entity.name, n => Seq("rows_out" -> n)) {
            loadProduction(spark, batch, outDir, entity)
          }
      }
    }
  }

  /** The one-column schema production keys are read with: no
    * footer-inference job.
    */
  private def keySchema(entity: BankEtl.EntitySchema) =
    CsvStaging.schemaFor(Seq(entity.primaryKey))

  private def loadProduction(spark: SparkSession, transformedBatch: DataFrame,
                             outDir: String,
                             entity: BankEtl.EntitySchema): Long = {
    val target = s"$outDir/${entity.name}"
    val existing = sources.ParquetIo.readIfExists(spark, target, keySchema(entity))
      .map(_.select(entity.primaryKey))
      .getOrElse(transformedBatch.limit(0).select(entity.primaryKey))
    val (newRows, rows) = BankEtl.withRowMetric(BankEtl.loadIncremental(
      transformedBatch, existing, entity.primaryKey))
    // production tables are directory-partitioned on their analysis
    // dimension so downstream predicates prune (see Writers)
    val partCols = entity.name match {
      case "customers" => Seq("customer_segment")
      case "loans" => Seq("risk_category")
      case "transactions" => Seq("transaction_category")
      case _ => Nil
    }
    val path = new org.apache.hadoop.fs.Path(target)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def entries = if (fs.exists(path)) fs.listStatus(path).map(_.getPath).toSet
      else Set.empty[org.apache.hadoop.fs.Path]
    val before = entries
    if (partCols.nonEmpty)
      graft.sources.Writers.writePartitioned(newRows, target, partCols,
        mode = SaveMode.Append)
    else newRows.write.mode(SaveMode.Append).parquet(target)
    val loaded = rows()
    // an empty non-partitioned append still writes task 0's empty part
    // file: a load that adds no row takes back what its write added
    if (loaded == 0) {
      if (before.isEmpty) fs.delete(path, true)
      else (entries -- before).filterNot(_.getName.startsWith("_"))
        .foreach(fs.delete(_, true))
    }
    loaded
  }

  /** Full pipeline, FUSED: extract → transform → load as one Spark plan
    * per entity, no intermediate materialization (the scale-preferred
    * path and the reference's `--mode full`).
    */
  def runFull(spark: SparkSession, csvDir: String, outDir: String,
              batchDate: String, log: Option[RunLog] = None): Unit = {
    val rl = openLog(outDir, log)
    forEachPending(spark, csvDir, outDir, "full", rl) { (entity, staged) =>
      val out = BankEtl.transform(entity.name, staged.data, batchDate)
      loadProduction(spark, out, outDir, entity)
    }
    runHealth(spark, outDir)
    // the reference's log_pipeline_summary, derived from the log itself
    RunLog.summarize(rl.currentFile).foreach {
      case (phase, ok, err, rows) =>
        println(s"[etl] summary $phase: ok=$ok error=$err rows_out=$rows")
    }
  }

  /** Health report (reference test.py): per-table production counts. */
  def runHealth(spark: SparkSession, outDir: String): Unit = {
    val tables = BankEtl.schemas.flatMap { e =>
      sources.ParquetIo.readIfExists(spark, s"$outDir/${e.name}", keySchema(e))
        .map(e.name -> _)
    }.toMap
    if (tables.isEmpty) println("[health] no production tables yet")
    else operators.Loads.countReport(tables).collect().foreach { r =>
      println(s"[health] ${r.getAs[String]("tbl")}: ${r.getAs[Long]("n_rows")} rows")
    }
  }

  /** Grants mode — the reference's `config/priviliges.sql:1` applied
    * as config-driven DDL (pipeline.GrantBootstrap): prints the
    * REDACTED statements for the resolved endpoints; applies them over
    * JDBC only when GRAFT_APPLY_GRANTS=true (the endpoints' driver
    * jars are absent in this container — SURVEY §7h #7 — so the
    * default is the auditable dry run the reference's .sql file was).
    */
  def runGrants(ec: pipeline.EtlConfig.Resolved): Unit = {
    val grants = pipeline.GrantBootstrap.forConfig(ec)
    grants.foreach(g => println(s"[grants] ${g.redacted}"))
    if (sys.env.get("GRAFT_APPLY_GRANTS").contains("true")) {
      // dispatch by each statement's dialect tag, never by position —
      // growing one dialect's list must not re-route DDL
      val byDialect = grants.groupBy(_.dialect)
      val unknown = byDialect.keySet -- Set("mysql", "postgres")
      require(unknown.isEmpty,
        s"runGrants: no endpoint mapped for dialect(s) $unknown")
      byDialect.get("mysql").foreach(g => pipeline.GrantBootstrap.apply(
        ec.staging.jdbcUrl, ec.staging.props, g))
      byDialect.get("postgres").foreach(g =>
        pipeline.GrantBootstrap.apply(
          ec.production.jdbcUrl, ec.production.props, g))
      println(s"[grants] applied ${grants.size} statements")
    } else println("[grants] dry run (set GRAFT_APPLY_GRANTS=true to apply)")
  }

  /** Schedule mode — the reference's BankingBatchScheduler.start():
    * one immediate health-check run, then full runs at each window.
    * `maxRuns` bounds the loop (reference loops forever on Ctrl-C).
    */
  def runSchedule(spark: SparkSession, cfg: Config): Unit = {
    val t = java.time.LocalTime.parse(cfg.runTime)
    val schedule = cfg.scheduleType match {
      case "daily" => BatchScheduler.Daily(t)
      case "biweekly" => BatchScheduler.BiWeekly(
        java.time.DayOfWeek.MONDAY, java.time.DayOfWeek.THURSDAY, t)
      case _ => BatchScheduler.TwiceDaily(t)
    }
    // initial run NOW (the reference's "TRIGGERING INITIAL PIPELINE
    // RUN (HEALTH CHECK)" behavior), then wait out each window
    runFull(spark, cfg.csvDir, cfg.outDir, cfg.batchDate)
    var runs = 1
    while (runs < cfg.maxRuns) {
      val now = java.time.LocalDateTime.now()
      val next = BatchScheduler.nextRun(schedule, now)
      val sleepMs = java.time.Duration.between(now, next).toMillis
      println(s"[etl] scheduler: next window $next " +
        s"(sleeping ${sleepMs / 1000}s)")
      Thread.sleep(math.max(0L, sleepMs))
      runFull(spark, cfg.csvDir, cfg.outDir, cfg.batchDate)
      runs += 1
    }
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args)
    // central config (reference config/config.py analog): env/.env
    // resolution happens ONCE here; anything logged about it is the
    // redacted rendering — credentials never reach stdout or RunLog
    val ec = pipeline.EtlConfig.load()
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[4]"))
      .appName("graft-etl")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // LOG_LEVEL honored when configured at ANY layer EtlConfig reads
    // (env OR .env, config.py:69) — not just the process env, so the
    // logged config line below and the applied level agree; graft's
    // operational default stays WARN (INFO Spark logs drown the run log)
    spark.sparkContext.setLogLevel(
      if (ec.logLevelConfigured) ec.logLevel else "WARN")
    println(s"[etl] config: ${ec.describe}")

    cfg.mode match {
      case "extract" => runExtract(spark, cfg.csvDir, cfg.outDir)
      case "transform" => runTransform(spark, cfg.outDir, cfg.batchDate)
      case "load" => runLoad(spark, cfg.outDir)
      case "health" => runHealth(spark, cfg.outDir)
      case "grants" => runGrants(ec)
      case "schedule" => runSchedule(spark, cfg)
      case _ => runFull(spark, cfg.csvDir, cfg.outDir, cfg.batchDate)
    }
    spark.stop()
  }
}
