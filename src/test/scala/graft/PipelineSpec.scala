package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.pipeline.BankEtl

/** End-to-end bank ETL over the four-entity CSV inputs
  * ([[EtlTestData]]: the in-repo fixture, plus the reference repo's own
  * data when present; read-only): extract → transform → incremental
  * load, checking the reference's derivation semantics hold on them.
  * Each test runs once per source.
  */
class PipelineSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def loansOf(src: EtlSource) = {
    val e = BankEtl.schemas.find(_.name == "loans").get
    BankEtl.transform("loans",
      BankEtl.extract(spark, src.csv("loans"), e).data)
  }

  test("loans: extract+transform derives duration and risk like the reference") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val loans = loansOf(src)
      val byId = loans.collect().map(r => r.getAs[String]("loan_id") -> r).toMap
      // loans.csv:2 → loan 1: Home 545642.51, 13-03-11 → 13-03-19
      val l1 = byId("1")
      assert(l1.getAs[Double]("loan_amount") == 545642.51)
      assert(l1.getAs[String]("risk_category") == "High")
      assert(l1.getAs[Int]("loan_duration_months") == 96)
      assert(l1.getAs[java.sql.Date]("start_date").toString == "2011-03-13")
      assert(loans.filter(col("risk_category").isin("High", "Medium", "Low"))
        .count() == loans.count())
    }
  }

  test("customers: segment/age/gender derivations populated") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val e = BankEtl.schemas.find(_.name == "customers").get
      val staged = BankEtl.extract(spark, src.csv("customers"), e)
      val t = BankEtl.transform("customers", staged.data)
      assert(t.count() == staged.data.count())
      val seg = t.groupBy("customer_segment").count().collect()
        .map(r => r.getAs[String]("customer_segment")).toSet
      assert(seg.subsetOf(Set("VIP", "Regular", "New", "NA")))
      assert(t.filter(col("gender").isin("M", "F", "N")).count() == t.count())
      assert(t.filter(col("age") < 0).count() == 0)
      // emails lower-cased, except the 'NA' missing sentinel
      assert(t.filter(col("email") =!= "NA" &&
        col("email") =!= lower(col("email"))).count() == 0)
    }
  }

  test("branches: region mapping over real states") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val e = BankEtl.schemas.find(_.name == "branches").get
      val t = BankEtl.transform("branches",
        BankEtl.extract(spark, src.csv("branches"), e).data)
      val regions = t.select("region").distinct().collect()
        .map(_.getString(0)).toSet
      assert(regions.subsetOf(Set("North", "South", "East", "West", "NA")))
      assert(t.filter(upper(col("state")).contains("PUNJAB") &&
        col("region") =!= "North").count() == 0)
    }
  }

  test("extract counts match the reference's own logged runs") {
    // the reference's historical logs record its extraction counts
    // (logs/etl_pipeline_20250916.log:load_csv_to_staging — branches
    // 26 rows, loans 2007 rows); our staging read reproduces them on
    // the same CSVs, and the fixture's by-construction row counts on
    // its own. (customers.csv grew 5014→5024 after that run, so only
    // the unchanged files are comparable.)
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val branches = BankEtl.extract(spark, src.csv("branches"),
        BankEtl.schemas.find(_.name == "branches").get)
      branches.data.count() // the stats are counted by the first action
      assert(branches.totalRows == src.rows("branches"))
      val loansStaged = BankEtl.extract(spark, src.csv("loans"),
        BankEtl.schemas.find(_.name == "loans").get)
      loansStaged.data.count()
      assert(loansStaged.totalRows == src.rows("loans"))
    }
  }

  test("incremental load appends only new keys") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val loans = loansOf(src)
      val existing = loans.limit(3)
      val loaded = BankEtl.loadIncremental(loans, existing, "loan_id")
      assert(loaded.count() == loans.count() - 3)
      val again = BankEtl.loadIncremental(loans, loans, "loan_id")
      assert(again.count() == 0) // fully synced → nothing to load
    }
  }

  test("observe-based row metrics fire without extra jobs") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val (observed, rows) = BankEtl.withRowMetric(loansOf(src))
      val n = observed.count()
      // metrics surface through the observation API on the last query
      assert(n > 0)
      assert(rows() == n)
    }
  }

  /** Every file under `dir`, relative to it. */
  private def filesUnder(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    scala.util.Using.resource(java.nio.file.Files.walk(root)) { s =>
      scala.jdk.CollectionConverters.IteratorHasAsScala(s.iterator()).asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(root.relativize(_).toString).toSet
    }
  }

  /** Per `full` record of `status` that `log`'s run wrote, entity → the
    * record.
    */
  private def fullRecords(log: graft.pipeline.RunLog,
                          status: String): Map[String, String] = {
    val ent = """"entity":"([^"]*)"""".r
    scala.jdk.CollectionConverters.ListHasAsScala(
      java.nio.file.Files.readAllLines(log.currentFile)).asScala.toSeq
      .filter(l => l.contains(s"\"run_id\":\"${log.runId}\"") &&
        l.contains("\"phase\":\"full\"") &&
        l.contains(s"\"status\":\"$status\""))
      .flatMap(l => ent.findFirstMatchIn(l).map(_.group(1) -> l)).toMap
  }

  test("EtlMain: a pending file that only re-sends loaded keys loads " +
    "0 rows and adds no file to production") {
    import java.nio.file.{Files, Paths}
    val src = EtlTestData.fixture
    val csvDir = SparkTestSession.tempDir("graft_resend")
    // branches: a non-partitioned table; customers: a partitioned one
    val entities = Seq("branches", "customers")
    entities.foreach(e => Files.copy(Paths.get(src.csv(e)), csvDir.resolve(s"$e.csv")))
    val out = SparkTestSession.tempDir("graft_resend_out").toString
    EtlMain.runFull(spark, csvDir.toString, out, "2026-08-14")
    val before = entities.map(e => e -> filesUnder(s"$out/$e")).toMap
    entities.foreach(e => Files.copy(csvDir.resolve(s"$e.csv"),
      csvDir.resolve(s"${e}_resend.csv")))
    val log = new graft.pipeline.RunLog(s"$out/_logs", graft.pipeline.RunLog.newRunId())
    EtlMain.runFull(spark, csvDir.toString, out, "2026-08-14", Some(log))
    val ok = fullRecords(log, "ok")
    for (e <- entities) {
      assert(ok(e).contains("\"rows_out\":0,"), ok(e))
      assert(filesUnder(s"$out/$e") == before(e), e)
      assert(spark.read.parquet(s"$out/$e").count() == src.staged(e), e)
    }
  }

  test("EtlMain: an entity whose every key is invalid loads 0 rows and " +
    "logs its stats") {
    import java.nio.file.Files
    val csvDir = SparkTestSession.tempDir("graft_invalid")
    Files.writeString(csvDir.resolve("branches.csv"),
      "branch_id,branch_name,city,state,manager_name\n,a,b,c,d\n ,e,f,g,h\n")
    val out = SparkTestSession.tempDir("graft_invalid_out").toString
    val log = new graft.pipeline.RunLog(s"$out/_logs", graft.pipeline.RunLog.newRunId())
    EtlMain.runFull(spark, csvDir.toString, out, "2026-08-14", Some(log))
    val ok = fullRecords(log, "ok")("branches")
    assert(ok.contains("\"rows_out\":0,"), ok)
    val stats = fullRecords(log, "stats")("branches")
    assert(stats.contains("\"csv_rows\":2,\"invalid_pk\":2,\"deduped\":0"), stats)
    assert(!new java.io.File(s"$out/branches").exists())
  }

  test("EtlMain: a re-run after a failed entity skips what loaded and " +
    "ends with the tables of one clean run") {
    import java.nio.file.{Files, Paths}
    import graft.operators.Loads
    val src = EtlTestData.fixture
    def csvCopy(prefix: String) = {
      val d = SparkTestSession.tempDir(prefix)
      BankEtl.schemas.foreach(e =>
        Files.copy(Paths.get(src.csv(e.name)), d.resolve(s"${e.name}.csv")))
      d
    }
    val csvDir = csvCopy("graft_rerun")
    val loans = csvDir.resolve("loans.csv")
    val good = Files.readAllLines(loans)
    // a wrong column set: loans fails; the entities that do not depend
    // on it load all the same
    val broken = new java.util.ArrayList[String](good)
    broken.set(0, good.get(0).replace("loan_status", "status"))
    Files.write(loans, broken)
    val out = SparkTestSession.tempDir("graft_rerun_out").toString
    val date = "2026-08-14"
    intercept[IllegalArgumentException] {
      EtlMain.runFull(spark, csvDir.toString, out, date)
    }
    for (e <- Seq("branches", "customers", "transactions"))
      assert(spark.read.parquet(s"$out/$e").count() == src.staged(e), e)
    assert(!new java.io.File(s"$out/loans").exists())
    Files.write(loans, good)
    val log = new graft.pipeline.RunLog(s"$out/_logs", graft.pipeline.RunLog.newRunId())
    EtlMain.runFull(spark, csvDir.toString, out, date, Some(log))
    assert(fullRecords(log, "skip").keySet ==
      Set("branches", "customers", "transactions"))
    assert(fullRecords(log, "ok").keySet == Set("loans"))
    val clean = SparkTestSession.tempDir("graft_rerun_clean").toString
    EtlMain.runFull(spark, csvCopy("graft_rerun_csv").toString, clean, date)
    def digests(dir: String) = Loads.digestReport(BankEtl.schemas.map { e =>
      val df = spark.read.parquet(s"$dir/${e.name}")
      e.name -> ((df, df.columns.toSeq.sorted))
    }.toMap).collect().map(_.toSeq).toSeq
    assert(digests(out) == digests(clean))
  }

  test("EtlMain: the jobs of side-by-side entities carry the caller's " +
    "job group") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
      SparkListenerJobStart}
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val sc = spark.sparkContext
    val group = s"etl-side-by-side-${System.nanoTime()}"
    // per SQL execution its call stack, and per job (execution, group):
    // the run's jobs are those whose execution EtlMain started, so a
    // straggler job of an earlier suite cannot be mistaken for one
    val stacks = new java.util.concurrent.ConcurrentHashMap[String, String]()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart => stacks.put(x.executionId.toString, x.details)
        case _ => ()
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(
        (String.valueOf(e.properties.getProperty("spark.sql.execution.id")),
          String.valueOf(e.properties.getProperty("spark.jobGroup.id"))))
    }
    val out = SparkTestSession.tempDir("graft_group_out").toString
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "side by side")
    try EtlMain.runFull(spark, EtlTestData.fixture.dir, out, "2026-08-14")
    finally {
      sc.clearJobGroup()
      org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
      sc.removeSparkListener(listener)
    }
    def startedBy(method: String) = jobs.asScala.toSeq.filter { case (id, _) =>
      Option(stacks.get(id)).exists(_.contains(s"graft.EtlMain$$.$method"))
    }
    // the four entity loads ran on their own threads
    assert(startedBy("loadProduction").size >= 4)
    val run = startedBy("")
    assert(run.forall(_._2 == group), run)
  }

  test("PlanMetrics: shuffle budget assertions against executed plans") {
    import graft.pipeline.PlanMetrics
    val df = spark.range(0, 10000).toDF("id")
      .groupBy(expr("id % 7").as("k")).count()
    df.collect() // metrics exist only after execution
    val m = PlanMetrics.summarize(df)
    assert(m.shuffles == 1, m)
    // partial aggregation means only the 7 per-partition-combined
    // groups per partition cross the wire, never the 10k rows
    assert(m.shuffleRecords > 0 && m.shuffleRecords < 10000, m)
    assert(m.shuffleBytes > 0)
    // a pure scan+filter must NOT shuffle — the §4 budget check
    val scan = spark.range(0, 1000).toDF("id").filter(col("id") > 500)
    scan.collect()
    assert(PlanMetrics.summarize(scan) ==
      PlanMetrics.Summary(0, 0, 0L, 0L))
    // broadcast joins register as broadcasts, not shuffles
    val dim = spark.range(0, 7).toDF("k")
    val j = df.join(org.apache.spark.sql.functions.broadcast(dim), "k")
    j.collect()
    val jm = PlanMetrics.summarize(j)
    assert(jm.broadcasts == 1 && jm.shuffles == 1, jm)
  }

  test("EtlMain.parseArgs: reference main.py mode surface") {
    import EtlMain.parseArgs
    val d = parseArgs(Array("/in", "/out"))
    assert(d.mode == "full" && d.scheduleType == "twice_daily" &&
      d.runTime == "01:00" && d.maxRuns == Int.MaxValue)
    val c = parseArgs(Array("/in", "/out", "2026-01-15",
      "--mode", "schedule", "--schedule-type", "daily",
      "--run-time", "03:30", "--max-runs", "2"))
    assert(c.batchDate == "2026-01-15" && c.mode == "schedule" &&
      c.scheduleType == "daily" && c.runTime == "03:30" && c.maxRuns == 2)
    assert(Seq("extract", "transform", "load", "health").forall(m =>
      parseArgs(Array("/in", "/out", "--mode", m)).mode == m))
    intercept[IllegalArgumentException](
      parseArgs(Array("/in", "/out", "--mode", "bogus")))
    intercept[IllegalArgumentException](parseArgs(Array("/in")))
  }

  test("EtlMain: phase-split extract/transform/load ≡ fused full run") {
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val dataDir = src.dir
      val split = SparkTestSession.tempDir("graft_split").toString
      val fused = SparkTestSession.tempDir("graft_fused").toString
      val date = "2026-08-14"
      EtlMain.runExtract(spark, dataDir, split)
      EtlMain.runTransform(spark, split, date)
      EtlMain.runLoad(spark, split)
      EtlMain.runFull(spark, dataDir, fused, date)
      BankEtl.schemas.map(_.name).filter(e =>
        new java.io.File(s"$fused/$e").isDirectory).foreach { e =>
        val a = spark.read.parquet(s"$split/$e")
        val b = spark.read.parquet(s"$fused/$e")
        assert(a.count() == b.count(), e)
        assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
          s"$e: phase-split and fused production tables diverge")
      }
      // re-running extract against the unchanged CSV dir stages nothing
      EtlMain.runExtract(spark, dataDir, split)
      val again = spark.read.parquet(s"$split/customers").count()
      assert(again == spark.read.parquet(s"$fused/customers").count())
    }
  }

  test("EtlMain full processes all FOUR entities (synthesized " +
    "transactions fixture closes the reference's missing-blob gap): " +
    "counts by construction, dirty-value semantics, idempotent re-run") {
    import java.nio.file.{Files, Paths}
    import graft.pipeline.RunLog
    import graft.tools.TransactionsFixture
    for (src <- EtlTestData.sources) withClue(s"${src.name}: ") {
      val csvDir = SparkTestSession.tempDir("graft_data4")
      Seq("branches", "customers", "loans").foreach { e =>
        Files.copy(Paths.get(src.csv(e)), csvDir.resolve(s"$e.csv"))
      }
      val fx = TransactionsFixture.write(csvDir.resolve("transactions.csv"))
      val out = SparkTestSession.tempDir("graft_out4").toString
      val log = new RunLog(s"$out/_logs", RunLog.newRunId())
      EtlMain.runFull(spark, csvDir.toString, out, "2026-08-14", Some(log))
      // the reference's own target: `[etl] summary full: ok=4`
      val full = RunLog.summarize(log.currentFile).find(_._1 == "full").get
      assert(full._2 == 4 && full._3 == 0, s"summary: $full")
      val tx = spark.read.parquet(s"$out/transactions")
      // staged = total − empty-PK drops − keep-last shadows (by construction)
      assert(tx.count() == fx.staged)
      for (e <- Seq("customers", "loans", "branches"))
        assert(spark.read.parquet(s"$out/$e").count() == src.staged(e), e)
      // planted dirty-value semantics (transform.py:430-463)
      val byId = tx.filter(col("transaction_id").isin(
        "2", "6", "7", "8", "9", "10", "11", "12", "21"))
        .collect().map(r => r.getAs[String]("transaction_id") -> r).toMap
      assert(byId("7").getAs[Double]("amount") == 12345.67) // ₹12,345.67
      assert(byId("7").getAs[String]("transaction_category") == "Large")
      assert(byId("8").getAs[Double]("amount") == 0.0) // safe_num junk → 0
      assert(byId("8").getAs[String]("transaction_category") == "Small")
      assert(byId("9").getAs[Double]("amount") == 2500.0) // $ 2,500.00
      assert(byId("9").getAs[String]("transaction_category") == "Medium")
      assert(byId("10").isNullAt(byId("10").fieldIndex("transaction_date")),
        "April 31 must parse to null")
      assert(byId("11").isNullAt(byId("11").fieldIndex("transaction_date")))
      assert(byId("11").getAs[Boolean]("fraud_flag")) // "YES"
      assert(!byId("2").getAs[Boolean]("fraud_flag")) // "false"
      assert(byId("12").getAs[String]("customer_id") == "NA") // empty → NA
      assert(byId("6").getAs[String]("customer_id") == "106") // trimmed
      // keep-LAST dedup: the shadow row's marker amount won
      assert(byId("21").getAs[Double]("amount") == 77777.77)
      assert(byId("21").getAs[java.sql.Date]("transaction_date").toString
        == "2022-06-15")
      // production partitioning on the analysis dimension
      val parts = new java.io.File(s"$out/transactions").list().toSeq
      assert(Seq("Large", "Medium", "Small").forall(c =>
        parts.contains(s"transaction_category=$c")), parts.toString)
      // idempotent re-run: tracker skips the unchanged files, counts hold
      EtlMain.runFull(spark, csvDir.toString, out, "2026-08-14", Some(log))
      assert(spark.read.parquet(s"$out/transactions").count() == fx.staged)
    }
  }

  test("operator cache lifecycle: composing sealed operators leaves " +
    "no persistent RDDs once released (VERDICT r5 #1)") {
    import spark.implicits._
    val sc = spark.sparkContext
    // start from a clean block manager (suites share the session)
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    assert(sc.getPersistentRDDs.isEmpty)
    // the composed-pipeline shape a library user writes: three
    // operators from three files, results consumed in one job each
    val docs = (1 to 40).map(i => (i.toLong,
      s"alpha beta gamma delta w$i x${i % 7} y${i % 5} z${i % 3}"))
      .toDF("id", "text")
    val spans = graft.operators.Corpus.spanDedup(docs, "text", "id",
      n = 2, minDocs = 3, flagAt = 0.5)
    val pairs = graft.operators.Dedup.ngramJaccardPairs(docs, "text", "id",
      n = 2, threshold = 0.5)
    val baskets = (1 to 30).flatMap(b => (0 until 3).map(j =>
      (b.toLong, s"it${(b + j) % 6}"))).toDF("bk", "it")
    val lift = graft.operators.Analytics.basketLift(baskets, "bk", "it", 2L)
    assert(spans.count() > 0 && pairs.count() >= 0 && lift.count() > 0)
    // sealed contract: every persisted INTERMEDIATE was released inside
    // the operators — the only storage left is the results' own
    // checkpoints (one RDD each)
    val held = sc.getPersistentRDDs.size
    assert(held <= 3,
      s"operators leaked intermediate caches: $held persistent RDDs held")
    // caller-side release drains the rest
    Seq(spans, pairs, lift).foreach(graft.release)
    assert(sc.getPersistentRDDs.isEmpty,
      "graft.release must free the results' checkpoint storage")
  }

  test("TaskDag: deterministic topo order, failure skips exactly the " +
    "downstream cone, retries recover, cycles named") {
    import graft.pipeline.TaskDag
    import TaskDag.{Task, Succeeded, Failed, SkippedUpstream}
    val ran = scala.collection.mutable.ArrayBuffer.empty[String]
    def t(name: String, deps: String*) =
      Task(name, deps, () => { ran += name; () })
    // diamond + independent branch: order is dependency-respecting and
    // lexicographic among ready tasks — a pure function of the graph
    val order = TaskDag.topoOrder(Seq(
      t("facts", "dim_a", "dim_b"), t("dim_b"), t("dim_a"),
      t("publish", "facts", "quality"), t("quality", "facts"),
      t("independent")))
    // Kahn pops the lexicographically smallest READY task: facts
    // becomes ready once dim_b lands and wins over independent
    assert(order == Seq("dim_a", "dim_b", "facts", "independent",
      "quality", "publish"))
    // failure in dim_b: facts/quality/publish skipped WITH the root
    // cause named; dim_a and independent still run
    ran.clear()
    val boom = new RuntimeException("boom")
    val rep = TaskDag.run(Seq(
      t("dim_a"), Task("dim_b", Nil, () => throw boom),
      t("facts", "dim_a", "dim_b"), t("quality", "facts"),
      t("publish", "facts", "quality"), t("independent")))
    assert(ran.toSeq == Seq("dim_a", "independent"))
    assert(rep.status("dim_b") == Failed(1, boom))
    assert(rep.status("facts") == SkippedUpstream("dim_b"))
    assert(rep.status("publish") == SkippedUpstream("dim_b"))
    assert(rep.status("dim_a") == Succeeded(1) && !rep.succeeded)
    // a transient failure recovers within maxAttempts
    var n = 0
    val retry = TaskDag.run(Seq(Task("flaky", Nil,
      () => { n += 1; if (n < 3) throw new RuntimeException("transient") },
      maxAttempts = 3)))
    assert(retry.status("flaky") == Succeeded(3) && retry.succeeded)
    // cycles are detected and NAMED, not just counted
    val ex = intercept[IllegalArgumentException] {
      TaskDag.topoOrder(Seq(t("a", "c"), t("b", "a"), t("c", "b"),
        t("root")))
    }
    assert(ex.getMessage.contains("->"), ex.getMessage)
    // unknown dependency fails loudly
    intercept[IllegalArgumentException] {
      TaskDag.topoOrder(Seq(t("x", "nope")))
    }
    // r9 ADVICE: a duplicated dep edge must not double-decrement and
    // promote the task before its OTHER dep ran (was: NoSuchElementException
    // in run() when "b" became ready ahead of "c")
    assert(TaskDag.topoOrder(Seq(t("a"), t("c", "a"), t("b", "a", "a", "c")))
      == Seq("a", "c", "b"))
    ran.clear()
    val dup = TaskDag.run(Seq(t("a"), t("c", "a"), t("b", "a", "a", "c")))
    assert(dup.succeeded && ran.toSeq == Seq("a", "c", "b"))
  }

  test("ScaleFixture e2e: 4-entity full run at 3x reference size, " +
    "every production count by construction (r9 VERDICT #5 rung; the " +
    "100x run is tools.EtlScale, results in SURVEY §7j)") {
    import java.nio.file.Files
    import graft.tools.ScaleFixture
    val csv = SparkTestSession.tempDir("graft_scale3_csv")
    val fx = ScaleFixture.write(csv, 3)
    val out = SparkTestSession.tempDir("graft_scale3_out").toString
    val log = new graft.pipeline.RunLog(s"$out/_logs",
      graft.pipeline.RunLog.newRunId())
    EtlMain.runFull(spark, csv.toString, out, "2026-08-16", Some(log))
    val full = graft.pipeline.RunLog.summarize(log.currentFile)
      .find(_._1 == "full").get
    assert(full._2 == 4 && full._3 == 0, s"summary: $full")
    assert(spark.read.parquet(s"$out/branches").count() ==
      fx.branches.staged)
    assert(spark.read.parquet(s"$out/customers").count() ==
      fx.customers.staged)
    assert(spark.read.parquet(s"$out/loans").count() == fx.loans.staged)
    assert(spark.read.parquet(s"$out/transactions").count() ==
      fx.transactions.staged)
    // planted keep-last semantics survive at scale: branch shadow won
    val b1 = spark.read.parquet(s"$out/branches")
      .filter(col("branch_id") === "QT0001").collect()
    assert(b1.length == 1 &&
      b1(0).getAs[String]("branch_name").toLowerCase.endsWith("last"),
      b1.mkString(";")) // cleanTextTitle initcaps "-LAST" → "-last"
  }
}
