package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{CsvStaging, FileTracker}
import org.apache.spark.sql.functions._

class SourcesSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def tmpDir() = SparkTestSession.tempDir("graft_test").toString

  test("CsvStaging: keep-last across files follows file name order, " +
      "whichever file is larger") {
    // Spark packs a multi-file read's splits largest first, so the
    // larger file's rows are read first whatever its name
    for (larger <- Seq("c_1.csv", "c_2.csv")) {
      val dir = tmpDir()
      for (f <- Seq("c_1.csv", "c_2.csv")) {
        val pad = if (f == larger) (1 to 200).map(i => s"P$i,$f,$i") else Nil
        Files.writeString(java.nio.file.Path.of(dir, f),
          (Seq("id,src,v", s"K,$f,0") ++ pad).mkString("", "\n", "\n"))
      }
      val res = CsvStaging.read(spark, s"$dir/c_*.csv",
        Seq("id", "src", "v"), "id")
      res.data.count() // the stats are counted by the first action
      assert(res.data.filter(col("id") === "K").select("src").as[String]
        .collect().toSeq == Seq("c_2.csv"), s"larger file: $larger")
      assert(res.totalRows == 202 && res.dedupedRows == 1)
    }
  }

  test("CsvStaging: raw strings, schema check, pk filter, keep-last dedup") {
    val dir = tmpDir()
    Files.writeString(java.nio.file.Path.of(dir, "loans.csv"),
      """loan_id,customer_id,loan_amount
        |L1,c1,100
        |L2,c2,200
        |L1,c1,999
        |,c3,300
        |L3,,400
        |""".stripMargin)
    val res = CsvStaging.read(spark, s"$dir/loans.csv",
      Seq("loan_id", "customer_id", "loan_amount"), "loan_id")
    res.data.count()
    assert(res.totalRows == 5 && res.invalidKeyRows == 1 && res.dedupedRows == 1)
    val rows = res.data.collect().map(r =>
      r.getAs[String]("loan_id") -> r.getAs[String]("loan_amount")).toMap
    assert(rows == Map("L1" -> "999", "L2" -> "200", "L3" -> "400")) // keep-last
    assert(res.data.schema.filter(_.name != "numeric_sort_key")
      .forall(_.dataType.typeName == "string")) // raw strings
    val keys = res.data.collect().map(r =>
      r.getAs[String]("loan_id") -> r.getAs[Long]("numeric_sort_key")).toMap
    assert(keys("L1") == 1L && keys("L3") == 3L)
    // schema mismatch is an error, not silent coercion
    intercept[IllegalArgumentException] {
      CsvStaging.read(spark, s"$dir/loans.csv", Seq("a", "b", "c"), "a")
    }
  }

  test("CsvStaging: per-file raw counts on a multi-file glob") {
    val dir = tmpDir()
    Files.writeString(java.nio.file.Path.of(dir, "tx_1.csv"),
      "id,v\nT1,1\nT2,2\n")
    Files.writeString(java.nio.file.Path.of(dir, "tx_2.csv"),
      "id,v\nT3,3\nT4,4\nT5,5\n")
    val res = CsvStaging.read(spark, s"$dir/tx_*.csv", Seq("id", "v"), "id")
    res.data.count()
    // record_count must be per FILE, not the glob total (ADVICE r1)
    assert(res.perFileRows == Map("tx_1.csv" -> 2L, "tx_2.csv" -> 3L))
    assert(res.totalRows == 5)
    // invalid keys and keep-last shadows count over the whole glob
    Files.writeString(java.nio.file.Path.of(dir, "tx_3.csv"),
      "id,v\nT6,6\n,7\nT6,8\nT2,9\n")
    val all = CsvStaging.read(spark, s"$dir/tx_*.csv", Seq("id", "v"), "id")
    all.data.count()
    assert(all.perFileRows("tx_3.csv") == 4L && all.totalRows == 9)
    assert(all.invalidKeyRows == 1 && all.dedupedRows == 2)
    assert(all.data.collect().map(_.getString(0)).sorted.toSeq ==
      Seq("T1", "T2", "T3", "T4", "T5", "T6"))
  }

  test("CsvStaging: a glob where every key is invalid reports its stats " +
    "after one action, without blocking") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val dir = tmpDir()
    Files.writeString(java.nio.file.Path.of(dir, "bad_1.csv"), "id,v\n,1\n ,2\n")
    Files.writeString(java.nio.file.Path.of(dir, "bad_2.csv"), "id,v\n,3\n")
    val res = CsvStaging.read(spark, s"$dir/bad_*.csv", Seq("id", "v"), "id")
    assert(res.data.count() == 0)
    // an observation whose node the plan lost would wait forever
    val stats = Await.result(Future((res.totalRows, res.invalidKeyRows,
      res.dedupedRows, res.perFileRows)), 60.seconds)
    assert(stats == ((3L, 3L, 0L, Map("bad_1.csv" -> 2L, "bad_2.csv" -> 1L))))
  }

  test("JsonlSource: good rows parse, malformed lines quarantine") {
    val dir = tmpDir()
    java.nio.file.Files.writeString(java.nio.file.Path.of(dir, "docs.jsonl"),
      """{"doc_id": 1, "text": "hello world"}
        |{"doc_id": 2, "text": "second doc"}
        |{not valid json at all
        |{"doc_id": "not-a-number", "text": "bad type"}
        |{"doc_id": 3, "text": "third"}
        |""".stripMargin)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    val res = graft.sources.JsonlSource.read(spark, s"$dir/docs.jsonl", schema)
    val good = res.good.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(good == Set(1L, 2L, 3L))
    val bad = res.corrupt.collect().map(_.getString(0))
    assert(bad.length == 2)
    assert(bad.exists(_.contains("not valid json")))
  }

  test("FileTracker: unprocessed files surface, changed files re-surface") {
    val dir = tmpDir(); val state = tmpDir() + "/state"
    val glob = s"$dir/*.csv"
    Files.writeString(java.nio.file.Path.of(dir, "a.csv"), "id\n1\n")
    Files.writeString(java.nio.file.Path.of(dir, "b.csv"), "id\n2\n")
    val tracker = new FileTracker(spark, state)
    def pending() = tracker.pending(Seq(glob))
    val first = pending()
    assert(first.files(glob).size == 2)
    tracker.record(first, first.files(glob).map(f => f -> 1L))
    assert(pending().files(glob).isEmpty) // all tracked
    Files.writeString(java.nio.file.Path.of(dir, "a.csv"), "id\n1\n99\n")
    val changed = pending()
    assert(changed.files(glob).map(_.name) == Seq("a.csv"))
    tracker.record(changed, changed.files(glob).map(f => f -> 2L))
    assert(pending().files(glob).isEmpty)
    assert(tracker.state().count() == 2) // upsert by name, not append
    // a glob matching nothing has no pending files
    assert(tracker.pending(Seq(s"$dir/none*.csv")).files(s"$dir/none*.csv").isEmpty)
  }

  test("FileTracker: a file rewritten between diff and record re-surfaces") {
    val dir = tmpDir(); val state = tmpDir() + "/state"
    val glob = s"$dir/*.csv"
    val a = java.nio.file.Path.of(dir, "a.csv")
    Files.writeString(a, "id\n1\n")
    val tracker = new FileTracker(spark, state)
    val taken = tracker.pending(Seq(glob))
    // the run loads the content it hashed; the file changes meanwhile
    Files.writeString(a, "id\n1\n2\n")
    tracker.record(taken, taken.files(glob).map(f => f -> 1L))
    // the state holds the hash the run diffed, not the new content's
    assert(tracker.pending(Seq(glob)).files(glob).map(_.name) == Seq("a.csv"))
  }

  test("CsvStaging: a file whose header orders the columns differently " +
    "fails the read instead of shifting values") {
    val dir = tmpDir()
    Files.writeString(java.nio.file.Path.of(dir, "t_1.csv"), "id,a,b\nT1,a1,b1\n")
    Files.writeString(java.nio.file.Path.of(dir, "t_2.csv"), "id,b,a\nT2,b2,a2\n")
    val ex = intercept[Exception] {
      CsvStaging.read(spark, s"$dir/t_*.csv", Seq("id", "a", "b"), "id")
        .data.collect()
    }
    assert(Iterator.iterate[Throwable](ex)(_.getCause).takeWhile(_ != null)
      .exists(e => String.valueOf(e.getMessage).contains("header")), ex)
    // the same files with agreeing headers, in either order, read by name
    Files.writeString(java.nio.file.Path.of(dir, "t_2.csv"), "id,a,b\nT2,a2,b2\n")
    Files.writeString(java.nio.file.Path.of(dir, "u_1.csv"), "b,id,a\nb3,T3,a3\n")
    for (g <- Seq("t_*.csv", "u_*.csv")) {
      val rows = CsvStaging.read(spark, s"$dir/$g", Seq("id", "a", "b"), "id")
        .data.collect()
      assert(rows.forall(r => r.getAs[String]("a").startsWith("a") &&
        r.getAs[String]("b").startsWith("b")), rows.mkString)
    }
  }

  private def rangeDf(start: Long, end: Long, slices: Int = 4) =
    spark.read.format("graft.sources.v2.RangeTableProvider")
      .option("start", start).option("end", end).option("slices", slices)
      .load()

  test("DSv2 range source: correct data, even split planning") {
    val df = rangeDf(10, 110, 4)
    assert(df.count() == 100L)
    assert(df.agg(sum($"id")).head.getLong(0) == (10L until 110L).sum)
    assert(df.rdd.getNumPartitions == 4)
    // more slices than rows degrades to one partition per row
    assert(rangeDf(0, 3, 8).rdd.getNumPartitions == 3)
    // empty range plans ZERO partitions
    assert(rangeDf(5, 5, 4).rdd.getNumPartitions == 0)
  }

  test("DSv2 range source: range predicates prune at PLANNING time") {
    val df = rangeDf(0, 1000000, 4).filter($"id" >= 999990 && $"id" < 999995)
    assert(df.collect().map(_.getLong(0)).toSeq ==
      (999990L until 999995L).toSeq)
    // the scan's description carries the NARROWED bounds — the reader
    // never materializes the other 999990 rows
    val scan = df.queryExecution.executedPlan.collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }.get
    assert(scan.scan.description().contains("[999990, 999995)"),
      scan.scan.description())
    // pruned range splits into min(slices, n) partitions
    assert(df.rdd.getNumPartitions == 4)
    // equality collapses to a single-row single-partition read
    val one = rangeDf(0, 1000000, 4).filter($"id" === 42)
    assert(one.rdd.getNumPartitions == 1 && one.head.getLong(0) == 42L)
    // contradictory bounds → zero partitions, zero rows
    assert(rangeDf(0, 100, 4).filter($"id" > 50 && $"id" < 10).count() == 0L)
  }

  test("DSv2 range source: column pruning — count(*) reads no columns") {
    val df = rangeDf(0, 1000, 2).groupBy().count()
    assert(df.head.getLong(0) == 1000L)
    // AQE hides the scan from collectFirst until execution — assert on
    // the final plan string instead (head() above materialized it)
    val planStr = df.queryExecution.executedPlan.toString
    assert(planStr.contains("cols=0"), planStr.take(1500))
    // residual (non-range) filters still evaluate post-scan correctly
    val odd = rangeDf(0, 100, 4).filter($"id" % 2 === 1)
    assert(odd.count() == 50L)
  }

  test("DSv2 line sink: two-phase commit — rename-in, _SUCCESS, clean tmp") {
    val dir = tmpDir()
    val df = Seq((1L, "a\u00e9b", 1.5, true), (2L, "x", -0.25, false))
      .toDF("id", "s", "v", "flag").repartition(2)
    df.write.format("graft.sources.v2.LineSinkProvider")
      .option("path", dir).mode("append").save()
    val files = new java.io.File(dir).list().sorted.toSeq
    // only committed part files + the job-level marker; no _tmp left
    assert(files.forall(f => f == "_SUCCESS" || f.endsWith(".tsv")), files)
    assert(files.contains("_SUCCESS") && !files.contains("_tmp"))
    val lines = files.filter(_.endsWith(".tsv")).flatMap { f =>
      scala.io.Source.fromFile(new java.io.File(dir, f), "UTF-8")
        .getLines().toSeq
    }.sorted
    assert(lines == Seq("1\ta\u00e9b\t1.5\ttrue", "2\tx\t-0.25\tfalse").sorted)
  }

  test("DSv2 line sink: a second append job adds files, never replaces") {
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "s").coalesce(1)
      .write.format("graft.sources.v2.LineSinkProvider")
      .option("path", dir).mode("append").save()
    Seq((2L, "b")).toDF("id", "s").coalesce(1)
      .write.format("graft.sources.v2.LineSinkProvider")
      .option("path", dir).mode("append").save()
    // both jobs write partition 0 — before queryId-unique final names
    // the second ATOMIC_MOVE silently replaced the first job's file
    val lines = new java.io.File(dir).list().filter(_.endsWith(".tsv"))
      .toSeq.flatMap { f =>
        scala.io.Source.fromFile(new java.io.File(dir, f), "UTF-8")
          .getLines().toSeq
      }.sorted
    assert(lines == Seq("1\ta", "2\tb"))
  }

  test("DSv2 line sink: abort leaves the target untouched") {
    val dir = tmpDir()
    // drive the committer directly: a task that never commits leaves
    // only temp state; driver abort must clean it without touching
    // anything visible
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType)))
    val bw = new graft.sources.v2.LineSinkBatchWrite(dir, schema, "q0")
    bw.createBatchWriterFactory(null) // creates _tmp
    val w = new graft.sources.v2.LineWriterFactory(dir, schema, "q0")
      .createWriter(0, 7L)
    w.write(org.apache.spark.sql.catalyst.InternalRow(99L))
    w.abort() // task-side: temp file gone
    bw.abort(Array.empty) // driver-side: _tmp gone, nothing renamed
    val left = new java.io.File(dir).list().toSeq
    assert(left.isEmpty, left)
  }

  test("BatchLedger: replays are no-ops, crash window heals, readers see only committed") {
    import graft.sources.BatchLedger
    val dir = tmpDir() + "/led"
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val b2 = Seq((3L, "c")).toDF("id", "v")
    assert(BatchLedger.publish(spark, b1, dir, "0001"))
    assert(!BatchLedger.publish(spark, b1, dir, "0001")) // replay: no-op
    assert(BatchLedger.publish(spark, b2, dir, "0002"))
    assert(BatchLedger.read(spark, dir).count() == 3L) // never 5
    // simulate the crash window: data written, ledger never updated
    val b3 = Seq((4L, "d")).toDF("id", "v")
    graft.sources.ParquetIo.replace(b3, dir + "/batch=0003")
    assert(BatchLedger.orphaned(spark, dir, "0003"))
    assert(BatchLedger.read(spark, dir).count() == 3L) // orphan invisible
    // the re-run heals: rewrites the dir and commits it
    assert(BatchLedger.publish(spark, b3, dir, "0003"))
    assert(!BatchLedger.orphaned(spark, dir, "0003"))
    assert(BatchLedger.read(spark, dir).count() == 4L)
    // full history replay after everything: still exactly-once
    Seq(("0001", b1), ("0002", b2), ("0003", b3)).foreach { case (id, df) =>
      assert(!BatchLedger.publish(spark, df, dir, id))
    }
    assert(BatchLedger.read(spark, dir).count() == 4L)
  }

}
