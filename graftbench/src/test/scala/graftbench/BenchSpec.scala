package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit, when}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The benchmark at tiny scale: every workload runs, traced and untraced,
  * and passes its own checks; and every output check reports a failure
  * when it is fed a corrupted result, so no check is one that cannot
  * fail. Run with `sbt test` from graftbench/.
  */
class BenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val bench = Paths.get("").toAbsolutePath
  private val work = bench.resolve("work").resolve("selftest")
  private lazy val spark: SparkSession = Main.session("query_mix", work)

  override def beforeAll(): Unit = {
    EtlWorkload.deleteTree(work)
    Files.createDirectories(work)
  }

  override def afterAll(): Unit = {
    spark.stop()
    EtlWorkload.deleteTree(work)
  }

  private def metric(r: Main.Result, name: String): Double =
    r.metrics.collectFirst { case (`name`, v, _) => v }.getOrElse(fail(s"no metric $name"))

  private def assertClean(r: Main.Result): Unit = {
    assert(r.traceProblems.isEmpty)
    assert(r.failed == 0 && r.attempted > 0)
  }

  private def etl(name: String, delta: Boolean) =
    new EtlWorkload(spark, work.resolve(name), mult = 1, seed = 7, delta = delta)

  test("etl_full: traced run is clean and names every layer metric") {
    val w = etl("full", delta = false)
    val r = Main.measure(w, seconds = 0, trace = true, System.nanoTime())
    assertClean(r)
    Main.LayerUnits.foreach { case (n, _) => metric(r, n) }
    assert(metric(r, "sources.csv_useful_frac") == 1.0)
    // the real runFull's jobs and time land in each layer it calls
    Seq("sources.tracker", "sources.csv_read", "operators.loads").foreach { l =>
      assert(metric(r, s"${l}_jobs") > 0, l)
      assert(metric(r, s"${l}_s") > 0, l)
    }
    assert(metric(r, "sources.write_s") > 0)
    assert(w.recheck().isEmpty)

    // a production part file lost: the count check fails
    val loans = w.lastOutput.resolve("loans")
    val part = Files.walk(loans).iterator().asScala
      .find(p => p.getFileName.toString.endsWith(".parquet")).get
    Files.delete(part)
    assert(w.recheck().keySet == Set("loans"))
  }

  test("etl_full: a wrong planted value and a wrong RunLog count are caught") {
    val w = etl("full2", delta = false)
    Main.measure(w, seconds = 0, trace = false, System.nanoTime())
    assert(w.recheck().isEmpty)

    // same row count, one transformed value changed
    val target = w.lastOutput.resolve("branches").toString
    val moved = w.lastOutput.resolve("branches_moved").toString
    spark.read.parquet(target)
      .withColumn("region", when(col("branch_id") === "BRP001", lit("South")).otherwise(col("region")))
      .write.parquet(moved)
    EtlWorkload.deleteTree(Paths.get(target))
    Files.move(Paths.get(moved), Paths.get(target))
    assert(w.recheck().keySet == Set("branches"))

    // the RunLog reports a wrong deduped count for customers
    // the last repetition's log: logs/rep<N>/ (warm-up loads log to logs/warm<N>/)
    val log = Files.walk(work.resolve("full2").resolve("logs")).iterator().asScala
      .filter(p => p.toString.endsWith(".jsonl") && p.getParent.getFileName.toString.startsWith("rep"))
      .toSeq.maxBy(_.getParent.getFileName.toString.stripPrefix("rep").toInt)
    val text = new String(Files.readAllBytes(log), StandardCharsets.UTF_8)
    val bad = text.linesIterator.map { l =>
      if (l.contains("\"entity\":\"customers\"") && l.contains("\"deduped\":"))
        l.replaceAll("\"deduped\":(\\d+)", "\"deduped\":999999") else l
    }.mkString("", "\n", "\n")
    Files.write(log, bad.getBytes(StandardCharsets.UTF_8))
    assert(w.recheck().keySet == Set("branches", "customers"))
  }

  test("etl_delta: traced run is clean and parses mostly rows it already loaded") {
    val r = Main.measure(etl("delta", delta = true), seconds = 0, trace = true, System.nanoTime())
    assertClean(r)
    val useful = metric(r, "sources.csv_useful_frac")
    assert(useful > 0.0 && useful < 0.2)
    assert(metric(r, "pipeline.branches_s") == 0.0) // no new branches file: skipped
  }

  test("layerOf: names the layer of each call runFull makes, and none for a call it does not know") {
    import Tracer.Frame
    val inBody = Seq(Frame("graft.EtlMain$", "$anonfun$runFull$2"), Frame("graft.pipeline.RunLog", "timed"),
      Frame("graft.EtlMain$", "$anonfun$runFull$1"), Frame("scala.collection.immutable.List", "foreach"),
      Frame("graft.EtlMain$", "runFull"), Frame("graftbench.EtlWorkload", "rep"))
    val inLoad = Frame("graft.EtlMain$", "loadProduction") +: inBody
    def layer(fs: Frame*) = EtlWorkload.layerOf(fs)
    val count = Frame("org.apache.spark.sql.classic.Dataset", "count")
    assert(layer(count +: Frame("graft.sources.CsvStaging$", "read") +: Frame("graft.pipeline.BankEtl$", "extract") +: inBody: _*)
      .contains("sources.csv_read"))
    assert(layer(Frame("graft.sources.FileTracker", "markProcessed") +: inBody: _*).contains("sources.tracker"))
    assert(layer(Frame("org.apache.spark.sql.classic.Dataset", "isEmpty") +: inBody.drop(4): _*)
      .contains("sources.tracker"))
    assert(layer(count +: inLoad: _*).contains("operators.loads"))
    assert(layer(Frame("graft.sources.Writers$", "writePartitioned") +: inLoad: _*).contains("sources.write"))
    assert(layer(Frame("org.apache.spark.sql.DataFrameWriter", "parquet") +: inLoad: _*).contains("sources.write"))
    assert(layer(Frame("graft.operators.Loads$", "countReport") +: Frame("graft.EtlMain$", "runHealth") +: inBody.drop(4): _*)
      .contains("pipeline.health"))
    // a job runFull's own body starts by a call this does not know, and
    // a job from outside runFull, are attributed to no layer
    assert(layer(Frame("org.apache.spark.sql.classic.Dataset", "collect") +: inBody: _*).isEmpty)
    assert(layer(count, Frame("graftbench.EtlWorkload", "rep")).isEmpty)
    // Spark's long call site lines, with or without a class loader prefix
    assert(Frame.parseAll("org.apache.spark.sql.classic.Dataset.count(Dataset.scala:1)\n" +
      "app//graft.EtlMain$.loadProduction(EtlMain.scala:170)") ==
      Seq(count, Frame("graft.EtlMain$", "loadProduction")))
  }

  test("query_mix: traced run is clean against the pins") {
    val pins = MixWorkload.readPins(Main.pinsFile(bench))
    val r = Main.measure(new MixWorkload(spark, Main.mixData(bench), pins, seed = 3),
      seconds = 0, trace = true, System.nanoTime())
    assertClean(r)
    assert(metric(r, "operators.build_jobs") > 0 && metric(r, "engine.count_jobs") > 0)
  }

  test("query_mix: a wrong digest or row count fails that query") {
    val pins = MixWorkload.readPins(Main.pinsFile(bench))
    val tampered = pins ++ Map(
      "q_agg_summary" -> pins("q_agg_summary").copy(digest = "0000000000000000"),
      "q_join_enrich" -> pins("q_join_enrich").copy(rows = pins("q_join_enrich").rows + 1))
    val w = new MixWorkload(spark, Main.mixData(bench), tampered, seed = 3)
    w.setUp()
    assert(w.rep(None).failed == 2)
  }

  test("digest: order-independent, and moved by any changed value or lost row") {
    val df = spark.range(0, 50).selectExpr("id", "id * 0.5 as x", "cast(id as string) as s")
    val d = MixWorkload.digest(df)
    assert(MixWorkload.digest(df.orderBy(col("id").desc)) == d)
    assert(MixWorkload.digest(df.withColumn("x", when(col("id") === 7, 3.6).otherwise(col("x")))) != d)
    assert(MixWorkload.digest(df.filter(col("id") =!= 7)).rows == 49)
  }

  test("run.py fails fast, printing no result, without the program's sources") {
    val dir = Files.createTempDirectory(work, "bare")
    val copy = dir.resolve("graftbench")
    Files.createDirectories(copy)
    Files.copy(bench.resolve("run.py"), copy.resolve("run.py"))
    Files.copy(bench.getParent.resolve("BENCHMARK.json"), dir.resolve("BENCHMARK.json"))
    val p = new ProcessBuilder("python3", "graftbench/run.py", "--workload", "etl_full",
      "--seed", "1", "--seconds", "1", "--trace", "0").directory(dir.toFile).start()
    val out = new String(p.getInputStream.readAllBytes(), StandardCharsets.UTF_8)
    assert(p.waitFor() != 0)
    assert(!out.contains("{"))
  }
}
