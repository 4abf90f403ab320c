package graftbench

import java.nio.file.{Files, Path}
import java.time.Instant

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

import graft.EtlMain
import graft.pipeline.{BankEtl, RunLog}

/** `EtlMain.runFull` over a seeded CSV batch.
  *
  * etl_full: the first load of the base batch into an empty output dir.
  * etl_delta: the load of delta files into a copy of an output dir that
  * already holds the base load; the copy is made before the timer starts.
  *
  * An operation is one entity. After every repetition the RunLog stats
  * and the production tables are checked against the ledger, and the
  * planted rows against their known transformed values.
  */
final class EtlWorkload(val spark: SparkSession, work: Path, mult: Int, seed: Long,
                        delta: Boolean) extends Workload {
  import EtlInputs.{Entities, Expect, Planted, PrimaryKey}
  import EtlWorkload._

  private val csvDir = work.resolve("csv")
  private val baseOut = work.resolve("base")
  private val inputs = new EtlInputs(csvDir, mult, seed)
  private var expect: Map[String, Expect] = Map.empty
  private var reps = 0
  private def outDir(rep: Int) = work.resolve(s"out$rep")
  private def logDir(rep: Int) = work.resolve("logs").resolve(s"rep$rep")

  private val planted: Map[String, Map[String, Map[String, String]]] =
    if (!delta) Planted.expected
    else Planted.expected ++ Planted.expectedDelta.map { case (e, ks) =>
      e -> (Planted.expected(e) ++ ks)
    }

  /** Jobs are attributed by their own call stacks ([[layerOf]]), so
    * there is no span for a call site to contradict.
    */
  def callSites: Map[String, String] = Map.empty

  def setUp(): Unit = {
    inputs.writeBase()
    // the first load in a fresh JVM runs at about twice its steady time;
    // after one, the next stays within a few percent of the later ones.
    // etl_delta's base load is that first load.
    if (delta) {
      val base = inputs.expectNextRun()
      val rl = runLog(work.resolve("logs").resolve("base"))
      val t0 = System.nanoTime()
      EtlMain.runFull(spark, csvDir.toString, baseOut.toString, graft.BatchDate, Some(rl))
      System.err.println(f"[graftbench] base load: wall ${Workload.secsSince(t0)}%.3f s")
      val bad = check(baseOut, base, Planted.expected, readLog(rl))
      require(bad.isEmpty, s"base load failed its checks: ${bad.mkString("; ")}")
      inputs.writeDelta()
    }
    expect = inputs.expectNextRun()
    warmUp()
  }

  /** [[Main.Cores]] loads at once, each into its own output dir: the
    * timed loads keep getting faster for several repetitions as the JVM
    * compiles the driver's code, and loads run side by side get there in
    * the time of about two. Their outputs are not checked, and deleted.
    */
  private def warmUp(): Unit = {
    val t0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val dirs = (1 to Main.Cores).map(i => work.resolve(s"warm$i"))
    try {
      val loads = dirs.map { out =>
        if (delta) copyTree(baseOut, out)
        Future(attempt(EtlMain.runFull(spark, csvDir.toString, out.toString, graft.BatchDate,
          Some(runLog(work.resolve("logs").resolve(out.getFileName.toString))))))
      }
      Await.result(Future.sequence(loads), Duration.Inf).flatten
        .foreach(e => System.err.println(s"[graftbench] warm-up load $e"))
    } finally {
      pool.shutdown()
      dirs.foreach(deleteTree)
    }
    System.err.println(f"[graftbench] warm-up: wall ${Workload.secsSince(t0)}%.3f s")
  }

  def rep(tracer: Option[Tracer]): Rep = {
    deleteTree(outDir(reps))
    reps += 1
    val out = outDir(reps)
    if (delta) copyTree(baseOut, out)
    Workload.sweep(spark)
    val rl = runLog(logDir(reps))
    Heap.arm()
    val t0 = System.nanoTime()
    val (error, window) = tracer match {
      case None =>
        (attempt(EtlMain.runFull(spark, csvDir.toString, out.toString,
          graft.BatchDate, Some(rl))), None)
      case Some(t) =>
        val (e, w) = t.traced(Some(layerOf)) {
          attempt(EtlMain.runFull(spark, csvDir.toString, out.toString, graft.BatchDate, Some(rl)))
        }
        (e, Some(w))
    }
    val wall = Workload.secsSince(t0)
    val heap = Heap.peakMb
    val records = readLog(rl)
    val bad = error.map(e => Entities.map(_ -> e)).getOrElse(check(out, expect, planted, records))
    val worked = Entities.filterNot(e => expect(e).skip)
    val layers = window.map(etlLayers(_, records)).getOrElse(Map.empty)
    Rep(wall, Entities.size, bad.size, worked.map(expect(_).appended).sum,
      worked.flatMap(e => records.get(e).map(_.durationMs / 1000.0)), heap, layers, window)
  }

  /** The last repetition's output dir, and its checks run again. */
  private[graftbench] def lastOutput: Path = outDir(reps)
  private[graftbench] def recheck(): Map[String, String] =
    check(outDir(reps), expect, planted, readLog(runLog(logDir(reps))))

  private def attempt(body: => Unit): Option[String] =
    try { body; None } catch {
      case scala.util.control.NonFatal(e) => Some(s"run failed: $e")
    }

  /** Per-layer values of one traced repetition. */
  private def etlLayers(w: TraceWindow, records: Map[String, LogRecord]): Map[String, Double] = {
    val parsed = records.values.map(_.csvRows).sum.toDouble
    val fresh = Entities.map(expect(_).newFileRows).sum.toDouble
    Map(
      "sources.tracker_s" -> w.secs("sources.tracker"),
      "sources.tracker_jobs" -> w.jobsIn("sources.tracker").toDouble,
      "sources.csv_read_s" -> w.secs("sources.csv_read"),
      "sources.csv_read_jobs" -> w.jobsIn("sources.csv_read").toDouble,
      "sources.csv_rows_parsed" -> parsed,
      "sources.csv_useful_frac" -> (if (parsed > 0) fresh / parsed else 0.0),
      "sources.write_s" -> w.secs("sources.write"),
      "functions.transform_s" -> transformSecs(),
      "operators.loads_s" -> w.secs("operators.loads"),
      "operators.loads_jobs" -> w.jobsIn("operators.loads").toDouble) ++
      Entities.map(e => s"pipeline.${e}_s" -> records.get(e).map(_.durationMs / 1000.0).getOrElse(0.0))
  }

  /** `BankEtl.transform` materialised to a no-op sink, minus the same
    * for its staged input, both over one cached copy of the staged rows:
    * the cost of the cleaning functions alone. The median of three of
    * each. Runs after the traced region, so it adds nothing to it.
    */
  private def transformSecs(): Double = Entities.filterNot(e => expect(e).skip).map { e =>
    val entity = BankEtl.schemas.find(_.name == e).get
    val staged = BankEtl.extract(spark, s"$csvDir/$e*.csv", entity).data.cache()
    staged.count()
    def noop(df: org.apache.spark.sql.DataFrame): Double = Main.median((1 to 3).map { _ =>
      val t0 = System.nanoTime()
      df.write.format("noop").mode(SaveMode.Overwrite).save()
      Workload.secsSince(t0)
    })
    try noop(BankEtl.transform(e, staged, graft.BatchDate)) - noop(staged)
    finally staged.unpersist(blocking = true)
  }.sum

  /** Entities whose output disagrees with the ledger, with the reason. */
  private def check(out: Path, exp: Map[String, Expect],
                    plantedRows: Map[String, Map[String, Map[String, String]]],
                    records: Map[String, LogRecord]): Map[String, String] =
    Entities.flatMap { e =>
      val x = exp(e)
      val logProblem = records.get(e) match {
        case None if x.skip => None
        case None => Some("no ok record in the RunLog")
        case Some(_) if x.skip => Some("loaded although no file was new")
        case Some(r) =>
          val got = (r.csvRows, r.invalidPk, r.deduped, r.rowsOut)
          val want = (x.csvRows, x.invalidPk, x.deduped, x.appended)
          if (got == want) None else Some(s"RunLog (csv, invalid, deduped, out) $got != $want")
      }
      logProblem.orElse(checkTable(out.resolve(e).toString, e, x.productionRows,
        plantedRows.getOrElse(e, Map.empty))).map(e -> _)
    }.toMap

  private def checkTable(path: String, e: String, rows: Long,
                         want: Map[String, Map[String, String]]): Option[String] =
    try {
      val df = spark.read.parquet(path)
      val n = df.count()
      if (n != rows) Some(s"production rows $n != $rows")
      else {
        val key = PrimaryKey(e)
        val got = df.filter(col(key).isin(want.keys.toSeq: _*)).collect()
        want.collectFirst(Function.unlift { case (k, cols) =>
          got.filter(_.getAs[String](key) == k) match {
            case Array(r) => cols.collectFirst {
              case (c, v) if String.valueOf(r.getAs[Any](c)) != v =>
                s"planted $k.$c = ${r.getAs[Any](c)}, expected $v"
            }
            case rs => Some(s"planted $k appears ${rs.length} times")
          }
        })
      }
    } catch {
      case scala.util.control.NonFatal(ex) => Some(s"cannot read $path: $ex")
    }

  /** A RunLog with a fixed clock: its file name never changes mid-run. */
  private def runLog(dir: Path): RunLog =
    new RunLog(dir.toString, "bench", echo = false,
      clock = () => Instant.parse("2026-08-12T00:00:00Z"))
}

object EtlWorkload {
  import Tracer.Frame

  /** The layer a stack of the real `EtlMain.runFull` is in, innermost
    * frame first: the call the innermost `EtlMain` frame is making names
    * it. A job whose stack names no layer fails the traced run, so a
    * change to `runFull` that moves work to a call this does not know
    * shows as a failure, not as a silent mismeasure.
    */
  def layerOf(frames: Seq[Frame]): Option[String] = {
    val i = frames.indexWhere(_.cls.startsWith("graft.EtlMain"))
    if (i < 0) None
    else {
      val in = frames(i).method
      def callee(p: Frame => Boolean) = i > 0 && p(frames(i - 1))
      def of(obj: String, methodPrefix: String = "")(f: Frame) =
        f.cls.stripSuffix("$") == obj && f.method.startsWith(methodPrefix)
      if (in.contains("runHealth")) Some("pipeline.health")
      else if (in.contains("trackerPath") || callee(of("graft.sources.FileTracker"))) Some("sources.tracker")
      else if (callee(of("graft.pipeline.BankEtl", "extract")) ||
        callee(_.cls.startsWith("graft.sources.CsvStaging"))) Some("sources.csv_read")
      else if (callee(of("graft.pipeline.BankEtl", "transform"))) Some("functions.transform")
      else if (callee(f => f.cls.startsWith("graft.sources.Writers") || f.cls.endsWith("DataFrameWriter")))
        Some("sources.write")
      // the rest of loadProduction: read the loaded keys, loadIncremental
      // (Loads.incrementalNew), and its cache/count/unpersist
      else if (in.contains("loadProduction")) Some("operators.loads")
      // `pending.isEmpty`: the job that runs the tracker's anti-join
      else if (in.contains("runFull") && callee(f => f.cls.endsWith("Dataset") && f.method == "isEmpty"))
        Some("sources.tracker")
      else None
    }
  }

  /** An entity's `ok` record merged with its `stats` record. */
  final case class LogRecord(durationMs: Long, rowsOut: Long, csvRows: Long,
                             invalidPk: Long, deduped: Long)

  private val Field = """"([a-z_]+)":("[^"]*"|-?\d+)""".r

  /** Per entity, the `full` phase records of one run's RunLog. */
  def readLog(rl: RunLog): Map[String, LogRecord] =
    if (!Files.exists(rl.currentFile)) Map.empty
    else {
      val recs = Files.readAllLines(rl.currentFile).asScala.toSeq.map { l =>
        Field.findAllMatchIn(l).map(m => m.group(1) -> m.group(2).stripPrefix("\"").stripSuffix("\"")).toMap
      }.filter(_.get("phase").contains("full"))
      def num(r: Map[String, String], k: String) = r.get(k).map(_.toLong).getOrElse(-1L)
      recs.groupBy(_("entity")).flatMap { case (e, rs) =>
        for (ok <- rs.find(_.get("status").contains("ok")); st <- rs.find(_.get("status").contains("stats")))
          yield e -> LogRecord(num(ok, "duration_ms"), num(ok, "rows_out"),
            num(st, "csv_rows"), num(st, "invalid_pk"), num(st, "deduped"))
      }
    }

  private def walk(p: Path): Seq[Path] = Using.resource(Files.walk(p))(_.iterator().asScala.toList)

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) walk(p).reverse.foreach(Files.delete)

  def copyTree(from: Path, to: Path): Unit =
    walk(from).foreach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
}
