package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side, started by `run.py`.
  *
  *   graftbench.Main --workload etl_full|etl_delta|query_mix --seed N
  *     --seconds S --trace 0|1 --work DIR --bench-dir DIR
  *   graftbench.Main --pin --work DIR --bench-dir DIR
  *
  * One process, one `local[4]` session, one closed-loop client. Set-up
  * (session, inputs, base load, warm-up) is timed as `setup_s`; then
  * repetitions of the workload's timed region run until their timed
  * regions add up to `--seconds`, and medians over them are reported. With `--trace 1`,
  * untraced and traced repetitions alternate, and the traced ones give
  * the per-layer table. `--pin` prints the query mix's pins file.
  *
  * The stdout line starting with [[ResultTag]] carries the result object
  * that `run.py` prints.
  */
object Main {
  val ResultTag = "GRAFTBENCH_RESULT "
  val Cores = 4

  /** ETL size multiplier over the reference data set (26 branches, 5024
    * customers, 2007 loans, 3000 transactions).
    */
  val EtlScale = 2

  val Workloads: Seq[String] = Seq("etl_full", "etl_delta", "query_mix")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, benchDir: Path, pin: Boolean)

  final case class Result(attempted: Int, failed: Int, metrics: Seq[(String, Double, String)],
                          traceProblems: Seq[String]) {
    def correct: Boolean = failed == 0 && traceProblems.isEmpty
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val pin = argv.contains("--pin")
    val w = if (pin) "query_mix" else need("workload")
    require(Workloads.contains(w), s"unknown workload $w")
    Args(w, kv.getOrElse("seed", "1").toLong, kv.getOrElse("seconds", "10").toInt,
      kv.getOrElse("trace", "0") == "1", Paths.get(need("work")),
      Paths.get(need("bench-dir")), pin)
  }

  /** The session each workload's entry point builds: `graft.Bench` adds
    * graft's planner extensions for the queries, `EtlMain` does not.
    */
  def session(workload: String, work: Path): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Spark keeps 100 compiled generated classes by default; one ETL
      // load needs about 200 and a mix pass about 450, so at the default
      // every repetition compiled them all again (Janino, then the JIT),
      // and repetitions never reached a steady speed
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val spark = (if (workload == "query_mix") b.withExtensions(new graft.plans.GraftExtensions) else b)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def mixData(benchDir: Path): String = benchDir.resolve("data").resolve("sf0.01").toString
  def pinsFile(benchDir: Path): Path = benchDir.resolve("mix_pins.tsv")

  def workload(spark: SparkSession, a: Args): Workload = a.workload match {
    case "query_mix" =>
      new MixWorkload(spark, mixData(a.benchDir), MixWorkload.readPins(pinsFile(a.benchDir)), a.seed)
    case name => new EtlWorkload(spark, a.work, EtlScale, a.seed, delta = name == "etl_delta")
  }

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a.workload, a.work)
    val code = try {
      if (a.pin) pin(spark, a)
      else {
        val r = measure(workload(spark, a), a.seconds, a.trace, t0)
        r.traceProblems.foreach(p => System.err.println(s"trace check failed: $p"))
        println(ResultTag + Json.result(r.correct, r.attempted, r.failed, r.metrics))
        if (r.traceProblems.isEmpty) 0 else 1
      }
    } finally spark.stop()
    sys.exit(code)
  }

  private def pin(spark: SparkSession, a: Args): Int = {
    val got = new MixWorkload(spark, mixData(a.benchDir), Map.empty, a.seed).outputs()
    got.collect { case (_, Left(err)) => err }.foreach(System.err.println)
    print(MixWorkload.formatPins(got.collect { case (q, Right(p)) => q -> p }))
    if (got.values.forall(_.isRight)) 0 else 1
  }

  /** Set up `w`, then run repetitions until their timed regions add up
    * to `seconds`, and at least two of each kind. `t0` is when set-up
    * started.
    */
  def measure(w: Workload, seconds: Int, trace: Boolean, t0: Long): Result = {
    w.setUp()
    val setupS = Workload.secsSince(t0)
    System.err.println(f"[graftbench] set-up $setupS%.3f s")
    val plain = mutable.ArrayBuffer.empty[Rep]
    val traced = mutable.ArrayBuffer.empty[Rep]
    val tracer = new Tracer(w.spark)
    def one(t: Boolean): Unit =
      if (t) traced += note("traced", w.rep(Some(tracer))) else plain += note("plain", w.rep(None))
    // `seconds` counts the timed regions only, not the checks and copies
    // between them. Traced runs alternate plain-traced, traced-plain, so
    // that neither kind always runs the warmer second repetition of a pair
    def timed = (plain ++ traced).map(_.wallS).sum
    while (plain.size < 2 || timed < seconds) {
      if (!trace) one(false)
      else if (plain.size % 2 == 0) { one(false); one(true) }
      else { one(true); one(false) }
    }
    val all = (plain ++ traced).toSeq
    val attempted = all.map(_.attempted).sum
    val failed = all.map(_.failed).sum
    if (!trace) Result(attempted, failed, endToEnd(plain.toSeq, setupS), Nil)
    else {
      val (metrics, problems) = perLayer(w, plain.toSeq, traced.toSeq, failed.toDouble / attempted)
      Result(attempted, failed, metrics, problems)
    }
  }

  private def note(kind: String, r: Rep): Rep = {
    System.err.println(f"[graftbench] $kind rep: wall ${r.wallS}%.3f s, failed ${r.failed}/${r.attempted}, " +
      f"heap ${r.heapPeakMb}%.1f MB, ops ${r.opSecs.map(s => f"$s%.2f").mkString(" ")}")
    r
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Median over repetitions of each operation's time, then the median
    * over operations.
    */
  private def opP50(reps: Seq[Rep]): Double = {
    val n = reps.map(_.opSecs.size).min
    median((0 until n).map(i => median(reps.map(_.opSecs(i)))))
  }

  private def endToEnd(reps: Seq[Rep], setupS: Double): Seq[(String, Double, String)] = Seq(
    ("wall_s", median(reps.map(_.wallS)), "s"),
    ("rows_per_s", median(reps.map(r => r.rows / r.wallS)), "1/s"),
    ("setup_s", setupS, "s"))

  /** The per-layer table, and every way the trace fails to account for
    * the jobs it saw.
    */
  private def perLayer(w: Workload, plain: Seq[Rep], traced: Seq[Rep],
                       failedFrac: Double): (Seq[(String, Double, String)], Seq[String]) = {
    val windows = traced.flatMap(_.window)
    // the attribution a reader can check against Spark's call sites
    windows.headOption.foreach { x =>
      x.jobs.groupBy(j => (j.span, j.callSite)).toSeq.sortBy(_._1).foreach { case ((s, c), js) =>
        System.err.println(s"[graftbench] jobs span=$s site=$c n=${js.size}")
      }
      x.spanSecs.toSeq.sorted.foreach { case (s, t) => System.err.println(f"[graftbench] time span=$s $t%.3f s") }
    }
    def med(f: (Rep, TraceWindow) => Double) = median(traced.map(r => f(r, r.window.get)))
    val layers = LayerUnits.map { case (name, unit) =>
      (name, median(traced.map(_.layers.getOrElse(name, 0.0))), unit)
    }
    val engine = Seq(
      ("engine.jobs", med((_, x) => x.jobs.size.toDouble), "count"),
      ("engine.stages", med((_, x) => x.stages.toDouble), "count"),
      ("engine.tasks", med((_, x) => x.tasks.toDouble), "count"),
      ("engine.job_p50_ms", med((_, x) => median(x.jobs.map(_.ms.toDouble))), "ms"),
      ("engine.failed_tasks", med((_, x) => x.failedTasks.toDouble), "count"),
      ("engine.task_run_s", med((_, x) => x.taskRunMs / 1e3), "s"),
      ("engine.task_cpu_s", med((_, x) => x.taskCpuNs / 1e9), "s"),
      ("engine.busy_frac", med((r, x) => x.taskRunMs / 1e3 / (r.wallS * Cores)), "1"),
      ("engine.idle_core_s", med((r, x) => r.wallS * Cores - x.taskRunMs / 1e3), "s"),
      ("engine.shuffle_write_mb", med((_, x) => x.shuffleWriteBytes / 1048576.0), "MB"),
      ("engine.shuffle_read_mb", med((_, x) => x.shuffleReadBytes / 1048576.0), "MB"),
      ("engine.spill_mb", med((_, x) => x.spillBytes / 1048576.0), "MB"),
      ("engine.gc_s", med((_, x) => x.gcMs / 1e3), "s"))
    val metrics = layers ++ engine ++ Seq(
      ("query_p50_s", opP50(plain), "s"),
      ("heap_peak_mb", median(plain.map(_.heapPeakMb)), "MB"),
      ("trace_overhead_frac", median(traced.map(_.wallS)) / median(plain.map(_.wallS)) - 1, "1"),
      ("failed_frac", failedFrac, "1"))
    // every job is attributed to the call that started it, so the jobs
    // per call add up to all the jobs the engine ran
    val problems = windows.flatMap { x =>
      val tagged = x.jobs.count(_.span != Tracer.Untagged)
      (if (tagged == x.jobs.size) None
      else Some(s"per-call jobs $tagged != engine.jobs ${x.jobs.size}; untagged call sites: " +
        x.jobs.filter(_.span == Tracer.Untagged).map(_.callSite).distinct.mkString(", "))) ++
        Tracer.siteProblems(x.jobs, w.callSites)
    }.distinct
    (metrics, problems)
  }

  /** Every per-layer metric a workload may fill, with its unit; a
    * workload reports 0 for the layers it does not use.
    */
  val LayerUnits: Seq[(String, String)] = Seq(
    "sources.tracker_s" -> "s", "sources.tracker_jobs" -> "count",
    "sources.csv_read_s" -> "s", "sources.csv_read_jobs" -> "count",
    "sources.csv_rows_parsed" -> "count", "sources.csv_useful_frac" -> "1",
    "sources.write_s" -> "s", "functions.transform_s" -> "s",
    "operators.loads_s" -> "s", "operators.loads_jobs" -> "count",
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "mix.ngram_graph_s" -> "s", "mix.stats_corpus_s" -> "s",
    "mix.similarity_s" -> "s", "mix.single_plan_s" -> "s",
    "pipeline.branches_s" -> "s", "pipeline.customers_s" -> "s",
    "pipeline.loans_s" -> "s", "pipeline.transactions_s" -> "s",
    "engine.count_s" -> "s", "engine.count_jobs" -> "count")
}

object Json {
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
             metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
        .mkString(", ") + "}}"
}
