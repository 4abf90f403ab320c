package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.util.Locale

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.SparkEntry

/** Gate queries from `SparkEntry.queries`, run one after another by one
  * client; the seed permutes their order. A repetition is one pass:
  * per query, the build (the query function up to the DataFrame it
  * returns, including every job it runs on the way) and the final
  * `count()`. Caches and checkpoints are swept between queries, outside
  * the timer.
  *
  * Outputs are checked against pins (row count and an order-independent
  * digest per query) in a pass before the timed passes, which is also
  * the warm-up; each timed `count()` is checked against the pinned row
  * count.
  */
final class MixWorkload(val spark: SparkSession, dataDir: String,
                        pins: Map[String, MixWorkload.Pin], seed: Long) extends Workload {
  import MixWorkload._

  private val fns = SparkEntry.queries
  private val order: IndexedSeq[String] = {
    val r = new java.util.SplittableRandom(seed)
    val a = Families.flatMap(_._2).toArray
    for (i <- a.indices.reverse.dropRight(1)) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }
  /** Queries whose output disagreed with its pin in the check pass. */
  private var wrong: Map[String, String] = Map.empty

  def callSites: Map[String, String] = Map("count at MixWorkload.scala" -> "engine.count")

  /** The check pass, four queries at a time, then two passes as the
    * timed ones run them, warm the JVM up: passes keep getting faster for
    * several passes as the JVM compiles the driver's code.
    */
  def setUp(): Unit = {
    System.err.println("[graftbench] order " + order.mkString(" "))
    wrong = checkPass()
    wrong.values.foreach(p => System.err.println(s"[graftbench] output check failed: $p"))
    for (_ <- 1 to 2) {
      val r = rep(None)
      System.err.println(f"[graftbench] warm-up pass: wall ${r.wallS}%.3f s")
    }
  }

  /** Every query's output as a pin, or the reason it has none. */
  def outputs(): Map[String, Either[String, Pin]] = sideBySide(digest)

  /** `f` of every query's output, or the reason there is none, with
    * [[Main.Cores]] queries running at a time.
    */
  private def sideBySide[T](f: DataFrame => T): Map[String, Either[String, T]] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Main.Cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val all = Future.traverse(order) { q =>
        Future(q -> (try Right(f(fns(q)(spark, dataDir))) catch {
          case scala.util.control.NonFatal(e) => Left(s"$q failed: $e")
        }))
      }
      Await.result(all, Duration.Inf).toMap
    } finally {
      pool.shutdown()
      Workload.sweep(spark)
    }
  }

  /** Queries whose output disagrees with its pin, with the reason. */
  def checkPass(): Map[String, String] = outputs().flatMap {
    case (q, Left(err)) => Some(q -> err)
    case (q, Right(got)) => pins.get(q) match {
      case None => Some(q -> s"no pin for $q")
      case Some(p) if p != got => Some(q -> s"$q: got $got, pinned $p")
      case _ => None
    }
  }

  def rep(tracer: Option[Tracer]): Rep = {
    Workload.sweep(spark)
    Heap.arm()
    def pass(t: Option[Tracer]) = order.map { q =>
      val t0 = System.nanoTime()
      val (ok, rows) = try {
        val df = t.fold(fns(q)(spark, dataDir))(_.span("operators.build")(fns(q)(spark, dataDir)))
        val n = t.fold(df.count())(_.span("engine.count")(df.count()))
        (pins.get(q).exists(_.rows == n) && !wrong.contains(q), n)
      } catch {
        case scala.util.control.NonFatal(_) => (false, 0L)
      }
      val secs = Workload.secsSince(t0)
      Workload.sweep(spark)
      (q, ok, rows, secs)
    }
    val (ops, window) = tracer match {
      case None => (pass(None), None)
      case Some(t) => val (o, w) = t.traced()(pass(Some(t))); (o, Some(w))
    }
    val wall = ops.map(_._4).sum
    val heap = Heap.peakMb
    val layers = window.map { w =>
      val fam = Families.map { case (f, qs) =>
        s"mix.${f}_s" -> ops.filter(o => qs.contains(o._1)).map(_._4).sum
      }
      Map("operators.build_s" -> w.secs("operators.build"),
        "operators.build_jobs" -> w.jobsIn("operators.build").toDouble,
        "engine.count_s" -> w.secs("engine.count"),
        "engine.count_jobs" -> w.jobsIn("engine.count").toDouble) ++ fam
    }.getOrElse(Map.empty)
    Rep(wall, ops.size, ops.count(!_._2), ops.map(_._3).sum, ops.map(_._4), heap, layers, window)
  }
}

object MixWorkload {
  /** The queries by family. The single-plan controls run 1 to 6 jobs
    * each with no build-time jobs: a change to how operators run jobs
    * while they build should leave them alone. Nine queries keep one
    * pass near six seconds, so that a run fits the check pass, two
    * warm-up passes and two timed passes.
    */
  val Families: Seq[(String, Seq[String])] = Seq(
    "ngram_graph" -> Seq("q_communities", "q_dedup_ngram"),
    "stats_corpus" -> Seq("q_kneser_ney"),
    "similarity" -> Seq("q_kmeans_fixed", "q_setsim_join"),
    "single_plan" -> Seq("q_agg_summary", "q_join_enrich", "q_window_running",
      "q_safe_date"))

  final case class Pin(rows: Long, digest: String) {
    override def toString = s"$rows rows, digest $digest"
  }

  /** Row count and an order-independent digest of a query's output: the
    * sum, modulo 2^64, of a hash of each row's canonical text. Doubles
    * are written with 10 significant digits so the last-bit differences
    * of a floating-point sum in another order do not change the digest.
    */
  def digest(df: DataFrame): Pin = {
    val rows = df.collect()
    Pin(rows.length.toLong, f"${rows.iterator.map(rowHash).sum}%016x")
  }

  def rowHash(r: Row): Long = {
    val md = MessageDigest.getInstance("MD5")
    md.update(canonical(r).getBytes(StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(md.digest()).getLong
  }

  private def canonical(v: Any): String = v match {
    case null => "∅"
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else "%.9e".formatLocal(Locale.ROOT, d)
    case f: Float => canonical(f.toDouble)
    case r: Row => r.toSeq.map(canonical).mkString("(", "|", ")")
    case s: scala.collection.Seq[_] => s.map(canonical).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canonical(k) + ":" + canonical(x) }.sorted.mkString("{", ",", "}")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case x => x.toString
  }

  /** Pins file: one `query<TAB>rows<TAB>digest` line per query. */
  def readPins(p: Path): Map[String, Pin] =
    Files.readAllLines(p).asScala.iterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val f = l.split("\t"); f(0) -> Pin(f(1).toLong, f(2)) }.toMap

  def formatPins(pins: Map[String, Pin]): String =
    pins.toSeq.sortBy(_._1).map { case (q, p) => s"$q\t${p.rows}\t${p.digest}" }.mkString("", "\n", "\n")
}
