package graftbench

import scala.collection.mutable

import org.apache.spark.{BenchBridge, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** What one traced repetition observed: time per span or layer, and
  * every Spark job with the span or layer it is attributed to and
  * Spark's own call site for it.
  */
final case class TraceWindow(spanSecs: Map[String, Double],
                             jobs: Seq[Tracer.JobRec],
                             stages: Long, tasks: Long, failedTasks: Long,
                             taskRunMs: Long, taskCpuNs: Long, gcMs: Long,
                             shuffleWriteBytes: Long, shuffleReadBytes: Long,
                             spillBytes: Long) {
  def jobsIn(span: String): Int = jobs.count(_.span == span)
  def secs(span: String): Double = spanSecs.getOrElse(span, 0.0)
}

/** Attributes a traced repetition's time and Spark jobs to layers, in
  * one of two ways.
  *
  * Spans, around the benchmark's own calls into a layer: a span tags the
  * jobs its body starts through a thread-local job property, so a job is
  * attributed to the call that caused it even though the listener sees
  * it on another thread.
  *
  * A stack classifier, for a call into the program that the benchmark
  * does not take apart (`EtlMain.runFull`): each job goes to the layer
  * its call stack, as Spark recorded it, names; the calling thread's
  * stack is sampled every [[SampleMs]] and each interval goes to the
  * layer its sample names.
  *
  * The listener is added only for the length of [[traced]]; untraced
  * repetitions run without it.
  */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val sc = spark.sparkContext
  private val secs = mutable.Map.empty[String, Double]

  private def add(name: String, s: Double): Unit =
    secs.synchronized { secs(name) = secs.getOrElse(name, 0.0) + s }

  def span[T](name: String)(body: => T): T = {
    val outer = sc.getLocalProperty(SpanProp)
    sc.setLocalProperty(SpanProp, name)
    val t0 = System.nanoTime()
    try body finally {
      add(name, (System.nanoTime() - t0) / 1e9)
      sc.setLocalProperty(SpanProp, outer)
    }
  }

  /** Runs `body` under the listener. With `byStack`, jobs and sampled
    * time go to the layer it names for their stack, innermost frame
    * first; a job it names no layer for stays [[Untagged]], a sample
    * goes to [[Unattributed]].
    */
  def traced[T](byStack: Option[Seq[Frame] => Option[String]] = None)(body: => T): (T, TraceWindow) = {
    secs.synchronized(secs.clear())
    val l = new JobListener(byStack)
    sc.addSparkListener(l)
    val sampler = byStack.map(startSampler(Thread.currentThread(), _))
    val r = try body finally {
      sampler.foreach(_.apply())
      BenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(l)
    }
    (r, l.window(secs.synchronized(secs.toMap)))
  }

  /** Samples `target`'s stack until the returned function is called;
    * that call waits for the sampler to end.
    */
  private def startSampler(target: Thread, classify: Seq[Frame] => Option[String]): () => Unit = {
    @volatile var on = true
    val t = new Thread(() => {
      var last = System.nanoTime()
      while (on) {
        Thread.sleep(SampleMs)
        val frames = target.getStackTrace.toSeq.map(e => Frame(e.getClassName, e.getMethodName))
        val now = System.nanoTime()
        add(classify(frames).getOrElse(Unattributed), (now - last) / 1e9)
        last = now
      }
    }, "graftbench-sampler")
    t.setDaemon(true)
    t.start()
    () => { on = false; t.join() }
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
  val Untagged = "untagged"
  val Unattributed = "unattributed"
  val SampleMs = 2L

  /** A stack frame: class and method, as in `graft.EtlMain$.runFull`. */
  final case class Frame(cls: String, method: String)

  object Frame {
    /** A frame as Spark writes it in a long call site,
      * `graft.EtlMain$.runFull(EtlMain.scala:196)`, possibly prefixed by
      * a class loader or module name and `/`.
      */
    def parse(line: String): Option[Frame] = {
      val name = line.trim.takeWhile(_ != '(').split('/').last
      val dot = name.lastIndexOf('.')
      if (dot <= 0) None else Some(Frame(name.take(dot), name.drop(dot + 1)))
    }

    def parseAll(longForm: String): Seq[Frame] = longForm.linesIterator.flatMap(parse).toSeq
  }

  /** Jobs whose call site contradicts their span. `sites` maps a call
    * site prefix (`count at MixWorkload.scala`) or a source file name
    * (`CsvStaging.scala`) to the only span its jobs may run in.
    */
  def siteProblems(jobs: Seq[JobRec], sites: Map[String, String]): Seq[String] =
    jobs.flatMap { j =>
      sites.collectFirst { case (p, s) if j.callSite.startsWith(p) || j.callFile == p => s }
        .filter(_ != j.span).map(s => s"${j.callSite} ran in ${j.span}, expected $s")
    }.distinct

  /** `span` is the span or layer the job is attributed to. `callSite`
    * is where the program asked for the job, as Spark records it, e.g.
    * `count at CsvStaging.scala:99`: the SQL execution's call site for a
    * job of a DataFrame action (adaptive execution submits those from a
    * thread pool), else the job's result stage name. The long form of
    * the same call site is the stack a classifier reads.
    */
  final case class JobRec(span: String, callSite: String, ms: Long) {
    /** The source file of the call site (`CsvStaging.scala`). */
    def callFile: String =
      callSite.split(" at ").lastOption.map(_.takeWhile(_ != ':')).getOrElse("")
  }

  private final class JobListener(byStack: Option[Seq[Frame] => Option[String]]) extends SparkListener {
    /** Per SQL execution, its call site: short and long form. */
    private val sqlSites = mutable.Map.empty[Long, (String, String)]
    private val started = mutable.Map.empty[Int, (String, String, Long)]

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart =>
        synchronized { sqlSites(x.executionId) = (x.description, x.details) }
      case _ => ()
    }

    private val done = mutable.ArrayBuffer.empty[JobRec]
    private var stages, tasks, failedTasks = 0L
    private var runMs, cpuNs, gcMs, shW, shR, spill = 0L

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val sqlSite = Option(e.properties).flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        .flatMap(id => sqlSites.get(id.toLong))
      val (site, stack) = sqlSite.getOrElse(
        if (e.stageInfos.isEmpty) ("", "")
        else { val s = e.stageInfos.maxBy(_.stageId); (s.name, s.details) })
      val span = byStack match {
        case Some(classify) => classify(Frame.parseAll(stack)).getOrElse(Untagged)
        case None => Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp))).getOrElse(Untagged)
      }
      started(e.jobId) = (span, site, e.time)
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach { case (span, site, t0) =>
        done += JobRec(span, site, e.time - t0)
      }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized { stages += 1 }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      if (e.reason != Success) failedTasks += 1
      Option(e.taskMetrics).foreach { m =>
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        shW += m.shuffleWriteMetrics.bytesWritten
        shR += m.shuffleReadMetrics.totalBytesRead
        spill += m.diskBytesSpilled
      }
    }

    def window(spanSecs: Map[String, Double]): TraceWindow = synchronized {
      // a job still open after the drain never ended inside the window
      val open = started.values.map { case (s, site, _) => JobRec(s, site, 0L) }
      TraceWindow(spanSecs, done.toSeq ++ open, stages, tasks, failedTasks,
        runMs, cpuNs, gcMs, shW, shR, spill)
    }
  }
}
