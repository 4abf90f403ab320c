package graft.tools

import org.apache.spark.scheduler._

/** Per-query job/stage profiler (dev tool): runs named gate queries,
  * reporting per-iteration wall time and, for the last iteration, the
  * per-job breakdown (wall ms, #stages, tasks, shuffle read/write MB,
  * input MB) so the expensive pass inside a multi-job operator is
  * attributable.
  *
  * args: <comma-names> [sfDir] [iters]; cores from `SPARK_GRAFT_CPUS`
  */
object QProf {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val iters = if (args.length > 2) args(2).toInt else 3
    val spark = DevSession("graft-qprof")

    case class JobAgg(var t0: Long = 0L, var t1: Long = 0L,
                      var stages: Int = 0, var tasks: Int = 0,
                      var shufR: Long = 0L, var shufW: Long = 0L,
                      var input: Long = 0L, var desc: String = "")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobAgg]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    @volatile var record = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = if (record) {
        val a = new JobAgg(t0 = e.time,
          desc = Option(e.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse(""))
        jobs.put(e.jobId, a)
        e.stageIds.foreach(sid => stageToJob.put(sid, e.jobId))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = if (record) {
        Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (record) {
          val sid = e.stageInfo.stageId
          Option(stageToJob.get(sid)).map(jobs.get).filter(_ != null)
            .foreach { a =>
              a.stages += 1
              a.tasks += e.stageInfo.numTasks
              val m = e.stageInfo.taskMetrics
              if (m != null) {
                a.shufR += m.shuffleReadMetrics.totalBytesRead
                a.shufW += m.shuffleWriteMetrics.bytesWritten
                a.input += m.inputMetrics.bytesRead
              }
            }
        }
    }
    spark.sparkContext.addSparkListener(listener)

    def sweep(): Unit = {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }

    for (n <- names) {
      // warm once (codegen/JIT)
      try graft.SparkEntry.queries(n)(spark,
        "/root/testdata/sf0.001").count()
      catch { case scala.util.control.NonFatal(ex) =>
        System.err.println(s"[qprof] warm failed $n: $ex") }
      val times = (1 to iters).map { it =>
        sweep()
        val last = it == iters
        if (last) { jobs.clear(); stageToJob.clear(); record = true }
        val t0 = System.nanoTime()
        try graft.SparkEntry.queries(n)(spark, dir).count()
        catch { case scala.util.control.NonFatal(ex) =>
          System.err.println(s"[qprof] run failed $n: $ex") }
        val dt = (System.nanoTime() - t0) / 1e9
        if (last) {
          record = false
          org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
        }
        dt
      }
      println(f"[qprof] $n min=${times.min}%.3fs all=${times.map(t => f"$t%.2f").mkString(",")}")
      import scala.jdk.CollectionConverters._
      val js = jobs.asScala.toSeq.sortBy(_._1)
      for ((id, a) <- js) {
        val wall = (a.t1 - a.t0) / 1e3
        println(f"[qprof]   job=$id%-4d wall=$wall%7.3fs stages=${a.stages}%-3d tasks=${a.tasks}%-5d shufR=${a.shufR / 1e6}%9.2fMB shufW=${a.shufW / 1e6}%9.2fMB input=${a.input / 1e6}%9.2fMB ${a.desc.take(60)}")
      }
    }
    spark.stop()
  }
}
