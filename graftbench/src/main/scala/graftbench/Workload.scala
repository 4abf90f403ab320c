package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** One repetition of a workload's timed region.
  *
  * @param wallS     the timed region's wall time
  * @param opSecs    per-operation times (an entity that did work, or a query)
  * @param rows      rows the repetition produced: appended or counted
  * @param layers    workload-specific per-layer values (traced repetitions)
  * @param window    the trace of a traced repetition
  */
final case class Rep(wallS: Double, attempted: Int, failed: Int, rows: Long,
                     opSecs: Seq[Double], heapPeakMb: Double,
                     layers: Map[String, Double] = Map.empty,
                     window: Option[TraceWindow] = None)

trait Workload {
  def spark: SparkSession

  /** Everything before the first timed repetition: inputs, base load,
    * warm-up.
    */
  def setUp(): Unit

  def rep(tracer: Option[Tracer]): Rep

  /** Where each span's jobs may come from, by Spark's call site: see
    * [[Tracer.siteProblems]].
    */
  def callSites: Map[String, String]
}

object Workload {
  /** Drop cached tables and checkpointed RDDs, waiting until their
    * blocks are gone, so one repetition's debris is not cleaned up
    * inside the next one's timed region.
    */
  def sweep(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Peak heap in use right after a garbage collection, between [[arm]]
  * and [[peakMb]]: the live data the driver holds, not its garbage.
  */
object Heap {
  @volatile private var peak = 0L

  private def heapUsedAfter(info: GarbageCollectionNotificationInfo): Long = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    info.getGcInfo.getMemoryUsageAfterGc.asScala
      .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
  }

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = heapUsedAfter(info)
        Heap.synchronized { if (used > peak) peak = used }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def arm(): Unit = {
    synchronized { peak = 0L }
    System.gc()
    val now = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    synchronized { if (now > peak) peak = now }
  }

  def peakMb: Double = {
    val bytes: Long = synchronized { peak }
    bytes / (1024.0 * 1024.0)
  }
}
