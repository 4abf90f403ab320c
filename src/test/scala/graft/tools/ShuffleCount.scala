package graft.tools

/** Measure per-query shuffle/broadcast counts (summed over every plan
  * a gate query executes, AQE-aware via PlanMetrics) to pin budgets in
  * PlanAuditSpec (r9 VERDICT #8).
  */
object ShuffleCount {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.001"
    val names = args(0).split(",").toSeq
    val spark = DevSession("graft-shuffle-count")
    for (n <- names) {
      val sums = java.util.Collections.synchronizedList(
        new java.util.ArrayList[(Int, Int)]())
      val l = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit = { sums.add(count(qe.executedPlan)); () }
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      }
      spark.listenerManager.register(l)
      try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        df.count()
        org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark)
        val sh = sums.toArray.map(_.asInstanceOf[(Int, Int)])
        println(s"[sc] $n shuffles=${sh.map(_._1).sum} " +
          s"broadcasts=${sh.map(_._2).sum} (plans=${sh.length})")
      } finally spark.listenerManager.unregister(l)
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    spark.stop()
  }

  private def count(p: org.apache.spark.sql.execution.SparkPlan): (Int, Int) = {
    // reuse PlanMetrics' traversal by wrapping: summarize needs a df;
    // count directly instead with the same node walk
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
    def nodes(x: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = {
      val nested = x match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: QueryStageExec => Seq(q.plan)
        case r: ReusedExchangeExec => Seq(r.child)
        case _ => Nil
      }
      x +: (x.children ++ nested).flatMap(nodes)
    }
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean]())
    val all = nodes(p).filter(seen.add)
    (all.count(_.isInstanceOf[ShuffleExchangeLike]),
      all.count(_.isInstanceOf[BroadcastExchangeLike]))
  }
}
