package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}
import org.scalatest.funsuite.AnyFunSuite

/** The gate queries that run a hybrid operator, on both paths at
  * sf0.001: every hybrid they call takes the asserted path (`onPath`,
  * which also fails a query that posts no `HybridPath` event, so this
  * list cannot go stale silently), and the distributed path returns the
  * local path's rows — same count, same order-independent digest.
  * The distributed branch is the code that runs at scale; the local
  * one is what the gate data otherwise takes.
  */
class HybridGateSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.onPath
  private val dir = "/root/testdata/sf0.001"

  /** Every gate query that posts a `HybridPath` event. */
  private val hybridQueries = Seq(
    "q_basket_lift", "q_bfs", "q_bradley_terry", "q_clustering_coeff",
    "q_communities", "q_dedup_cluster", "q_golden_record", "q_hits",
    "q_itemsets3", "q_kcenter", "q_kcore", "q_kmeans_fixed", "q_ktruss",
    "q_leakage_split", "q_link_predict", "q_pagerank", "q_pagerank_fixed",
    "q_perceptron", "q_ppr", "q_pq_fixed", "q_scc", "q_semantic_dedup",
    "q_shortest_path", "q_textrank", "q_triangle_stats")

  /** (row count, sum of per-row xxhash64): independent of row order and
    * partitioning. Doubles are rounded to 9 places first — q_pagerank's
    * float sums fold in partition order, so its two paths agree only to
    * rounding; every other output is exact and unaffected.
    */
  private def digest(df: DataFrame): (Long, BigDecimal) = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c, 9)
        case _ => c
      }
    }
    val r = df.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h").cast("decimal(38,0)")),
        lit(BigDecimal(0)).cast("decimal(38,0)")))
      .head
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  for (name <- hybridQueries)
    test(s"$name: the distributed path returns the local path's rows") {
      val fn = SparkEntry.queries(name)
      try {
        val local = onPath(spark, "local")(digest(fn(spark, dir)))
        val dist = onPath(spark, "distributed")(digest(fn(spark, dir)))
        assert(local._1 > 0, s"$name returned no rows")
        assert(dist == local)
      } finally {
        // query-level residue (a query's own persist, a sealed result it
        // reads) is swept between queries, as Verify and Bench do
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = true))
      }
    }
}
