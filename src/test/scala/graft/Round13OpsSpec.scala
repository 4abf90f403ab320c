package graft

import org.scalatest.funsuite.AnyFunSuite

/** Round-13 harness coverage: the auto-retime reference merge
  * (VERDICT r12 item 3 — a query newly entering the reported tail had
  * no previous sample, so a full-sweep state artifact like
  * BENCH_r12's q_attribution_decay 4.59 s vs 1.02 s same-tree could
  * never re-time).
  */
class Round13OpsSpec extends AnyFunSuite {

  test("mergeRefTimes: union of sources, min per query — a query " +
      "only in the full baseline gets a reference; a query in both " +
      "takes the best clean estimate") {
    val artifactTail = Map("q_a" -> 2.0, "q_b" -> 1.5)
    val fullBaseline = Map("q_a" -> 1.0, "q_c" -> 0.8)
    val merged = Bench.mergeRefTimes(Seq(artifactTail, fullBaseline))
    assert(merged == Map("q_a" -> 1.0, "q_b" -> 1.5, "q_c" -> 0.8))
    // empty sources are harmless
    assert(Bench.mergeRefTimes(Seq(Map.empty)) == Map.empty)
    assert(Bench.mergeRefTimes(Nil) == Map.empty)
  }

  test("retime fires for a first-time tail entrant once the full " +
      "baseline supplies its reference (the BENCH_r12 blind spot)") {
    // r12 shape: q_attribution_decay absent from the r11 artifact
    // tail, present in the full baseline at ~1.02 s; the sweep reads
    // 4.59 s. With the merged reference the 2.5× sub-tail trigger
    // fires (4.59 > 2.5 × 1.02).
    val prev = Bench.mergeRefTimes(Seq(
      Map("q_other" -> 3.0), Map("q_attribution_decay" -> 1.02)))
    val tail = Bench.slowTail(prev)
    val t = 4.59
    val ref = prev("q_attribution_decay")
    assert(t > Bench.retimeThreshold("q_attribution_decay", tail) * ref)
  }

  test("mmrRerank is prefix-stable: k = 4, 10 and poolSize (pool exhausted)") {
    // greedy selection never revisits a pick, so a larger k extends the
    // smaller k's picks; k = poolSize drains every query's pool
    val spark = SparkTestSession.spark
    import org.apache.spark.sql.functions._
    val emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    val qs = emb.filter(col("vec_id") % 1000 === 0)
    def mmr(k: Int) = operators.Similarity.mmrRerank(
      emb, qs, "vec_id", "embedding", k = k, poolSize = 20)
    val (k4, k10, k20) = (mmr(4), mmr(10), mmr(20))
    val nQueries = qs.count()
    assert(k10.count() == 10 * nQueries)
    assert(k20.count() == 20 * nQueries)
    val prefix = k10.filter(col("pick") <= 4)
    assert(prefix.exceptAll(k4).isEmpty && k4.exceptAll(prefix).isEmpty)
    val prefix10 = k20.filter(col("pick") <= 10)
    assert(prefix10.exceptAll(k10).isEmpty && k10.exceptAll(prefix10).isEmpty)
  }

  test("exact-integer trainers: the driver-local solve equals the " +
      "distributed iterate bit-for-bit (size gate forced off via " +
      "spark.graft.localSolveBytes=0)") {
    val spark = SparkTestSession.spark
    val emb = table(spark, "/root/testdata/sf0.001", "embeddings")
    def runAll() = Seq(
      operators.Similarity.kmeansFixedTrain(emb, "vec_id", "embedding",
        8, 3),
      operators.Similarity.kCenterSelect(emb, "vec_id", "embedding", 8),
      operators.Similarity.pqFixedEncode(emb, "vec_id", "embedding",
        8, 16, 3)
    ).map(_.collect().map(_.toString).sorted.toSeq)
    // the default bound: the tiny corpus takes the local path
    val local = SparkTestSession.onPath(spark, "local")(runAll())
    val dist = SparkTestSession.onPath(spark, "distributed")(runAll())
    assert(local == dist)
  }
}
