package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Dedup, SetSim}

class SetSimSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta"),
    (2L, "alpha beta gamma delta epsilon eta"),   // 5/7 with 1
    (3L, "alpha beta gamma delta epsilon zeta"),  // exact dup of 1
    (4L, "omicron pi rho sigma tau upsilon"),
    (5L, "the and of to in on at by"),            // stopword-ish, disjoint
    (6L, "alpha omicron")                          // shares 1 token each side
  ).toDF("doc_id", "text")

  private def pairSet(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
      (r.getAs[Long]("inter"), r.getAs[Double]("jacc"))).toMap

  test("prefix-filtered join ≡ brute force on crafted docs") {
    val fast = pairSet(SetSim.jaccardSelfJoin(docs, "text", "doc_id", 3, 5))
    val slow = pairSet(SetSim.jaccardNaive(docs, "text", "doc_id", 3, 5))
    assert(fast == slow)
    assert(fast.contains((1L, 3L)) && fast((1L, 3L))._2 == 1.0)
    assert(fast.contains((1L, 2L)) && fast((1L, 2L))._1 == 5L)
    assert(!fast.keySet.exists(p => p._1 == 6L || p._2 == 6L))
  }

  test("prefix-filtered join ≡ brute force on randomized corpus, all thresholds") {
    val rnd = new scala.util.Random(7)
    val vocab = (0 until 40).map(i => s"w$i")
    val rdocs = (1L to 120L).map { id =>
      val k = 3 + rnd.nextInt(10)
      (id, Seq.fill(k)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "text")
    for ((num, den) <- Seq((1, 2), (3, 5), (4, 5), (9, 10))) {
      val fast = pairSet(SetSim.jaccardSelfJoin(rdocs, "text", "doc_id", num, den))
      val slow = pairSet(SetSim.jaccardNaive(rdocs, "text", "doc_id", num, den))
      assert(fast == slow, s"mismatch at tau=$num/$den")
    }
    // Dedup's caller of the same kernel: its lowered integer bound plus
    // the IEEE-double size test and 4-dp rounded acceptance must give
    // exactly the brute-force pairs under those two tests
    val uni = (c: org.apache.spark.sql.Column) => TextFunctions.shingles(c, 1)
    val all = SetSim.jaccardNaive(rdocs, "text", "doc_id", 1, 1000, uni)
    val found = for (tau <- Seq(0.5, 0.6, 0.65, 0.7, 0.9)) yield {
      val fast = Dedup.ngramJaccardPairs(rdocs, "text", "doc_id", 1, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2))
        .toMap
      val slow = all
        .filter(col("n_a") <= col("n_b") / tau && col("n_b") <= col("n_a") / tau)
        .withColumn("jaccard", round(col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")), 4))
        .filter(col("jaccard") >= tau)
        .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
          r.getAs[Double]("jaccard")).toMap
      assert(fast == slow, s"Dedup mismatch at tau=$tau")
      slow.size
    }
    assert(found.head > 0, "no pair at tau=0.5: the comparison is vacuous")
  }

  test("5-gram shingle SetSim ≡ ngramJaccardPairs: one kernel, two acceptance tests") {
    val longDocs = Seq(
      (1L, "one two three four five six seven eight nine ten eleven twelve"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "one two three four five six seven eight nine ten eleven"),
      (4L, "alpha beta gamma delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val viaPrefix = SetSim.jaccardSelfJoin(longDocs, "text", "doc_id", 3, 5,
        c => TextFunctions.shingles(c, 5))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaShingleJoin = Dedup.ngramJaccardPairs(longDocs, "text", "doc_id", 5, 0.6)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaPrefix == viaShingleJoin)
    assert(viaPrefix.contains((1L, 2L)) && viaPrefix.contains((1L, 3L)))
  }

  test("containment: subsumed doc scores 1.0 where Jaccard stays low") {
    val docs = Seq(
      (1L, "a b c d e f g h i j k l m n o p q r s t"),  // 20 tokens
      (2L, "a b c"),                                      // ⊂ 1 (3 tokens)
      (3L, "x y z")
    ).toDF("doc_id", "text")
    val cont = SetSim.containmentSelfJoin(docs, "text", "doc_id", 9, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        r.getAs[Double]("containment")).toMap
    assert(cont == Map((1L, 2L) -> 1.0)) // subset detected, 3 unrelated
    // the same pair FAILS the Jaccard gate at the same threshold —
    // the asymmetry is the point
    val jac = SetSim.jaccardSelfJoin(docs, "text", "doc_id", 9, 10)
    assert(jac.count() == 0)
  }

  test("prefix filter actually prunes the candidate join") {
    // the theorem is vacuous if the prefix is the whole doc; verify
    // the prefix row count is strictly below the full token table
    val tok = docs.select(col("doc_id"),
      explode(array_distinct(graft.functions.TextFunctions.words(col("text")))))
    val nTok = tok.count()
    // at tau=3/5 the prefix keeps |x| − ⌈0.6|x|⌉ + 1 tokens: for a
    // 6-token doc that is 3 of 6
    val kept = docs.collect().map { r =>
      val n = r.getString(1).split(" ").distinct.length
      n - ((3 * n + 4) / 5) + 1
    }.sum
    assert(kept < nTok)
  }
}
