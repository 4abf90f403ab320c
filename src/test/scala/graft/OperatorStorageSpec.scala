package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.{Analytics, Corpus, Dedup, Graph, Prefs, Similarity}

/** The two operator storage rules, pinned per operator:
  *
  *  - an operator frees exactly what it creates — each replaced loop
  *    round ([[graft.nextRound]]) and each sealed-over intermediate
  *    ([[graft.sealResult]]) — so its result's own storage is all that
  *    is left once it returns;
  *  - [[graft.release]] frees exactly what a result owns, never storage
  *    further down its plan, such as a caller's checkpointed input.
  *
  * Every hybrid operator runs on both of its paths (`onPath` asserts
  * which one it took); after one `count()` and `graft.release` the
  * block manager must hold no persistent RDD.
  */
class OperatorStorageSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import SparkTestSession.onPath

  private def cleanSlate(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  private def held: Seq[String] =
    spark.sparkContext.getPersistentRDDs.values.map(_.toString).toSeq

  /** 14 directed edges: two triangles sharing node 3 plus a chord
    * (2, 4), a 3-cycle 6→7→8→6 and a tail 8→9→10→11 — every graph
    * loop runs several rounds (peels, trims, frontier hops, CC's labels
    * crossing the tail), so a loop whose plan grows per round without a
    * checkpoint exhausts the driver's heap here.
    */
  private def graph(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 4L), (5L, 6L), (6L, 7L), (7L, 8L), (8L, 6L), (8L, 9L),
      (9L, 10L), (10L, 11L)).toDF("a", "b")
  }

  private def seeds(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq(1L).toDF("id")
  }

  private def labeledDocs(s: SparkSession): DataFrame = {
    import s.implicits._
    Seq((1L, true, "apple banana apple cherry"),
      (2L, true, "banana cherry apple"),
      (3L, false, "zebra yak walrus"),
      (4L, false, "yak walrus walrus zebra")).toDF("doc_id", "pos", "text")
  }

  private def embeddings(s: SparkSession): DataFrame =
    graft.table(s, "/root/testdata/sf0.001", "embeddings")

  private def baskets(s: SparkSession): DataFrame = {
    import s.implicits._
    (1 to 30).flatMap(b => (0 until 3).map(j => (b.toLong, s"it${(b + j) % 6}")))
      .toDF("bk", "it")
  }

  private val hybrids: Seq[(String, SparkSession => DataFrame)] = Seq(
    "connectedComponents" -> (s => Graph.connectedComponents(graph(s), "a", "b")),
    "pageRank" -> (s => Graph.pageRank(graph(s), "a", "b", iterations = 3)),
    "pageRankFixed" ->
      (s => Graph.pageRankFixed(graph(s), "a", "b", iterations = 3)),
    "pprFixed" ->
      (s => Graph.pprFixed(graph(s), "a", "b", seeds(s), iterations = 3)),
    "hitsFixedPoint" ->
      (s => Graph.hitsFixedPoint(graph(s), "a", "b", rounds = 4)),
    "triangleStats" -> (s => Graph.triangleStats(graph(s), "a", "b")),
    "localClustering" -> (s => Graph.localClustering(graph(s), "a", "b")),
    "labelPropagation" -> (s => Graph.labelPropagation(graph(s), "a", "b")),
    "kCore" -> (s => Graph.kCore(graph(s), "a", "b", k = 2)),
    "kTruss" -> (s => Graph.kTruss(graph(s), "a", "b", k = 3)),
    "shortestHops" ->
      (s => Graph.shortestHops(graph(s), "a", "b", seeds(s), "id", maxHops = 4)),
    "stronglyConnectedComponents" ->
      (s => Graph.stronglyConnectedComponents(graph(s), "a", "b")),
    "shortestPaths" -> (s => Graph.shortestPaths(
      graph(s).withColumn("w", (col("a") + col("b")) % 5 + 1),
      "a", "b", "w", seeds(s), "id", 4)),
    "linkPrediction" -> (s => Graph.linkPrediction(graph(s), "a", "b")),
    "bradleyTerryFixed" -> { s =>
      import s.implicits._
      Prefs.bradleyTerryFixed(Seq(("a", "b"), ("a", "b"), ("b", "a"),
        ("b", "c"), ("a", "c"), ("c", "b")).toDF("win", "lose"), "win", "lose")
    },
    "basketLift" -> (s => Analytics.basketLift(baskets(s), "bk", "it", 2L)),
    "frequentTriples" ->
      (s => Analytics.frequentTriples(baskets(s), "bk", "it", 600)),
    "kmeansFixedTrain" -> (s => Similarity.kmeansFixedTrain(embeddings(s),
      "vec_id", "embedding", 4, 2)),
    "kCenterSelect" -> (s => Similarity.kCenterSelect(embeddings(s),
      "vec_id", "embedding", 4)),
    "pqFixedEncode" -> (s => Similarity.pqFixedEncode(embeddings(s),
      "vec_id", "embedding", 8, 4, 2)),
    "perceptronTrain" -> (s => Corpus.perceptronTrain(labeledDocs(s),
      "doc_id", "pos", "text", TextFunctions.words)))

  for ((name, run) <- hybrids; path <- Seq("local", "distributed"))
    test(s"$name on the $path path holds no storage once released") {
      cleanSlate()
      val out = onPath(spark, path)(run(spark))
      assert(out.count() >= 0)
      graft.release(out)
      assert(held.isEmpty, s"$name ($path) left ${held.size} persistent " +
        s"RDDs: ${held.mkString("; ")}")
    }

  test("sealed single-path operators hold no storage once released") {
    val docs = labeledDocs(spark)
    val sealedOps = Seq(
      "degreeAssortativity" ->
        (() => Graph.degreeAssortativity(graph(spark), "a", "b")),
      "distributionDivergence" -> (() => Corpus.distributionDivergence(
        docs.filter(col("pos")), docs.filter(!col("pos")), "text",
        TextFunctions.words)),
      "winnowPairs" ->
        (() => Dedup.winnowPairs(docs, "text", "doc_id", 3, 2, 1, 2)))
    for ((name, run) <- sealedOps) {
      cleanSlate()
      val out = run()
      assert(out.count() >= 0)
      graft.release(out)
      assert(held.isEmpty, s"$name left ${held.mkString("; ")}")
    }
  }

  test("kTruss on the distributed path leaves a checkpointed input " +
    "countable") {
    cleanSlate()
    val edges = graph(spark).localCheckpoint(true)
    val n = edges.count()
    val out = onPath(spark, "distributed")(
      Graph.kTruss(edges, "a", "b", k = 3))
    assert(out.count() > 0)
    graft.release(out)
    assert(edges.count() == n)
    graft.release(edges)
    assert(held.isEmpty, held.mkString("; "))
  }

  test("releasing a lazy result (invertedIndex) leaves its " +
    "checkpointed input countable") {
    cleanSlate()
    val docs = labeledDocs(spark).localCheckpoint(true)
    val n = docs.count()
    val idx = Corpus.invertedIndex(docs, "text", "doc_id",
      TextFunctions.words, 10)
    assert(idx.count() > 0)
    graft.release(idx)
    assert(docs.count() == n)
    graft.release(docs)
    assert(held.isEmpty, held.mkString("; "))
  }
}
