package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SparkTestSession.onPath

import graft.operators.{Dedup, Graph, Sampling}

class GraphSamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ---------------------------------------------------------------- Graph

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Graph.connectedComponents(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("connected components: chain collapses transitively") {
    // a~b, b~c, c~d — no direct a~d edge, still one cluster
    assert(cc(Seq((4L, 3L), (3L, 2L), (2L, 1L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
  }

  test("triangleStats: counts each triangle once, exact clustering") {
    // K4 on {1,2,3,4} (4 triangles, 6 edges, wedges = 4·C(3,2)=12,
    // clustering = 12/12 = 1) plus a pendant chain 4-5-6 (no new
    // triangles); edges given in mixed orientation with a duplicate
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 3L) /* dup, reversed */, (4L, 5L), (5L, 6L))
    val r = Graph.triangleStats(edges.toDF("a", "b"), "a", "b").head
    assert(r.getAs[Long]("n_nodes") == 6L)
    assert(r.getAs[Long]("n_edges") == 8L)
    assert(r.getAs[Long]("n_triangles") == 4L)
    // wedges from deg {1:3, 2:3, 3:3, 4:4, 5:2, 6:1}: 3+3+3+6+1+0 = 16
    assert(r.getAs[Double]("clustering") == 12.0 / 16.0)
    // triangle-free graph → 0 triangles, defined clustering 0
    val chain = Graph.triangleStats(
      Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b"), "a", "b").head
    assert(chain.getAs[Long]("n_triangles") == 0L)
    assert(chain.getAs[Double]("clustering") == 0.0)
  }

  test("triangleStats: degree-ordered ≡ id-ordered, incl. hub skew") {
    // star hub 0 + random edges: the shape where an id-ordered wedge
    // fan-out is quadratic in the hub degree and the forward
    // orientation's is not; the distributed joins and the driver-local
    // rung must match exactly
    val rnd = new scala.util.Random(11)
    val star = (1L to 30L).map(i => (0L, i))
    val extra = Seq.fill(60)((rnd.nextInt(31).toLong, rnd.nextInt(31).toLong))
      .filter(e => e._1 != e._2)
    for (edges <- Seq(star ++ extra,
        Seq((1L, 2L), (2L, 3L), (3L, 1L)), // one triangle, all ranks tied
        (0L until 12L).flatMap(i => ((i + 1) until 12L).map(j => (i, j))))) { // K12
      val df = edges.toDF("a", "b")
      // a size gate of 0 forces the DISTRIBUTED joins; the default
      // run exercises the driver-local rung
      val fwd = onPath(spark, "distributed")(
        Graph.triangleStats(df, "a", "b").head)
      val loc = onPath(spark, "local")(Graph.triangleStats(df, "a", "b").head)
      assert(fwd.getAs[Long]("n_triangles") == loc.getAs[Long]("n_triangles"))
      assert(fwd.getAs[Long]("n_nodes") == loc.getAs[Long]("n_nodes"))
      assert(fwd.getAs[Long]("n_edges") == loc.getAs[Long]("n_edges"))
      assert(fwd.getAs[Double]("clustering") == loc.getAs[Double]("clustering"))
    }
  }

  test("localClustering: degree-ordered ≡ id-ordered per node, incl. hub skew") {
    // same shapes as the triangleStats equivalence: the distributed
    // forward orientation and the driver-local rung must credit each
    // corner identically
    val rnd = new scala.util.Random(17)
    val star = (1L to 30L).map(i => (0L, i))
    val extra = Seq.fill(60)((rnd.nextInt(31).toLong, rnd.nextInt(31).toLong))
      .filter(e => e._1 != e._2)
    for (edges <- Seq(star ++ extra,
        Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)),
        (0L until 10L).flatMap(i => ((i + 1) until 10L).map(j => (i, j))))) {
      val df = edges.toDF("a", "b")
      def rows(path: String) =
        onPath(spark, path) {
          Graph.localClustering(df, "a", "b")
            .collect()
            .map(r => r.getAs[Long]("id") ->
              ((r.getAs[Long]("degree"), r.getAs[Long]("n_tri"),
                r.getAs[Double]("lcc")))).toMap
        }
      assert(rows("distributed") == rows("local"))
    }
    // spot-check exact values on K4 + pendant: node 4 sees 3 triangles
    // over deg 4 → lcc = 6/12; pendant 5 deg 2, 0 triangles → 0.0
    val k4 = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L)).toDF("a", "b")
    val m = Graph.localClustering(k4, "a", "b").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Double]("lcc")).toMap
    assert(m(1L) == 1.0 && m(4L) == 0.5 && m(5L) == 0.0)
  }

  test("hitsFixedPoint: local driver rung ≡ distributed rounds, bit-exact") {
    // all-integer recurrence → strict equality, same discipline as the
    // CC/PageRank/LPA hybrid rungs
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(120)((s"n${rnd.nextInt(25)}", s"n${rnd.nextInt(25)}"))
      .filter(e => e._1 != e._2).toDF("s", "t")
    def run(path: String) = onPath(spark, path) {
      Graph.hitsFixedPoint(edges, "s", "t", rounds = 3)
        .collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    }
    assert(run("local") == run("distributed"))
    // distributed-path overflow guard fails loudly when scale² eats
    // the Long headroom (the wrap would otherwise be silent garbage)
    onPath(spark, "distributed") {
      intercept[IllegalArgumentException] {
        Graph.hitsFixedPoint(edges, "s", "t", rounds = 1,
          scale = 4000000000L)
      }
    }
  }

  test("connected components: separate clusters stay separate") {
    val got = cc(Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L), (21L, 20L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
  }

  test("connected components: cycle and long path converge") {
    // ring of 6 + a 7-node path: diameter forces several iterations
    val ring = (0L until 6L).map(i => (100L + i, 100L + (i + 1) % 6))
    val path = (0L until 7L).map(i => (200L + i, 201L + i))
    val got = cc(ring ++ path)
    assert(got.filter(_._1 >= 200L).values.toSet == Set(200L))
    assert(got.filter(k => k._1 >= 100L && k._1 < 200L).values.toSet ==
      Set(100L))
  }

  test("connected components: self-loops ignored, duplicates tolerated") {
    assert(cc(Seq((5L, 5L), (5L, 6L), (6L, 5L), (5L, 6L))) ==
      Map(5L -> 5L, 6L -> 5L))
  }

  test("local union-find and distributed propagation agree exactly") {
    // random-ish graph with chains, rings, singles and dup edges
    val rnd = new scala.util.Random(11)
    val edges = (1 to 400).map { _ =>
      val a = rnd.nextInt(120).toLong; val b = rnd.nextInt(120).toLong
      (a, b)
    }.filter { case (a, b) => a != b }
    def run(path: String) = onPath(spark, path) {
      Graph.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val local = run("local")
    val distributed = run("distributed") // force the iterated path
    assert(local == distributed)
  }

  test("componentSummary rolls up cluster sizes") {
    val comps = Graph.connectedComponents(
      Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("a", "b"), "a", "b")
    val sizes = Graph.componentSummary(comps)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sizes == Map(1L -> 3L, 7L -> 2L))
  }

  test("cluster keeper set ≡ greedy LSH prune on the gate corpus shape") {
    // every ngram near-dup pair ends up intra-cluster
    val pairs = Dedup.ngramJaccardPairs(
      table(spark, "/root/testdata/sf0.001", "documents")
        .select($"doc_id", $"text")
        .unionByName(table(spark, "/root/testdata/sf0.001", "documents")
          .filter($"doc_id" % 10 === 0)
          .select(($"doc_id" + 1000000).as("doc_id"), $"text")),
      "text", "doc_id", 5, 0.6)
    val comp = Graph.connectedComponents(pairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.select("id_a", "id_b").collect().foreach { r =>
      assert(comp(r.getLong(0)) == comp(r.getLong(1)),
        s"pair ${r.getLong(0)},${r.getLong(1)} split across clusters")
    }
  }

  // ----------------------------------------------------------- TimeSeries

  test("pagerank: star center outranks leaves; mass conserved sans dangling") {
    import spark.implicits._
    // 4-cycle plus chords into node 0: every node has out-edges, so
    // total rank mass stays 1 (no dangling leak). A size gate of 0
    // forces the DISTRIBUTED loop even on this tiny graph.
    val edges = Seq((1L, 0L), (2L, 0L), (3L, 0L), (0L, 1L),
      (1L, 2L), (2L, 3L), (3L, 1L)).toDF("s", "d")
    for (path <- Seq("distributed", "local")) {
      val r = onPath(spark, path) {
        Graph.pageRank(edges, "s", "d")
          .collect()
          .map(x => x.getAs[Long]("id") -> x.getAs[Double]("rank")).toMap
      }
      assert(math.abs(r.values.sum - 1.0) < 1e-9)
      assert(r(0L) > r(2L) && r(0L) > r(3L)) // three in-links vs one/two
      r.values.foreach(v => assert(v > 0))
    }
  }

  test("pagerank: local and distributed paths agree; partition-independent") {
    import spark.implicits._
    val edges = (1 to 60).map(i => (i.toLong, (i % 7).toLong))
      .toDF("s", "d")
    val local = onPath(spark, "local") {
      Graph.pageRank(edges, "s", "d").collect()
        .map(x => x.getAs[Long]("id") -> x.getAs[Double]("rank")).toMap
    }
    val dist = onPath(spark, "distributed") {
      Graph.pageRank(edges.repartition(13), "s", "d").collect()
        .map(x => x.getAs[Long]("id") -> x.getAs[Double]("rank")).toMap
    }
    assert(local.keySet == dist.keySet)
    local.foreach { case (k, v) => assert(math.abs(v - dist(k)) < 1e-12) }
  }

  test("pageRankFixed: local ≡ distributed exactly; agrees with float form") {
    import spark.implicits._
    val edges = (1 to 60).map(i => (i.toLong, (i % 7).toLong))
      .toDF("s", "d")
    val local = onPath(spark, "local") {
      Graph.pageRankFixed(edges, "s", "d").collect()
        .map(x => x.getAs[Long]("id") -> x.getAs[Long]("rank_fp")).toMap
    }
    val dist = onPath(spark, "distributed") {
      Graph.pageRankFixed(edges.repartition(13), "s", "d").collect()
        .map(x => x.getAs[Long]("id") -> x.getAs[Long]("rank_fp")).toMap
    }
    // integer arithmetic: the two execution paths are BIT-identical,
    // not merely close — this is the property the hash gate rides
    assert(local == dist)
    // and the fixed-point result tracks the float form to ~1e-9 of
    // mass per node (truncation loses < iters ulp-units per node)
    val fl = Graph.pageRank(edges, "s", "d", iterations = 5).collect()
      .map(x => x.getAs[Long]("id") -> x.getAs[Double]("rank")).toMap
    assert(local.keySet == fl.keySet)
    local.foreach { case (k, v) =>
      assert(math.abs(v / 1e12 - fl(k)) < 1e-8, s"node $k") }
  }

  test("labelPropagation splits a barbell into two communities (CC gives one)") {
    // two 4-cliques bridged by a single edge 4–5
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(Seq(1L, 2L, 3L, 4L)) ++ clique(Seq(5L, 6L, 7L, 8L)) :+
      ((4L, 5L))).toDF("a", "b")
    def run(d: org.apache.spark.sql.DataFrame) =
      Graph.labelPropagation(d, "a", "b", rounds = 3)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("community"))
        .toMap
    val got = onPath(spark, "local")(run(edges))
    // dense cores keep their own min label; the bridge does not merge them
    assert(Seq(1L, 2L, 3L, 4L).map(got) == Seq(1L, 1L, 1L, 1L))
    assert(Seq(5L, 6L, 7L, 8L).map(got) == Seq(5L, 5L, 5L, 5L))
    // CC on the same graph collapses everything into one component
    val cc = Graph.connectedComponents(edges, "a", "b").collect()
      .map(_.getAs[Long]("comp")).toSet
    assert(cc == Set(1L))
    // deterministic under any input partitioning
    assert(run(edges.repartition(7)) == got)
    // the distributed loop (forced) is bit-identical to the driver path
    // — LPA state is all-integer, so unlike PageRank there is no fp
    // caveat to the equivalence
    val dist = onPath(spark, "distributed") {
      Graph.labelPropagation(edges, "a", "b", rounds = 3)
        .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("community"))
        .toMap
    }
    assert(dist == got)
  }

  test("ewma: matches a sequential fold, any parallelism, multi-key safe") {
    import java.sql.Timestamp
    val rows = for (u <- 0L until 7L; i <- 0 until 40)
      yield (u, Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        u * 1000 + i, (u * 31 + i * 17 % 97).toDouble)
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.TimeSeries
        .ewmaPerKey(spark, d, "user_id", "ts", "event_id", "value", 0.3)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
        .toMap
    val got = run(df)
    // driver-side reference fold
    val expect = rows.groupBy(_._1).map { case (u, rs) =>
      val vs = rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      u -> (vs.size.toLong, vs.tail.foldLeft(vs.head)((acc, v) =>
        v * 0.3 + acc * 0.7))
    }
    assert(got == expect)
    // bit-identical under different input partitionings
    assert(run(df.repartition(13)) == got)
    assert(run(df.coalesce(1)) == got)
  }

  test("holt: matches a sequential two-state fold, any parallelism") {
    import java.sql.Timestamp
    val rows = for (u <- 0L until 5L; i <- 0 until 50)
      yield (u, Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        u * 1000 + i, (i * 3 + (u * 13 + i * i) % 23).toDouble) // trending + noise
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val (alpha, beta) = (0.4, 0.2)
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.TimeSeries
        .holtPerKey(spark, d, "user_id", "ts", "event_id", "value", alpha, beta)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))))
        .toMap
    val got = run(df)
    val expect = rows.groupBy(_._1).map { case (u, rs) =>
      val vs = rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      var (l, t) = (vs.head, 0.0)
      vs.tail.foreach { v =>
        val s = l + t
        val lNew = v * alpha + s * (1.0 - alpha)
        t = (lNew - l) * beta + t * (1.0 - beta)
        l = lNew
      }
      u -> ((vs.size.toLong, l, t, l + t))
    }
    assert(got == expect)
    assert(run(df.repartition(13)) == got)
    // on a clean linear series the one-step forecast converges to the
    // next point: values 3i (+bounded noise) → forecast ≈ 3·50 ± noise
    got.values.foreach { case (_, _, trend, _) =>
      assert(trend > 1.5 && trend < 4.5, trend) }
  }

  test("holt-winters: matches a sequential ring fold; seasonality learned") {
    import java.sql.Timestamp
    // seasonal signal with period 4 + trend + deterministic noise
    val rows = for (u <- 0L until 4L; i <- 0 until 60)
      yield (u, Timestamp.valueOf(f"2024-01-01 00:${i / 60}%02d:${i % 60}%02d"),
        u * 1000 + i,
        (i * 2 + Seq(0, 10, -5, 5)(i % 4) + (u * 7 + i * i) % 5).toDouble)
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val (alpha, beta, gamma, m) = (0.4, 0.2, 0.3, 4)
    def run(d: org.apache.spark.sql.DataFrame) =
      graft.operators.TimeSeries
        .holtWintersPerKey(spark, d, "user_id", "ts", "event_id", "value",
          alpha, beta, gamma, m)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
            r.getDouble(5)))).toMap
    val got = run(df)
    val expect = rows.groupBy(_._1).map { case (u, rs) =>
      val vs = rs.sortBy(r => (r._2.getTime, r._3)).map(_._4)
      var (l, t) = (vs.head, 0.0)
      val s = new Array[Double](m)
      var n = 1L
      vs.tail.foreach { v =>
        val p = (n % m).toInt
        val sp = s(p)
        val lb = l + t
        val lNew = (v - sp) * alpha + lb * (1.0 - alpha)
        t = (lNew - l) * beta + t * (1.0 - beta)
        s(p) = (v - lb) * gamma + sp * (1.0 - gamma)
        l = lNew
        n += 1
      }
      val sn = s((n % m).toInt)
      u -> ((n, l, t, sn, l + t + sn))
    }
    assert(got == expect)
    assert(run(df.repartition(7)) == got)
    // the learned ring should separate the +10 phase from the −5 phase
    // — check via the full final ring of one user reproduced locally
    val u0 = expect(0L)
    assert(u0._2 > 0 && u0._3 > 1.0 && u0._3 < 3.0) // trend ≈ 2
  }

  // ------------------------------------------------------------- Sampling

  test("hash gate: deterministic, partition-independent, rate-accurate") {
    val ids = spark.range(0, 20000).select($"id")
    val kept = ids.filter(Sampling.hashGate($"id", 0.25)).collect()
      .map(_.getLong(0)).toSet
    // same selection regardless of partitioning
    val kept2 = ids.repartition(17).filter(Sampling.hashGate($"id", 0.25))
      .collect().map(_.getLong(0)).toSet
    assert(kept == kept2)
    // md5 is uniform: 20k rows at rate .25 lands within ±3% absolute
    assert(math.abs(kept.size / 20000.0 - 0.25) < 0.03, s"${kept.size}")
    // nested rates: 1/16 gate is a subset of the 1/4 gate (prefix order)
    val kept16 = ids.filter(Sampling.hashGate($"id", 0.0625)).collect()
      .map(_.getLong(0)).toSet
    assert(kept16.subsetOf(kept))
    // degenerate rates
    assert(ids.filter(Sampling.hashGate($"id", 1.0)).count() == 20000L)
    assert(ids.filter(Sampling.hashGate($"id", 0.0)).count() == 0L)
  }

  test("stratified sample applies per-stratum rates and drops others") {
    val df = Seq.tabulate(3000)(i => (i.toLong, if (i % 3 == 0) "a"
      else if (i % 3 == 1) "b" else "c")).toDF("id", "s")
    val got = Sampling.stratifiedSample(df, "s", $"id",
      Map("a" -> 1.0, "b" -> 0.5))
    val bySeg = got.groupBy($"s").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySeg("a") == 1000L)
    assert(math.abs(bySeg("b") - 500L) < 60L, bySeg.toString)
    assert(!bySeg.contains("c"))
  }

  test("mixture plan: takes obey weights exactly and fit availability") {
    val df = (Seq.fill(100)("x") ++ Seq.fill(50)("y") ++ Seq.fill(10)("z"))
      .zipWithIndex.map { case (c, i) => (i.toLong, c) }.toDF("id", "cls")
    val plan = Sampling.mixturePlan(df, "cls",
        Map("x" -> 0.5, "y" -> 0.4, "z" -> 0.1))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(2), r.getLong(3))).toMap
    // z binds: M = floor(10/0.1) = 100 → takes 50/40/10
    assert(plan("x") == ((100L, 0.5, 50L)))
    assert(plan("y") == ((50L, 0.4, 40L)))
    assert(plan("z") == ((10L, 0.1, 10L)))
    // every take fits availability
    plan.values.foreach { case (avail, _, take) => assert(take <= avail) }
  }

  test("kCore: peels pendants and chains, keeps cliques, cascade-safe") {
    import graft.operators.Graph
    // triangle {1,2,3} + pendant 4 + chain 5-6-7 + a CASCADE tail:
    // 8-9, 9-1 — peeling 8 drops 9's degree below 2 only on round 2
    val edges = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L),
      (5L, 6L), (6L, 7L), (8L, 9L), (9L, 1L)).toDF("s", "d")
    val core = Graph.kCore(edges, "s", "d", k = 2)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("core_deg"))
      .toMap
    assert(core == Map(1L -> 2L, 2L -> 2L, 3L -> 2L))
    // k=1 keeps every non-isolated node
    assert(Graph.kCore(edges, "s", "d", k = 1).count() == 9)
    // k above the max degree empties the graph
    assert(Graph.kCore(edges, "s", "d", k = 5).count() == 0)
    // local peel ≡ distributed rounds, exactly, incl. on random graphs
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(onPath(spark, "distributed") {
      asMap(Graph.kCore(edges, "s", "d", k = 2))
    } == onPath(spark, "local")(asMap(Graph.kCore(edges, "s", "d", k = 2))))
    val rnd = new scala.util.Random(21)
    val redges = (1 to 80).map(_ =>
      (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong)).toDF("s", "d")
    for (kk <- Seq(2, 3)) {
      assert(onPath(spark, "distributed") {
        asMap(Graph.kCore(redges, "s", "d", kk))
      } == onPath(spark, "local")(asMap(Graph.kCore(redges, "s", "d", kk))),
        s"k=$kk")
    }
  }

  test("shortestHops: multi-source min distance, hop cap, isolated seeds") {
    def hops(edges: Seq[(Long, Long)], seeds: Seq[Long],
             max: Int): Map[Long, Long] =
      Graph.shortestHops(edges.toDF("s", "d"), "s", "d",
          seeds.toDF("id"), "id", max)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 1-2-3-4-5 seeded at both ends: distances meet in the middle
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    assert(hops(path, Seq(1L, 5L), 4) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 0L))
    // hop cap truncates the frontier: max=1 from node 1 reaches only 2
    assert(hops(path, Seq(1L), 1) == Map(1L -> 0L, 2L -> 1L))
    // isolated seed (no edges touch 99) still reported at hop 0;
    // unreachable component {7,8} absent
    assert(hops(path ++ Seq((7L, 8L)), Seq(1L, 99L), 2) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 99L -> 0L))
    // shortcut edge wins: 1-2-3-4 plus 1-4 makes d(4)=1, not 3
    assert(hops(path ++ Seq((1L, 4L)), Seq(1L), 3) ==
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 1L, 5L -> 2L))
    // local queue BFS ≡ distributed frontier rounds, bit for bit
    val rnd = new scala.util.Random(11)
    val redges = (1 to 80)
      .map(_ => (rnd.nextInt(20).toLong, rnd.nextInt(20).toLong))
      .filter(e => e._1 != e._2)
    val seeds = Seq(0L, 3L, 17L)
    assert(onPath(spark, "local")(hops(redges, seeds, 3)) ==
      onPath(spark, "distributed")(hops(redges, seeds, 3)))
    // maxHops=0 → the seed set itself (present seeds only at hop 0)
    assert(hops(path, Seq(2L), 0) == Map(2L -> 0L))
  }

  test("assortativity: star = −1, regular graph = null, hand-check mixed") {
    import graft.operators.Graph
    // star K1,4: hubs attach leaves → perfectly disassortative
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("s", "d")
    val rs = Graph.degreeAssortativity(star, "s", "d").head
    assert(rs.getAs[Long]("n_nodes") == 5 && rs.getAs[Long]("n_edges") == 4)
    assert(rs.getAs[Double]("assortativity") == -1.0)
    // triangle: every degree 2 → zero variance → null, no div blow-up
    val k3 = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("s", "d")
    assert(Graph.degreeAssortativity(k3, "s", "d").head
      .isNullAt(2))
    // path a-b-c-d: degrees 1,2,2,1; pairs sym {(1,2)×2,(2,1)×2,(2,2)×2}
    // n=6 Sx=Sy=10 Sxy=16 Sxx=Syy=18 → r=(96−100)/(√8·√8) ≈ −0.5 —
    // expected replayed with the operator's exact IEEE op order
    // (√8·√8 = 8.000000000000002, not 8)
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("s", "d")
    assert(Graph.degreeAssortativity(path, "s", "d").head
      .getAs[Double]("assortativity") ==
        -4.0 / (math.sqrt(8.0) * math.sqrt(8.0)))
    // canonical+broadcast fast path ≡ default path, bit for bit
    val rnd = new scala.util.Random(3)
    val redges = (1 to 60).map(_ => (rnd.nextInt(12).toLong, rnd.nextInt(12).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (math.min(e._1, e._2), math.max(e._1, e._2)))
      .distinct.toDF("s", "d")
    val slow = Graph.degreeAssortativity(redges, "s", "d").head
    val fast = Graph.degreeAssortativity(redges, "s", "d",
      broadcastDegrees = true, assumeCanonical = true).head
    assert(slow.getAs[Double]("assortativity") ==
      fast.getAs[Double]("assortativity"))
    assert(slow.getAs[Long]("n_edges") == fast.getAs[Long]("n_edges"))
  }
}
