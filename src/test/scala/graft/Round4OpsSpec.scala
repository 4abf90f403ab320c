package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SparkTestSession.onPath

import graft.operators.{Graph, Linkage, Sampling, Sessions, Similarity,
  Stats, TimeSeries}

/** Brute-force / known-answer twins for the round-4 operators — each
  * gate query proves engine parity; these prove the SEMANTICS against
  * an independently-computed answer.
  */
class Round4OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("maxDrawdown ≡ sequential fold per key") {
    val rows = Seq( // (key, ts-order, value)
      ("a", 1L, 10.0), ("a", 2L, -4.0), ("a", 3L, -3.0), ("a", 4L, 5.0),
      ("a", 5L, -9.0), ("b", 1L, -2.0), ("b", 2L, 1.0))
    val got = TimeSeries.maxDrawdown(
        rows.toDF("k", "t", "value"), "k", "t", "t", "value")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    def brute(vs: Seq[Double]) = {
      val cents = vs.map(v => math.floor(v * 100 + 0.5).toLong)
      val cums = cents.scanLeft(0L)(_ + _).tail
      val dds = cums.zipWithIndex.map { case (c, i) =>
        cums.take(i + 1).max - c }
      (cents.length.toLong, cents.sum, cums.max, dds.max)
    }
    // a: cum 1000,600,300,800,-100; peak 1000; max dd 1100
    assert(got("a") == brute(Seq(10.0, -4.0, -3.0, 5.0, -9.0)))
    assert(got("b") == brute(Seq(-2.0, 1.0)))
    assert(got("a")._4 == 1100L)
  }

  test("gappedPairs ≡ brute-force subsequence count with gap bound") {
    val ev = Seq((1L, 1L, "v"), (1L, 2L, "c"), (1L, 3L, "v"),
      (1L, 4L, "p"), (2L, 1L, "v"), (2L, 2L, "p"))
    val got = Sessions.gappedPairs(ev.toDF("u", "t", "e"),
        "u", "e", "t", "t", 2)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val brute = ev.groupBy(_._1).toSeq.flatMap { case (u, es) =>
      val s = es.sortBy(_._2).map(_._3)
      for (i <- s.indices; j <- (i + 1) until math.min(i + 3, s.length))
        yield ((s(i), s(j)), u)
    }
    val expected = brute.groupBy(_._1).map { case (p, xs) =>
      p -> (xs.size.toLong, xs.map(_._2).distinct.size.toLong) }
    assert(got == expected)
  }

  test("crossCorrelation: lag-0 self ccf is 1; known shifted series") {
    val xs = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L)
    val df = xs.zipWithIndex.map { case (v, i) => (i.toLong, v, v) }
      .toDF("o", "x", "y")
    val self = TimeSeries.crossCorrelation(df, "o", "x", "y", Seq(0))
      .head.getAs[Double]("ccf")
    assert(math.abs(self - 1.0) < 1e-12)
    // y = x shifted RIGHT cyclically (y_{t+1} = x_t) → every lag-1
    // pair aligns dev(x_t) with dev(x_t): ccf(1) ≈ 1 (short of 1 only
    // by the one dropped tail pair in the denominator)
    val sh = xs.zipWithIndex.map { case (v, i) =>
      (i.toLong, v, xs((i - 1 + xs.length) % xs.length)) }
      .toDF("o", "x", "y")
    val c1 = TimeSeries.crossCorrelation(sh, "o", "x", "y", Seq(1))
      .head.getAs[Double]("ccf")
    assert(c1 > 0.8, s"lag-1 ccf of shifted copy too low: $c1")
  }

  test("qqTable ≡ sorted-array indexing") {
    val rows = (1 to 40).map(i =>
      (i.toLong, if (i % 2 == 0) "A" else "B",
        if (i % 2 == 0) i.toLong * 10 else i.toLong * 3))
    val got = Stats.qqTable(rows.toDF("id", "g", "v"), "g", "v", "id",
        "A", "B", 4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    def at(vs: Seq[Long], q: Int, nq: Int) = {
      val s = vs.sorted
      s(((q.toLong * s.length + nq - 1) / nq).toInt - 1)
    }
    val a = rows.filter(_._2 == "A").map(_._3)
    val b = rows.filter(_._2 == "B").map(_._3)
    (1 to 3).foreach { q =>
      assert(got(q.toLong) == ((at(a, q, 4), at(b, q, 4))), s"q=$q")
    }
  }

  test("quantileNormalize: each group's output is the global quantile set") {
    val rows = (1 to 30).map(i =>
      (i.toLong, if (i <= 10) "a" else if (i <= 20) "b" else "c",
        (i.toLong * 7) % 31))
    val df = rows.toDF("id", "g", "v")
    val out = Stats.quantileNormalize(df, "g", "v", "id").collect()
    val globalSorted = rows.map(_._3).sorted
    // per group of size 10 over N=30: member ranks map to global ranks
    // ceil(r*30/10) = 3r → q_values are global sorted values at 3,6,…,30
    val expectedPerGroup = (1 to 10).map(r => globalSorted(3 * r - 1))
    out.groupBy(_.getString(1)).foreach { case (g, grp) =>
      assert(grp.map(_.getAs[Long]("q_value")).sorted.toSeq ==
        expectedPerGroup, s"group $g")
    }
    // rank order preserved within each group
    out.groupBy(_.getString(1)).foreach { case (_, grp) =>
      val byV = grp.sortBy(_.getAs[Long]("v")).map(_.getAs[Long]("q_value"))
      assert(byV.sorted.toSeq == byV.toSeq)
    }
  }

  test("fsLinkage: LR strictly increases with agreements; exact value") {
    // 6 records, block all-same; field f with u = collision prob
    val rows = Seq((1L, "x", "p"), (2L, "x", "p"), (3L, "x", "q"),
      (4L, "x", "q"), (5L, "x", "r"), (6L, "x", "s"))
    val df = rows.toDF("id", "blk", "f")
    // uNum = 2·1 + 2·1 = 4, uDen = 30; agree factor = 9·30/(10·4) = 27/4
    // disagree factor = 1·30/(10·26) = 3/26
    val got = Linkage.fsLinkage(df, "id", "blk", Seq("f"),
        minLrMicro = 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3))).toMap
    val agreeLr = BigInt(1000000) * (9 * 30) / (10 * 4)
    val disLr = BigInt(1000000) * (1 * 30) / (10 * 26)
    assert(got((1L, 2L)) == ((1L, agreeLr.toLong)))
    assert(got((1L, 3L)) == ((0L, disLr.toLong)))
    assert(got((1L, 2L))._2 > got((1L, 3L))._2)
    assert(got.size == 15) // all C(6,2) pairs at threshold 0
  }

  test("kCenterSelect: radius is the true max-min distance; centers distinct") {
    // embeddings from the real table keep the int8 path honest
    val emb = table(spark, "/root/testdata/sf0.001", "embeddings")
      .limit(60)
    val out = Similarity.kCenterSelect(emb, "vec_id", "embedding", 4)
      .collect()
    val centers = out.map(_.getAs[Long]("center_id")).toSet
    assert(centers.size == 4)
    assert(out.map(_.getAs[Long]("n_assigned")).sum == 60L)
    // farthest-first: radius shrinks (weakly) as k grows
    val r4 = out.map(_.getAs[Long]("max_d")).max
    val r2 = Similarity.kCenterSelect(emb, "vec_id", "embedding", 2)
      .collect().map(_.getAs[Long]("max_d")).max
    assert(r4 <= r2, s"radius grew: k=2 $r2 -> k=4 $r4")
  }

  test("localClustering: K4 members are 1.0; pendant and bridge are 0") {
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L))
    val got = Graph.localClustering(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L) == ((3L, 3L, 1.0)))
    assert(got(2L) == ((3L, 3L, 1.0)))
    assert(got(4L) == ((4L, 3L, 0.5))) // 3 tri over C(4,2)=6 wedges
    assert(got(5L) == ((1L, 0L, 0.0)))
  }

  test("temperatureMix: integer weights, caps, budget respected") {
    val df = (1 to 100).map(i =>
      (i.toLong, if (i <= 81) "big" else if (i <= 97) "mid" else "tiny"))
      .toDF("id", "cls")
    val got = Sampling.temperatureMix(df, "cls", 50L)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(got("big")._2 == 9000000L)   // √81 · 1e6
    assert(got("mid")._2 == 4000000L)   // √16 · 1e6
    // √3 = 1.7320508… → 1732050
    assert(got("tiny")._2 == 1732050L)
    val wt = 9000000L + 4000000L + 1732050L
    assert(got("big")._3 == math.min(81L, 50L * 9000000L / wt))
    assert(got("tiny")._3 == math.min(3L, 50L * 1732050L / wt))
    // flattening: big's share of takes < big's share of docs
    assert(got("big")._3.toDouble / 50 < 0.81)
  }

  test("readability + mojibake: known-text anchors") {
    val df = Seq(
      (1L, "The cat sat. The dog ran!"),
      (2L, "Ã© bad â€œquote"),
      (3L, "clean text")).toDF("id", "text")
    val r = df.select(col("id"),
      graft.functions.TextFunctions.sentenceCount(col("text")).as("s"),
      graft.functions.TextFunctions.syllableCount(col("text")).as("sy"),
      graft.functions.TextFunctions.mojibakeCount(col("text")).as("m"))
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3))).toMap
    assert(r(1L)._1 == 2L) // two sentence-final runs
    // vowel groups: The(1) cat(1) sat(1) The(1) dog(1) ran(1) = 6
    assert(r(1L)._2 == 6L)
    assert(r(1L)._3 == 0L)
    assert(r(2L)._3 >= 2L) // Ã© and â€œ both fire
    assert(r(3L)._1 == 1L) // floored at 1 despite no punctuation
  }

  test("imageDims: hand-built PNG and GIF headers parse exactly") {
    val png = Array[Int](0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A,
      0, 0, 0, 0x0D, 'I', 'H', 'D', 'R',
      0, 0, 0x01, 0x40, // width 320
      0, 0, 0x00, 0xF0) // height 240
      .map(_.toByte)
    val gif = ("GIF89a".getBytes("ISO-8859-1") ++
      Array[Int](0x40, 0x01, 0xF0, 0x00).map(_.toByte)) // 320×240 LE
    val df = Seq((1L, png), (2L, gif), (3L, "plain".getBytes))
      .toDF("id", "payload")
    val got = graft.operators.Multimodal.imageDims(df, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(got(1L) == (("png", Some(320L), Some(240L))))
    assert(got(2L) == (("gif", Some(320L), Some(240L))))
    assert(got(3L) == (("unknown", None, None)))
  }

  test("imageDims: JPEG SOF walk — variable offset, progressive SOF2, " +
    "truncated and SOS-first payloads yield null dims") {
    def hx(s: String): Array[Byte] =
      s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // baseline JFIF: SOI, APP0(18B), COM(6B), SOF0 h=240 w=320
    val base = hx("FFD8" + "FFE000104A46494600010100000100010000" +
      "FFFE0004ABCD" + "FFC0001108" + "00F0" + "0140" +
      "03011100021101031101")
    // progressive: SOI, two APPn of different lengths, SOF2 h=17 w=4097
    val prog = hx("FFD8" + "FFE10006AABBCCDD" + "FFED0004EEFF" +
      "FFC2001108" + "0011" + "1001" + "03011100021101031101")
    // SOS before any SOF (malformed): walk must stop with null dims
    val sosFirst = hx("FFD8" + "FFDA0002" + "BEEF")
    // truncated mid-walk: APP0 length points past the payload end
    val trunc = hx("FFD8" + "FFE000FF" + "4A46")
    val df = Seq((1L, base), (2L, prog), (3L, sosFirst), (4L, trunc))
      .toDF("id", "payload")
    val got = graft.operators.Multimodal.imageDims(df, "id", "payload")
      .collect().map(r => r.getLong(0) ->
        (r.getString(2), Option(r.get(3)), Option(r.get(4)))).toMap
    assert(got(1L) == (("jpeg", Some(320L), Some(240L))))
    assert(got(2L) == (("jpeg", Some(4097L), Some(17L))))
    assert(got(3L) == (("jpeg", None, None)))
    assert(got(4L) == (("jpeg", None, None)))
  }

  test("scc: hand case + randomized ≡ brute-force mutual reachability; " +
    "local ≡ distributed") {
    // hand case: cycle {1,2,3}, 2-cycle {10,11}, chain tail 20→21
    val hand = Seq((1L, 2L), (2L, 3L), (3L, 1L), (10L, 11L), (11L, 10L),
      (3L, 10L), (20L, 21L), (21L, 1L)).toDF("s", "d")
    val gotH = Graph.stronglyConnectedComponents(hand, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotH == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 21L))
    // randomized graphs vs brute-force mutual reachability
    val rnd = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 30
      val es = (1 to 70).map(_ =>
        (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }.distinct
      val df = es.toDF("s", "d")
      // brute force: boolean closure, scc = min{u: reach(u,v) ∧ reach(v,u)}
      val nodes = es.flatMap { case (a, b) => Seq(a, b) }.distinct.sorted
      val idx = nodes.zipWithIndex.toMap
      val m = nodes.length
      val reach = Array.fill(m, m)(false)
      nodes.indices.foreach(i => reach(i)(i) = true)
      es.foreach { case (a, b) => reach(idx(a))(idx(b)) = true }
      for (k <- 0 until m; i <- 0 until m; j <- 0 until m)
        if (reach(i)(k) && reach(k)(j)) reach(i)(j) = true
      val exp = nodes.map { v =>
        v -> nodes.filter(u =>
          reach(idx(u))(idx(v)) && reach(idx(v))(idx(u))).min
      }.toMap
      val local = onPath(spark, "local") {
        Graph.stronglyConnectedComponents(df, "s", "d")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(local == exp, s"trial $trial local != brute force")
      // distributed path (size gate 0) must agree exactly
      val dist = onPath(spark, "distributed") {
        Graph.stronglyConnectedComponents(df.repartition(5),
            "s", "d", maxIter = 40)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(dist == exp, s"trial $trial distributed != brute force")
    }
  }

  test("shortestPaths: hand case, hop bound, negative edge, " +
    "local ≡ distributed ≡ sequential DP") {
    // 1→2 (10), 1→3 (1), 3→2 (2): cheapest to 2 is 3 via the detour
    val hand = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 2L))
      .toDF("s", "d", "w")
    val seeds1 = Seq(1L).toDF("id")
    val g1 = Graph.shortestPaths(hand, "s", "d", "w", seeds1, "id", 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g1 == Map(1L -> 0L, 2L -> 3L, 3L -> 1L))
    // hop bound 1: the detour is out of reach, direct edge wins
    val g2 = Graph.shortestPaths(hand, "s", "d", "w", seeds1, "id", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2 == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    // negative edge (no cycle): still exact
    val neg = Seq((1L, 2L, 5L), (2L, 3L, -7L)).toDF("s", "d", "w")
    val g3 = Graph.shortestPaths(neg, "s", "d", "w", seeds1, "id", 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g3 == Map(1L -> 0L, 2L -> 5L, 3L -> -2L))
    // randomized: local ≡ distributed ≡ sequential DP over ≤ h hops
    val rnd = new scala.util.Random(41)
    for (trial <- 1 to 2) {
      val n = 25
      val es = (1 to 60).map(_ => (rnd.nextInt(n).toLong,
          rnd.nextInt(n).toLong, rnd.nextInt(20).toLong + 1))
        .filter { case (a, b, _) => a != b }
        .groupBy(e => (e._1, e._2)).map(_._2.minBy(_._3)).toSeq
      val df = es.toDF("s", "d", "w")
      val seeds = Seq(0L, 7L).toDF("id")
      val h = 5
      var dp = Map(0L -> 0L, 7L -> 0L)
      for (_ <- 1 to h) {
        val relax = es.flatMap { case (s, d, w) =>
          dp.get(s).map(c => d -> (c + w)) }
          .groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).min }
        dp = (dp.keySet ++ relax.keySet).map(k => k ->
          math.min(dp.getOrElse(k, Long.MaxValue),
            relax.getOrElse(k, Long.MaxValue))).toMap
      }
      val local = onPath(spark, "local") {
        Graph.shortestPaths(df, "s", "d", "w", seeds, "id", h)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(local == dp, s"trial $trial local != DP")
      val distd = onPath(spark, "distributed") {
        Graph.shortestPaths(df.repartition(5), "s", "d", "w",
            seeds, "id", h)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      }
      assert(distd == dp, s"trial $trial distributed != DP")
    }
  }

  test("blockingProfile: hand-counted pairs, cross-block truth uncovered") {
    // blocks: {1,2,3} and {4} → cand = 3 of total = 6 → reduction ½
    val ents = Seq((1L, 10L), (2L, 10L), (3L, 10L), (4L, 20L))
      .toDF("id", "blk")
    // truth: (1,2) within-block, (3,4) across blocks
    val truth = Seq((1L, 2L), (3L, 4L)).toDF("id_a", "id_b")
    val r = Linkage.blockingProfile(ents, "id", "blk", truth).head
    assert(r.getAs[Long]("n_entities") == 4L)
    assert(r.getAs[Long]("n_blocks") == 2L)
    assert(r.getAs[Long]("cand_pairs") == 3L)
    assert(r.getAs[Long]("total_pairs") == 6L)
    assert(r.getAs[Long]("reduction_micro") == 500000L)
    assert(r.getAs[Long]("n_truth") == 2L)
    assert(r.getAs[Long]("n_covered") == 1L)
    assert(r.getAs[Long]("completeness_micro") == 500000L)
  }

  test("frequentTriples ≡ brute-force triple enumeration") {
    val rnd = new scala.util.Random(11)
    val baskets = (1 to 60).flatMap { bk =>
      rnd.shuffle((1 to 8).toList).take(2 + rnd.nextInt(4))
        .map(it => (bk.toLong, s"i$it"))
    }
    val bp = 800 // minsup = ceil(60·0.08) = 5
    val got = operators.Analytics
      .frequentTriples(baskets.toDF("bk", "it"), "bk", "it", bp)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) ->
        r.getLong(3)).toMap
    val perBasket = baskets.distinct.groupBy(_._1).values
      .map(_.map(_._2).sorted)
    val minsup = (60 * bp + 9999) / 10000
    val brute = perBasket.toSeq.flatMap { its =>
      for (a <- its; b <- its if a < b; c <- its if b < c)
        yield (a, b, c)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      .filter(_._2 >= minsup)
    assert(got == brute)
    // support column is supp/n at 6dp
    val sup = operators.Analytics
      .frequentTriples(baskets.toDF("bk", "it"), "bk", "it", bp)
      .collect()
      .map(r => r.getLong(3) -> r.getDouble(4))
    sup.foreach { case (s, f) =>
      assert(math.abs(f - math.round(s / 60.0 * 1e6) / 1e6) < 1e-12)
    }
  }

  test("frequentTriples + basketLift: driver rung ≡ distributed plan") {
    // both operators pick driver-side counting under a cell threshold;
    // the choice must be pure execution strategy — every column
    // (including the IEEE divisions / the 6dp round) bit-equal
    val rnd = new scala.util.Random(13)
    val baskets = (1 to 80).flatMap { bk =>
      rnd.shuffle((1 to 9).toList).take(2 + rnd.nextInt(5))
        .map(it => (bk.toLong, s"i$it"))
    }.toDF("bk", "it")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
      df.collect().toSeq.map(_.toSeq).sortBy(_.mkString("|"))
    val tLocal = onPath(spark, "local") {
      operators.Analytics.frequentTriples(baskets, "bk", "it", 600)
    }
    val tDist = onPath(spark, "distributed") {
      operators.Analytics.frequentTriples(baskets, "bk", "it", 600)
    }
    assert(tLocal.columns.sameElements(tDist.columns))
    assert(rows(tLocal) == rows(tDist) && rows(tLocal).nonEmpty)
    val bLocal = onPath(spark, "local") {
      operators.Analytics.basketLift(baskets, "bk", "it", minSupport = 8L)
    }
    val bDist = onPath(spark, "distributed") {
      operators.Analytics.basketLift(baskets, "bk", "it", minSupport = 8L)
    }
    assert(bLocal.columns.sameElements(bDist.columns))
    assert(rows(bLocal) == rows(bDist) && rows(bLocal).nonEmpty)
  }

  test("decisionStump ≡ brute-force threshold scan") {
    val rnd = new scala.util.Random(7)
    val rows = (1 to 300).map { _ =>
      val x = rnd.nextInt(20).toLong
      // positives concentrate above 12 with noise
      (rnd.nextDouble() < (if (x > 12) 0.8 else 0.2), x)
    }
    val got = operators.Stats
      .decisionStump(rows.toDF("y", "x"), "y", "x").head
    val xs = rows.map(_._2).distinct.sorted
    val brute = xs.map { t =>
      val (l, r) = rows.partition(_._2 <= t)
      val lp = l.count(_._1).toLong; val lneg = l.size - lp
      val rp = r.count(_._1).toLong; val rneg = r.size - rp
      (math.max(lp, lneg) + math.max(rp, rneg), t, lp, lneg, rp, rneg)
    }.max(Ordering.by((v: (Long, Long, Long, Long, Long, Long)) =>
      (v._1, -v._2))) // max correct, then SMALLEST threshold
    assert(got.getAs[Long]("threshold") == brute._2)
    assert(got.getAs[Long]("correct") == brute._1)
    assert(got.getAs[Long]("left_pos") == brute._3)
    assert(got.getAs[Long]("left_neg") == brute._4)
    assert(got.getAs[Long]("right_pos") == brute._5)
    assert(got.getAs[Long]("right_neg") == brute._6)
    assert(got.getAs[Boolean]("predict_left") == (brute._3 > brute._4))
    assert(got.getAs[Boolean]("predict_right") == (brute._5 > brute._6))
  }

  test("mannWhitney ≡ brute-force midrank computation, ties exact") {
    // hand sample with heavy ties across groups
    val a = Seq(1L, 2L, 2L, 3L, 5L, 5L, 5L)
    val b = Seq(2L, 3L, 3L, 4L, 5L, 6L)
    val df = (a.map(("A", _)) ++ b.map(("B", _))).toDF("g", "v")
    val got = operators.Stats.mannWhitney(df, "g", "v", "A", "B").head
    val all = (a ++ b).sorted
    def midrank2(v: Long): Long = { // 2×average rank = lo + hi
      val lo = all.count(_ < v) + 1L
      val hi = all.count(_ <= v).toLong
      lo + hi
    }
    val r2a = a.map(midrank2).sum
    val u2a = r2a - a.size.toLong * (a.size + 1)
    assert(got.getAs[Long]("n_a") == a.size.toLong)
    assert(got.getAs[Long]("n_b") == b.size.toLong)
    assert(got.getAs[Long]("u2_a") == u2a)
    assert(got.getAs[Double]("u_a") == u2a / 2.0)
    // z against the standard tie-corrected normal approximation
    val na = a.size.toDouble; val nb = b.size.toDouble
    val nn = na + nb
    val t3 = all.groupBy(identity).values
      .map(g => g.size.toLong * g.size * g.size - g.size).sum
    val sig2 = na * nb / 12.0 * ((nn + 1.0) - t3 / (nn * (nn - 1.0)))
    val z = (u2a / 2.0 - na * nb / 2.0) / math.sqrt(sig2)
    assert(math.abs(got.getAs[Double]("z") -
      math.round(z * 1e6) / 1e6) < 1e-9)
  }

  test("gridRadiusJoin ≡ brute-force pairs, negative coords covered") {
    val rnd = new scala.util.Random(3)
    val pts = (1 to 200).map(i =>
      (i.toLong, (rnd.nextInt(400) - 200).toLong,
        (rnd.nextInt(400) - 200).toLong))
    val r = 25L
    val got = operators.Spatial
      .gridRadiusJoin(pts.toDF("id", "x", "y"), "id", "x", "y", r)
      .collect().map(q => (q.getLong(0), q.getLong(1)) -> q.getLong(2))
      .toMap
    val brute = (for {
      (i, xi, yi) <- pts; (j, xj, yj) <- pts
      if i < j
      d2 = (xi - xj) * (xi - xj) + (yi - yj) * (yi - yj)
      if d2 <= r * r
    } yield (i, j) -> d2).toMap
    assert(got == brute)
    assert(brute.nonEmpty) // the case actually exercises matches
  }

  test("boostedStumps ≡ brute-force weighted refit with ×2 reweighting") {
    val rnd = new scala.util.Random(13)
    val rows = (1 to 250).map { _ =>
      val x = rnd.nextInt(15).toLong
      (rnd.nextDouble() < (if (x > 9) 0.75 else 0.3), x)
    }
    val got = operators.Stats
      .boostedStumps(rows.toDF("y", "x"), "y", "x", 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getBoolean(5), r.getBoolean(6))).toMap
    // brute force carries one weight PER ROW (not per distinct value)
    var w = rows.map(_ => 1L)
    for (round <- 1L to 2L) {
      val xs = rows.map(_._2).distinct.sorted
      val scored = xs.map { t =>
        var lp = 0L; var lneg = 0L; var rp = 0L; var rneg = 0L
        rows.zip(w).foreach { case ((y, x), wi) =>
          if (x <= t) { if (y) lp += wi else lneg += wi }
          else { if (y) rp += wi else rneg += wi }
        }
        (math.max(lp, lneg) + math.max(rp, rneg), t, lp, lneg, rp, rneg)
      }
      val b = scored.max(Ordering.by(
        (v: (Long, Long, Long, Long, Long, Long)) => (v._1, -v._2)))
      val wTotal = w.sum
      val (wc, th, lp, lneg, rp, rneg) = b
      val pl = lp > lneg; val pr = rp > rneg
      assert(got(round) == (th, wc, wTotal,
        (wTotal - wc) * 1000000L / wTotal, pl, pr))
      w = rows.zip(w).map { case ((y, x), wi) =>
        val pred = if (x <= th) pl else pr
        if (pred == y) wi else wi * 2
      }
    }
  }

  test("bootstrapMeanCI ≡ brute-force md5 resampling") {
    val rows = (1 to 120).map(i => (i.toLong, (i % 37).toLong * 10))
    val got = operators.Stats
      .bootstrapMeanCI(rows.toDF("id", "v"), "id", "v", 40).head
    def seed(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.take(12), 16)
    }
    def cnt(h: Long): Long =
      if (h < 3679) 0 else if (h < 7358) 1 else if (h < 9197) 2
      else if (h < 9810) 3 else 4
    val reps = (1 to 40).flatMap { b =>
      val draws = rows.map { case (id, v) =>
        (cnt((seed(s"$id") * (2L * b + 1) + b) % 10000), v) }
      val m = draws.map(_._1).sum
      if (m > 0) Some((b.toLong, draws.map(d => d._1 * d._2).sum *
        1000000L / m)) else None
    }
    val sorted = reps.sortBy(r => (r._2, r._1)).map(_._2)
    assert(got.getAs[Long]("n_rows") == 120L)
    assert(got.getAs[Long]("mean_micro") ==
      rows.map(_._2).sum * 1000000L / 120)
    assert(got.getAs[Long]("n_reps") == reps.size.toLong)
    assert(got.getAs[Long]("ci_lo_micro") == sorted(1)) // rank 2
    assert(got.getAs[Long]("ci_hi_micro") == sorted(37)) // rank 38
  }

  test("calibrationTable ≡ brute-force exact-decile bucketing") {
    val rnd = new scala.util.Random(23)
    val rows = (1 to 500).map { _ =>
      val s = rnd.nextInt(1000).toLong
      (rnd.nextDouble() < s / 1000.0, s)
    }
    val got = operators.Stats
      .calibrationTable(rows.toDF("y", "s"), "y", "s")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val n = rows.size
    val sortedVals = rows.map(_._2).sorted
    // discreteQuantiles: smallest value with cum count ≥ ceil(p·n/10⁴)
    val qs = (1 to 9).map(i => sortedVals((i * 1000 * n + 9999) / 10000 - 1))
    val brute = rows.groupBy { case (_, s) => 1L + qs.count(s > _) }
      .map { case (b, rs) =>
        val nn = rs.size.toLong
        val pos = rs.count(_._1).toLong
        b -> (nn, pos, rs.map(_._2).sum * 1000000L / nn,
          pos * 1000000L / nn)
      }
    assert(got == brute)
  }

  test("labelCentroidCosine ≡ brute-force quantized sum-vector cosine") {
    val rnd = new scala.util.Random(31)
    val vecs = (1 to 30).map(i =>
      (i.toLong, i % 3, Array.fill(8)((rnd.nextFloat() - 0.5f) * 0.8f)))
    val df = vecs.toDF("vec_id", "label", "embedding")
    val got = operators.Similarity
      .labelCentroidCosine(df, "label", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))).toMap
    val sums = vecs.groupBy(_._2).map { case (l, vs) =>
      l.toLong -> (vs.size.toLong,
        (0 until 8).map(d => vs.map(v =>
          math.floor(v._3(d).toDouble * 10000 + 0.5).toLong).sum))
    }
    val labs = sums.keys.toSeq.sorted
    for (a <- labs; b <- labs if a < b) {
      val (na, sa) = sums(a); val (nb, sb) = sums(b)
      val dot = sa.zip(sb).map { case (x, y) => x * y }.sum
      val cos = dot.toDouble /
        (math.sqrt(sa.map(x => x * x).sum.toDouble) *
          math.sqrt(sb.map(x => x * x).sum.toDouble))
      val g = got((a, b))
      assert(g._1 == na && g._2 == nb && g._3 == dot)
      assert(math.abs(g._4 - math.round(cos * 1e6) / 1e6) < 1e-9)
    }
    assert(got.size == 3)
  }

  test("permutationTest ≡ brute-force seeded relabeling; null case") {
    val rnd = new scala.util.Random(41)
    // no real effect: both groups from the same distribution
    val rows = (1 to 160).map(i =>
      (i.toLong, if (i % 2 == 0) "A" else "B", rnd.nextInt(500).toLong))
    val got = operators.Stats.permutationTest(
      rows.toDF("id", "g", "v"), "id", "g", "v", "A", "B", 60).head
    def seed(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      java.lang.Long.parseLong(md.digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(12), 16)
    }
    val (as, bs) = rows.partition(_._2 == "A")
    val na = as.size.toLong; val nb = bs.size.toLong
    val diffObs = as.map(_._3).sum * 1000000L / na -
      bs.map(_._3).sum * 1000000L / nb
    val paBp = na * 10000 / (na + nb)
    val reps = (1 to 60).flatMap { r =>
      val (ta, tb) = rows.partition(row =>
        (seed(s"${row._1}") * (2L * r + 1) + r) % 10000 < paBp)
      if (ta.nonEmpty && tb.nonEmpty)
        Some(ta.map(_._3).sum * 1000000L / ta.size -
          tb.map(_._3).sum * 1000000L / tb.size)
      else None
    }
    val nGe = reps.count(d => math.abs(d) >= math.abs(diffObs)).toLong
    assert(got.getAs[Long]("n_a") == na)
    assert(got.getAs[Long]("n_b") == nb)
    assert(got.getAs[Long]("diff_obs_micro") == diffObs)
    assert(got.getAs[Long]("n_reps") == reps.size.toLong)
    assert(got.getAs[Long]("n_ge") == nGe)
    assert(got.getAs[Long]("p_micro") ==
      (1 + nGe) * 1000000L / (reps.size + 1))
    // no planted effect → the p-value should be comfortably non-tiny
    assert(got.getAs[Long]("p_micro") > 50000L)
  }

  test("cochranArmitage: known 2×k tables — monotone vs flat") {
    // strongly monotone rates: z should be large positive
    def mk(rates: Seq[(Long, Int, Int)]) = // (score, pos, neg)
      rates.flatMap { case (s, p, n) =>
        Seq.fill(p)((s, true)) ++ Seq.fill(n)((s, false)) }
    val mono = operators.Stats.cochranArmitage(
      mk(Seq((1L, 10, 90), (2L, 30, 70), (3L, 50, 50), (4L, 70, 30)))
        .toDF("s", "y"), "s", "y").head
    assert(mono.getAs[Long]("n") == 400L)
    assert(mono.getAs[Long]("n_pos") == 160L)
    assert(mono.getAs[Long]("n_levels") == 4L)
    // brute-force z from the definition T = Σ s(r − nR/N)
    val lv = Seq((1.0, 10.0, 100.0), (2.0, 30.0, 100.0),
      (3.0, 50.0, 100.0), (4.0, 70.0, 100.0))
    val nn = 400.0; val rr = 160.0
    val t = lv.map { case (s, r, n) => s * (r - n * rr / nn) }.sum
    val p = rr / nn
    val v = p * (1 - p) *
      (lv.map { case (s, _, n) => s * s * n }.sum -
        math.pow(lv.map { case (s, _, n) => s * n }.sum, 2) / nn)
    val zRef = t / math.sqrt(v)
    assert(math.abs(mono.getAs[Double]("z") - zRef) < 1e-6)
    assert(mono.getAs[Double]("z") > 8.0)
    // flat rates: z ≈ 0 exactly (T numerator is 0 by symmetry)
    val flat = operators.Stats.cochranArmitage(
      mk(Seq((1L, 20, 80), (2L, 20, 80), (3L, 20, 80)))
        .toDF("s", "y"), "s", "y").head
    assert(flat.getAs[Long]("t_num") == 0L)
    assert(flat.getAs[Double]("z") == 0.0)
  }

  test("miRanking: perfect predictor maxes MI; pure noise floors it") {
    val rnd = new scala.util.Random(47)
    val rows = (1 to 400).map { _ =>
      val y = if (rnd.nextBoolean()) "p" else "q"
      (y, y.toUpperCase, if (rnd.nextBoolean()) "u" else "w")
    }
    val got = operators.Stats.miRanking(rows.toDF("y", "copy", "noise"),
        "y", Seq("copy" -> col("copy"), "noise" -> col("noise")))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getDouble(4))).toMap
    // the label copy carries H(Y) nats of MI; both features 2 levels
    val n = rows.size.toDouble
    val np = rows.count(_._1 == "p").toDouble
    val h = -(np / n * math.log(np / n) +
      (n - np) / n * math.log((n - np) / n))
    assert(got("copy")._1 == 2L)
    assert(math.abs(got("copy")._2 - h) < 1e-5)
    assert(got("noise")._2 < 0.01)
    // per-feature rows agree with a direct contingencyProfile call
    val direct = operators.Stats.contingencyProfile(
      rows.toDF("y", "copy", "noise").select(col("copy").as("__f"),
        col("y").as("__y")), "__f", "__y").head
    assert(direct.getAs[Double]("mi_nats") == got("copy")._2)
  }

  test("upliftBySegment: hand-built segments, exact micro rates") {
    // seg s1: A 3/4 vs B 1/4 converted; seg s2: A 0/2 vs B 2/2
    val rows =
      Seq.fill(3)(("s1", "A", true)) ++ Seq.fill(1)(("s1", "A", false)) ++
      Seq.fill(1)(("s1", "B", true)) ++ Seq.fill(3)(("s1", "B", false)) ++
      Seq.fill(2)(("s2", "A", false)) ++ Seq.fill(2)(("s2", "B", true))
    val got = operators.Stats.upliftBySegment(
        rows.toDF("seg", "v", "c"), "seg", "v", "c", "A", "B")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getDouble(6))).toMap
    assert(got("s1")._1 == 4L && got("s1")._2 == 3L)
    assert(got("s1")._3 == 4L && got("s1")._4 == 1L)
    assert(got("s1")._5 == 750000L - 250000L)
    // z for s1: pa=.75 pb=.25 pp=.5 se=sqrt(.25*.5)=.35355 → z≈1.414
    assert(math.abs(got("s1")._6 - 1.414214) < 1e-6)
    assert(got("s2")._5 == -1000000L)
    assert(got("s2")._6 < -1.9)
  }

  test("mannKendall: monotone series, known S; flat series z = 0") {
    // strictly increasing: every pair concordant → S = n(n−1)/2
    val up = (1 to 12).map(i => (i.toLong, i.toLong * 10))
    val gu = TimeSeries.mannKendall(up.toDF("d", "v"), "d", "v").head
    assert(gu.getAs[Long]("n") == 12L)
    assert(gu.getAs[Long]("s_stat") == 66L)
    assert(gu.getAs[Long]("n_pairs") == 66L)
    // z from the definition (no ties): (S−1)/sqrt(n(n−1)(2n+5)/18)
    val zRef = 65.0 / math.sqrt(12.0 * 11 * 29 / 18.0)
    assert(math.abs(gu.getAs[Double]("z") -
      math.round(zRef * 1e6) / 1e6) < 1e-9)
    // constant series: all pairs tied → S = 0, variance 0-guard → z 0
    val fl = (1 to 8).map(i => (i.toLong, 5L))
    val gf = TimeSeries.mannKendall(fl.toDF("d", "v"), "d", "v").head
    assert(gf.getAs[Long]("s_stat") == 0L)
    // n=8 all one tie group: varS = (8·7·21 − 8·7·21)/18 = 0 → null z
    assert(gf.isNullAt(gf.fieldIndex("z")))
    // alternating with ties: brute-force S
    val mix = Seq(1L, 3L, 2L, 3L, 1L, 4L).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
    val gm = TimeSeries.mannKendall(mix.toDF("d", "v"), "d", "v").head
    val bruteS = (for {
      (di, vi) <- mix; (dj, vj) <- mix if di < dj
    } yield math.signum(vj - vi)).sum
    assert(gm.getAs[Long]("s_stat") == bruteS.toLong)
  }

  test("knnClassifyEval ≡ brute-force leave-one-out vote") {
    val rnd = new scala.util.Random(53)
    val vecs = (1 to 40).map(i =>
      (i.toLong, (i % 4).toLong, Array.fill(6)(rnd.nextFloat() - 0.5f)))
    val got = Similarity.knnClassifyEval(
        vecs.toDF("vec_id", "label", "embedding"),
        "vec_id", "label", "embedding", 3)
      .collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    def q(a: Array[Float]) =
      a.map(x => math.floor(x.toDouble * 10000 + 0.5).toLong)
    val qs = vecs.map(v => (v._1, v._2, q(v._3)))
    val preds = qs.map { case (id, lab, v) =>
      val nn = qs.filter(_._1 != id).map { case (id2, lab2, v2) =>
        (v.zip(v2).map { case (x, y) => (x - y) * (x - y) }.sum,
          id2, lab2)
      }.sortBy(t => (t._1, t._2)).take(3)
      val best = nn.groupBy(_._3).toSeq
        .map { case (l, g) => (g.size, l) }
        .max(Ordering.by((t: (Int, Long)) => (t._1, -t._2)))._2
      (lab, best)
    }
    val brute = preds.groupBy(_._1).map { case (l, ps) =>
      val n = ps.size.toLong
      val c = ps.count(p => p._2 == p._1).toLong
      l -> (n, c, c * 1000000L / n)
    }
    assert(got == brute)
  }

  // -------------------------------------------------- round-5 additions

  test("silhouetteEval: tight separated clusters → s ≈ +1; " +
      "interleaved labels → negative") {
    // two tight, well-separated blobs with correct labels
    def blob(ids: Range, lab: Long, cx: Float) = ids.map(i =>
      (i.toLong, lab, Array(cx + 0.001f * (i % 3), 0.5f)))
    val good = (blob(0 until 8, 0L, -1.0f) ++ blob(8 until 16, 1L, 1.0f))
      .toDF("vec_id", "label", "embedding")
    val g = Similarity.silhouetteEval(good, "vec_id", "label", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // mean s per label > 0.9e6 (near-perfect separation)
    assert(g.values.forall(s => s > 900000L * 8))
    // same points, labels swapped pairwise INSIDE each blob → each
    // point's nearest mass is the other label → s < 0
    val bad = (blob(0 until 8, 0L, -1.0f) ++ blob(8 until 16, 1L, 1.0f))
      .map { case (id, lab, v) => (id, id % 2, v) }
      .toDF("vec_id", "label", "embedding")
    val b = Similarity.silhouetteEval(bad, "vec_id", "label", "embedding")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(b.values.forall(_ < 0L))
    // singleton cluster takes s = 0 (sklearn convention)
    val single = Seq((1L, 0L, Array(0f, 0f)), (2L, 1L, Array(1f, 0f)),
      (3L, 1L, Array(1f, 0.1f))).toDF("vec_id", "label", "embedding")
    val s1 = Similarity.silhouetteEval(single, "vec_id", "label",
      "embedding").collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(s1(0L) == 0L)
  }

  test("silhouetteEval fails loudly past the BIGINT-safe d2 bound") {
    val big = Seq((1L, 0L, Array(9000f, 0f)), (2L, 1L, Array(-9000f, 0f)))
      .toDF("vec_id", "label", "embedding")
    // round 10: the guard is folded into the main job (raise_error in
    // the corpus projection), so it surfaces at EXECUTION as a Spark
    // error, not a build-time require
    val e = intercept[Exception] {
      Similarity.silhouetteEval(big, "vec_id", "label", "embedding")
        .collect()
    }
    def msgs(t: Throwable): String =
      if (t == null) "" else t.getMessage + "|" + msgs(t.getCause)
    assert(msgs(e).contains("BIGINT-safe"), msgs(e))
  }

  test("hitsFixedPoint: bipartite graph separates hubs from authorities") {
    // docs 1..4 → pages; page A referenced by all, B by one
    val edges = Seq(("d1", "A"), ("d2", "A"), ("d3", "A"), ("d4", "A"),
      ("d1", "B")).toDF("s", "t")
    val r = Graph.hitsFixedPoint(edges, "s", "t", rounds = 2)
      .collect()
      .map(x => x.getString(0) -> ((x.getLong(1), x.getLong(2)))).toMap
    // pure sources have auth 0; pure sinks have hub 0
    assert(r("A")._1 == 0L && r("d2")._2 == 0L)
    // A is the stronger authority and pinned at the scale max
    assert(r("A")._2 == 1000000L && r("B")._2 < r("A")._2)
    // d1 (links A and B) is the strongest hub, pinned at max
    assert(r("d1")._1 == 1000000L &&
      Seq("d2", "d3", "d4").forall(d => r(d)._1 < r("d1")._1))
  }

  test("pageHinkley: planted level shift alarms at/after the shift only") {
    // 30 flat samples then 20 shifted by +50 cents
    val rows = (1 to 50).map(i =>
      ("k", i.toLong, i.toLong, if (i <= 30) 100L else 150L))
      .toDF("k", "o", "t", "cents")
    val r = TimeSeries.pageHinkley(rows, "k", "o", "t", "cents",
      deltaMicro = 5000000L, lambdaMicro = 100000000L).head
    val first = r.getAs[Long]("first_alarm_idx")
    assert(first > 30L, s"alarm before the shift: $first")
    assert(r.getAs[Long]("n_alarms") > 0L)
    // flat series never alarms
    val flat = (1 to 50).map(i => ("k", i.toLong, i.toLong, 100L))
      .toDF("k", "o", "t", "cents")
    val fr = TimeSeries.pageHinkley(flat, "k", "o", "t", "cents",
      5000000L, 100000000L).head
    assert(fr.getAs[Long]("n_alarms") == 0L)
    assert(fr.isNullAt(fr.fieldIndex("first_alarm_idx")))
  }

  test("pageHinkley / classicalDecompose: negative cents fail loudly " +
    "(ADVICE r5: split floor division needs nonnegative sums)") {
    val rows = Seq(("k", 1L, 1L, 100L), ("k", 2L, 2L, -5L))
      .toDF("k", "o", "t", "cents")
    val e1 = intercept[IllegalArgumentException] {
      TimeSeries.pageHinkley(rows, "k", "o", "t", "cents", 0L, 1L)
    }
    assert(e1.getMessage.contains("negative value -5"))
    val e2 = intercept[IllegalArgumentException] {
      TimeSeries.classicalDecompose(rows, "k", "o", "t", "cents", 3)
    }
    assert(e2.getMessage.contains("negative value -5"))
  }

  test("goodTuring: known spectrum → exact smoothed counts and unseen mass") {
    import graft.functions.TextFunctions
    // word counts: a:3, b:2, c:1, d:1 → N1=2, N2=1, N3=1, N=7
    val docs = Seq((1L, "a b c"), (2L, "a b d"), (3L, "a"))
      .toDF("doc_id", "text")
    val got = graft.operators.Corpus.goodTuring(docs, "doc_id", "text",
        TextFunctions.words, maxR = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
          r.getLong(3)))).toMap
    // r*=1: 2·N2/N1 = 1.0; r*=2: 3·N3/N2 = 3.0; r=3: N4=0 → null
    assert(got(1L) == ((2L, 1000000L, 285714L)))
    assert(got(2L) == ((1L, 3000000L, 285714L)))
    assert(got(3L) == ((1L, -1L, 285714L))) // spectrum gap → null r*
  }

  test("kendallTauB ≡ brute-force tau with ties") {
    val rows = Seq((1L, 10L, 5L), (2L, 20L, 9L), (3L, 20L, 7L),
      (4L, 30L, 7L), (5L, 25L, 30L), (6L, 40L, 1L))
    val got = Stats.kendallTauB(rows.toDF("i", "x", "y"), "i", "x", "y")
      .head
    val pairs = for {
      (i, xi, yi) <- rows; (j, xj, yj) <- rows if i < j
    } yield (math.signum(xj - xi), math.signum(yj - yi))
    val s = pairs.map(p => p._1 * p._2).sum
    val tx = pairs.count(_._1 == 0); val ty = pairs.count(_._2 == 0)
    val n0 = rows.size * (rows.size - 1) / 2
    assert(got.getAs[Long]("s_stat") == s.toLong)
    assert(got.getAs[Long]("ties_x") == tx.toLong)
    assert(got.getAs[Long]("ties_y") == ty.toLong)
    val tau = math.round(s / math.sqrt((n0 - tx).toDouble * (n0 - ty)) * 1e6) / 1e6
    assert(math.abs(got.getAs[Double]("tau_b") - tau) < 1e-9)
    // constant metric → undefined tau (null), exact counts still out
    val const = Stats.kendallTauB(
      rows.map(r => (r._1, 7L, r._3)).toDF("i", "x", "y"), "i", "x", "y")
      .head
    assert(const.isNullAt(const.fieldIndex("tau_b")))
  }

  test("classicalDecompose: pure period-3 pattern → flat trend, " +
      "exact seasonal, zero residual") {
    // v = 10,20,30 repeating ×4: every full 3-window sums to 60 →
    // trend 20; detrended = {−10,0,+10}·1e6 exactly per phase
    val rows = (1 to 12).map(i =>
      ("k", i.toLong, 0L, Seq(10L, 20L, 30L)((i - 1) % 3)))
      .toDF("k", "o", "t", "cents")
    val got = TimeSeries.classicalDecompose(rows, "k", "o", "t", "cents", 3)
      .collect().map(r => r.getLong(1) ->
        ((Option(r.get(4)).map(_.asInstanceOf[Long]),
          Option(r.get(5)).map(_.asInstanceOf[Long]),
          Option(r.get(6)).map(_.asInstanceOf[Long])))).toMap
    // edges (first and last row) have no full window
    assert(got(1L)._1.isEmpty && got(12L)._1.isEmpty)
    for (i <- 2L to 11L) {
      assert(got(i)._1.contains(20000000L), s"trend at $i")
      val phase = (i - 1) % 3
      val want = Seq(-10000000L, 0L, 10000000L)(phase.toInt)
      assert(got(i)._2.contains(want), s"seasonal at $i")
      assert(got(i)._3.contains(0L), s"residual at $i")
    }
  }

  test("partialCorrelation ≡ textbook recursion on hand-computed r's") {
    // y = x + noise, z correlated with both; brute-force the three
    // Pearson r's in Scala and fold the same recursion
    val rows = Seq((1L, 10L, 25L, 5L), (2L, 20L, 41L, 9L),
      (3L, 30L, 58L, 14L), (4L, 40L, 95L, 15L), (5L, 50L, 99L, 28L),
      (6L, 60L, 131L, 30L))
    val got = Stats.partialCorrelation(
      rows.toDF("i", "x", "y", "z"), "x", "y", "z").head
    def pearson(a: Seq[Long], b: Seq[Long]): Double = {
      val n = a.size.toDouble
      val (sa, sb) = (a.sum.toDouble, b.sum.toDouble)
      val cov = n * a.zip(b).map { case (p, q) => p * q }.sum - sa * sb
      val va = n * a.map(p => p * p).sum - sa * sa
      val vb = n * b.map(p => p * p).sum - sb * sb
      cov / math.sqrt(va * vb)
    }
    val (xs, ys, zs) = (rows.map(_._2), rows.map(_._3), rows.map(_._4))
    val (rxy, rxz, ryz) = (pearson(xs, ys), pearson(xs, zs), pearson(ys, zs))
    val want = (rxy - rxz * ryz) /
      math.sqrt((1 - rxz * rxz) * (1 - ryz * ryz))
    assert(math.abs(got.getAs[Double]("r_xy") - rxy) < 1e-5)
    assert(math.abs(got.getAs[Double]("r_xy_z") - want) < 1e-5)
    // constant control column → r_xz undefined → partial null
    val const = Stats.partialCorrelation(
      rows.map(r => (r._1, r._2, r._3, 7L)).toDF("i", "x", "y", "z"),
      "x", "y", "z").head
    assert(const.isNullAt(const.fieldIndex("r_xy_z")))
  }

  test("spearman ≡ classic 1 − 6Σd²/(n(n²−1)) on tie-free data; " +
      "tie-averaged ranks on ties") {
    // tie-free: the closed form applies exactly
    val free = Seq((10L, 3L), (20L, 9L), (30L, 7L), (40L, 20L), (50L, 15L))
    val g1 = Stats.spearman(free.toDF("x", "y"), "x", "y").head
    val rx = free.map(_._1).sorted.zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
    val ry = free.map(_._2).sorted.zipWithIndex.map { case (v, i) => v -> (i + 1) }.toMap
    val d2 = free.map { case (x, y) => val d = rx(x) - ry(y); d * d }.sum
    val n = free.size
    val want = 1.0 - 6.0 * d2 / (n * (n * n - 1.0))
    assert(math.abs(g1.getAs[Double]("rho") - want) < 1e-6)
    // ties: average ranks (hand case: x = 1,2,2,3 → ranks 1, 2.5, 2.5, 4)
    val tied = Seq((1L, 1L), (2L, 2L), (2L, 3L), (3L, 4L))
    val g2 = Stats.spearman(tied.toDF("x", "y"), "x", "y").head
    val rxs = Seq(1.0, 2.5, 2.5, 4.0); val rys = Seq(1.0, 2.0, 3.0, 4.0)
    def pear(a: Seq[Double], b: Seq[Double]) = {
      val nn = a.size
      val cov = nn * a.zip(b).map(p => p._1 * p._2).sum - a.sum * b.sum
      cov / math.sqrt((nn * a.map(v => v * v).sum - a.sum * a.sum) *
        (nn * b.map(v => v * v).sum - b.sum * b.sum))
    }
    assert(math.abs(g2.getAs[Double]("rho") - pear(rxs, rys)) < 1e-6)
    // constant metric → null
    val c = Stats.spearman(Seq((7L, 1L), (7L, 2L)).toDF("x", "y"),
      "x", "y").head
    assert(c.isNullAt(c.fieldIndex("rho")))
  }

  test("round-5 exact-integer operators are partition-independent") {
    // the "order-free integer sums" claims, proven directly: identical
    // output under adversarial repartitioning
    import graft.operators.{Corpus, Graph, TimeSeries => TS}
    import graft.functions.TextFunctions
    val rnd = new scala.util.Random(71)
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    // silhouette
    val vecs = (1 to 60).map(i => (i.toLong, (i % 4).toLong,
      Array.fill(5)(rnd.nextFloat() - 0.5f))).toDF("id", "lab", "v")
    assert(canon(Similarity.silhouetteEval(vecs, "id", "lab", "v")) ==
      canon(Similarity.silhouetteEval(vecs.repartition(13), "id", "lab", "v")))
    // page-hinkley
    val series = (1 to 200).map(i => (s"k${i % 3}", i.toLong, i.toLong,
      (rnd.nextInt(1000) + (if (i > 120) 400 else 0)).toLong))
      .toDF("k", "o", "t", "cents")
    assert(canon(TS.pageHinkley(series, "k", "o", "t", "cents", 5e6.toLong,
        1e8.toLong)) ==
      canon(TS.pageHinkley(series.repartition(11), "k", "o", "t", "cents",
        5e6.toLong, 1e8.toLong)))
    // seasonal decompose
    assert(canon(TS.classicalDecompose(series, "k", "o", "t", "cents", 5)) ==
      canon(TS.classicalDecompose(series.repartition(9), "k", "o", "t",
        "cents", 5)))
    // kendall / spearman / partial correlation
    val xyz = (1 to 40).map(i => (i.toLong, rnd.nextInt(50).toLong,
      rnd.nextInt(50).toLong, rnd.nextInt(50).toLong))
      .toDF("i", "x", "y", "z")
    assert(canon(Stats.kendallTauB(xyz, "i", "x", "y")) ==
      canon(Stats.kendallTauB(xyz.repartition(7), "i", "x", "y")))
    assert(canon(Stats.spearman(xyz, "x", "y")) ==
      canon(Stats.spearman(xyz.repartition(7), "x", "y")))
    assert(canon(Stats.partialCorrelation(xyz, "x", "y", "z")) ==
      canon(Stats.partialCorrelation(xyz.repartition(7), "x", "y", "z")))
    // good-turing + hits
    val docs = (1 to 50).map(i => (i.toLong,
      (1 to 12).map(_ => s"w${rnd.nextInt(30)}").mkString(" ")))
      .toDF("doc_id", "text")
    assert(canon(Corpus.goodTuring(docs, "doc_id", "text",
        TextFunctions.words)) ==
      canon(Corpus.goodTuring(docs.repartition(8), "doc_id", "text",
        TextFunctions.words)))
    val edges = (1 to 150).map(_ => (s"a${rnd.nextInt(20)}",
      s"b${rnd.nextInt(10)}")).toDF("s", "d")
    assert(canon(Graph.hitsFixedPoint(edges, "s", "d")) ==
      canon(Graph.hitsFixedPoint(edges.repartition(6), "s", "d")))
  }

  test("mmrRerank: diversity term suppresses the near-duplicate candidate") {
    // query 0; candidates: 1≈2 (near-identical, most relevant), 3
    // moderately relevant but pointing elsewhere. Plain top-2 by
    // relevance = {1, 2}; MMR at λ=0.5 must pick 1 then 3 — the
    // near-dup 2 scores rel−sim ≈ 0.99−1.00 < 0 and is crowded out.
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.9f, 0.11f, 0.0f)),
      (3L, Array(0.6f, -0.8f, 0.0f))).toDF("vec_id", "embedding")
    val picks = Similarity.mmrRerank(vecs,
        vecs.filter(col("vec_id") === 0), "vec_id", "embedding",
        k = 2, poolSize = 3, lambdaBp = 5000)
      .orderBy("pick").collect().map(_.getLong(2)).toSeq
    assert(picks == Seq(1L, 3L), s"got $picks")
  }
}
