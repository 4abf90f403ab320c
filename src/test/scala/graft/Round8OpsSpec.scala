package graft

import org.scalatest.funsuite.AnyFunSuite
import SparkTestSession.onPath

import org.apache.spark.sql.functions.col

import graft.operators.{Corpus, Graph, TimeSeries}
import graft.functions.TextFunctions

/** Brute-force twins for the round-8 additions (E100 link prediction,
  * E101 personalized PageRank) — the gate proves engine parity; these
  * prove the SEMANTICS against independently-computed answers.
  */
class Round8OpsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("linkPrediction ≡ brute-force CN + RA on a hand graph") {
    // 1-2, 1-3, 2-3 (triangle) plus 3-4, 4-5, 2-5: predictions exist
    // for the open wedges (1,4) via 3, (2,4) via {3,5}, (3,5) via
    // {2,4}, (1,5) via 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L),
      (2L, 5L))
    val got = Graph.linkPrediction(edges.toDF("a", "b"), "a", "b")
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getLong(3))))
      .toMap
    // independent adjacency-set computation
    val adj = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    edges.foreach { case (a, b) =>
      adj(a) = adj(a) + b; adj(b) = adj(b) + a
    }
    val nodes = adj.keys.toSeq.sorted
    val existing = edges.map { case (a, b) =>
      (math.min(a, b), math.max(a, b))
    }.toSet
    val brute = (for {
      a <- nodes; b <- nodes if a < b && !existing((a, b))
      common = adj(a) intersect adj(b) if common.nonEmpty
    } yield (a, b) ->
      (common.size.toLong,
        common.toSeq.map(z => 1000000L / adj(z).size).sum)).toMap
    assert(got == brute)
    // sanity: (2,4) shares {3,5} — two common neighbors, top score
    assert(got((2L, 4L))._1 == 2L)
  }

  test("linkPrediction drops hub wedges above maxDeg") {
    // star: hub 0 connected to 1..5 — every leaf pair is a wedge
    // through the hub; with the hub excluded no prediction survives
    val star = (1L to 5L).map(i => (0L, i))
    val all = Graph.linkPrediction(star.toDF("a", "b"), "a", "b")
    assert(all.count() == 10) // C(5,2) leaf pairs via the hub
    val capped = Graph.linkPrediction(star.toDF("a", "b"), "a", "b",
      maxDeg = 4L)
    assert(capped.count() == 0)
  }

  test("pprFixed with seeds = all nodes ≡ pageRankFixed") {
    // uniform teleport IS PageRank: base and init collapse to the
    // pageRankFixed constants when |S| = n
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 1L),
      (2L, 4L)).toDF("s", "d")
    val nodes = Seq(1L, 2L, 3L, 4L).toDF("id")
    val pr = Graph.pageRankFixed(edges, "s", "d")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ppr = Graph.pprFixed(edges, "s", "d", nodes)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr == pr)
  }

  test("pprFixed driver rung ≡ distributed rung, seed-proximal mass") {
    // path 1→2→3→4→5 with restart at node 1: mass decays with
    // distance from the seed
    val edges = (1L to 4L).map(i => (i, i + 1)).toDF("s", "d")
    val seed = Seq(1L).toDF("id")
    val local = onPath(spark, "local") {
      Graph.pprFixed(edges, "s", "d", seed)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val dist = onPath(spark, "distributed") {
      Graph.pprFixed(edges, "s", "d", seed)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    assert(local == dist)
    assert(local(1L) > local(2L) && local(2L) > local(3L) &&
      local(3L) > local(4L))
    // the dangling sink (node 5) absorbs the initial pulse but still
    // holds less than the seed's direct successor at steady state
    assert(local(5L) < local(2L))
  }

  test("heapsLaw ≡ brute first-occurrence curve on a hand corpus") {
    // ids 0..7, 4 buckets of width 2; vocabulary grows by one word
    // per bucket pair
    val docs = Seq(
      (0L, "alpha beta"), (1L, "alpha beta"),
      (2L, "alpha gamma"), (3L, "beta gamma"),
      (4L, "delta alpha"), (5L, "delta beta"),
      (6L, "epsilon"), (7L, "epsilon alpha"))
    val got = Corpus.heapsLaw(docs.toDF("doc_id", "text"), "doc_id",
        "text", TextFunctions.words, nBuckets = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // brute: bucket = id div 2 (width = (7-0) div 4 + 1 = 2)
    val byBucket = docs.groupBy(_._1 / 2)
    val tokensPer = byBucket.view.mapValues(
      _.map(_._2.split(" ").length).sum.toLong).toMap
    var seen = Set.empty[String]
    var cumTok = 0L
    (0L to 3L).foreach { b =>
      val words = byBucket(b).flatMap(_._2.split(" "))
      val newWords = words.toSet -- seen
      seen = seen ++ newWords
      cumTok += tokensPer(b)
      assert(got(b) == ((tokensPer(b), cumTok, seen.size.toLong)),
        s"bucket $b")
    }
    // vocabulary still growing ⇒ β strictly positive
    val beta = Corpus.heapsLaw(docs.toDF("doc_id", "text"), "doc_id",
        "text", TextFunctions.words, nBuckets = 4)
      .select("beta_6").head().getDouble(0)
    assert(beta > 0.0 && beta <= 1.0)
  }

  test("charClassCount counts code points per explicit script range") {
    val df = Seq(
      ("ascii only 123", "en"),
      ("привет мир", "ru"),        // Cyrillic
      ("汉字文本", "zh"),           // CJK
      ("mixed текст with 中文 and 7", "xx"))
      .toDF("text", "lang")
    val cls = TextFunctions.ScriptClasses.toMap
    val got = df.select(
      TextFunctions.charClassCount($"text", cls("latin")).as("latin"),
      TextFunctions.charClassCount($"text", cls("digit")).as("digit"),
      TextFunctions.charClassCount($"text", cls("cyrillic")).as("cyr"),
      TextFunctions.charClassCount($"text", cls("cjk")).as("cjk"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2),
        r.getInt(3)))
    // independent code-point counts
    def cnt(s: String, p: Int => Boolean) = s.codePoints().toArray
      .count(p)
    val want = Seq("ascii only 123", "привет мир", "汉字文本",
      "mixed текст with 中文 and 7").map { s =>
      (cnt(s, c => (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')),
        cnt(s, c => c >= '0' && c <= '9'),
        cnt(s, c => c >= 0x0400 && c <= 0x04FF),
        cnt(s, c => c >= 0x4E00 && c <= 0x9FFF))
    }
    assert(got.toSeq == want)
    // the mixed row really is mixed: latin AND ≥2 non-latin scripts
    assert(got(3)._1 > 0 && got(3)._3 > 0 && got(3)._4 > 0)
  }

  test("ndcgAtK: equal-length docs rank by tf ⇒ NDCG exactly 10⁶") {
    // equal dl over the matching docs makes BM25 monotone in tf — but
    // ONLY with positive idf: df must stay below N/2 (at df > N/2 the
    // Robertson idf goes negative and reverses the ranking), hence the
    // four distractor docs
    val docs = Seq(
      (1L, "apple apple apple pear"), (2L, "apple apple pear pear"),
      (3L, "apple pear pear pear"), (4L, "pear kiwi kiwi kiwi"),
      (5L, "kiwi plum plum plum"), (6L, "plum kiwi kiwi plum"),
      (7L, "plum plum pear kiwi"))
    val got = Corpus.ndcgAtK(docs.toDF("doc_id", "text"), "text",
        "doc_id", TextFunctions.words, Seq("apple"), k = 3)
      .collect()
    assert(got.length == 1)
    assert(got(0).getLong(3) == 1000000L)
    // and DCG is the exact dot product of tfs with the micro weights
    val wts = Corpus.ndcgWeights(3)
    val expected = Seq(3L, 2L, 1L).zip(wts).map { case (r, w) => r * w }.sum
    assert(got(0).getLong(1) == expected)
  }

  test("ndcgAtK penalizes a length-skewed ranking below the ideal") {
    // doc 11 has tf=2 buried in a long doc: BM25 length normalization
    // ranks it below tf=1 docs, so NDCG < 1 and equals the brute dot
    // product ratio
    val filler = (1 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (10L, "target alpha beta"),
      (11L, s"target target $filler"),
      (12L, "target gamma delta"),
      // distractors keep df < N/2 so idf stays positive
      (13L, "alpha beta gamma"), (14L, "beta gamma delta"),
      (15L, "gamma delta alpha"), (16L, "delta alpha beta"))
    val out = Corpus.ndcgAtK(docs.toDF("doc_id", "text"), "text",
        "doc_id", TextFunctions.words, Seq("target"), k = 3)
      .collect()(0)
    assert(out.getLong(3) < 1000000L)
    val wts = Corpus.ndcgWeights(3)
    // ideal: tf (2,1,1); ranked: doc 11 last ⇒ tf order (1,1,2)
    val idcg = Seq(2L, 1L, 1L).zip(wts).map { case (r, w) => r * w }.sum
    val dcg = Seq(1L, 1L, 2L).zip(wts).map { case (r, w) => r * w }.sum
    assert(out.getLong(1) == dcg && out.getLong(2) == idcg)
    assert(out.getLong(3) == dcg * 1000000L / idcg)
  }

  test("kneserNeyScore ≡ brute KN probabilities on a hand corpus") {
    val docs = Seq((1L, "a b a b c"), (2L, "b c a c"), (3L, "c a b a"))
    val got = Corpus.kneserNeyScore(docs.toDF("doc_id", "text"),
        "text", "doc_id")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    // independent computation over scala collections
    val bigrams = docs.flatMap { case (id, t) =>
      val w = t.split(" "); w.toSeq.zip(w.tail).map(p => (id, p))
    }
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val cu = bigrams.groupBy(_._2._1).view.mapValues(_.size.toLong).toMap
    val fwd = c2.keys.toSeq.groupBy(_._1).view.mapValues(_.size.toLong)
      .toMap
    val back = c2.keys.toSeq.groupBy(_._2).view.mapValues(_.size.toLong)
      .toMap
    val bt = c2.size.toLong
    docs.foreach { case (id, t) =>
      val w = t.split(" ")
      val pairs = w.toSeq.zip(w.tail)
      val lnSum = pairs.map { p =>
        val num = bt * (4L * c2(p) - 3L) + 3L * fwd(p._1) * back(p._2)
        val den = 4L * cu(p._1) * bt
        math.log(num.toDouble / den.toDouble)
      }.sum
      val expect = BigDecimal(lnSum / pairs.size)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 == pairs.size.toLong, s"doc $id n_bigrams")
      assert(math.abs(got(id)._2 - expect) < 2e-6, s"doc $id score")
    }
    // KN probabilities are proper: Σ_v P(v|u) = 1 for every context u
    val vocab = docs.flatMap(_._2.split(" ")).distinct
    cu.keys.foreach { u =>
      val mass = vocab.map { v =>
        val cuv = c2.getOrElse((u, v), 0L)
        val seen = if (cuv > 0) (cuv.toDouble - 0.75) / cu(u) else 0.0
        seen + 0.75 * fwd(u) / cu(u) * (back.getOrElse(v, 0L).toDouble / bt)
      }.sum
      assert(math.abs(mass - 1.0) < 1e-9, s"context $u mass $mass")
    }
  }

  test("ewmaChart ≡ sequential quantized recurrence; drift alarms") {
    // key A: stable series then a sustained level shift the EWMA band
    // must flag; key B: single day (mrbar null, zero breaches)
    val a = Seq(100L, 102L, 98L, 101L, 99L, 100L, 300L, 305L, 310L,
      308L)
    val rows = a.zipWithIndex.map { case (v, i) =>
      ("A", f"2026-01-${i + 1}%02d", v)
    } :+ (("B", "2026-01-01", 50L))
    val got = TimeSeries.ewmaChart(rows.toDF("k", "day", "cents"),
        "k", "day", "cents")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getLong(4), r.getLong(5))).toMap
    // brute replay for A
    val n = a.size
    val center = a.sum / n
    val mrbar = a.sliding(2).map(p => math.abs(p(1) - p(0))).sum *
      1000 / (n - 1)
    var z = center * 1000000L
    var nb = 0L
    a.foreach { x =>
      z = (x * 1000000L + 4L * z) / 5L
      if (math.abs(z - center * 1000000L) * 1128L > mrbar * 1000000L)
        nb += 1
    }
    assert(got("A") == ((n.toLong, center, mrbar, z, nb)))
    assert(nb > 0, "the level shift must breach the EWMA band")
    assert(got("B") == ((1L, 50L, -1L, 50000000L, 0L)))
  }

  test("nelsonAalen ≡ brute cumulative hazard; ties precede censors") {
    // durations with an event/censor tie at t=3: n_risk at 3 counts
    // BOTH (events precede censorings)
    val subj = Seq((1L, true), (2L, true), (3L, true), (3L, false),
      (5L, true), (7L, false))
    val got = TimeSeries.nelsonAalen(subj.toDF("dur", "ev"), "dur", "ev")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // brute: n_risk(t) = #subjects with dur >= t
    val durs = subj.map(_._1)
    var h = 0L
    val eventTimes = subj.filter(_._2).map(_._1).distinct.sorted
    eventTimes.foreach { t =>
      val nRisk = durs.count(_ >= t).toLong
      val d = subj.count(s => s._1 == t && s._2).toLong
      h += d * 1000000L / nRisk
      assert(got(t) == ((nRisk, d, h)), s"t=$t")
    }
    assert(got.keySet == eventTimes.toSet) // censor-only times absent
    // hazard is nondecreasing by construction
    val hs = got.toSeq.sortBy(_._1).map(_._2._3)
    assert(hs == hs.sorted)
  }

  test("pprFixed brute-force integer replay on the path graph") {
    val seedId = 1L
    val edges = (1L to 4L).map(i => (i, i + 1))
    val got = Graph.pprFixed(edges.toDF("s", "d"), "s", "d",
        Seq(seedId).toDF("id"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val scale = 1000000000000L
    val ids = (1L to 5L).toSeq
    val out = edges.groupBy(_._1).map { case (s, es) =>
      s -> es.map(_._2)
    }
    var rank = ids.map(id => id -> (if (id == seedId) scale else 0L)).toMap
    for (_ <- 1 to 5) {
      val inflow = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      out.foreach { case (s, ds) =>
        val c = rank(s) / ds.size
        ds.foreach(d => inflow(d) += c)
      }
      rank = ids.map { id =>
        id -> ((if (id == seedId) (15L * scale) / 100L else 0L) +
          (85L * inflow(id)) / 100L)
      }.toMap
    }
    assert(got == rank)
  }

  test("bradleyTerryFixed ≡ integer MM replay; driver ≡ distributed; " +
    "order recovered") {
    import graft.operators.Prefs
    // a > b > c by construction, plus one upset
    val cmp = Seq(
      ("a", "b"), ("a", "b"), ("a", "b"), ("b", "a"),
      ("b", "c"), ("b", "c"), ("a", "c"), ("a", "c"), ("c", "b"))
    val df = cmp.toDF("win", "lose")
    val got = onPath(spark, "local") {
      Prefs.bradleyTerryFixed(df, "win", "lose")
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    // independent integer replay of the 5 MM rounds
    val S = 1000000L
    val wins = cmp.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
      .withDefaultValue(0L)
    val pairKeys = cmp.map { case (a, b) =>
      (Seq(a, b).min, Seq(a, b).max) }.distinct
    val nij = cmp.groupBy { case (a, b) =>
      (Seq(a, b).min, Seq(a, b).max) }.map { case (k, v) => k -> v.size.toLong }
    val items = Seq("a", "b", "c")
    var p = items.map(_ -> S).toMap
    for (_ <- 1 to 5) {
      val den = items.map { i =>
        i -> pairKeys.collect {
          case (x, y) if x == i || y == i =>
            val j = if (x == i) y else x
            nij((Seq(i, j).min, Seq(i, j).max)) * S * S / (p(i) + p(j))
        }.sum
      }.toMap
      p = items.map { i =>
        i -> math.min(1000000000000L,
          math.max(1L, wins(i) * S * S / math.max(1L, den(i))))
      }.toMap
    }
    val games = items.map { i =>
      i -> cmp.count(c => c._1 == i || c._2 == i).toLong }.toMap
    items.foreach { i =>
      assert(got(i) == ((games(i), wins(i), p(i))), s"item $i: ${got(i)}")
    }
    // ranking respects the planted order
    assert(p("a") > p("b") && p("b") > p("c"))
    // the distributed rounds are bit-equal to the driver rung
    val dist = onPath(spark, "distributed") {
      Prefs.bradleyTerryFixed(df, "win", "lose")
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    }
    assert(dist == got)
  }

  test("distinctNgrams ≡ brute unigram/bigram distinct ratios") {
    val docs = Seq(
      ("en", "the cat sat"), ("en", "the cat ran"), ("en", "the cat sat"),
      ("xx", "solo")).toDF("lang", "text")
    val got = Corpus.distinctNgrams(docs, "lang", "text",
        TextFunctions.words)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), if (r.isNullAt(6)) -1L else r.getLong(6))).toMap
    // en: 9 unigrams {the,cat,sat,ran}=4 distinct; 6 bigrams
    // {the cat, cat sat, cat ran}=3 distinct
    assert(got("en") == ((9L, 4L, 6L, 3L,
      4L * 1000000 / 9, 3L * 1000000 / 6)))
    // xx: one token, no bigram -> distinct2 null (read back as -1)
    assert(got("xx") == ((1L, 1L, 0L, 0L, 1000000L, -1L)))
  }

  test("ebShrinkage: shrunk rates pull toward the prior; tiny-n moves " +
    "most; degenerate (equal rates) falls back raw") {
    import graft.operators.Stats
    val rnd = new scala.util.Random(7)
    // 30 segments, true rate 0.4, binomial n=20 — plus one tiny outlier
    // segment 2/2 that must NOT surface as the top rate after shrinkage
    val rows = (0 until 30).flatMap { g =>
      (0 until 20).map(i => (s"g$g", rnd.nextDouble() < 0.4))
    } ++ Seq(("tiny", true), ("tiny", true))
    val df = rows.toDF("seg", "ok")
    val got = Stats.ebShrinkage(df, Seq("seg"), col("ok"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(4))).toMap
    val (tn, tx, tShrunk) = got("tiny")
    assert((tn, tx) == ((2L, 2L)))
    // raw rate 1.0 but shrunk well below — closer to the prior mean
    assert(tShrunk < 0.75, s"tiny shrunk to $tShrunk")
    // a large segment moves much less than the tiny one
    val (n0, x0, s0) = got("g0")
    assert(math.abs(s0 - x0.toDouble / n0) <
      math.abs(tShrunk - 1.0))
    // independent replay of the moment fit on the same integers
    val segs = rows.groupBy(_._1).map { case (g, rs) =>
      (g, rs.size.toLong, rs.count(_._2).toLong) }.toSeq
    val rates = segs.map { case (_, n, x) => x * 1000000L / n }
    val k = rates.size.toLong
    val sr = rates.sum
    val srr = rates.map(r => r * r).sum
    val mu = sr.toDouble / (k.toDouble * 1e6)
    val v = (k.toDouble * srr.toDouble - sr.toDouble * sr.toDouble) /
      (k.toDouble * (k - 1).toDouble * 1e12)
    val common = mu * (1 - mu) / v - 1
    val (alpha, beta) = (mu * common, (1 - mu) * common)
    val expTiny = BigDecimal((2 + alpha) / (2 + alpha + beta))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(tShrunk == expTiny)
    // degenerate: every segment identical -> variance 0 -> raw rates
    val flat = Seq(("a", true), ("a", false), ("b", true), ("b", false))
      .toDF("seg", "ok")
    val fg = Stats.ebShrinkage(flat, Seq("seg"), col("ok")).collect()
    assert(fg.forall(r => r.getDouble(4) == 0.5 && r.isNullAt(5)))
  }

  test("tokenizerFertility ≡ brute char/word/token totals and ratios") {
    val docs = Seq(
      ("en", "the cat sat."), ("en", "abc 123!"), ("zz", ""))
      .toDF("lang", "text")
    val got = Corpus.tokenizerFertility(docs, "lang", "text")
      .collect().map(r => r.getString(0) -> r.toSeq.drop(1)).toMap
    // en: chars 12+8=20; ws words 3+2=5; regex tokens
    // (the,cat,sat,.)=4 + (abc,123,!)=3 = 7
    assert(got("en") == Seq(2L, 20L, 5L, 7L,
      7L * 1000000 / 5, 20L * 1000000 / 7))
    // empty doc: split(trim(""), \s+) = [""] -> 1 word; 0 regex tokens
    // -> chars-per-token null
    assert(got("zz") == Seq(1L, 0L, 1L, 0L, 0L, null))
  }

  test("permutationBatteryFdr: planted shift rejected, null segments " +
    "survive; BH step-up ≡ brute recompute on the returned p's") {
    import graft.operators.Stats
    // one truly shifted segment + three null segments
    val rows =
      (1 to 60).map(i => ("shifted", i.toLong, i % 2 == 0,
        if (i % 2 == 0) 1000L else 0L)) ++
      Seq("null_a", "null_b", "null_c").zipWithIndex.flatMap {
        case (g, gi) =>
          (1 to 60).map(i =>
            (g, (1000 + gi * 100 + i).toLong, i % 2 == 0, 500L))
      }
    val got = Stats.permutationBatteryFdr(
        rows.toDF("seg", "id", "isa", "v"), "seg", "id", col("isa"), "v")
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(4), r.getLong(5), r.getBoolean(6))).toMap
    // the planted shift has the smallest p and is rejected at q=0.1
    val (pShift, rankShift, rejShift) = got("shifted")
    assert(rankShift == 1L && rejShift, got.toString)
    // null segments: diff_obs = 0, every replicate ties or beats it →
    // p = 1e6 exactly, never rejected
    Seq("null_a", "null_b", "null_c").foreach { g =>
      assert(got(g)._1 == 1000000L && !got(g)._3, s"$g: ${got(g)}")
    }
    assert(pShift < 1000000L)
    // BH internal consistency: recompute k* from the RETURNED p's
    val ps = got.values.map(_._1).toSeq.sorted
    val m = ps.size
    val kstar = (1 to m).filter(k => ps(k - 1) * m <= k * 100000L)
      .lastOption.getOrElse(0)
    got.values.foreach { case (_, rank, rej) =>
      assert(rej == (rank <= kstar))
    }
  }

  test("dsirSelect ≡ brute hashed likelihood-ratio weights; " +
    "target-like docs outrank off-domain ones") {
    val source = Seq(
      (1L, "alpha alpha beta"), (2L, "gamma delta gamma"),
      (3L, "alpha beta beta"), (4L, "delta delta"))
      .toDF("doc_id", "text")
    val target = Seq((9L, "alpha beta alpha beta")).toDF("doc_id", "text")
    val got = Corpus.dsirSelect(source, target, "doc_id", "text",
        TextFunctions.words, buckets = 64, k = 4)
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toMap
    // brute replay: same md5-prefix bucketing, add-one ratios,
    // position-ordered fold, HALF_UP 6dp
    def bucket(wrd: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(wrd.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.take(12), 16) % 64
    }
    val srcToks = Seq(1L -> "alpha alpha beta", 2L -> "gamma delta gamma",
      3L -> "alpha beta beta", 4L -> "delta delta")
      .map { case (id, t) => id -> t.split(" ").toSeq }
    val tgtToks = Seq("alpha", "beta", "alpha", "beta")
    val cs = srcToks.flatMap(_._2).groupBy(bucket)
      .map { case (b, g) => b -> g.size.toLong }.withDefaultValue(0L)
    val ct = tgtToks.groupBy(bucket)
      .map { case (b, g) => b -> g.size.toLong }.withDefaultValue(0L)
    val ts = srcToks.map(_._2.size).sum.toLong
    val tt = tgtToks.size.toLong
    def lnr(b: Long): Double =
      math.log(((ct(b) + 1) * (ts + 64)).toDouble /
        ((cs(b) + 1) * (tt + 64)).toDouble)
    srcToks.foreach { case (id, toks) =>
      val logw = toks.foldLeft(0.0)((acc, wd) => acc + lnr(bucket(wd)))
      val exp = BigDecimal(logw)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(got(id)._1 == toks.size.toLong)
      assert(got(id)._2 == exp, s"doc $id: ${got(id)._2} vs $exp")
    }
    // domain ordering: the alpha/beta docs above the gamma/delta ones
    assert(got(1L)._2 > got(2L)._2 && got(3L)._2 > got(4L)._2)
    assert(Seq(got(1L)._3, got(3L)._3).max <
      Seq(got(2L)._3, got(4L)._3).min)
  }

  test("kruskalWallis ≡ definitional H with mid-ranks and ties; " +
    "separation orders H") {
    import graft.operators.Stats
    val rows = Seq(
      ("a", 1L), ("a", 2L), ("a", 2L), ("a", 3L),
      ("b", 2L), ("b", 4L), ("b", 5L), ("b", 5L),
      ("c", 5L), ("c", 6L), ("c", 7L))
    val got = Stats.kruskalWallis(rows.toDF("g", "v"), "g", "v").head
    // brute: global mid-ranks with ties, definitional H, tie correction
    val sorted = rows.map(_._2).sorted
    def midrank(v: Long): Double = {
      val first = sorted.indexOf(v) + 1
      val last = sorted.lastIndexOf(v) + 1
      (first + last) / 2.0
    }
    val n = rows.size.toDouble
    val groups = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val s = groups.map { case (_, rs) =>
      val r = rs.map(x => midrank(x._2)).sum
      r * r / rs.size
    }.sum
    val h = 12.0 * s / (n * (n + 1)) - 3 * (n + 1)
    val tie = rows.groupBy(_._2).map { case (_, t) =>
      val c = t.size.toLong; c * c * c - c }.sum.toDouble
    val hTie = h / (1 - tie / (n * n * n - n))
    assert(got.getLong(0) == rows.size && got.getLong(1) == 3)
    assert(math.abs(got.getDouble(2) - h) < 1e-6, s"h ${got.getDouble(2)} vs $h")
    assert(math.abs(got.getDouble(3) - hTie) < 1e-6)
    // fully separated groups score higher than interleaved ones
    val sep = Stats.kruskalWallis(Seq(("a", 1L), ("a", 2L), ("b", 10L),
      ("b", 11L), ("c", 20L), ("c", 21L)).toDF("g", "v"), "g", "v")
      .head.getDouble(2)
    val mix = Stats.kruskalWallis(Seq(("a", 1L), ("a", 20L), ("b", 2L),
      ("b", 21L), ("c", 10L), ("c", 11L)).toDF("g", "v"), "g", "v")
      .head.getDouble(2)
    assert(sep > mix)
    // all-tied input: correction denominator 0 -> null
    val flat = Stats.kruskalWallis(Seq(("a", 5L), ("b", 5L), ("c", 5L))
      .toDF("g", "v"), "g", "v").head
    assert(flat.isNullAt(3))
  }

  test("maseBaseline ≡ brute lag errors; short/flat series null out") {
    val series =
      (1 to 20).map(i => ("k1", i, (100 + (i % 7) * 10 + i).toLong)) ++
        (1 to 5).map(i => ("k2", i, 50L + i)) ++ // shorter than season
        (1 to 12).map(i => ("k3", i, 100L)) // flat -> seasonal MAE 0
    val got = TimeSeries.maseBaseline(series.toDF("k", "t", "cents"),
        "k", "t", "cents", season = 7)
      .collect().map(r => r.getString(0) -> r).toMap
    def brute(key: String): (Long, Option[Long], Option[Long]) = {
      val vs = series.filter(_._1 == key).sortBy(_._2).map(_._3)
      val e1 = vs.zip(vs.drop(1)).map { case (a, b) => math.abs(b - a) }
      val es = vs.zip(vs.drop(7)).map { case (a, b) => math.abs(b - a) }
      (vs.size.toLong,
        if (e1.isEmpty) None else Some(e1.sum * 1000000L / e1.size),
        if (es.isEmpty) None else Some(es.sum * 1000000L / es.size))
    }
    Seq("k1", "k2", "k3").foreach { key =>
      val (np, m1, ms) = brute(key)
      val r = got(key)
      assert(r.getLong(1) == np)
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) == m1)
      assert((if (r.isNullAt(3)) None else Some(r.getLong(3))) == ms)
    }
    // k1 has signal: mase present and equals the integer ratio
    val (_, Some(m1), Some(ms)) = brute("k1")
    assert(got("k1").getLong(4) == m1 * 1000000L / ms)
    // k2: no 7-lag pairs; k3: flat seasonal MAE — both null mase
    assert(got("k2").isNullAt(4))
    assert(got("k3").isNullAt(4))
  }

  test("autoQueryMod: exact ceil(pairs/budget), floor 1, budget bound") {
    import graft.operators.Similarity
    assert(Similarity.autoQueryMod(0L) == 1)
    assert(Similarity.autoQueryMod(1L) == 1)
    assert(Similarity.autoQueryMod(Similarity.SamplerPairBudget) == 1)
    assert(Similarity.autoQueryMod(Similarity.SamplerPairBudget + 1) == 2)
    // the budget contract: sampled pair work pairs/mod never exceeds
    // the budget, for corpora far past it
    for (n <- Seq(10000L, 50000L, 123457L)) {
      val mod = Similarity.autoQueryMod(n * n)
      assert(n * n / mod <= Similarity.SamplerPairBudget)
      // and the sample is not over-shrunk: (mod-1) would blow the budget
      if (mod > 1) assert(n * n / (mod - 1) > Similarity.SamplerPairBudget)
    }
    intercept[IllegalArgumentException](Similarity.autoQueryMod(-1L))
    // r9 ADVICE: past ~4.3e16 pairs the true modulus exceeds Int range;
    // the Long return must carry it exactly (no wrap to 0/negative)
    val n = 250000000L // 2.5e8 corpus, inside resolveQueryMod's 3e9 guard
    val big = Similarity.autoQueryMod(n * n)
    assert(big > Int.MaxValue.toLong)
    assert(big == (n * n + Similarity.SamplerPairBudget - 1) /
      Similarity.SamplerPairBudget)
    assert(n * n / big <= Similarity.SamplerPairBudget)
  }

  test("quadratic samplers: auto queryMod ≡ explicit derived mod, " +
    "and the fixed override still wins") {
    import graft.operators.Similarity
    val rnd = new scala.util.Random(41)
    val rows = (0 until 40).map { i =>
      (i.toLong, (i % 3).toLong,
        Seq.fill(5)((rnd.nextInt(2000) - 1000) / 1000.0f))
    }
    val df = rows.toDF("id", "lab", "v")
    // below budget: auto resolves to mod 1 — identical to explicit 1
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq
    assert(canon(Similarity.hardNegatives(df, "id", "lab", "v", k = 2)) ==
      canon(Similarity.hardNegatives(df, "id", "lab", "v", k = 2,
        queryMod = 1)))
    assert(canon(Similarity.silhouetteEval(df, "id", "lab", "v")) ==
      canon(Similarity.silhouetteEval(df, "id", "lab", "v", queryMod = 1)))
    assert(canon(Similarity.intrinsicDimension(df, "id", "v", "lab")) ==
      canon(Similarity.intrinsicDimension(df, "id", "v", "lab",
        queryMod = 1)))
    // explicit override still samples: mod 5 keeps only id % 5 == 0
    // anchors
    val sampled = Similarity.hardNegatives(df, "id", "lab", "v", k = 2,
      queryMod = 5).select("vec_id").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(sampled.nonEmpty && sampled.forall(_ % 5 == 0))
  }
}
