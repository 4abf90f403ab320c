package graft

import org.scalatest.funsuite.AnyFunSuite
import SparkTestSession.onPath

import graft.plans.TopKBuffer

/** Randomized (seeded, deterministic) property checks for the
  * hand-written data structures — the pieces a wrong-by-one heap
  * comparison would break silently.
  */
class PropertySpec extends AnyFunSuite {

  private def rng = new scala.util.Random(42)

  test("TopKBuffer ≡ sort-take-k for arbitrary inputs, orders, and k") {
    val r = rng
    for (_ <- 1 to 300) {
      val k = 1 + r.nextInt(8)
      val n = r.nextInt(60)
      // quantized scores force plenty of exact ties
      val xs = List.fill(n)((math.rint(r.nextDouble() * 20) / 4,
        r.nextInt(30).toLong))
      val buf = new TopKBuffer(k)
      xs.foreach { case (s, id) => buf.add(s, id) }
      val expected = xs.sortBy { case (s, id) => (-s, id) }.take(k)
      assert(buf.sorted.toSeq == expected,
        s"k=$k xs=$xs got=${buf.sorted.toSeq}")
    }
  }

  test("TopKBuffer merge ≡ single buffer over the concatenation") {
    val r = rng
    for (_ <- 1 to 200) {
      val mk = () => List.fill(r.nextInt(40))(
        (math.rint(r.nextDouble() * 12) / 2, r.nextInt(20).toLong))
      val a = mk(); val b = mk()
      val left = new TopKBuffer(5); val right = new TopKBuffer(5)
      val merged = new TopKBuffer(5)
      a.foreach { case (s, id) => left.add(s, id) }
      b.foreach { case (s, id) => right.add(s, id) }
      left.merge(right)
      (a ++ b).foreach { case (s, id) => merged.add(s, id) }
      assert(left.sorted.toSeq == merged.sorted.toSeq)
    }
  }

  test("TopKBuffer serialize/deserialize round-trips through the agg path") {
    val r = rng
    for (_ <- 1 to 100) {
      val agg = graft.plans.TopKBy(null, null, 4)
      val buf = new TopKBuffer(4)
      List.fill(r.nextInt(30))((r.nextDouble(), r.nextInt(50).toLong))
        .foreach { case (s, id) => buf.add(s, id) }
      val back = agg.deserialize(agg.serialize(buf))
      assert(back.sorted.toSeq == buf.sorted.toSeq && back.k == buf.k)
    }
  }

  test("winnowPairs ≡ brute-force rare-set containment on random corpora") {
    import org.apache.spark.unsafe.types.UTF8String
    val spark = SparkTestSession.spark
    import spark.implicits._
    val r = rng
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta")
    for (round <- 1 to 3) {
      val maxDf = 2 + r.nextInt(3)
      // tiny vocabulary → plenty of shared and hot grams
      val docs = (1L to 20L).map { i =>
        (i, List.fill(4 + r.nextInt(10))(words(r.nextInt(words.length)))
          .mkString(" "))
      }
      // local reference: same native extraction per doc (text is
      // already normalized), then rare sets + pairwise containment
      val sets = docs.map { case (id, t) =>
        val a = graft.plans.NativeText.winnow(UTF8String.fromString(t), 8, 5)
        id -> (0 until a.numElements()).map(a.getUTF8String(_).toString).toSet
      }.toMap
      val dfc = sets.values.flatten.toSeq.groupBy(identity)
        .map { case (fp, occ) => fp -> occ.size }
      val rare = sets.map { case (id, s) =>
        id -> s.filter(fp => dfc(fp) <= maxDf) }
      val expected = (for {
        a <- 1L to 20L; b <- (a + 1) to 20L
        inter = (rare(a) intersect rare(b)).size
        if inter > 0 && 2 * inter >= math.min(rare(a).size, rare(b).size)
      } yield (a, b, inter.toLong, rare(a).size.toLong,
        rare(b).size.toLong)).toSet
      val got = graft.operators.Dedup.winnowPairs(
          docs.toDF("doc_id", "text"), "text", "doc_id", 8, 5, 1, 2, maxDf)
        .collect().map(x => (x.getAs[Long]("id_a"), x.getAs[Long]("id_b"),
          x.getAs[Long]("n_shared"), x.getAs[Long]("sz_a"),
          x.getAs[Long]("sz_b"))).toSet
      assert(got == expected, s"round=$round maxDf=$maxDf")
    }
  }

  test("shuffleShards: shard sizes stay near-balanced over random id sets") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val r = rng
    val ids = List.fill(600)(r.nextLong().abs).distinct
    val n = ids.length
    val out = graft.operators.Packing.shuffleShards(
        ids.toDF("id"), "id", 8, "s1").collect()
    assert(out.length == n)
    val counts = out.groupBy(_.getAs[Long]("shard")).view.mapValues(_.length)
    // md5-uniform multinomial: each shard within ±50% of n/8 with huge
    // probability at n≈600 (≈5σ)
    assert(counts.values.forall(c => c > n / 16 && c < 3 * n / 16),
      counts.toMap.toString)
  }

  test("rollingHash: no collisions across distinct short strings") {
    import org.apache.spark.unsafe.types.UTF8String
    val r = rng
    val strings = (1 to 2000).map(_ =>
      r.alphanumeric.take(1 + r.nextInt(12)).mkString).distinct
    val hashes = strings.map(s =>
      graft.plans.NativeHash.rollingHash(UTF8String.fromString(s)))
    assert(hashes.toSet.size == strings.size)
  }

  test("coalesceIntervals ≡ sequential sweep on randomized intervals") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val rows = for (k <- 1L to 6L; i <- 1L to 50L) yield {
      val s = rnd.nextInt(1000).toLong
      (k, s, i, s + rnd.nextInt(30).toLong) // incl. zero-length
    }
    val df = rows.toDF("k", "s", "tie", "e")
    val got = graft.operators.Intervals
      .coalesceIntervals(df, "k", "s", "e", "tie")
      .collect().map(r => (r.getLong(0), r.getAs[Long]("island_start"),
        r.getAs[Long]("island_end"), r.getAs[Long]("n_intervals")))
      .toSet
    // reference: per-key sweep over (start, tie) order
    val exp = rows.groupBy(_._1).flatMap { case (k, rs) =>
      val sorted = rs.sortBy(r => (r._2, r._3))
      val islands = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Long, Long)] // start, maxEnd, n
      var curMax = Long.MinValue
      sorted.foreach { r =>
        if (islands.isEmpty || r._2 > curMax) {
          islands += ((r._2, r._4, 1L)); curMax = r._4
        } else {
          val last = islands.last
          islands(islands.size - 1) =
            (last._1, math.max(last._2, r._4), last._3 + 1)
          curMax = math.max(curMax, r._4)
        }
      }
      islands.map(i => (k, i._1, i._2, i._3))
    }.toSet
    assert(got == exp)
    // touching intervals merge (closed-interval semantics)
    val touch = Seq((1L, 0L, 1L, 10L), (1L, 10L, 2L, 20L)).toDF("k", "s", "tie", "e")
    val t = graft.operators.Intervals
      .coalesceIntervals(touch, "k", "s", "e", "tie").collect()
    assert(t.length == 1 && t.head.getAs[Long]("n_intervals") == 2L)
  }

  test("linearAttribution ≡ brute-force per-conversion split on random timelines") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val r = rng
    for (trial <- 1 to 8) {
      val types = Seq("a", "b", "c", "buy")
      val rows = (1 to 120).map { i =>
        (r.nextInt(6).toLong, r.nextInt(50).toLong, i.toLong,
          types(r.nextInt(types.length)), r.nextInt(10000).toLong)
      }
      // brute force: walk each user's (ts, tie)-sorted timeline,
      // buffering touches; at each conversion, split cents·10⁶ div n
      val exp = scala.collection.mutable.Map.empty[String, (Long, Long, java.math.BigInteger)]
      def addTo(ch: String, nT: Long, nJ: Long, micro: java.math.BigInteger): Unit = {
        val (a, b, c) = exp.getOrElse(ch, (0L, 0L, java.math.BigInteger.ZERO))
        exp(ch) = (a + nT, b + nJ, c.add(micro))
      }
      rows.groupBy(_._1).values.foreach { evs =>
        var touches = scala.collection.mutable.ArrayBuffer.empty[String]
        evs.sortBy(e => (e._2, e._3)).foreach { case (_, _, _, t, cents) =>
          if (t != "buy") touches += t
          else if (touches.isEmpty)
            addTo("none", 0L, 1L,
              java.math.BigInteger.valueOf(cents * 1000000L))
          else {
            val per = java.math.BigInteger.valueOf(
              cents * 1000000L / touches.length)
            touches.groupBy(identity).foreach { case (ch, g) =>
              addTo(ch, g.size.toLong, 1L,
                per.multiply(java.math.BigInteger.valueOf(g.size.toLong)))
            }
            touches.clear()
          }
        }
      }
      val expOut = exp.toMap.map { case (ch, (nT, nJ, micro)) =>
        ch -> ((nT, nJ, micro.divide(
          java.math.BigInteger.valueOf(1000000L)).longValueExact()))
      }
      val got = graft.operators.Analytics.linearAttribution(
          rows.toDF("user_id", "ts", "event_id", "event_type", "cents")
            .repartition(1 + r.nextInt(7)),
          "user_id", "ts", "event_id", "event_type", "cents", "buy")
        .collect().map(x => x.getString(0) ->
          ((x.getLong(1), x.getLong(2), x.getLong(3)))).toMap
      assert(got == expOut, s"trial $trial")
    }
  }

  test("anchorText: randomized (href, anchor) plants extract aligned") {
    val spark = SparkTestSession.spark
    import spark.implicits._
    val r = rng
    for (_ <- 1 to 5) {
      // plant known links with noise between them; every anchor is a
      // single unique token so (url, term, n=1, rank) is predictable
      val links = (1 to 20).map { i =>
        val url = s"https://h${r.nextInt(3)}.example.org/p${r.nextInt(4)}"
        val term = s"tok${i}x${r.nextInt(100)}"
        (url, term)
      }
      val html = links.map { case (u, t) =>
        s"""<p>noise ${r.nextInt(100)}</p><a href="$u">$t</a>"""
      }.mkString(s"<a href='/rel${r.nextInt(9)}'>skip</a>")
      val got = graft.operators.Corpus.anchorText(
          Seq(html).toDF("html"), "html", Int.MaxValue)
        .collect().map(x => (x.getString(0), x.getString(1))).toSet
      val expect = links.map { case (u, t) => (u, t.toLowerCase) }.toSet
      assert(got == expect)
    }
  }

  test("mergeInto ≡ brute per-key merge over random target/source/" +
    "delete predicates (all four outcomes randomized)") {
    import graft.operators.Loads
    import org.apache.spark.sql.functions.col
    lazy val spark = SparkTestSession.spark
    val spark2 = spark
    import spark2.implicits._
    val r = rng
    for (round <- 1 to 8) {
      val tgt = (0 until 30).filter(_ => r.nextBoolean())
        .map(k => (k.toLong, r.nextInt(20).toLong - 10))
      val src = (0 until 40).filter(_ => r.nextBoolean())
        .map(k => (k.toLong, r.nextInt(20).toLong - 10))
      val thr = r.nextInt(10).toLong - 5
      val got = Loads.mergeInto(tgt.toDF("k", "v"), src.toDF("k", "v"),
          Seq("k"), Some(col("tgt_v") < thr))
        .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val tm = tgt.toMap; val sm = src.toMap
      val brute = (tm.keySet ++ sm.keySet).flatMap { k =>
        (tm.get(k), sm.get(k)) match {
          case (Some(tv), Some(_)) if tv < thr => None // matched delete
          case (Some(_), Some(sv)) => Some(k -> sv)    // matched update
          case (Some(tv), None) => Some(k -> tv)       // pass-through
          case (None, Some(sv)) => Some(k -> sv)       // insert
          case _ => None
        }
      }
      assert(got == brute, s"round=$round thr=$thr tgt=$tgt src=$src")
    }
  }

  test("tokenF1 ≡ brute multiset F1 on random token streams") {
    import graft.operators.Corpus
    lazy val spark = SparkTestSession.spark
    val spark2 = spark
    import spark2.implicits._
    val r = rng
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    val pairs = (1 to 60).map { i =>
      def txt() = Seq.fill(r.nextInt(12))(vocab(r.nextInt(vocab.size)))
        .mkString(" ")
      (i.toLong, txt(), txt())
    }
    val got = Corpus.tokenF1(pairs.toDF("pair_id", "p", "r"),
        "pair_id", "p", "r")
      .collect().map(x => x.getLong(0) ->
        (x.getLong(1), x.getLong(2), x.getLong(3),
          if (x.isNullAt(4)) None else Some(x.getLong(4)))).toMap
    pairs.foreach { case (id, p, rf) =>
      def toks(s: String) = s.split(" ").filter(_.nonEmpty)
      val (tp, tr) = (toks(p), toks(rf))
      val ov = (tp.toSet ++ tr.toSet).toSeq.map { t =>
        math.min(tp.count(_ == t), tr.count(_ == t)).toLong
      }.sum
      val f1 = if (tp.length + tr.length == 0) None
        else Some(2000000L * ov / (tp.length + tr.length))
      assert(got(id) == ((tp.length.toLong, tr.length.toLong, ov, f1)),
        s"pair $id: '$p' vs '$rf'")
    }
  }

  test("kTruss local ≡ distributed ≡ brute iterative peel on random graphs") {
    import graft.operators.Graph
    lazy val spark = SparkTestSession.spark
    val spark2 = spark
    import spark2.implicits._
    val r = rng
    for (round <- 1 to 4) {
      val n = 12 + r.nextInt(8)
      val edges = (for (i <- 0 until n; j <- (i + 1) until n
        if r.nextInt(100) < 35) yield (i.toLong, j.toLong)).toVector
      val k = 3 + r.nextInt(2)
      def run(path: String) = onPath(spark, path) {
        Graph.kTruss(edges.toDF("s", "d"), "s", "d", k)
          .collect().map(x => ((x.getLong(0), x.getLong(1)), x.getLong(2)))
          .toMap
      }
      val local = run("local")
      val dist = run("distributed")
      // brute: iterate support-recompute + filter until stable
      var es = edges.toSet
      var stable = false
      while (!stable) {
        def sup(e: (Long, Long)) = (0L until n).count(c =>
          c != e._1 && c != e._2 &&
            es.contains((math.min(e._1, c), math.max(e._1, c))) &&
            es.contains((math.min(e._2, c), math.max(e._2, c))))
        val keep = es.filter(e => sup(e) >= k - 2)
        stable = keep == es
        es = keep
      }
      val brute = es.map { e =>
        e -> (0L until n).count(c => c != e._1 && c != e._2 &&
          es.contains((math.min(e._1, c), math.max(e._1, c))) &&
          es.contains((math.min(e._2, c), math.max(e._2, c)))).toLong
      }.toMap
      assert(local == brute, s"round=$round k=$k local≠brute")
      assert(dist == brute, s"round=$round k=$k dist≠brute")
    }
  }
}
