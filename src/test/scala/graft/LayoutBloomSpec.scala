package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Bloom, Intervals, Sampling}
import graft.plans.{LayoutFunctions, LayoutOps}
import graft.sources.Writers

/** Round-2 operators: bloom-pruned joins, interval-overlap join,
  * z-order layout, NFC normalization, weighted sampling.
  */
class LayoutBloomSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // ----------------------------------------------------------------- Bloom

  test("bloom anti/semi join are bit-identical to the plain joins") {
    val big = spark.range(0, 20000).select($"id".as("k"),
      ($"id" % 7).as("v"))
    // sparse key set incl. a collision-y spread
    val keys = spark.range(0, 20000).filter($"id" % 97 === 0)
      .select($"id".as("k"))
    val gotAnti = Bloom.antiJoin(big, keys, "k", 0.05)
      .collect().map(_.getLong(0)).sorted
    val expAnti = big.join(keys, Seq("k"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    assert(gotAnti.toSeq == expAnti.toSeq)
    val gotSemi = Bloom.semiJoin(big, keys, "k", 0.05)
      .collect().map(_.getLong(0)).sorted
    val expSemi = big.join(keys, Seq("k"), "left_semi")
      .collect().map(_.getLong(0)).sorted
    assert(gotSemi.toSeq == expSemi.toSeq)
  }

  test("bloom anti join: a user column named __ga_suspect survives " +
    "(ADVICE r5: verdict column must be collision-free)") {
    val big = spark.range(0, 500).select($"id".as("k"),
      ($"id" * 3).as("__ga_suspect"))
    val keys = spark.range(0, 500).filter($"id" % 50 === 0)
      .select($"id".as("k"))
    val got = Bloom.antiJoin(big, keys, "k", 0.05)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val exp = big.join(keys, Seq("k"), "left_anti")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    assert(got.toSeq == exp.toSeq) // values of the user column intact
    assert(Bloom.antiJoin(big, keys, "k", 0.05).columns.toSeq ==
      Seq("k", "__ga_suspect"))
  }

  test("bloom joins are exact across MISMATCHED key dtypes (int vs long)") {
    // xxhash64 is type-sensitive (hashInt != hashLong); the build side
    // casts to the big side's dtype, so an int-keyed denylist against a
    // long-keyed fact stays exact — this was a silent-false-negative
    // hazard before the cast
    val big = spark.range(0, 5000).select($"id".as("k"), ($"id" % 3).as("v"))
    val keys = spark.range(0, 5000).filter($"id" % 11 === 0)
      .select($"id".cast("int").as("k"))
    val gotAnti = Bloom.antiJoin(big, keys, "k", 0.05)
      .collect().map(_.getLong(0)).sorted
    val expAnti = big.join(keys, Seq("k"), "left_anti")
      .collect().map(_.getLong(0)).sorted
    assert(gotAnti.toSeq == expAnti.toSeq)
    val gotSemi = Bloom.semiJoin(big, keys, "k", 0.05)
      .collect().map(_.getLong(0)).sorted
    assert(gotSemi.length == big.join(keys, Seq("k"), "left_semi").count())
  }

  test("bloom anti join keeps null-keyed rows (anti-join semantics)") {
    val big = Seq[(java.lang.Long, String)]((1L, "a"), (null, "n"),
      (5L, "b")).toDF("k", "v")
    val keys = Seq(1L).toDF("k")
    val got = Bloom.antiJoin(big, keys, "k", 0.01)
      .collect().map(_.getString(1)).sorted
    assert(got.toSeq == Seq("b", "n"))
  }

  // ------------------------------------------------------------- Intervals

  test("overlap join matches the cartesian reference, no dup pairs") {
    // adversarial spans: points, bucket-straddlers, multi-bucket giants
    val a = Seq((1L, 10L, 10L), (2L, 95L, 105L), (3L, 0L, 1000L),
      (4L, 500L, 510L)).toDF("id_a", "start_a", "end_a")
    val b = Seq((10L, 10L, 10L), (20L, 100L, 200L), (30L, 990L, 995L),
      (40L, 2000L, 2100L)).toDF("id_b", "start_b", "end_b")
    val got = Intervals.overlapJoin(a, "start_a", "end_a",
        b, "start_b", "end_b", widthUs = 100L)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val exp = a.crossJoin(b)
      .filter($"start_a" <= $"end_b" && $"start_b" <= $"end_a")
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.sorted.toSeq == exp.sorted.toSeq)
    assert(got.length == got.distinct.length, "duplicate pairs emitted")
  }

  // --------------------------------------------------------------- Z-order

  test("morton16 interleaves bits; native expr matches the model") {
    assert(LayoutOps.morton16(0, 0) == 0L)
    assert(LayoutOps.morton16(0xffffL, 0) == 0x55555555L)
    assert(LayoutOps.morton16(0, 0xffffL) == 0xaaaaaaaaL)
    assert(LayoutOps.morton16(0xffffL, 0xffffL) == 0xffffffffL)
    // model: bit i of x → bit 2i, bit i of y → bit 2i+1
    def model(x: Long, y: Long): Long =
      (0 until 16).map(i => (((x >> i) & 1L) << (2 * i)) |
        (((y >> i) & 1L) << (2 * i + 1))).reduce(_ | _)
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 200) {
      val x = rnd.nextLong() & 0xffffL; val y = rnd.nextLong() & 0xffffL
      assert(LayoutOps.morton16(x, y) == model(x, y))
    }
    // expression path (codegen) agrees with the static helper
    val df = spark.range(0, 1000).select($"id".as("x"),
      (($"id" * 37) % 65536).as("y"))
    val rows = df.select($"x", $"y",
      LayoutFunctions.zorder2($"x", $"y").as("z")).collect()
    rows.foreach(r => assert(r.getLong(2) ==
      LayoutOps.morton16(r.getLong(0), r.getLong(1))))
  }

  test("zorderWrite gives every file a tight 2-D bounding box") {
    val out = SparkTestSession.tempDir("graft_z").toString + "/t"
    val n = 100000L
    // two independent uniform dims — a 1-D sort would leave the other
    // dim's per-file range at ~full span
    val df = spark.range(0, n).select(
      (($"id" * 2654435761L) % 10000).as("a"),
      (($"id" * 40503L) % 10000).as("b"))
    Writers.zorderWrite(df, out, "a", "b", nFiles = 16)
    val byFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg((max($"a") - min($"a")).as("spanA"),
        (max($"b") - min($"b")).as("spanB"),
        count(lit(1)).as("n"))
      .collect()
    assert(byFile.length == 16)
    assert(byFile.map(_.getAs[Long]("n")).sum == n)
    // each z-range file covers ~a quadrant-ish box: both spans well
    // under the global 0..9999 span for most files
    val avgA = byFile.map(_.getAs[Long]("spanA")).sum / byFile.length
    val avgB = byFile.map(_.getAs[Long]("spanB")).sum / byFile.length
    assert(avgA < 6500, s"avg span A $avgA — no locality in dim a")
    assert(avgB < 6500, s"avg span B $avgB — no locality in dim b")
  }

  // ------------------------------------------------------------------ NFC

  test("nfc_normalize canonicalizes decomposed forms; ASCII fast path") {
    val cases = Seq(
      "Café" -> "Café",        // e + combining acute → é
      "Å" -> "Å",              // A + ring → Å
      "Å" -> "Å",               // already composed: unchanged
      "plain ascii" -> "plain ascii",
      "" -> "")
    val df = cases.map(_._1).toDF("s")
      .select(LayoutFunctions.nfcNormalize($"s").as("n"))
    assert(df.collect().map(_.getString(0)).toSeq == cases.map(_._2))
    // JDK model agreement on arbitrary strings
    val probe = "ṩ ṩ q̣̇"  // ordering cases
    val got = Seq(probe).toDF("s")
      .select(LayoutFunctions.nfcNormalize($"s")).head.getString(0)
    assert(got == java.text.Normalizer.normalize(probe,
      java.text.Normalizer.Form.NFC))
  }

  // -------------------------------------------------------- char entropy

  test("char_entropy matches a driver-side model; ascii + unicode") {
    def model(t: String): Double = {
      val cps = t.codePoints().toArray
      if (cps.isEmpty) 0.0
      else {
        val n = cps.length.toDouble
        val counts = cps.groupBy(identity).values.map(_.length)
        math.log(n) - counts.map(c => c * math.log(c.toDouble)).sum / n
      }
    }
    val cases = Seq("aaaa", "abab", "hello world", "", "héllo wörld",
      "the quick brown fox", "")
    val got = cases.toDF("s")
      .select(graft.plans.TextNativeFunctions.charEntropy($"s"))
      .collect().map(_.getDouble(0))
    got.zip(cases).foreach { case (g, c) =>
      assert(math.abs(g - model(c)) < 1e-12, s"'$c': $g vs ${model(c)}")
    }
    // aaaa is zero-entropy exactly; uniform 2-symbol is ln 2
    assert(got(0) == 0.0)
    assert(math.abs(got(1) - math.log(2)) < 1e-12)
  }

  // ------------------------------------------------- weighted sampling

  test("weighted sample: deterministic, partition-independent, biased") {
    val df = spark.range(1, 20001).select($"id".as("k"),
      when($"id" % 10 === 0, 100.0).otherwise(1.0).as("w"))
    def run(d: org.apache.spark.sql.DataFrame) =
      Sampling.weightedSample(d, $"k", $"w", 500)
        .collect().map(_.getLong(0)).toSet
    val got = run(df)
    assert(got.size == 500)
    assert(run(df.repartition(17)) == got, "partitioning changed sample")
    // heavy rows (10% of population, weight 100×) should dominate
    val heavy = got.count(_ % 10 == 0)
    assert(heavy > 350, s"only $heavy/500 heavy rows sampled")
  }
}
