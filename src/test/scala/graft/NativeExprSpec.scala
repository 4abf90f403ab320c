package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup
import graft.plans.NativeFunctions

class NativeExprSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "pack my box with five dozen liquor jugs"),
    (3L, "the quick brown fox jumps over the lazy cat"),
    (4L, ""),
    (5L, "sphinx of black quartz judge my vow")).toDF("id", "text")

  test("native simhash64 ≡ composed-expression simhash, bit for bit") {
    val both = docs.select($"id",
      Dedup.simhash($"text").as("fast"),
      Dedup.simhashComposed($"text").as("slow")).collect()
    both.foreach { r =>
      assert(r.getAs[Long]("fast") == r.getAs[Long]("slow"),
        s"mismatch for id=${r.getAs[Long]("id")}")
    }
  }

  test("native parse_date_multi ≡ composed ladder on the reference's " +
    "real date strings + adversarial cases, codegen and interpreted") {
    import graft.functions.Cleaning
    val adversarial = Seq(
      "13-03-2011", "05-03-2011", "2011-03-13", "13-03-11", "13-03-99",
      "13/03/2011", "13.03.2011", "31-04-2011", "29-02-2000", "29-02-1900",
      "00-00-0000", "1-1-1", "12-31-2011", "31-12-2011", "2027-01-01",
      "1899-12-31", "1900-01-01", "2026-12-31", "13-03-011", "garbage",
      " 13-03-2011 ", "\t13-03-2011", "13 -03-2011", "", "9999-99-99",
      "0013-03-11", "4-5-26", "4-5-27", "31-13-11", "13-13-11", null)
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    // the first 2000 dob strings of every customers.csv present
    val refDates = EtlTestData.sources.map(src =>
        spark.read.option("header", "true").csv(src.csv("customers"))
          .select($"dob".as("s")).limit(2000))
      .reduce(_ unionByName _)
      .select((monotonically_increasing_id() + 1000L).as("id"), $"s")
    val corpus = adversarial.toDF("id", "s").unionByName(refDates)
    def check(): Unit = {
      val bad = corpus.select($"id", $"s",
        Cleaning.parseDateMulti($"s").cast("string").as("fast"),
        Cleaning.parseDateMultiComposed($"s").cast("string").as("slow"))
        .filter(!($"fast" <=> $"slow")).collect()
      assert(bad.isEmpty, bad.take(5).mkString("; "))
    }
    check()
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try check()
    finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
    // spot values (the CleaningSpec table is the authority; these pin
    // the native path specifically)
    def p(s: String): Any = corpus.sparkSession.range(1)
      .select(Cleaning.parseDateMulti(lit(s)).cast("string")).head.get(0)
    assert(p("13-03-11") == "2011-03-13")
    assert(p("13-03-99") == "1999-03-13")
    assert(p("31-04-2011") == null) // April 31 invalid
    assert(p("29-02-2000") == "2000-02-29") // leap
    assert(p("29-02-1900") == null) // 1900 not leap (Gregorian)
  }

  test("simhash64 survives whole-stage codegen and interpreted eval") {
    val fast = docs.select(Dedup.simhash($"text")).collect().map(_.getLong(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = docs.select(Dedup.simhash($"text")).collect().map(_.getLong(0))
      assert(fast.toSeq == interp.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("native dot/sqDist ≡ composed higher-order folds, bit for bit") {
    import graft.operators.Similarity._
    val e = table(spark, "/root/testdata/sf0.001", "embeddings")
      .select($"vec_id", toDouble($"embedding").as("v"))
    val pairs = e.as("a").join(e.as("b"),
      col("a.vec_id") + 1 === col("b.vec_id"))
    val rows = pairs.select(
      dot(col("a.v"), col("b.v")).as("nd"),
      dotComposed(col("a.v"), col("b.v")).as("cd"),
      sqDist(col("a.v"), col("b.v")).as("ns"),
      sqDistComposed(col("a.v"), col("b.v")).as("cs"),
      l2Norm(col("a.v")).as("nn"),
      l2NormComposed(col("a.v")).as("cn")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getDouble(2) == r.getDouble(3))
      assert(r.getDouble(4) == r.getDouble(5))
    }
    assert(rows.length > 100)
  }

  test("native word_shingles ≡ composed shingles on real documents") {
    import graft.functions.TextFunctions
    val d = table(spark, "/root/testdata/sf0.001", "documents")
    val rows = d.select(
      TextFunctions.shingles($"text", 5).as("nat"),
      TextFunctions.shinglesComposed($"text", 5).as("cmp")).collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    // short input → empty, not null
    val short = Seq("one two").toDF("text")
      .select(TextFunctions.shingles($"text", 5)).collect()
    assert(short.head.getSeq[String](0).isEmpty)
  }

  test("native marker_count ≡ composed filter langScore on real documents") {
    import graft.functions.TextFunctions
    val d = table(spark, "/root/testdata/sf0.001", "documents")
    for (lang <- Seq("en", "es", "de", "fr")) {
      val rows = d.select(
        TextFunctions.langScore($"text", lang).as("nat"),
        TextFunctions.langScoreComposed($"text", lang).as("cmp")).collect()
      rows.foreach(r => assert(r.getInt(0) == r.getInt(1), s"lang=$lang"))
    }
    // duplicates counted, null element skipped, null array → null
    val arr = Seq(Tuple1(Seq("the", "the", null, "and", "x"))).toDF("w")
      .select(graft.plans.TextNativeFunctions.markerCount($"w",
        Seq("the", "and")).as("c")).collect()
    assert(arr.head.getInt(0) == 3)
    val nul = Seq(Tuple1(null.asInstanceOf[Seq[String]])).toDF("w")
      .select(graft.plans.TextNativeFunctions.markerCount($"w",
        Seq("the")).as("c")).collect()
    assert(nul.head.isNullAt(0))
    // interpreted path agrees with codegen
    val fast = d.select(TextFunctions.langScore($"text", "en"))
      .collect().map(_.getInt(0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = d.select(TextFunctions.langScore($"text", "en"))
        .collect().map(_.getInt(0))
      assert(fast.toSeq == interp.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("dot/sqDist: null on length mismatch even for non-nullable inputs") {
    import graft.plans.VectorFunctions
    // array(lit…) children are non-nullable — without the nullable
    // override, codegen would assign an undeclared ev.isNull and the
    // optimizer could fold IsNull(expr) to false (ADVICE r1)
    val base = spark.range(1).select(
      VectorFunctions.dotProduct(
        array(lit(1.0), lit(2.0)), array(lit(3.0))).as("d"),
      VectorFunctions.sqDist(
        array(lit(1.0), lit(2.0)), array(lit(3.0))).as("s"))
    val r = base.collect()(0)
    assert(r.isNullAt(0) && r.isNullAt(1))
    val folded = base.select(isnull($"d").as("dn"), isnull($"s").as("sn"))
      .collect()(0)
    assert(folded.getBoolean(0) && folded.getBoolean(1))
    // matched lengths still compute
    val ok = spark.range(1).select(VectorFunctions.dotProduct(
      array(lit(1.0), lit(2.0)), array(lit(3.0), lit(4.0))).as("d"))
      .collect()(0)
    assert(ok.getDouble(0) == 11.0)
  }

  test("rolling_hash: deterministic, content-sensitive, null-safe") {
    val h = docs.select($"id", NativeFunctions.rollingHash($"text").as("h"))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("h")).toMap
    assert(h(1) != h(3)) // one word differs
    assert(h.values.toSet.size == 5)
    val withNull = Seq((1L, null.asInstanceOf[String])).toDF("id", "text")
      .select(NativeFunctions.rollingHash($"text").as("h")).collect()
    assert(withNull.head.isNullAt(0))
  }

  test("jaro_winkler matches DuckDB reference values exactly") {
    // reference values probed from duckdb 1.0.0 jaro_winkler_similarity
    // (the oracle engine); covers: transpositions, integer halving,
    // prefix boost, 0.7 boost threshold, empty/equal/disjoint cases
    val cases = Seq(
      ("martha", "marhta", 0.9611111111111111),
      ("dwayne", "duane", 0.84),
      ("dixon", "dicksonx", 0.8133333333333332),
      ("", "", 0.0),
      ("", "a", 0.0),
      ("abc", "abc", 1.0),
      ("123456", "654321", 0.38888888888888884),
      ("ab", "ba", 0.0),
      ("crate", "trace", 0.7333333333333333),
      ("jellyfish", "smellyfish", 0.8962962962962964),
      ("prefix", "prefixxxxx", 0.92),
      ("ab", "axxxxxxxxx", 0.5333333333333333), // j<0.7 → NO boost
      ("aabbcc", "ccbbaa", 0.5555555555555555))
    cases.foreach { case (a, b, exp) =>
      val got = graft.plans.NativeStringSim.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(a),
        org.apache.spark.unsafe.types.UTF8String.fromString(b))
      assert(math.abs(got - exp) < 1e-12, s"jw($a, $b) = $got, want $exp")
      // symmetric
      val rev = graft.plans.NativeStringSim.jaroWinkler(
        org.apache.spark.unsafe.types.UTF8String.fromString(b),
        org.apache.spark.unsafe.types.UTF8String.fromString(a))
      assert(math.abs(rev - got) < 1e-12)
    }
    // codegen path through a real projection + null propagation
    import spark.implicits._
    val r = Seq(("martha", "marhta"), (null, "x"))
      .toDF("a", "b")
      .select(graft.plans.StringSimFunctions.jaroWinkler($"a", $"b").as("jw"))
      .collect()
    assert(math.abs(r(0).getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(r(1).isNullAt(0))
  }

  test("jaro_winkler ascii fast path ≡ generic reference (fuzz + boundaries)") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(20260812)
    def randStr(n: Int, alpha: String) =
      (1 to n).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
    val alpha = "abcdefghij klmnop"
    // random pairs across the ≤64 fast-path range, incl. empty
    for (_ <- 1 to 3000) {
      val a = randStr(rnd.nextInt(65), alpha)
      val b = randStr(rnd.nextInt(65), alpha)
      val fast = graft.plans.NativeStringSim.jaroWinkler(
        UTF8String.fromString(a), UTF8String.fromString(b))
      val ref = graft.plans.NativeStringSim.jaroWinklerGeneric(a, b)
      assert(fast == ref, s"jw mismatch on ($a, $b): $fast vs $ref")
    }
    // boundary: exactly 64 chars uses the fast path, 65 falls back —
    // results must agree across the seam (same algorithm either way)
    val s64 = randStr(64, alpha)
    val s65 = randStr(65, alpha)
    assert(graft.plans.NativeStringSim.jaroWinkler(
      UTF8String.fromString(s64), UTF8String.fromString(s64)) == 1.0)
    val seam = graft.plans.NativeStringSim.jaroWinkler(
      UTF8String.fromString(s64), UTF8String.fromString(s65))
    assert(seam == graft.plans.NativeStringSim.jaroWinklerGeneric(s64, s65))
    // non-ascii routes to the generic path and stays correct
    val jw = graft.plans.NativeStringSim.jaroWinkler(
      UTF8String.fromString("straße"), UTF8String.fromString("strasse"))
    assert(jw == graft.plans.NativeStringSim.jaroWinklerGeneric("straße", "strasse"))
  }

  test("jaro_winkler_gte: exact at/above tau, -1 only when truly below") {
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(7)
    val vocab = Seq("almond", "antique", "aquamarine", "azure", "beige",
      "bisque", "black", "blanched", "blue", "blush", "brown", "burlywood",
      "burnished", "chartreuse", "chiffon", "chocolate", "coral")
    def name() = (1 to 5).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    for (tau <- Seq(0.0, 0.7, 0.8799, 0.95); _ <- 1 to 2000) {
      val a = name(); val b = if (rnd.nextBoolean()) name() else a.drop(rnd.nextInt(3))
      val ua = UTF8String.fromString(a); val ub = UTF8String.fromString(b)
      val full = graft.plans.NativeStringSim.jaroWinkler(ua, ub)
      val gte = graft.plans.NativeStringSim.jaroWinklerGte(ua, ub, tau)
      if (full >= tau)
        assert(gte == full, s"gte($a,$b,$tau) must be exact: $gte vs $full")
      else
        assert(gte == -1.0 || gte == full,
          s"gte($a,$b,$tau) below tau must be -1 or exact: $gte vs $full")
    }
    // long/non-ascii fallback returns the exact value (never -1)
    val s65 = "x" * 65
    assert(graft.plans.NativeStringSim.jaroWinklerGte(
      UTF8String.fromString(s65), UTF8String.fromString(s65), 0.99) == 1.0)
    // codegen + null propagation through a projection
    import spark.implicits._
    val r = Seq(("martha", "marhta"), (null, "x")).toDF("a", "b")
      .select(graft.plans.StringSimFunctions.jaroWinklerGte($"a", $"b", 0.9)
        .as("jw")).collect()
    assert(math.abs(r(0).getDouble(0) - 0.9611111111111111) < 1e-12)
    assert(r(1).isNullAt(0))
  }

  test("banded_levenshtein ≡ full Levenshtein capped at tau (fuzz)") {
    import org.apache.spark.unsafe.types.UTF8String
    def fullLev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j), d(i)(j - 1)) + 1,
          d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val rnd = new scala.util.Random(20260812)
    val alpha = "abcdef "
    def mutate(s: String, n: Int): String = {
      var r = s
      (1 to n).foreach { _ =>
        if (r.isEmpty) r = "q"
        else {
          val i = rnd.nextInt(r.length)
          rnd.nextInt(3) match {
            case 0 => r = r.updated(i, alpha(rnd.nextInt(alpha.length)))
            case 1 => r = r.substring(0, i) + r.substring(math.min(i + 1, r.length))
            case _ => r = r.substring(0, i) + alpha(rnd.nextInt(alpha.length)) + r.substring(i)
          }
        }
      }
      r
    }
    for (tau <- Seq(1, 2, 3); _ <- 1 to 2500) {
      val a = (1 to (3 + rnd.nextInt(25))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val b = if (rnd.nextBoolean()) mutate(a, rnd.nextInt(5)) else
        (1 to (3 + rnd.nextInt(25))).map(_ => alpha(rnd.nextInt(alpha.length))).mkString
      val want = { val d = fullLev(a, b); if (d <= tau) d.toLong else -1L }
      val got = graft.plans.NativeBandedLev.levLe(
        UTF8String.fromString(a), UTF8String.fromString(b), tau)
      assert(got == want, s"levLe($a, $b, $tau) = $got, want $want")
    }
    // edge cases: empties, equal, pure prefix/suffix relations, non-ascii
    val cases = Seq(("", "", 0L), ("", "ab", 2L), ("abc", "abc", 0L),
      ("abc", "abcd", 1L), ("xabc", "abc", 1L), ("ab", "ba", 2L),
      ("straße", "strasse", 2L))
    cases.foreach { case (a, b, w) =>
      val got = graft.plans.NativeBandedLev.levLe(
        UTF8String.fromString(a), UTF8String.fromString(b), 2)
      assert(got == w, s"levLe($a, $b, 2) = $got, want $w")
    }
    // agrees with Spark's built-in 3-arg levenshtein through a projection
    import spark.implicits._
    val df = Seq(("goldenrod lace", "goldenrod lacy"),
      ("alpha beta", "totally other"), (null, "x")).toDF("a", "b")
    val r = df.select(
      org.apache.spark.sql.GraftBridge.column(
        graft.plans.BandedLevenshtein(
          org.apache.spark.sql.GraftBridge.expression($"a"),
          org.apache.spark.sql.GraftBridge.expression($"b"), 2)).as("d"),
      levenshtein($"a", $"b", 2).cast("long").as("ref")).collect()
    assert(r(0).getLong(0) == r(0).getLong(1))
    assert(r(1).getLong(0) == r(1).getLong(1))
    assert(r(2).isNullAt(0) && r(2).isNullAt(1))
  }

  test("winnow_fingerprints ≡ declarative window-min spec; share guarantee") {
    import graft.plans.TextNativeFunctions
    val (k, w) = (4, 3)
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a quick brown fox leaps over sleepy cats"),
      (3L, "zz"),                        // shorter than k → no fingerprints
      (4L, "abcde"),                     // m=2 < w → one window, one min
      (5L, "naïve café déjà vu naïve café")) // multi-byte codepoints
      .toDF("id", "text")
    // declarative spec: md5 per codepoint k-gram, min over full
    // windows (short docs: one window), distinct
    val idxs = when(length(col("text")) >= k,
      sequence(lit(0), length(col("text")) - k))
      .otherwise(array().cast("array<int>")) // sequence DESCENDS past 0
    val g = docs.select(col("id"), posexplode(transform(idxs,
        i => md5(col("text").substr(lit(1) + i, lit(k)).cast("binary")))))
      .toDF("id", "pos", "h")
    val m = g.groupBy("id").agg(count(lit(1)).as("m"))
    val win = org.apache.spark.sql.expressions.Window.partitionBy(col("id"))
      .orderBy(col("pos")).rowsBetween(0, w - 1)
    val expected = g.join(m, "id")
      .withColumn("mh", min(col("h")).over(win))
      .filter(col("pos") <= greatest(lit(0), col("m") - w))
      .select(col("id"), col("mh")).distinct()
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val got = docs.select(col("id"), explode(
        TextNativeFunctions.winnowFingerprints(col("text"), k, w)).as("fp"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
    assert(!got.exists(_._1 == 3L)) // sub-k doc fingerprint-free
    assert(got.count(_._1 == 4L) == 1) // collapsed single window
    // the winnowing guarantee: docs 1 and 2 share "quick brown fox"
    // (≥ w+k−1 = 6 chars) → at least one common fingerprint
    val d1 = got.filter(_._1 == 1L).map(_._2)
    val d2 = got.filter(_._1 == 2L).map(_._2)
    assert(d1.intersect(d2).nonEmpty)
    // output is sorted and distinct per doc
    val arr = docs.filter(col("id") === 1L).select(
      TextNativeFunctions.winnowFingerprints(col("text"), k, w))
      .head.getSeq[String](0)
    assert(arr == arr.distinct.sorted)
  }

  test("GraftExtensions wires functions through the extension registry") {
    // the shared test session already exists, so builder-time injection
    // can't be observed here; drive the same machinery Spark runs at
    // session build: apply the extensions, register into the session's
    // function registry, then resolve through real SQL
    org.apache.spark.sql.GraftBridge.registerExtensionFunctions(
      new graft.plans.GraftExtensions(), spark)
    val r = spark.sql("SELECT simhash64(array('x')) AS a, rolling_hash('x') AS b")
      .collect().head
    assert(r.getLong(0) != 0L && r.getLong(1) != 0L)
  }

  test("SQL registration exposes both functions") {
    NativeFunctions.register(spark)
    val r = spark.sql(
      "SELECT simhash64(array('a','b')) AS s, rolling_hash('abc') AS rh")
      .collect().head
    assert(r.getLong(0) != 0L && r.getLong(1) != 0L)
  }

  // whitespace/unicode torture cases for the one-pass text_stats path:
  // non-space whitespace survives Spark trim (spaces only) and produces
  // empty split segments; Kelvin sign lowercases to ASCII 'k'; emoji /
  // multi-byte chars must count as one code point and never as alpha
  private val statsEdgeCases = Seq(
    "the quick brown fox", "", " ", "\t", "\tthe and of\t", "a  b",
    "the and", "café the", "Kelvin the", "éthe",
    "123 456", "THE AND OF TO", "el la de los und das le les des et",
    "x\ny\tz ", "  the  ", "🦊 the 🦊", "żółć the żółć", null)

  test("native qualityScore/langId ≡ composed forms on real documents") {
    import graft.functions.TextFunctions
    val d = table(spark, "/root/testdata/sf0.001", "documents")
    val rows = d.select(
      TextFunctions.qualityScore($"text").as("qn"),
      TextFunctions.qualityScoreComposed($"text").as("qc"),
      TextFunctions.langId($"text").as("ln"),
      TextFunctions.langIdComposed($"text").as("lc")).collect()
    rows.foreach { r =>
      assert(r.getDouble(0) == r.getDouble(1))
      assert(r.getString(2) == r.getString(3))
    }
    assert(rows.length > 100)
  }

  test("text_stats ≡ composed token/char/alpha/marker counts on edges") {
    import graft.functions.TextFunctions
    val df = statsEdgeCases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val rows = df.select($"id",
      TextFunctions.textStats($"text").as("st"),
      TextFunctions.wsTokenCount($"text").as("tok"),
      length($"text").as("nch"),
      length(regexp_replace($"text", "[^A-Za-z]", "")).as("nal"),
      TextFunctions.langScoreComposed($"text", "en").as("men"),
      TextFunctions.langScoreComposed($"text", "fr").as("mfr"),
      TextFunctions.qualityScore($"text").as("qn"),
      TextFunctions.qualityScoreComposed($"text").as("qc"),
      TextFunctions.langId($"text").as("ln"),
      TextFunctions.langIdComposed($"text").as("lc")).collect()
    rows.foreach { r =>
      val id = r.getLong(0)
      if (r.isNullAt(1)) {
        assert(statsEdgeCases(id.toInt) == null)
        // null text: least() ignores nulls, so both paths yield 0.4
        assert(r.isNullAt(7) == r.isNullAt(8), s"id=$id quality nullness")
        if (!r.isNullAt(7))
          assert(r.getDouble(7) == r.getDouble(8), s"id=$id quality")
        assert(r.getString(9) == r.getString(10), s"id=$id lang")
      } else {
        val st = r.getSeq[Int](1)
        assert(st(0) == r.getInt(2), s"id=$id ws tokens")
        assert(st(1) == r.getInt(3), s"id=$id chars")
        assert(st(2) == r.getInt(4), s"id=$id alpha")
        assert(st(3) == r.getInt(5), s"id=$id en markers")
        assert(st(6) == r.getInt(6), s"id=$id fr markers")
        assert(r.getDouble(7) == r.getDouble(8), s"id=$id quality")
        assert(r.getString(9) == r.getString(10), s"id=$id lang")
      }
    }
  }

  test("native pq_codes/pq_lut ≡ composed argmin/sqDist trees, bit for bit") {
    import graft.operators.Similarity._
    import graft.plans.VectorFunctions
    val m = 4; val k = 8
    val e = table(spark, "/root/testdata/sf0.001", "embeddings")
    val d = e.select(size($"embedding")).head.getInt(0) / m
    val books = pqTrain(e, "vec_id", "embedding", m, k, iters = 2)
    val ba = Array.tabulate(m, k)((s, c) =>
      books.find(b => b._1 == s && b._2 == c).get._3.toArray)
    val uv = e.select($"vec_id", toDouble($"embedding").as("rv"))
      .withColumn("nrm", sqrt(dot($"rv", $"rv")))
      .select($"vec_id", when($"nrm" > 0,
        transform($"rv", x => x / $"nrm")).otherwise($"rv").as("uv"))
    // composed reference: unrolled sqDist slices + array_min argmin
    val composedCodes = array((0 until m).map { s =>
      val sv = slice($"uv", s * d + 1, d)
      val dists = array((0 until k).map(c =>
        sqDist(sv, typedLit(books.find(b => b._1 == s && b._2 == c).get._3))): _*)
      (array_position(dists, array_min(dists)) - 1).cast("int")
    }: _*)
    val composedLut = array((0 until m).map { s =>
      array((0 until k).map(c =>
        sqDist(slice($"uv", s * d + 1, d),
          typedLit(books.find(b => b._1 == s && b._2 == c).get._3))): _*)
    }: _*)
    val rows = uv.select(
      VectorFunctions.pqCodes($"uv", ba).as("nc"), composedCodes.as("cc"),
      VectorFunctions.pqLut($"uv", ba).as("nl"), composedLut.as("cl"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1))
      assert(r.getSeq[Seq[Double]](2) == r.getSeq[Seq[Double]](3))
    }
    assert(rows.length > 100)
  }

  test("pq_codes interpreted path agrees with codegen") {
    import graft.operators.Similarity._
    import graft.plans.VectorFunctions
    val e = table(spark, "/root/testdata/sf0.001", "embeddings")
    val books = pqTrain(e, "vec_id", "embedding", 4, 4, iters = 1)
    val ba = Array.tabulate(4, 4)((s, c) =>
      books.find(b => b._1 == s && b._2 == c).get._3.toArray)
    val uv = e.select(toDouble($"embedding").as("uv"))
    val fast = uv.select(VectorFunctions.pqCodes($"uv", ba)).collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Int](0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = uv.select(VectorFunctions.pqCodes($"uv", ba)).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Int](0))
      assert(fast.toSeq == interp.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }

  test("text_stats interpreted path agrees with codegen") {
    import graft.functions.TextFunctions
    val df = statsEdgeCases.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val fast = df.select(TextFunctions.textStats($"text")).collect()
      .map(r => if (r.isNullAt(0)) null else r.getSeq[Int](0))
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    try {
      val interp = df.select(TextFunctions.textStats($"text")).collect()
        .map(r => if (r.isNullAt(0)) null else r.getSeq[Int](0))
      assert(fast.toSeq == interp.toSeq)
    } finally spark.conf.set("spark.sql.codegen.wholeStage", "true")
  }
}
