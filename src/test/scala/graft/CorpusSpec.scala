package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import SparkTestSession.onPath

import graft.functions.TextFunctions
import graft.operators.Corpus

/** Semantics of the corpus-shaping operators: chunking with overlap,
  * cross-corpus line dedup, TF-IDF.
  */
class CorpusSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("chunk: overlap, coverage, and tail chunk") {
    val df = Seq((1L, "a" * 250), (2L, "xy"), (3L, "")).toDF("doc_id", "text")
    val out = Corpus.chunk(df, "text", "doc_id", size = 100, overlap = 20)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id"),
        r.getAs[String]("chunk"))).toSeq
    val d1 = out.filter(_._1 == 1L).sortBy(_._2).map(_._3)
    // starts 0, 80, 160, 240 → lengths 100, 100, 90, 10
    assert(d1.map(_.length) == Seq(100, 100, 90, 10))
    // consecutive chunks overlap by exactly 20 chars
    assert(d1(0).takeRight(20) == d1(1).take(20))
    // short and empty docs still yield exactly one chunk
    assert(out.filter(_._1 == 2L).map(_._3) == Seq("xy"))
    assert(out.filter(_._1 == 3L).map(_._3) == Seq(""))
  }

  test("chunk reassembles losslessly at zero overlap") {
    val df = Seq((1L, "abcdefghij" * 37 + "klm")).toDF("doc_id", "text")
    val glued = Corpus.chunk(df, "text", "doc_id", size = 64, overlap = 0)
      .orderBy($"chunk_id").collect().map(_.getAs[String]("chunk")).mkString
    assert(glued == "abcdefghij" * 37 + "klm")
  }

  test("chunk reassembly is lossless on random unicode text (overlap 0)") {
    val r = new scala.util.Random(11)
    // proper codepoints (indexing a String by char can split surrogates)
    val alphabet = Seq("a", "b", "c", " ", "δ", "φ", "字", "漢", "🚀",
      "\t", ",", ".", "-")
    val docs = (1L to 200L).map { i =>
      (i, List.fill(r.nextInt(300))(alphabet(r.nextInt(alphabet.length)))
        .mkString)
    }
    val df = docs.toDF("doc_id", "text")
    val glued = Corpus.chunk(df, "text", "doc_id", size = 37, overlap = 0)
      .groupBy($"doc_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct($"chunk_id", $"chunk"))),
        x => x("chunk")), "").as("glued"))
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("glued"))
      .toMap
    docs.foreach { case (id, text) => assert(glued(id) == text, s"doc $id") }
  }

  test("lineDedup keeps first occurrence only and reassembles in order") {
    val df = Seq(
      (1L, "alpha\nbeta\ngamma"),
      (2L, "beta\ndelta\nalpha"), // alpha+beta already seen in doc 1
      (3L, "alpha\nbeta\ngamma")  // fully duplicated doc
    ).toDF("doc_id", "text")
    val out = Corpus.lineDedup(df, "text", "doc_id").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept"),
          r.getAs[String]("kept_text")))).toMap
    assert(out(1L) == ((3L, 3L, "alpha\nbeta\ngamma")))
    assert(out(2L) == ((3L, 1L, "delta")))
    assert(out(3L) == ((3L, 0L, "")))
  }

  test("lineDedup dedups repeats within one doc too") {
    val df = Seq((1L, "x\ny\nx")).toDF("doc_id", "text")
    val r = Corpus.lineDedup(df, "text", "doc_id").collect().head
    assert(r.getAs[Long]("n_kept") == 2L)
    assert(r.getAs[String]("kept_text") == "x\ny")
  }

  test("blocklistScreen: hit counts, sorted terms, clean docs kept") {
    val docs = Seq(
      (1L, "bad word and BAD word again"),   // 'bad' ×2 (case-folded)
      (2L, "perfectly clean text here"),
      (3L, "evil bad evil"),                 // two distinct terms, 3 hits
      (4L, "")).toDF("doc_id", "text")
    val bl = Seq("bad", "evil", "unused").toDF("term")
    val out = Corpus.blocklistScreen(docs, "text", "doc_id",
        TextFunctions.words, bl, "term")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_hits"), r.getAs[String]("blocked_terms"),
          r.getAs[Boolean]("keep")))).toMap
    assert(out(1L) == ((2L, "bad", false)))
    assert(out(2L) == ((0L, "", true)))
    assert(out(3L) == ((3L, "bad,evil", false)))  // terms sorted, distinct
    assert(out(4L) == ((0L, "", true)))
    assert(out.size == 4) // every doc present — the full decision table
  }

  test("collocations: PMI hand-check, strict top-k order") {
    // corpus "a b", "a b", "a c": T1=6 tokens, T2=3 bigrams;
    // pmi(a,b) = ln(2·36 / (3·3·2)) = ln 4; pmi(a,c) = ln(36/9) = ln 4
    val docs = Seq("a b", "a b", "a c").toDF("text")
    val got = Corpus.collocations(docs, "text", TextFunctions.words, 10)
      .collect().map(r => (r.getAs[String]("a"), r.getAs[String]("b"),
        r.getAs[Long]("c_ab"), r.getAs[Double]("pmi_raw"))).toSeq
    assert(got == Seq(("a", "b", 2L, math.log(4.0)),
      ("a", "c", 1L, math.log(4.0))))
    // k truncates under the (count desc, a, b) order
    assert(Corpus.collocations(docs, "text", TextFunctions.words, 1)
      .collect().map(r => r.getAs[String]("b")).toSeq == Seq("b"))
  }

  test("tfidf matches hand computation") {
    val df = Seq((1L, "cat dog cat"), (2L, "dog fish"), (3L, "dog"))
      .toDF("doc_id", "text")
    val out = Corpus.tfidf(df, "text", "doc_id", TextFunctions.words)
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("term")) ->
        ((r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("tfidf_raw")))).toMap
    // ulp tolerance: the JVM's Math.log intrinsic may differ from
    // scala.math.log by 1 ulp; engine parity is asserted by the DuckDB
    // gate (q_tfidf), which mirrors the exact expression tree
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    val cat = out((1L, "cat"))
    assert(cat._1 == 2L && cat._2 == 1L && close(cat._3, 2.0 * math.log(3.0)))
    val fish = out((2L, "fish"))
    assert(fish._1 == 1L && fish._2 == 1L && close(fish._3, math.log(3.0)))
    assert(out((3L, "dog")) == ((1L, 3L, 0.0))) // df == N → idf 0
    assert(out.size == 5)
  }

  test("bigramLmScore: hand-checked smoothed log-probs; gibberish ranks lower") {
    val df = Seq((1L, "a b a b"), (2L, "z q")).toDF("doc_id", "text")
    val out = Corpus.bigramLmScore(df, "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_bigrams"), r.getAs[Double]("avg_lnp")))).toMap
    // c2: (a,b)=2 (b,a)=1 (z,q)=1; c1: a=2 b=1 z=1; V=4
    // doc1: [ln(3/6) + ln(2/5) + ln(3/6)] / 3 ; doc2: ln(2/5)
    val d1 = (math.log(3.0 / 6) + math.log(2.0 / 5) + math.log(3.0 / 6)) / 3
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - d1) < 1e-12)
    assert(out(2L)._1 == 1L && math.abs(out(2L)._2 - math.log(2.0 / 5)) < 1e-12)
    // corpus-typical text outscores one-off gibberish
    val corpus = (1L to 30L).map(i => (i, "the cat sat on the mat")) :+
      (99L, "zxq wvu tsr qpo nml")
    val scores = Corpus.bigramLmScore(corpus.toDF("doc_id", "text"),
        "text", "doc_id")
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Double]("avg_lnp"))
      .toMap
    assert(scores(99L) < scores(1L) - 1.0, s"${scores(99L)} vs ${scores(1L)}")
  }

  test("spanDedup: shared passage flags both carriers, unique doc clean") {
    val quote = "we hold these truths to be self evident"  // 8 words
    val df = Seq(
      (1L, s"intro alpha beta $quote outro gamma delta"),
      (2L, s"different start words here $quote closing words differ too"),
      (3L, "entirely unique content with no shared spans at all here"),
      (4L, s"intro alpha beta $quote outro gamma delta")) // exact dup of 1
      .toDF("doc_id", "text")
    val out = Corpus.spanDedup(df, "text", "doc_id",
        n = 5, minDocs = 2, flagAt = 0.5)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_spans"), r.getAs[Long]("n_dup_spans"),
          r.getAs[Double]("dup_frac"), r.getAs[Boolean]("flagged")))).toMap
    // docs 1 and 4 are identical: every span duplicated, flagged
    assert(out(1L) == ((10L, 10L, 1.0, true)))
    assert(out(4L) == ((10L, 10L, 1.0, true)))
    // doc 2 (16 words → 12 spans) shares only the 4 5-grams fully
    // inside the quote with doc 1/4; 4/12 < 0.5 → not flagged
    assert(out(2L) == ((12L, 4L, 4.0 / 12, false)))
    // doc 3 shares nothing
    val d3 = out(3L)
    assert(d3._2 == 0L && d3._3 == 0.0 && !d3._4)
  }

  test("bpePairStats: adjacent char pairs counted, short words skipped") {
    val df = Seq((1L, "abab ab a xy")).toDF("doc_id", "text")
    // "abab" → ab, ba, ab; "ab" → ab; "a" skipped; "xy" → xy
    val got = Corpus.bpePairStats(df, "text", topK = 10)
      .collect().map(r => (r.getAs[String]("pair"),
        r.getAs[Long]("n"), r.getAs[Long]("rnk")))
    assert(got.toSeq == Seq(("ab", 3L, 1L), ("ba", 1L, 2L), ("xy", 1L, 3L)))
  }

  test("vocabEncode: frequency-rank ids, OOV=0, position order preserved") {
    val df = Seq(
      (1L, "bb aa bb cc bb aa"),   // bb×3, aa×2, cc×1
      (2L, "aa zz bb"),            // zz pushed out of a size-2 vocab
      (3L, "cc cc")
    ).toDF("doc_id", "text")
    // counts: bb=4, aa=3, cc=3, zz=1 → vocab(2): bb→1, aa→2 (tie cc
    // vs aa at 3 broken lexically: aa first)
    val out = Corpus.vocabEncode(df, "text", "doc_id", 2)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_oov"),
          r.getAs[String]("ids")))).toMap
    assert(out(1L) == ((6L, 1L, "1,2,1,0,1,2")))
    assert(out(2L) == ((3L, 1L, "2,0,1")))
    assert(out(3L) == ((2L, 2L, "0,0")))
    // array form round-trips the same sequence
    val arr = Corpus.vocabEncode(df, "text", "doc_id", 2, asArray = true)
      .filter(col("id") === 1L).head.getAs[scala.collection.Seq[Long]]("ids")
    assert(arr.toSeq == Seq(1L, 2L, 1L, 0L, 1L, 2L))
  }

  test("domainCap: per-domain keeps ≤ cap, hash order is partition-stable") {
    val docs = ((1L to 40L).map(i => (i, s"https://hot.example.com/p/$i")) ++
      Seq((100L, "https://cold.example.com/x"))).toDF("doc_id", "url")
    val out = Corpus.domainCap(docs, "url", "doc_id", 5).collect()
    assert(out.length == 41)
    val hot = out.filter(_.getAs[String]("domain") == "hot.example.com")
    assert(hot.count(_.getAs[Boolean]("keep")) == 5)
    assert(hot.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to 40L).toSeq)
    // the singleton domain always survives
    val cold = out.find(_.getAs[Long]("id") == 100L).get
    assert(cold.getAs[Boolean]("keep") && cold.getAs[Long]("rnk") == 1L)
    // deterministic under a different physical partitioning
    val again = Corpus.domainCap(docs.repartition(7), "url", "doc_id", 5)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("rnk")).toMap
    assert(out.forall(r => again(r.getAs[Long]("id")) == r.getAs[Long]("rnk")))
  }

  private def strip(s: String): String = {
    val df = Seq(Tuple1(s)).toDF("t")
    df.select(TextFunctions.stripHtml($"t").as("c")).head.getAs[String]("c")
  }

  test("stripHtml: elements, comments, tags, entities, whitespace") {
    // script/style CONTENT vanishes wholesale, incl. <, >, quotes
    assert(strip("""a<script>if (1 < 2) { x = "</div>"; }</script>b""") == "a b")
    assert(strip("a<style>p { color: #fff; }</style>b") == "a b")
    assert(strip("<SCRIPT type=\"x\">y</SCRIPT>ok") == "ok") // (?i)
    // comments span newlines
    assert(strip("a<!-- one\n two -->b") == "a b")
    // plain tags → space; runs collapse; result trimmed
    assert(strip("<p>one</p>\n\n<b>two</b> ") == "one two")
    // entities decode exactly ONCE: &amp;lt; is the TEXT '&lt;'
    assert(strip("A &amp; B &lt;x&gt; &amp;lt;raw&amp;gt; &quot;q&#39;s&quot;&nbsp;e")
      == "A & B <x> &lt;raw&gt; \"q's\" e")
    // non-markup text passes through
    assert(strip("no markup at all") == "no markup at all")
  }

  test("distributionDivergence: identity is zero, disjoint is ln2-ish js") {
    val a = Seq((1L, "x y x z")).toDF("doc_id", "text")
    val same = Corpus.distributionDivergence(a, a, "text",
      TextFunctions.words).head
    assert(same.getAs[Long]("n_terms") == 3)
    assert(same.getAs[Long]("tot_a") == 4 && same.getAs[Long]("tot_b") == 4)
    assert(math.abs(same.getAs[Double]("kl_ab")) < 1e-12)
    assert(math.abs(same.getAs[Double]("js")) < 1e-12)
    // disjoint vocabularies: all divergences positive, js < ln 2
    val b = Seq((2L, "p q p r")).toDF("doc_id", "text")
    val dis = Corpus.distributionDivergence(a, b, "text",
      TextFunctions.words).head
    assert(dis.getAs[Long]("n_terms") == 6)
    assert(dis.getAs[Double]("kl_ab") > 0 && dis.getAs[Double]("kl_ba") > 0)
    assert(dis.getAs[Double]("js") > 0 && dis.getAs[Double]("js") < math.log(2))
    // js is symmetric; kl is not in general
    val rev = Corpus.distributionDivergence(b, a, "text",
      TextFunctions.words).head
    assert(math.abs(dis.getAs[Double]("js") - rev.getAs[Double]("js")) < 1e-12)
    assert(math.abs(dis.getAs[Double]("kl_ab") - rev.getAs[Double]("kl_ba")) < 1e-12)
  }

  test("distributionDivergence matches a hand-computed smoothed KL") {
    // A = {x:2}, B = {x:1, y:1}; V=2, Ta=2, Tb=2
    // p(x)=3/4 p(y)=1/4; q(x)=2/4 q(y)=2/4
    val a = Seq((1L, "x x")).toDF("doc_id", "text")
    val b = Seq((2L, "x y")).toDF("doc_id", "text")
    val r = Corpus.distributionDivergence(a, b, "text",
      TextFunctions.words).head
    val p = Seq(0.75, 0.25); val q = Seq(0.5, 0.5)
    val klExp = p.zip(q).map { case (pi, qi) => pi * math.log(pi / qi) }.sum
    assert(math.abs(r.getAs[Double]("kl_ab") - klExp) < 1e-12)
  }

  private def canon(s: String): String = {
    val df = Seq(Tuple1(s)).toDF("u")
    df.select(TextFunctions.normalizeUrl($"u").as("c")).head.getAs[String]("c")
  }

  test("normalizeUrl: case, ports, params, fragments, trailing slash") {
    // every transport-noise variant collapses to one canonical form
    assert(canon("HTTP://WWW.Example.COM:80/a/b/?utm_source=x&b=2&a=1#frag")
      == "http://www.example.com/a/b?a=1&b=2")
    assert(canon("http://www.example.com/a/b?a=1&b=2")
      == "http://www.example.com/a/b?a=1&b=2")
    // default port strips only for the MATCHING scheme
    assert(canon("https://h:443/x") == "https://h/x")
    assert(canon("https://h:80/x") == "https://h:80/x")
    // empty path → /; root slash survives
    assert(canon("http://h") == "http://h/")
    assert(canon("http://h/") == "http://h/")
    // tracking-only query disappears entirely (no dangling '?')
    assert(canon("http://h/p?utm_campaign=z&gclid=abc") == "http://h/p")
    // path case is preserved (only scheme+host fold)
    assert(canon("http://H/CaseSensitive") == "http://h/CaseSensitive")
  }

  test("extractLinks: quoted variants, case, relative-href drop") {
    def links(s: String): Seq[String] = {
      val df = Seq(Tuple1(s)).toDF("t")
      df.select(TextFunctions.extractLinks($"t").as("l"))
        .head.getAs[scala.collection.Seq[String]]("l").toSeq
    }
    assert(links("""<a href="http://a/x">1</a><a href='https://b/y'>2</a>""")
      == Seq("http://a/x", "https://b/y"))
    // attribute and scheme case-insensitive; relative + mailto dropped
    assert(links("""<A CLASS="z" HREF="HTTPS://Host/P">1</A>""")
      == Seq("HTTPS://Host/P"))
    assert(links("""<a href="/rel">r</a><a href="mailto:x@y">m</a>""")
      == Seq.empty)
    // anchors with no href contribute nothing; text passes through
    assert(links("<a name=\"t\">plain</a> no links") == Seq.empty)
  }

  test("duplicateSpans: maximal merged spans, self-repeats, short docs") {
    // docs 1 and 2 share the 8-token passage p1..p8 (distinct words
    // nowhere else): grams flag at 4 consecutive starts → ONE maximal
    // island of 8 tokens on each side, at the right offsets
    val docs = Seq(
      (1L, "u1 u2 p1 p2 p3 p4 p5 p6 p7 p8 u3"),
      (2L, "v1 p1 p2 p3 p4 p5 p6 p7 p8"),
      (3L, "a b c d e xx a b c d e"), // self-repeat, non-adjacent
      (4L, "w1 w2 w3")                // shorter than k → no grams
    ).toDF("doc_id", "text")
    val out = Corpus.duplicateSpans(docs, "text", "doc_id",
        TextFunctions.words, 5)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("span_tokens"),
        r.getAs[Long]("n_grams")))
      .sortBy(t => (t._1, t._2))
    assert(out === Seq(
      (1L, 2L, 9L, 8L, 4L),  // p1..p8 at positions 2..9
      (2L, 1L, 8L, 8L, 4L),
      (3L, 0L, 4L, 5L, 1L),  // "a b c d e" twice within one doc:
      (3L, 6L, 10L, 5L, 1L)  // two islands — the xx gap separates
    ))
  }

  test("duplicateSpans: adjacent flagged grams fuse into one span") {
    // the 10-token passage repeats; its grams flag at starts 0..5 —
    // overlapping AND the touching half-open boundary both merge
    val p = "q1 q2 q3 q4 q5 q6 q7 q8 q9 q10"
    val docs = Seq((1L, p), (2L, p)).toDF("doc_id", "text")
    val out = Corpus.duplicateSpans(docs, "text", "doc_id",
        TextFunctions.words, 5)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"), r.getAs[Long]("n_grams")))
      .sortBy(_._1)
    assert(out === Seq((1L, 0L, 9L, 6L), (2L, 0L, 9L, 6L)))
  }

  test("cutSpans: flagged ranges removed, full dups empty, rest intact") {
    val docs = Seq(
      (1L, "u1 u2 p1 p2 p3 p4 p5 p6 p7 p8 u3"), // shared passage inside
      (2L, "v1 p1 p2 p3 p4 p5 p6 p7 p8"),
      (3L, "c1 c2 c3 c4 c5"), (4L, "c1 c2 c3 c4 c5"), // exact pair → empty
      (5L, "w1 w2 w3 w4 w5 w6")                        // untouched
    ).toDF("doc_id", "text")
    val spans = Corpus.duplicateSpans(docs, "text", "doc_id",
      TextFunctions.words, 5)
    val out = Corpus.cutSpans(docs, "text", "doc_id",
        TextFunctions.words, spans)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("clean_text"), r.getAs[Long]("n_kept"),
          r.getAs[Long]("n_cut")))).toMap
    assert(out(1L) == (("u1 u2 u3", 3L, 8L)))
    assert(out(2L) == (("v1", 1L, 8L)))
    assert(out(3L) == (("", 0L, 5L)) && out(4L) == (("", 0L, 5L)))
    assert(out(5L) == (("w1 w2 w3 w4 w5 w6", 6L, 0L)))
  }

  test("duplicateSpans: randomized ≡ brute-force islands (tiny vocab)") {
    // 3-word vocabulary forces dense gram collisions — the regime
    // where off-by-one island boundaries would actually show up
    val rnd = new scala.util.Random(5)
    val vocab = Array("a", "b", "c")
    val docs = (0L until 40L).map(i =>
      (i, Seq.fill(4 + rnd.nextInt(12))(vocab(rnd.nextInt(3))).mkString(" ")))
    val k = 3
    // brute force: count every k-gram corpus-wide, flag positions,
    // merge runs with gap > k starting new islands
    val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
    val counts = toks.values.flatMap(w => w.sliding(k).filter(_.size == k)
      .map(_.mkString(" "))).groupBy(identity).map { case (g, o) => g -> o.size }
    val expected = toks.flatMap { case (id, w) =>
      val flagged = w.sliding(k).zipWithIndex
        .filter { case (g, _) => g.size == k && counts(g.mkString(" ")) >= 2 }
        .map(_._2).toSeq
      val islands = flagged.foldLeft(Vector.empty[(Int, Int)]) {
        case (acc, p) if acc.nonEmpty && p <= acc.last._2 + 1 =>
          acc.init :+ ((acc.last._1, math.max(acc.last._2, p + k - 1)))
        case (acc, p) => acc :+ ((p, p + k - 1))
      }
      islands.map { case (a, b) => (id, a.toLong, b.toLong) }
    }.toSet
    val got = Corpus.duplicateSpans(docs.toDF("doc_id", "text"), "text",
        "doc_id", TextFunctions.words, k)
      .collect()
      .map(r => (r.getAs[Long]("id"), r.getAs[Long]("span_start"),
        r.getAs[Long]("span_end"))).toSet
    assert(got == expected)
  }

  test("normalizeUrl: garbage in, deterministic string out (no throw)") {
    // malformed inputs produce SOME deterministic string — the scan
    // stage must never fail on a bad crawl record
    val junk = Seq("", "not a url", "http://", "://host/p", "http:///x",
      "ftp://weird:21/a", "http://h:badport/x", "a b c", "http://h/p?&&&")
    val out = junk.map(Tuple1(_)).toDF("u")
      .select(TextFunctions.normalizeUrl($"u").as("c"))
      .collect().map(_.getString(0))
    assert(out.length == junk.length && out.forall(_ != null))
    // ftp is passed through un-port-stripped (not a known default)
    assert(out(junk.indexOf("ftp://weird:21/a")) == "ftp://weird:21/a")
  }

  test("normalizeUrl is idempotent over the decorated-variant grid") {
    val variants = for {
      scheme <- Seq("HTTP://", "https://")
      host <- Seq("WWW.Ex.COM:80", "ex.com:443", "Ex.com")
      path <- Seq("", "/", "/A/b/", "/A/b")
      q <- Seq("", "?b=2&a=1", "?utm_source=x", "?utm_source=x&z=9&gclid=1")
      frag <- Seq("", "#f")
    } yield scheme + host + path + q + frag
    val df = variants.map(Tuple1(_)).toDF("u")
    val twice = df.select(
        TextFunctions.normalizeUrl($"u").as("c1"),
        TextFunctions.normalizeUrl(TextFunctions.normalizeUrl($"u")).as("c2"))
      .collect()
    twice.foreach(r =>
      assert(r.getString(0) == r.getString(1), s"not idempotent: $r"))
  }

  test("hashedLinearScore: integer dot product, exact keep verdict") {
    val docs = Seq((1L, "alpha beta alpha"), (2L, "")).toDF("doc_id", "text")
    val w = Corpus.hashedWeights(spark)
    val out = Corpus.hashedLinearScore(docs, "text", "doc_id",
      TextFunctions.words, w, "bucket", "w_milli")
      .collect().map(r => r.getAs[Long]("id") -> r).toMap
    // recompute z by hand from the same md5 bucket/weight derivation
    val ws = w.collect().map(r =>
      r.getAs[Long]("bucket") -> r.getAs[Long]("w_milli")).toMap
    def bucket(t: String): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(h.substring(6, 8), 16) % 64
    }
    val z1 = 2 * ws(bucket("alpha")) + 1 * ws(bucket("beta"))
    val r1 = out(1L)
    assert(r1.getAs[Long]("n_tokens") == 3 && r1.getAs[Long]("z_milli") == z1)
    assert(r1.getAs[Boolean]("keep") == (z1 >= 0))
    val sig = 1.0 / (1.0 + math.exp(-(z1.toDouble / (3.0 * 1000.0))))
    assert(math.abs(r1.getAs[Double]("score_raw") - sig) < 1e-15)
    // weights stay in milli-range; all 64 buckets covered
    assert(ws.size == 64 && ws.values.forall(v => v >= -1000 && v <= 1000))
  }

  test("templateFingerprint: structure groups ignore content words") {
    val docs = Seq(
      // same invoice skeleton, different words/numbers → one group
      (1L, "Invoice #12: total 99 USD, ref (en-12)."),
      (2L, "Invoice #777: total 5 USD, ref (de-777)."),
      (3L, "Receipt #9: total 12 USD, ref (fr-9)."), // Receipt ≡ Invoice once words collapse
      // different punctuation structure → different fingerprint
      (4L, "Invoice 12 total 99 USD ref en 12"),
      (5L, "plain words only here"),
      (6L, "plain other text too")) // same 4-word skeleton as 5
      .toDF("doc_id", "text")
    val got = Corpus.templateFingerprint(docs, "doc_id", "text", 2L)
      .collect().map(r => r.getAs[Long]("rep_doc") -> r.getAs[Long]("n_docs"))
      .toMap
    assert(got == Map(1L -> 3L, 5L -> 2L)) // {1,2,3} and {5,6}; 4 is a singleton
  }

  test("templateFingerprint: whitespace variants collapse, minDocs gates") {
    val docs = Seq(
      (1L, "a  b\tc"), (2L, " x y z "), // runs + edges normalize to '# # #'
      (3L, "lone"))
      .toDF("doc_id", "text")
    val two = Corpus.templateFingerprint(docs, "doc_id", "text", 2L).collect()
    assert(two.length == 1 && two.head.getAs[Long]("n_docs") == 2L &&
      two.head.getAs[Long]("rep_doc") == 1L)
    // raising the floor above the group size empties the report
    assert(Corpus.templateFingerprint(docs, "doc_id", "text", 3L).count() == 0L)
  }

  test("anchorText: href/anchor align, markup+entities clean, topK ties") {
    val pages = Seq(
      "<a href=\"https://t.example.org/a\">Great <i>Spark</i> guide</a>" +
        "<a href=\"/rel\">skip me</a>" +
        "<A HREF=\"HTTPS://T.Example.ORG/a\">great &amp; fast</A>",
      "<a href='https://t.example.org/a'>spark guide</a>" +
        "<a href='ftp://x.example.org/f'>not http</a>")
      .toDF("html")
    val got = graft.operators.Corpus.anchorText(pages, "html", 3)
      .collect().map(r => (r.getAs[String]("url"), r.getAs[String]("term"),
        r.getAs[Long]("n"), r.getAs[Long]("rank")))
    // both case variants canonicalize to ONE target; terms across pages:
    // guide 2, great 2, spark 2, & 1, fast 1 → top3 = guide, great, spark
    // (count desc, term asc; '&' and 'fast' at n=1 fall below topK)
    assert(got.forall(_._1 == "https://t.example.org/a"))
    assert(got.sortBy(_._4).map(t => (t._2, t._3, t._4)).toSeq ==
      Seq(("great", 2L, 1L), ("guide", 2L, 2L), ("spark", 2L, 3L)))
  }

  test("noveltyScore: copies score 0, disjoint 1, overlap exact") {
    val ref = Seq((2L, "a b c d e f")).toDF("doc_id", "text")
    // ref grams (5-gram): "a b c d e", "b c d e f"
    val probe = Seq(
      (1L, "a b c d e f"),  // exact copy → novelty 0
      (3L, "p q r s t u"),  // disjoint vocabulary → novelty 1
      (5L, "a b c d e zz"), // grams: "a b c d e" (seen) + "b c d e zz" → 1/2
      (7L, "a b c"))        // < 5 words → no grams → absent from report
      .toDF("doc_id", "text")
    val got = graft.operators.Corpus
      .noveltyScore(probe, ref, "text", "doc_id", 5)
      .collect().map(r => r.getAs[Long]("id") ->
        ((r.getAs[Long]("n_grams"), r.getAs[Long]("n_novel"),
          r.getAs[Double]("novelty")))).toMap
    assert(got(1L) == ((2L, 0L, 0.0)))
    assert(got(3L) == ((2L, 2L, 1.0)))
    assert(got(5L) == ((2L, 1L, 0.5)))
    assert(!got.contains(7L) && got.size == 3)
  }

  test("naiveBayesScore: hand-computed smoothed likelihoods, argmax, ties") {
    val docs = Seq(
      (1L, "A", "cat cat dog"),
      (2L, "B", "fish fish"),
      (3L, "A", "cat dog")).toDF("doc_id", "lang", "text")
    val got = Corpus.naiveBayesScore(docs, "doc_id", "lang", "text",
        TextFunctions.words)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("lang"), r.getAs[String]("pred"),
          r.getAs[Double]("score")))).toMap
    // model: class A tokens {cat:3, dog:2} n_A=5, class B {fish:2}
    // n_B=2, V=3, priors 2/3 and 1/3
    def lnA(c: Long) = math.log((c + 1).toDouble / (5 + 3).toDouble)
    // doc 1 under A: ln(2/3) + [sorted terms cat,cat? tf-folded:
    // cat(tf 2), dog(tf 1)] = 2·ln(4/8) + 1·ln(3/8)
    val s1A = math.log(2.0 / 3.0) + (2.0 * lnA(3) + 1.0 * lnA(2))
    assert(got(1L)._2 == "A")
    assert(math.abs(got(1L)._3 - s1A) < 1e-6)
    assert(got(2L)._2 == "B" && got(3L)._2 == "A")
    // disjoint-vocabulary classes: every doc self-classifies
    assert(got.forall { case (_, (y, p, _)) => y == p })
    // partition-independence: identical output at any parallelism
    val re = Corpus.naiveBayesScore(docs.repartition(7), "doc_id", "lang",
        "text", TextFunctions.words)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("pred"),
        r.getAs[Double]("score"))).toSet
    assert(re == got.map { case (id, (_, p, s)) => (id, p, s) }.toSet)
  }

  test("zipfFit: slope ≈ −1 on a constructed Zipf corpus") {
    // term i appears ⌊600/i⌋ times — frequencies ∝ 1/rank by design
    val text = (1 to 40).flatMap(i =>
      Seq.fill(600 / i)(f"term$i%03d")).mkString(" ")
    val df = Seq((1L, text)).toDF("doc_id", "text")
    val r = Corpus.zipfFit(df, "text", TextFunctions.words, 100).head
    assert(r.getAs[Long]("n_terms") == 40L)
    val slope = r.getAs[Double]("slope")
    assert(slope > -1.1 && slope < -0.9, s"slope $slope not ≈ −1")
    // flat corpus (all terms equally frequent) → slope ≈ 0
    val flat = Seq((1L, (1 to 40).flatMap(i =>
      Seq.fill(10)(f"t$i%03d")).mkString(" "))).toDF("doc_id", "text")
    val s2 = Corpus.zipfFit(flat, "text", TextFunctions.words, 100).head
      .getAs[Double]("slope")
    assert(math.abs(s2) < 0.01, s"flat-corpus slope $s2 not ≈ 0")
  }

  test("burstiness: Poisson-like uniform term ≈ 1, bursty term ≫ 1") {
    // "the" once in every doc → D = (N·S2 − S1²)/(N·S1)
    // = (20·20 − 400)/(20·20) = 0; "zap" 10× in one doc:
    // (20·100 − 100)/(20·10) = 9.5
    val docs = (1 to 20).map { i =>
      (i.toLong, if (i == 1) "the " + Seq.fill(10)("zap").mkString(" ")
      else "the")
    }.toDF("doc_id", "text")
    val got = Corpus.burstiness(docs, "doc_id", "text",
        TextFunctions.words, 10)
      .collect().map(r => r.getAs[String]("term") ->
        ((r.getAs[Long]("df"), r.getAs[Long]("total_tf"),
          r.getAs[Double]("dispersion")))).toMap
    assert(got("the") == ((20L, 20L, 0.0))) // perfectly uniform
    assert(got("zap")._1 == 1L && got("zap")._2 == 10L)
    assert(got("zap")._3 == 9.5)
  }

  test("perceptronTrain: separable task converges to 0 errors, " +
    "bit-identical under repartition") {
    val docs = Seq(
      (1L, true, "apple banana apple"),
      (2L, true, "banana cherry"),
      (3L, false, "zebra yak"),
      (4L, false, "yak walrus walrus")).toDF("doc_id", "pos", "text")
    val out = Corpus.perceptronTrain(docs, "doc_id", "pos", "text",
        TextFunctions.words)
      .collect().map(r => r.getAs[Long]("bucket") ->
        r.getAs[Long]("weight")).toMap
    // disjoint vocabularies are linearly separable: by round 3 the
    // classifier must make zero training errors
    assert(out(-2L) == 0L)
    // some bucket learned a non-zero weight (the model is not trivial)
    assert(out.exists { case (b, w) => b >= 0 && w != 0L })
    val re = Corpus.perceptronTrain(docs.repartition(5), "doc_id", "pos",
        "text", TextFunctions.words)
      .collect().map(r => (r.getAs[Long]("bucket"),
        r.getAs[Long]("weight"))).toSet
    assert(re == out.toSet)
  }

  test("perceptronTrain: local driver rung ≡ distributed rounds, bit-exact") {
    // non-separable mix so weights/bias/errs all exercise non-trivial
    // values; a size gate of 0 forces the distributed loop
    val docs = (1 to 30).map(i => (i.toLong, i % 3 != 0,
      s"w${i % 5} w${i % 7} w${i % 2} common token w${i % 11}"))
      .toDF("doc_id", "pos", "text")
    def run(path: String) = onPath(spark, path) {
      Corpus.perceptronTrain(docs, "doc_id", "pos", "text",
        TextFunctions.words, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(run("distributed") == run("local"),
      "driver rung must be bit-equal to the distributed round loop")
  }

}
