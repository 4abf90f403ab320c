package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-shaping operators for training-data pipelines: fixed-size
  * chunking with overlap (RAG / context-window prep), C4-style
  * cross-corpus line deduplication, and TF-IDF term scoring.
  *
  * Scale design: chunking is a pure per-row array expression (no
  * shuffle — it runs inside the scan stage); line dedup shuffles once
  * on the line content and once on doc_id for reassembly; TF-IDF is
  * two keyed aggregations plus a 1-row broadcast for the corpus size.
  * Nothing here is O(n²) and nothing collects to the driver.
  */
object Corpus {

  /** Fixed-size character chunks with overlap. Chunk starts are
    * `0, size-overlap, 2(size-overlap), …` while they fall inside the
    * text; every doc yields ≥1 chunk (empty text → one empty chunk).
    * Runs entirely inside the scan stage: `sequence` + `posexplode`
    * are codegen'd per-row ops, so a 100 TB corpus chunks without a
    * single shuffle and chunks stay co-partitioned with their doc.
    */
  def chunk(df: DataFrame, textCol: String, idCol: String,
            size: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < size, "need 0 <= overlap < size")
    val step = size - overlap
    val starts = sequence(lit(0),
      greatest(length(col(textCol)) - 1, lit(0)), lit(step))
    df.select(col(idCol), col(textCol),
        posexplode(starts).as(Seq("chunk_id", "start")))
      .select(col(idCol), col("chunk_id").cast("long").as("chunk_id"),
        expr(s"substring($textCol, start + 1, $size)").as("chunk"))
      .withColumn("chunk_len", length(col("chunk")).cast("long"))
  }

  /** C4-style line-level dedup across the whole corpus: a line that
    * occurs anywhere else in the corpus is kept only at its first
    * occurrence (lowest doc id, then lowest line position) and removed
    * everywhere else; each doc is reassembled from its surviving lines
    * in order. Returns one row per input doc:
    * (id, n_lines, n_kept, kept_text).
    *
    * The occurrence ranking is a window over the line content — a
    * single hash-partitioned shuffle on the line (the 100 TB-safe
    * formulation: state per distinct line, not per pair); reassembly
    * is one groupBy on the doc id. Docs whose every line is removed
    * survive with kept_text = ''.
    */
  def lineDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val lines = df.select(col(idCol).as("id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val rn = row_number().over(
      Window.partitionBy(col("line")).orderBy(col("id"), col("pos")))
    lines.withColumn("keep", rn === 1)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(
              when(col("keep"), struct(col("pos"), col("line"))))),
            x => x("line")),
          "\n").as("kept_text"))
  }

  /** TF-IDF term scores: tf = term count within the doc, df = number
    * of docs containing the term, idf = ln(N/df). Two keyed shuffles
    * — (doc, term) then term — and the corpus size N joins back as a
    * 1-row broadcast, so the plan has no single-partition stage.
    * The score's float math is `tf * ln(N / df)` evaluated in exactly
    * that operation order (oracle mirrors it bit-for-bit).
    */
  /** Okapi BM25 term scores. Same two keyed shuffles as [[tfidf]];
    * the per-doc length and the corpus stats (N, total length) ride
    * along as a 1-row broadcast. Float math is evaluated in one fixed
    * operation order (mirrored by the oracle):
    * `idf = ln((N - df + 0.5) / (df + 0.5))`,
    * `score = idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))`.
    * Doc lengths accumulate as exact integers; `avgdl` is a single
    * double division at the end.
    */
  def bm25(df: DataFrame, textCol: String, idCol: String,
           tokens: Column => Column,
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = df.select(col(idCol).as("id"), tokens(col(textCol)).as("w"))
    val dt = toks.select(col("id"), size(col("w")).cast("long").as("dl"),
        explode(col("w")).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = toks.agg(count(lit(1)).as("n_docs"),
      sum(size(col("w")).cast("long")).as("tot_len"))
    val n = col("n_docs").cast("double")
    val avgdl = col("tot_len").cast("double") / col("n_docs").cast("double")
    val idf = log((n - col("df").cast("double") + 0.5) /
      (col("df").cast("double") + 0.5))
    val tfd = col("tf").cast("double")
    val score = idf * (tfd * (k1 + 1.0)) /
      (tfd + lit(k1) * (lit(1.0) - b + lit(b) * col("dl").cast("double") / avgdl))
    // seal: the checkpointed output is the same size as the persisted
    // doc-term table it replaces in storage — peak footprint unchanged,
    // but releasable (graft.release) instead of leaked
    graft.sealResult(dt.join(dfreq, "term")
      .crossJoin(broadcast(stats))
      .select(col("id"), col("term"), col("tf"), col("df"),
        score.as("bm25_raw")),
      dt)
  }

  /** Inverted index: per term, document frequency and the posting list
    * head (first `cap` doc ids ascending, comma-joined). One keyed
    * shuffle on the term; the per-term state is bounded by `cap` in
    * the output (collect happens per term — at 100 TB the hot-term
    * list would be capped pre-agg with a per-term top-k, same shape).
    */
  def invertedIndex(df: DataFrame, textCol: String, idCol: String,
                    tokens: Column => Column, cap: Int): DataFrame =
    df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .distinct()
      .groupBy(col("term"))
      .agg(count(lit(1)).as("df"),
        concat_ws(",",
          transform(slice(array_sort(collect_list(col("id"))), 1, cap),
            _.cast("string"))).as("postings"))

  /** Duplicated-span detection (the exact-substring dedup signal of
    * Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", arXiv:2107.06499): a word n-gram that occurs in
    * `minDocs`+ distinct documents is a duplicated span; each document
    * is scored by the fraction of its distinct n-grams that are
    * duplicated. Unlike whole-doc MinHash, this catches boilerplate
    * and quoted passages INSIDE otherwise-unique documents.
    *
    * Plan shape: shingle explode feeds (a) the span document-frequency
    * aggregate and (b) the per-doc rollup — two keyed shuffles
    * (shingle, then doc id), join back on the shingle. The shingle
    * pass is deliberately RECOMPUTED for its two consumers rather than
    * persisted: the codegen'd shingle expression over a columnar scan
    * is cheaper than materializing the exploded string stream through
    * the block manager (measured round 6: the persist made the query
    * 1.7× slower), and at 100 TB caching a stream LARGER than the
    * input is strictly worse than a second pushdown scan. State is per
    * DISTINCT span, never per pair, so a 100 TB corpus shuffles
    * linearly.
    * `dup_frac` is one IEEE division of exact integers — bit-identical
    * on any engine at any parallelism.
    */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                n: Int, minDocs: Int, flagAt: Double): DataFrame = {
    val sh = Dedup.docShingles(df, textCol, idCol, n)
    val spanDf = sh.groupBy(col("sh"))
      .agg(count(lit(1)).as("span_docs"))
    val frac = col("n_dup_spans").cast("double") / col("n_spans")
    // per-doc output (far smaller than the persisted shingle table):
    // seal — materialize, release the shingles
    graft.sealResult(sh.join(spanDf, "sh")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("span_docs") >= minDocs, 1L).otherwise(0L))
          .as("n_dup_spans"))
      .select(col("id"), col("n_spans"), col("n_dup_spans"),
        frac.as("dup_frac"),
        (frac >= flagAt).as("flagged")))
  }

  /** Statistical language-model scoring (the shape of CCNet/Gopher
    * perplexity filtering, with the corpus itself as the model): a
    * bigram LM with add-one smoothing scores every document by its
    * mean log-probability — low scores mark gibberish, boilerplate,
    * and wrong-language text.
    *
    * `P(b|a) = (c₂(a,b) + 1) / (c₁(a) + V)` — all counts exact
    * integers from two keyed aggregates (bigram, then prefix), V is a
    * 1-row broadcast. The only float ops: ONE division + ln per
    * distinct bigram occurrence, then a POSITION-ORDERED left fold
    * per doc (sorted-array aggregate — same total-order trick as the
    * EWMA oracle), so the sum is bit-identical at any parallelism and
    * the oracle replays it exactly.
    *
    * @return (id, n_bigrams, avg_lnp) — higher avg_lnp = more
    *         corpus-typical text.
    */
  def bigramLmScore(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    import graft.functions.TextFunctions
    val w = df.select(col(idCol).as("id"),
        TextFunctions.words(col(textCol)).as("ws"))
    // sequence(1, n-1) DESCENDS when n-1 < 1 — guard short docs to an
    // empty bigram list (DuckDB's generate_series is empty there)
    val idxs = when(size(col("ws")) >= 2,
      sequence(lit(1), size(col("ws")) - 1)).otherwise(array().cast("array<int>"))
    val big = w.select(col("id"), explode(transform(idxs, i =>
        struct(i.as("pos"), element_at(col("ws"), i).as("a"),
          element_at(col("ws"), i + 1).as("b")))).as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.a").as("a"),
        col("g.b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = big.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
    val c1 = big.groupBy(col("a")).agg(count(lit(1)).as("c1"))
    val v = w.select(explode(col("ws")).as("x"))
      .agg(countDistinct(col("x")).as("v"))
    val lnp = log((col("c2") + 1).cast("double") /
      (col("c1") + col("v")).cast("double"))
    // per-doc output: seal — materialize, release the persisted bigram
    // table (the word arrays recompute for their two consumers — the
    // spanDedup measured trade)
    graft.sealResult(
      big.join(c2, Seq("a", "b")).join(c1, Seq("a"))
        .crossJoin(broadcast(v))
        .select(col("id"), col("pos"), lnp.as("lnp"))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_bigrams"),
          (aggregate(
            transform(array_sort(collect_list(struct(col("pos"), col("lnp")))),
              x => x.getField("lnp")),
            lit(0.0), (acc, x) => acc + x)
            / count(lit(1)).cast("double")).as("avg_lnp")),
      big)
  }

  /** E43: vocabulary build + token-id encoding — the string-indexer
    * step every tokenizer-training / feature pipeline runs before
    * model input. Vocabulary = top-`vocabSize` terms by (count desc,
    * term asc); ids are 1-based frequency ranks, 0 = OOV.
    *
    * Scale shape: term counts are one keyed agg; the top-V cut is
    * `orderBy.limit` — Spark plans TakeOrderedAndProject (per-partition
    * bounded heaps merged on the driver), NOT a global sort — and the
    * rank window then runs on the V-row result (bounded by vocabSize,
    * not by data). Encoding joins the vocabulary BROADCAST against the
    * exploded corpus, so the corpus shuffles exactly once (the per-doc
    * reassembly groupBy). Ids ride a position-sorted array aggregate —
    * same deterministic reassembly as bigramLmScore.
    *
    * Output: id, n_tokens, n_oov, ids (comma-joined id string — the
    * gate comparator is string-based; callers wanting the array split
    * it or call with `asArray = true`).
    */
  def vocabEncode(df: DataFrame, textCol: String, idCol: String,
                  vocabSize: Int,
                  tokens: Column => Column = graft.functions.TextFunctions.words,
                  asArray: Boolean = false): DataFrame = {
    val tokpos = df.select(col(idCol).as("id"),
      posexplode(tokens(col(textCol))).as(Seq("pos", "token")))
    val counts = tokpos.groupBy(col("token")).agg(count(lit(1)).as("c"))
    // TakeOrderedAndProject cut, then rank the V surviving rows; the
    // single-partition window is bounded by vocabSize by construction
    val topV = counts.orderBy(col("c").desc, col("token").asc).limit(vocabSize)
    val rankW = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("token").asc)
    val vocab = topV.select(col("token"),
      row_number().over(rankW).cast("long").as("tid"))
    val ids = transform(
      array_sort(collect_list(struct(col("pos"), col("tid")))),
      x => x.getField("tid"))
    tokpos
      .join(broadcast(vocab), Seq("token"), "left")
      .withColumn("tid", coalesce(col("tid"), lit(0L)))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("tid") === 0L, 1L).otherwise(0L)).as("n_oov"),
        (if (asArray) ids else array_join(ids, ",")).as("ids"))
  }

  /** E46: BPE merge-candidate statistics — the counting step of one
    * byte-pair-encoding training iteration (Sennrich et al. 2016):
    * adjacent character-pair frequencies inside normalized words,
    * top-K by (count desc, pair asc). A real tokenizer trainer loops
    * this count→merge step; the count is the distributed 100 TB part
    * (the merge table is kilobytes on the driver), so this operator
    * IS the scaling unit of BPE training.
    *
    * Plan: words explode → in-row adjacent-pair expansion
    * (`sequence` + `substr`, zero extra shuffles) → one keyed count
    * agg → TakeOrderedAndProject top-K → rank window over K rows.
    * Words shorter than 2 chars are filtered BEFORE the sequence
    * (Spark's `sequence(1, 0)` would generate a DESCENDING range).
    */
  def bpePairStats(df: DataFrame, textCol: String,
                   topK: Int): DataFrame = {
    val pairs = df
      .select(explode(graft.functions.TextFunctions.words(col(textCol)))
        .as("w"))
      .filter(length(col("w")) >= 2)
      .select(explode(transform(sequence(lit(1), length(col("w")) - 1),
        i => col("w").substr(i, lit(2)))).as("pair"))
    val counts = pairs.groupBy(col("pair")).agg(count(lit(1)).as("n"))
    val top = counts.orderBy(col("n").desc, col("pair").asc).limit(topK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("pair").asc)
    top.select(col("pair"), col("n"),
      row_number().over(w).cast("long").as("rnk"))
  }

  def tfidf(df: DataFrame, textCol: String, idCol: String,
            tokens: Column => Column): DataFrame = {
    val dt = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfreq = dt.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    // seal (same trade as [[bm25]]): checkpointed output replaces the
    // persisted doc-term table in storage, releasable via graft.release
    graft.sealResult(dt.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .select(col("id"), col("term"), col("tf"), col("df"),
        (col("tf").cast("double") *
          log(col("n_docs").cast("double") / col("df").cast("double")))
          .as("tfidf_raw")),
      dt)
  }

  /** PMI-scored bigram collocations (Church & Hanks 1990) — the
    * phrase-mining pass: word pairs that co-occur far above chance
    * ("new york" vs "of the"), ranked among the top-k most frequent
    * bigrams. PMI = ln(P(ab) / (P(a)·P(b))) with P over exact corpus
    * counts.
    *
    * Exactness: the PMI argument is ONE rational of exact integer
    * products — c_ab·T₁² / (T₂·c_a·c_b) as decimal(38,0) — so the
    * float path is one division + one ln in fixed order; callers round
    * to 6dp at engine-parity gates (ln SUMS are not bit-stable, single
    * lns of exact ratios are — the q_lm_score rule applied in reverse).
    *
    * Scale shape: two keyed count aggs (bigrams, unigrams) + two 1-row
    * broadcast totals; unigram counts join the bigram table twice
    * (term-cardinality side, broadcastable); top-k = orderBy.limit →
    * TakeOrderedAndProject with the strict (count desc, a, b) order.
    */
  def collocations(df: DataFrame, textCol: String,
                   tokens: Column => Column, k: Int): DataFrame = {
    val dec = "decimal(38,0)"
    // word arrays recompute for their two consumers (the spanDedup
    // measured trade: codegen'd re-tokenize beats caching the stream)
    val w = df.select(tokens(col(textCol)).as("ws"))
    val idxs = when(size(col("ws")) >= 2,
      sequence(lit(1), size(col("ws")) - 1))
      .otherwise(array().cast("array<int>"))
    val big = w.select(explode(transform(idxs, i =>
        struct(element_at(col("ws"), i).as("a"),
          element_at(col("ws"), i + 1).as("b")))).as("g"))
      .select(col("g.a").as("a"), col("g.b").as("b"))
    val c2 = big.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c_ab"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val uni = w.select(explode(col("ws")).as("x"))
      .groupBy(col("x")).agg(count(lit(1)).as("c1"))
    val totals = uni.agg(sum(col("c1")).as("t1"))
      .crossJoin(c2.agg(sum(col("c_ab")).as("t2")))
    val num = (col("c_ab").cast(dec) * col("t1").cast(dec) *
      col("t1").cast(dec)).cast(dec)
    val den = (col("t2").cast(dec) * col("c_a").cast(dec) *
      col("c_b").cast(dec)).cast(dec)
    // top-k output: seal — materialize, release the persisted word
    // arrays and bigram counts
    graft.sealResult(
      c2.join(uni.select(col("x").as("a"), col("c1").as("c_a")), "a")
        .join(uni.select(col("x").as("b"), col("c1").as("c_b")), "b")
        .crossJoin(broadcast(totals))
        .select(col("a"), col("b"), col("c_ab"),
          log(num.cast("double") / den.cast("double")).as("pmi_raw"))
        .orderBy(col("c_ab").desc, col("a").asc, col("b").asc)
        .limit(k),
      c2)
  }

  /** Token-blocklist screen (C4/RefinedWeb-style "bad words" pass) —
    * per doc: total blocked-token occurrences, the sorted distinct
    * matched terms, and the keep verdict. Every doc appears in the
    * output (clean docs with 0 hits), so the result IS the curation
    * decision table.
    *
    * Scale shape: the blocklist joins BROADCAST against the exploded
    * token stream — a real blocklist is 10²–10⁵ terms (kilobytes),
    * while the regex-union alternative rebuilds a DFA per term count
    * and the `arrays_overlap` form can't report WHICH terms hit. The
    * corpus shuffles once (doc-id re-aggregation); hit rows are
    * blocked-token-cardinality, a sliver of the token stream.
    */
  def blocklistScreen(df: DataFrame, textCol: String, idCol: String,
                      tokens: Column => Column,
                      blocklist: DataFrame, termCol: String): DataFrame = {
    val hits = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .join(broadcast(blocklist.select(col(termCol).as("term")).distinct()),
        "term")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_hits"),
        array_join(array_sort(collect_set(col("term"))), ",")
          .as("blocked_terms"))
    df.select(col(idCol).as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        coalesce(col("blocked_terms"), lit("")).as("blocked_terms"))
      .withColumn("keep", col("n_hits") === 0)
  }

  /** E58: per-domain document caps — the web-curation pass that stops
    * a handful of hot domains from dominating a crawl-derived corpus
    * (C4/RefinedWeb both cap per-host contributions). Domain from the
    * URL by anchored regex (engine-portable; parse_url-free so the
    * oracle is the same expression), rank within domain by the
    * content-keyed md5 order (deterministic across runs/partitionings
    * — a reproducible "random" k per domain, same trick as
    * [[graft.operators.Sampling.hashGate]]), keep = rank ≤ cap.
    *
    * Scale shape: ONE keyed shuffle on the domain for the rank window;
    * per-domain partitions are capped only logically (hot domains sort
    * more rows — for degenerate hosts holding >1 executor's share,
    * pre-filter with a count agg + hashGate at rate cap/n first).
    */
  def domainCap(df: DataFrame, urlCol: String, idCol: String,
                cap: Int): DataFrame = {
    val domain = regexp_extract(col(urlCol), "^[a-z]+://([^/]+)", 1)
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("__h"), col("id"))
    df.select(col(idCol).as("id"), domain.as("domain"),
        md5(col(idCol).cast("string").cast("binary")).as("__h"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .select(col("id"), col("domain"), col("rnk"),
        (col("rnk") <= cap).as("keep"))
  }

  /** E62: exact duplicate-span detection — the substring-dedup pass of
    * Lee et al. 2022 ("Deduplicating Training Data Makes Language
    * Models Better"): every MAXIMAL token range that participates in a
    * corpus-wide repeated k-gram, per document. Line dedup removes
    * repeated whole LINES and winnowing finds near-dup candidate
    * PAIRS; this is the stage between them — the memorization-prone
    * boilerplate (license headers, navigation chrome, quoted
    * passages) that should be CUT from documents, not used to drop
    * them.
    *
    * The paper's suffix array is a single-machine structure; the
    * distributed re-expression: a repeat of length ≥ k exists at
    * token position p iff the k-gram starting at p occurs ≥
    * `minOccurs` times corpus-wide, and any LONGER repeat is exactly
    * a run of flagged positions — so the maximal repeated ranges are
    * interval coalescing (gaps-and-islands) over the flagged gram
    * intervals [p, p+k). Half-open ends make adjacent flagged grams
    * fuse into one span under [[Intervals.coalesceIntervals]]'
    * closed-touching rule.
    *
    * Scale shape: grams assemble IN-ROW via the NATIVE shingle
    * expression (one explode — positions never pair up), ONE keyed
    * count on the gram, frequency filter BEFORE the join back so the
    * overwhelmingly-unique gram mass is discarded at the aggregate,
    * one per-doc window for the merge. The join-back (not a
    * collect_list of positions on the gram key) keeps a degenerate
    * boilerplate gram — millions of occurrences of one 5-gram — an
    * AQE-splittable hot join key instead of a single-row array
    * blowup; in practice the surviving-gram side is small and AQE
    * broadcasts it, so the full gram stream never shuffles at all.
    * The gram assembly runs twice (count + probe side — column
    * pruning splits the subtrees, so no exchange reuse): two cheap
    * codegen'd scans beat persisting the k×-inflated gram table,
    * which at 100 TB is the wrong trade.
    *
    * @return one row per maximal span: (id, span_start, span_end)
    *         token indices 0-based inclusive, span_tokens its length,
    *         n_grams the flagged k-grams it merged.
    */
  def duplicateSpans(df: DataFrame, textCol: String, idCol: String,
                     tokens: Column => Column, k: Int,
                     minOccurs: Long = 2L): DataFrame = {
    require(k >= 1, s"duplicateSpans: k must be >= 1, got $k")
    // NATIVE in-order shingles (plans.WordShingles): the composed
    // transform/slice/array_join form is an interpreted higher-order
    // loop — measured 55µs/gram, 17s just to ASSEMBLE grams at sf0.1
    // — and a codegen fence for the whole projection. The native
    // expression emits the same space-joined grams at index = token
    // position, so posexplode's pos IS the span start.
    val gs = graft.plans.TextNativeFunctions.wordShingles(
      tokens(col(textCol)), k)
    val grams = df.select(col(idCol).as("id"), gs.as("gs"))
      .select(col("id"), posexplode(col("gs")).as(Seq("pos", "g")))
    val dup = grams.groupBy(col("g"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= minOccurs)
    val hits = grams.join(dup, "g")
      .select(col("id"), col("pos").cast("long").as("s"),
        (col("pos") + k).cast("long").as("e"))
    Intervals.coalesceIntervals(hits, "id", "s", "e", "s")
      .select(col("id"), col("island_start").as("span_start"),
        (col("island_end") - 1).as("span_end"),
        (col("island_end") - col("island_start")).as("span_tokens"),
        col("n_intervals").as("n_grams"))
  }

  /** E66: duplicate-span CUTTING — the operational second half of
    * [[duplicateSpans]]: remove every flagged token range and re-emit
    * the cleaned text (Lee et al. cut repeated substrings rather than
    * drop documents; dropping loses the unique prose around the
    * boilerplate).
    *
    * Declarative end to end — the tempting per-doc "filter tokens by
    * index against the span list" lambda is the interpreted-HOF trap
    * §7 records (55µs/token); instead: tokens explode WITH positions
    * (native 1-shingles), spans explode to their positions (Σ span
    * lengths ≤ corpus tokens — linear), one (id, pos) ANTI equi-join
    * drops the cut tokens, and per-doc reassembly is ONE keyed agg
    * with an in-row struct sort (collect order is partition-dependent;
    * the sort makes the text a pure function of the data). The only
    * per-doc lambda is a field projection over the final array —
    * per-doc, not per-token-pair, the q_event_paths-proven shape.
    *
    * @param spans output of [[duplicateSpans]]: (id, span_start,
    *              span_end, …) token ranges to cut.
    * @return (id, clean_text, n_kept, n_cut) per document (docs with
    *         nothing flagged pass through unchanged).
    */
  def cutSpans(df: DataFrame, textCol: String, idCol: String,
               tokens: Column => Column, spans: DataFrame): DataFrame = {
    val toks = df.select(col(idCol).as("id"),
        posexplode(graft.plans.TextNativeFunctions.wordShingles(
          tokens(col(textCol)), 1)).as(Seq("pos", "tok")))
      .select(col("id"), col("pos").cast("long").as("pos"), col("tok"))
    val cut = spans.select(col("id"),
      explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val kept = toks.join(cut, Seq("id", "pos"), "left_anti")
    val total = toks.groupBy(col("id")).agg(count(lit(1)).as("n_total"))
    val reassembled = kept.groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("pos"), col("tok"))))
        .as("arr"))
      .select(col("id"),
        array_join(transform(col("arr"), s => s.getField("tok")), " ")
          .as("clean_text"),
        size(col("arr")).cast("long").as("n_kept"))
    // left from totals: a FULLY-flagged doc keeps its row with empty
    // text rather than silently disappearing from the corpus
    total.join(reassembled, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_cut"))
  }

  /** E59: corpus distribution divergence — KL(A‖B), KL(B‖A) and
    * Jensen–Shannon divergence between the word distributions of two
    * corpora, with add-one smoothing over the UNION vocabulary. The
    * mixture-monitoring number: "did this month's crawl drift from
    * last month's", "how far is the curated mix from the target
    * domain" — one scalar per corpus pair, comparable over time.
    *
    * Scale shape: two keyed count aggregates (one per corpus), one
    * full-outer equi-join on the term, totals + vocab size as ONE
    * 1-row broadcast. Counts and smoothing denominators stay exact
    * integers; each term's p, q are single divisions of exact ints.
    * The ln SUM is folded in sorted-term order over a vocab-
    * cardinality array (the discrete-quantile rationale: vocabulary
    * is bounded, the corpus is not), so the fold order is a pure
    * function of the data — gates round at 6dp for the ln-ulp rule.
    *
    * JS = ½·Σ [p·ln(p/m) + q·ln(q/m)], m = (p+q)/2 — symmetric,
    * bounded by ln 2, the standard "corpus distance".
    *
    * @return one row: (n_terms, tot_a, tot_b, kl_ab, kl_ba, js) with
    *         divergences as RAW doubles (callers round).
    */
  def distributionDivergence(a: DataFrame, b: DataFrame, textCol: String,
                             tokens: Column => Column): DataFrame = {
    def counts(df: DataFrame, out: String) =
      df.select(explode(tokens(col(textCol))).as("term"))
        .groupBy(col("term")).agg(count(lit(1)).as(out))
    val joined = counts(a, "ca").join(counts(b, "cb"), Seq("term"), "full_outer")
      .select(col("term"), coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = joined.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"),
      count(lit(1)).as("v"))
    // exact-int numerators/denominators; ONE division each, in this
    // exact order (oracle mirrors op-for-op)
    val p = (col("ca") + 1).cast("double") /
      (col("ta") + col("v")).cast("double")
    val q = (col("cb") + 1).cast("double") /
      (col("tb") + col("v")).cast("double")
    val m = (p + q) / 2.0
    val terms = joined.crossJoin(broadcast(tot))
      .select(struct(col("term"), (p * log(p / q)).as("kab"),
        (q * log(q / p)).as("kba"),
        (p * log(p / m) + q * log(q / m)).as("jst")).as("s"),
        col("ta"), col("tb"))
    def foldField(f: String) =
      aggregate(transform(col("arr"), x => x(f)), lit(0.0), _ + _)
    val result = terms.groupBy(col("ta"), col("tb"))
      .agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(size(col("arr")).cast("long").as("n_terms"),
        col("ta").as("tot_a"), col("tb").as("tot_b"),
        foldField("kab").as("kl_ab"), foldField("kba").as("kl_ba"),
        (foldField("jst") * 0.5).as("js"))
    graft.sealResult(result, joined)
  }

  /** E60: hashed linear quality classifier — the fasttext-shaped
    * model-based filter (DCLM / FineWeb-Edu's curation workhorse)
    * reduced to its engine side: score = σ(w·x/n) over hashing-trick
    * bag-of-words features (E33's bucketing), weights BROADCAST (a
    * linear model is kilobytes against a 100 TB corpus; training
    * lives outside the engine — this is the serving path).
    *
    * Weights arrive as a (bucket, w_milli) table in exact MILLI-units
    * so the dot product Σ tf·w stays a pure integer aggregate at any
    * parallelism — the float path is one division (z/(1000·n)) plus
    * the sigmoid at the end, and the keep verdict (σ ≥ ½ ⇔ z ≥ 0)
    * is EXACT integer arithmetic, immune to the sigmoid's ulp noise.
    *
    * Scale shape: explode → ONE keyed (doc, bucket) count aggregate →
    * broadcast weight join → per-doc integer sum. No window, no
    * driver state.
    *
    * @return (id, n_tokens, z_milli, score_raw, keep) — score_raw is
    *         the RAW sigmoid double (callers round at 6dp).
    */
  def hashedLinearScore(df: DataFrame, textCol: String, idCol: String,
                        tokens: Column => Column,
                        weights: DataFrame, bucketCol: String,
                        wCol: String, nBuckets: Int = 64): DataFrame = {
    val tf = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("term"))
      .withColumn("bucket",
        conv(substring(md5(col("term")), 7, 2), 16, 10).cast("long")
          % nBuckets)
      .groupBy(col("id"), col("bucket")).agg(count(lit(1)).as("tf"))
    val z = tf.join(broadcast(weights.select(col(bucketCol).as("bucket"),
        col(wCol).as("w"))), Seq("bucket"), "left")
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * coalesce(col("w"), lit(0L))).as("z_milli"))
    z.select(col("id"), col("n_tokens"), col("z_milli"),
      (lit(1.0) / (lit(1.0) + exp(-(col("z_milli").cast("double") /
        (col("n_tokens").cast("double") * 1000.0))))).as("score_raw"),
      (col("z_milli") >= 0).as("keep"))
  }

  /** N-gram novelty against a reference corpus: per probe doc, the
    * fraction of its distinct word n-grams absent from the reference's
    * gram set — the information-gain side of decontamination (E22
    * flags overlap with an EVAL set; this scores NEW batches against
    * what the corpus already holds, the "is this crawl adding
    * anything" number dedup can't give: a doc can be no one's
    * near-duplicate yet contribute nothing but already-seen phrases).
    *
    * Scale shape: distinct (doc, gram) via the native shingle
    * expression, the ref gram set is gram-keyed — the anti join is an
    * equi-join on the gram (hash-partitionable; at 100 TB the ref set
    * is a gram-bucketed table and this is a shuffle-free bucket
    * join, the E40/E45 store discipline); two keyed aggs after.
    * `novelty` is ONE raw double division of exact ints. Docs with
    * fewer than n words have no grams and drop from the report.
    *
    * @return (id, n_grams, n_novel, novelty).
    */
  def noveltyScore(probe: DataFrame, ref: DataFrame, textCol: String,
                   idCol: String, n: Int): DataFrame = {
    val pg = Dedup.docShingles(probe, textCol, idCol, n)
    val rg = Dedup.docShingles(ref, textCol, idCol, n)
      .select(col("sh")).distinct()
    val tot = pg.groupBy(col("id")).agg(count(lit(1)).as("n_grams"))
    val novel = pg.join(rg, Seq("sh"), "left_anti")
      .groupBy(col("id")).agg(count(lit(1)).as("n_novel"))
    tot.join(novel, Seq("id"), "left")
      .select(col("id"), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") /
          col("n_grams").cast("double")).as("novelty"))
  }

  /** Anchor-text aggregation — the classic web-graph relevance signal:
    * for every link TARGET, the terms other pages use when linking to
    * it (what search engines index a page under beyond its own
    * content). Harvests `<a href>…</a>` (href, anchor) pairs with two
    * aligned `regexp_extract_all` passes (groups 1 and 2 of ONE
    * pattern — identical match sequence, so the zip is positionally
    * exact), keeps absolute http(s) targets, canonicalizes the target
    * with [[graft.functions.TextFunctions.normalizeUrl]], cleans the
    * anchor (inner tags → space, the stripHtml entity fold with &amp;
    * last, lowercase, whitespace collapse), and counts terms per
    * target.
    *
    * Scale shape: extraction/cleaning run inside the scan stage
    * (RE2 ∩ Java patterns, oracle replays them); the (url, term)
    * count is the ONLY data-sized shuffle; the top-k rank window runs
    * over per-url DISTINCT TERM counts (vocabulary-bounded, the
    * keyword_topk rationale), ties (count desc, term asc).
    *
    * @return (url, term, n, rank) — top `topK` anchor terms per target.
    */
  def anchorText(pages: DataFrame, htmlCol: String, topK: Int): DataFrame = {
    val pat = "(?is)<a\\s[^>]*href\\s*=\\s*[\"']([^\"']+)[\"'][^>]*>(.*?)</a>"
    val pairs = pages
      .withColumn("__u", regexp_extract_all(col(htmlCol), lit(pat), lit(1)))
      .withColumn("__t", regexp_extract_all(col(htmlCol), lit(pat), lit(2)))
      .select(explode(arrays_zip(col("__u"), col("__t"))).as("l"))
      .select(col("l.__u").as("raw_url"), col("l.__t").as("raw_anchor"))
      .filter(col("raw_url").rlike("(?i)^https?://"))
    val noTags = regexp_replace(col("raw_anchor"), "(?s)<[^>]+>", " ")
    val decoded = Seq(
      "&nbsp;" -> " ", "&quot;" -> "\"", "&#39;" -> "'",
      "&lt;" -> "<", "&gt;" -> ">", "&amp;" -> "&"
    ).foldLeft(noTags) { case (acc, (ent, ch)) =>
      regexp_replace(acc, ent, ch)
    }
    val cleaned = pairs.select(
      graft.functions.TextFunctions.normalizeUrl(col("raw_url")).as("url"),
      trim(regexp_replace(lower(decoded), "\\s+", " ")).as("anchor"))
    val counts = cleaned
      .select(col("url"), explode(split(col("anchor"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("url"), col("term"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("url"))
      .orderBy(col("n").desc, col("term"))
    counts.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
  }

  /** Template detection (boilerplate-page clustering): docs sharing a
    * STRUCTURE skeleton — every alphanumeric run collapsed to `#`,
    * whitespace normalized — group under one md5 fingerprint, so pages
    * generated from the same template (identical punctuation / markup
    * shape, varying content words and numbers) collapse regardless of
    * their text. The web-curation companion to near-dup: MinHash needs
    * content overlap, a template match needs none.
    *
    * Scale shape: the skeleton is two codegen'd regexp_replace passes
    * inside the scan stage (RE2 ∩ Java dialect, oracle replays the
    * identical patterns); the fingerprint groupBy is the ONLY shuffle,
    * and output is fingerprint-cardinality. Representative = min doc
    * id (deterministic).
    *
    * @return (fingerprint, n_docs, rep_doc) for skeletons shared by
    *         ≥ minDocs docs.
    */
  def templateFingerprint(df: DataFrame, idCol: String, textCol: String,
                          minDocs: Long): DataFrame = {
    val skeleton = trim(regexp_replace(
      regexp_replace(col(textCol), "[A-Za-z0-9]+", "#"), "\\s+", " "))
    df.select(col(idCol).as("doc_id"), md5(skeleton).as("fingerprint"))
      .groupBy(col("fingerprint"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("rep_doc"))
      .filter(col("n_docs") >= minDocs)
  }

  /** E84: multinomial Naive Bayes, trained and served in one pass —
    * the canonical "training at 100 TB is COUNTING" classifier
    * (language ID, topic routing, spam screens): all model state is
    * exact integer counts (class-token counts, class token totals,
    * doc priors, vocabulary size), each likelihood
    * tf·ln((c_kt+1)/(n_k+V)) divides exact integers (add-one
    * smoothing), and per-(doc, class) scores fold in sorted-term
    * order over a doc-vocabulary array — the E41 ln discipline, 6dp
    * at output. Prediction = argmax with ties to the smaller class
    * label via one per-doc window over class-cardinality rows.
    *
    * Scale shape: two keyed count aggregates (class-token, doc-term),
    * the class table (|K| rows) and scalar constants broadcast; the
    * only data-sized shuffles are the two counts and the
    * (class, term)-keyed smoothing join. Self-scoring here
    * (resubstitution); a train/serve split is the same plan with two
    * inputs.
    *
    * @return (doc_id, true label, pred, score 6dp).
    */
  def naiveBayesScore(docs: DataFrame, idCol: String, labelCol: String,
                      textCol: String, tokens: Column => Column): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      col(labelCol).as("__y"), explode(tokens(col(textCol))).as("term"))
    val ctk = toks.groupBy(col("__y").as("k"), col("term"))
      .agg(count(lit(1)).as("__ctk"))
    val nk = ctk.groupBy(col("k")).agg(sum(col("__ctk")).as("__nk"))
    val vdf = ctk.agg(count_distinct(col("term")).as("__v"))
    val prior = docs.groupBy(col(labelCol).as("k"))
      .agg(count(lit(1)).as("__dk"))
    val nd = docs.agg(count(lit(1)).as("__nd"))
    val docTf = toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("__tf"))
    val classes = broadcast(nk.crossJoin(broadcast(vdf)))
    val contrib = docTf.crossJoin(classes)
      .join(ctk, Seq("k", "term"), "left")
      .select(col("doc_id"), col("k"), col("term"),
        (col("__tf").cast("double") *
          log((coalesce(col("__ctk"), lit(0L)) + 1).cast("double") /
            (col("__nk") + col("__v")).cast("double"))).as("__c"))
    val folded = contrib
      .groupBy(col("doc_id"), col("k"))
      .agg(array_sort(collect_list(struct(col("term"), col("__c"))))
        .as("arr"))
      .select(col("doc_id"), col("k"),
        aggregate(transform(col("arr"), x => x("__c")), lit(0.0), _ + _)
          .as("__fold"))
    val scored = folded
      .join(broadcast(prior.crossJoin(broadcast(nd))), "k")
      .select(col("doc_id"), col("k"),
        (log(col("__dk").cast("double") / col("__nd").cast("double")) +
          col("__fold")).as("__s"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("__s").desc, col("k"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .join(docs.select(col(idCol).as("doc_id"), col(labelCol)), "doc_id")
      .select(col("doc_id"), col(labelCol), col("k").as("pred"),
        round(col("__s"), 6).as("score"))
  }

  /** E85: fixed-point batch perceptron training (Rosenblatt 1958,
    * batch form) over hashing-trick features — the TRAINING twin of
    * [[hashedLinearScore]]'s serving path, and the round-4 fixed-point
    * discipline applied to an actual linear-model fit: ALL state is
    * exact integers (weights, bias, margins = Σ tf·w), each round's
    * update Δw_b = Σ_misclassified y·tf_db is a commutative integer
    * sum — so training is bit-identical on any engine, partitioning,
    * or cluster size, and the full weight table carries a HARD hash
    * oracle with the rounds unrolled in integer DuckDB SQL (the
    * PageRank/k-means/PQ rung, now for supervised learning).
    *
    * Scale shape per round: one broadcast weight join (≤ nBuckets
    * rows) + one doc-keyed margin aggregate + one bucket-keyed update
    * aggregate; driver traffic is nBuckets longs per round (the
    * k-means centroid-pull discipline). The corpus never shuffles
    * beyond its (doc, bucket) count. Hybrid rung: a (doc, bucket)
    * table within the shared [[graft.hybrid]] rung instead collects
    * once and runs the identical integer recurrence on the driver (the
    * Graph.scala small-input discipline; bit-equal, CorpusSpec).
    *
    * Output: one row per distinct feature bucket (bucket, weight),
    * plus (−1, bias) and (−2, misclassified count under the final
    * weights).
    */
  def perceptronTrain(docs: DataFrame, idCol: String, labelCol: String,
                      textCol: String, tokens: Column => Column,
                      nBuckets: Int = 64, rounds: Int = 3): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val feats = docs.select(col(idCol).as("doc_id"),
        when(col(labelCol), 1L).otherwise(-1L).as("y"),
        explode(tokens(col(textCol))).as("term"))
      .withColumn("b",
        conv(substring(md5(col("term")), 7, 2), 16, 10).cast("long")
          % nBuckets)
      .groupBy(col("doc_id"), col("y"), col("b"))
      .agg(count(lit(1)).as("tf"))
    // the count materializes the cache for the loop AND decides the
    // hybrid rung (the Graph.scala discipline): a (doc, bucket) table
    // within the size gate makes the rounds·(margins + delta)
    // jobs pure scheduling floor — run the IDENTICAL integer recurrence
    // on collected arrays instead. Every update is a commutative
    // integer sum, so driver and distributed paths are bit-equal
    // (asserted in CorpusSpec), and real corpora (rows ≈ docs ×
    // distinct-bucket count, over the gate) take the distributed loop.
    // 64 bytes per row: four longs collected as a generic Row.
    graft.hybrid("perceptronTrain", feats, 64) { rows =>
      val byDoc = rows.groupBy(_.get(0))
      var w = scala.collection.mutable.Map.empty[Long, Long]
      var bias = 0L
      var errs = 0L
      for (r <- 0 to rounds) {
        val mis = byDoc.valuesIterator.filter { rs =>
          val y = rs.head.getLong(1)
          var m = bias
          rs.foreach(row =>
            m += row.getLong(3) * w.getOrElse(row.getLong(2), 0L))
          y * m <= 0L
        }.toArray
        if (r < rounds) {
          mis.foreach { rs =>
            val y = rs.head.getLong(1)
            rs.foreach(row => w.updateWith(row.getLong(2))(prev =>
              Some(prev.getOrElse(0L) + y * row.getLong(3))))
            bias += y
          }
        } else errs = mis.length.toLong
      }
      val buckets = rows.map(_.getLong(2)).distinct.sorted
      Some((buckets.map(b => (b, w.getOrElse(b, 0L))).toSeq ++
        Seq((-1L, bias), (-2L, errs))).toDF("bucket", "weight"))
    } { (feats, _) =>
      var w = Map.empty[Long, Long]
      var bias = 0L
      var errs = 0L
      // ONE collect per round (VERDICT r5 §wrong.2 — the old loop ran a
      // delta job + a bias job per round, then one more margins pass for
      // the final error count: ~8 small jobs of pure scheduling floor).
      // The bias delta and the misclassified count ride the bucket-delta
      // aggregate as pseudo-bucket rows (-1, -2 — real buckets are
      // md5 % nBuckets ≥ 0); the three union branches share the margins
      // aggregate's exchange (ReuseExchange), so the corpus-sized work
      // still happens once. Round `rounds` applies no update — it only
      // reads the error count under the FINAL weights, replacing the old
      // trailing margins job.
      for (r <- 0 to rounds) {
        val wDf = broadcast((if (w.isEmpty) Seq((-999L, 0L)) else w.toSeq)
          .toDF("b", "w"))
        val mis = feats.join(wDf, Seq("b"), "left")
          .groupBy(col("doc_id"), col("y"))
          .agg((coalesce(sum(col("tf") * coalesce(col("w"), lit(0L))),
            lit(0L)) + bias).as("m"))
          .filter(col("y") * col("m") <= 0)
          .select(col("doc_id"), col("y"))
        val d = feats.join(mis.select("doc_id"), "doc_id")
            .select(col("b"), (col("y") * col("tf")).as("v"))
          .unionAll(mis.select(lit(-1L).as("b"), col("y").as("v")))
          .unionAll(mis.select(lit(-2L).as("b"), lit(1L).as("v")))
          .groupBy(col("b")).agg(sum(col("v")).as("d"))
          .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
        if (r < rounds) {
          val bd = d.keySet.filter(_ >= 0L)
          w = (w.keySet ++ bd).map(b =>
            b -> (w.getOrElse(b, 0L) + d.getOrElse(b, 0L))).toMap
          bias += d.getOrElse(-1L, 0L)
        } else errs = d.getOrElse(-2L, 0L)
      }
      val wDf = (if (w.isEmpty) Seq((-999L, 0L)) else w.toSeq).toDF("b", "wv")
      val out = feats.select(col("b")).distinct()
        .join(broadcast(wDf), Seq("b"), "left")
        .select(col("b").as("bucket"),
          coalesce(col("wv"), lit(0L)).as("weight"))
        .union(Seq((-1L, bias), (-2L, errs)).toDF("bucket", "weight"))
      graft.sealResult(out, feats)
    }
  }

  /** E86: Zipf rank-frequency fit — the corpus-health diagnostic
    * (natural text follows freq ∝ rank^s with s ≈ −1; template spam,
    * boilerplate floods, and synthetic filler bend the curve): OLS of
    * ln(freq) on ln(rank) over the top-K terms. Rank via
    * `orderBy.limit` = TakeOrderedAndProject (per-partition heaps, no
    * global sort) with the row_number window running on the K-row
    * result only (the E43 discipline); each ln is a single call on an
    * exact integer; the four OLS sums fold in rank order over the
    * K-element array; slope/intercept are fixed-order IEEE ops, 6dp
    * (the ln rule).
    *
    * @return one row: (n_terms, slope, intercept).
    */
  def zipfFit(docs: DataFrame, textCol: String,
              tokens: Column => Column, topK: Int = 1000): DataFrame = {
    val counts = docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(topK)
    val w = Window.orderBy(col("n").desc, col("term"))
    val xy = counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(struct(col("rank"),
        log(col("rank").cast("double")).as("x"),
        log(col("n").cast("double")).as("y")).as("s"))
    def f(fld: String) =
      aggregate(transform(col("arr"), x => x(fld)), lit(0.0), _ + _)
    def f2(a: String, b: String) =
      aggregate(transform(col("arr"), x => x(a) * x(b)), lit(0.0), _ + _)
    val k = size(col("arr")).cast("double")
    val slope = (k * f2("x", "y") - f("x") * f("y")) /
      (k * f2("x", "x") - f("x") * f("x"))
    xy.agg(array_sort(collect_list(col("s"))).as("arr"))
      .select(size(col("arr")).cast("long").as("n_terms"),
        round(slope, 6).as("slope"),
        round((f("y") - slope * f("x")) / k, 6).as("intercept"))
  }

  /** E89: term burstiness (index of dispersion / Fano factor, Church &
    * Gale 1995 lineage) — the statistic that separates CONTENT words
    * (bursty: absent from most docs, repeated where present, D ≫ 1)
    * from FUNCTION words (Poisson-like, D ≈ 1) without any stopword
    * list; feeds keyword extraction and stopword induction. Per term
    * over ALL N docs (zeros included — via the moment identity, never
    * a dense join): D = var/mean = (N·S2 − S1²)/(N·S1) with
    * S1 = Σ tf, S2 = Σ tf² exact integer sums, ONE raw double
    * division (raw-double safe). Top-K terms by (S1 desc, term) via
    * TakeOrderedAndProject.
    *
    * @return (term, df, total_tf, dispersion) for the top-K terms.
    */
  /** Good–Turing frequency-spectrum smoothing (Good, Biometrika 1953)
    * — the vocabulary statistic LM data work leans on: from the
    * counts-of-counts spectrum N_r = |{terms seen exactly r times}|,
    * the smoothed count r* = (r+1)·N_{r+1}/N_r estimates how much
    * probability mass a count-r term DESERVES, and N_1/N is the
    * Good–Turing estimate of the unseen-mass — the "how much
    * vocabulary is this corpus still missing" number that decides
    * whether to crawl more of a domain.
    *
    * Plan shape: term counts (one keyed agg) → spectrum (one agg at
    * count-cardinality) → self-join of the TINY spectrum frame on
    * r+1. Exact integers; r* in floor-div micro-units; the unseen
    * mass joins in as a broadcast 1-row total.
    *
    * @return rows r = 1..maxR: (r, n_r, r_star_micro — null when
    *         N_{r+1} = 0, the classic spectrum-gap cutoff) plus
    *         p0_micro = ⌊N_1·10⁶/N⌋ repeated per row (N = total
    *         token occurrences).
    */
  def goodTuring(docs: DataFrame, idCol: String, textCol: String,
                 tokens: Column => Column, maxR: Int = 10): DataFrame = {
    require(maxR >= 1)
    val counts = docs.select(explode(tokens(col(textCol))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("r"))
    val spectrum = counts.groupBy(col("r"))
      .agg(count(lit(1)).as("n_r"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = spectrum.agg(sum(col("r") * col("n_r")).as("n_tokens"),
      max(when(col("r") === 1, col("n_r"))).as("n1"))
    val next = spectrum.select((col("r") - 1).as("r"),
      col("n_r").as("n_next"))
    val out = spectrum.filter(col("r") <= maxR)
      .join(next, Seq("r"), "left")
      .crossJoin(broadcast(totals))
      .select(col("r"), col("n_r"),
        expr("((r + 1) * n_next * 1000000) div n_r").as("r_star_micro"),
        expr("coalesce(n1, 0L) * 1000000 div n_tokens").as("p0_micro"))
    // maxR rows: seal — materialize, release the persisted spectrum
    graft.sealResult(out, spectrum)
  }

  def burstiness(docs: DataFrame, idCol: String, textCol: String,
                 tokens: Column => Column, topK: Int = 20): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(tokens(col(textCol))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val n = docs.agg(count(lit(1)).as("__n"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
        sum(col("tf") * col("tf")).as("__s2"))
      .crossJoin(broadcast(n))
      .select(col("term"), col("df"), col("total_tf"),
        ((col("__n") * col("__s2") - col("total_tf") * col("total_tf"))
          .cast("double") /
          (col("__n") * col("total_tf")).cast("double")).as("dispersion"))
      .orderBy(col("total_tf").desc, col("term")).limit(topK)
  }

  /** Deterministic hashed weights for [[hashedLinearScore]] — w_b =
    * (first 6 md5 hex digits of "w‖b") mod 2001 − 1000 ∈ [−1000,
    * 1000] milli-units. Engine-portable (the oracle rebuilds the same
    * table in SQL); a real deployment would load trained weights
    * instead.
    */
  def hashedWeights(spark: org.apache.spark.sql.SparkSession,
                    nBuckets: Int = 64): DataFrame = {
    import spark.implicits._
    (0 until nBuckets).map(_.toLong).toDF("bucket")
      .select(col("bucket"),
        (conv(substring(md5(concat(lit("w"), col("bucket").cast("string"))),
          1, 6), 16, 10).cast("long") % 2001 - 1000).as("w_milli"))
  }

  /** E99: cross-source duplication matrix — for every source pair, how
    * much of source A's distinct content also appears in source B: the
    * corpus-governance readout before mixing sources (cross-source
    * duplicates silently inflate a mixture's effective weight; E1/E26
    * FIX overlaps, this MEASURES where they come from, the table a
    * data-governance review asks for).
    *
    * Keyed by content fingerprint throughout: distinct (fp, source)
    * pairs, then an fp-equi self-join whose fan-out is bounded by the
    * number of sources a fingerprint appears in (≤ |sources| — never
    * corpus-quadratic), collapsing straight to source²-cardinality.
    * Shares are floor micro-units of exact counts.
    *
    * @return (source_a, source_b, n_a, n_b, n_shared, share_a_micro,
    *         share_b_micro) for source_a < source_b, only pairs with
    *         shared content.
    */
  def crossSourceDuplication(docs: DataFrame, textCol: String,
                             sourceCol: String): DataFrame = {
    val fps = docs
      .select(graft.functions.TextFunctions.fingerprint(col(textCol))
        .as("fp"), col(sourceCol).as("src"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = fps.groupBy(col("src")).agg(count(lit(1)).as("n"))
    val shared = fps.toDF("fp", "source_a")
      .join(fps.toDF("fp", "source_b"), "fp")
      .filter(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("n_shared"))
    val out = shared
      .join(broadcast(counts.toDF("source_a", "n_a")), "source_a")
      .join(broadcast(counts.toDF("source_b", "n_b")), "source_b")
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        col("n_shared"),
        expr("n_shared * 1000000 div n_a").as("share_a_micro"),
        expr("n_shared * 1000000 div n_b").as("share_b_micro"))
    graft.sealResult(out, fps)
  }

  /** E96: TextRank corpus keywords (Mihalcea & Tarau, EMNLP 2004) —
    * PageRank over the word co-occurrence graph (adjacent-word window,
    * the paper's window=2 default), the graph-based alternative to
    * [[tfIdf]] frequency scoring: a word matters because it co-occurs
    * with words that matter, which surfaces connective domain
    * vocabulary plain counts miss.
    *
    * Built from the library's own pieces: adjacency pairs are generated
    * IN-ROW (zip of the token array with its own tail — no positional
    * self-join), symmetrized + deduped, and ranked by
    * [[Graph.pageRankFixed]] — the exact-integer fixed-point iteration
    * (hash-gateable; hybrid driver rung under the size gate for
    * free). Words enter the graph as 48-bit md5-prefix ids so node ids
    * never need a global dictionary sort (at web scale the vocabulary
    * is millions of words — a row_number dictionary would single-
    * partition it). A 48-bit collision would merge two words
    * identically on every engine (determinism unaffected); odds at a
    * 10⁷-word vocabulary are ~10⁻⁴ per corpus, documented here.
    *
    * @return top `topK` rows: (word, rank_fp), rank descending, ties
    *         by word.
    */
  def textRank(docs: DataFrame, textCol: String,
               iterations: Int = 5, topK: Int = 30): DataFrame = {
    require(iterations >= 1 && topK >= 1)
    def wordId(c: Column): Column =
      conv(substring(md5(c.cast("binary")), 1, 12), 16, 10).cast("long")
    val adj = docs
      .select(split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= 2)
      .select(explode(arrays_zip(
        slice(col("w"), lit(1), size(col("w")) - 1).as("wa"),
        slice(col("w"), lit(2), size(col("w")) - 1).as("wb"))).as("p"))
      .select(col("p.wa").as("wa"), col("p.wb").as("wb"))
      .filter(col("wa") =!= col("wb") &&
        col("wa") =!= "" && col("wb") =!= "")
    val edges = adj
      .union(adj.select(col("wb").as("wa"), col("wa").as("wb")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ranks = Graph.pageRankFixed(
      edges.select(wordId(col("wa")).as("src"), wordId(col("wb")).as("dst")),
      "src", "dst", iterations = iterations)
    val vocab = edges.select(col("wa").as("word")).distinct()
      .select(col("word"), wordId(col("word")).as("id"))
    val out = ranks.join(vocab, "id")
      .orderBy(col("rank_fp").desc, col("word"))
      .limit(topK)
      .select(col("word"), col("rank_fp"))
    graft.sealResult(out, edges)
  }

  /** E104: NDCG@k ranking evaluation (Järvelin & Kekäläinen, TOIS
    * 2002) — how close a retrieval ranking comes to the ideal one,
    * with graded relevance and rank discounting. Retrieval here is
    * the E94 quantized-BM25 discipline (floor(raw·10⁴+0.5) BEFORE any
    * ordering — raw ln scores are not a cross-engine sort key);
    * relevance is the exact term frequency.
    *
    * The discount table 1/log₂(i+1) is transcendental, so it is
    * computed ONCE on the driver as ⌊10⁶/log₂(i+1)⌋ micro-weights and
    * the SAME literals feed both engines — DCG/IDCG become exact
    * integer dot products and NDCG one integer floor division.
    * Per-term ranking runs as a window over docs-containing-term; the
    * 100 TB form swaps it for the TopKBy map-side heap (H3) with a
    * packed (s4, id) score, same result by construction.
    *
    * @return per query term: (term, dcg_micro, idcg_micro,
    *         ndcg_micro = ⌊dcg·10⁶/idcg⌋).
    */
  def ndcgAtK(df: DataFrame, textCol: String, idCol: String,
              tokens: Column => Column, queryTerms: Seq[String],
              k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty && k >= 1)
    val sc = bm25(df, textCol, idCol, tokens)
      .filter(col("term").isin(queryTerms: _*))
      .select(col("term"), col("id"), col("tf"),
        floor(col("bm25_raw") * 10000 + 0.5).cast("long").as("s4"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wArr = array(ndcgWeights(k).map(lit): _*)
    val ranked = Window.partitionBy(col("term"))
      .orderBy(col("s4").desc, col("id"))
    val ideal = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("id"))
    val dcg = sc.withColumn("rn", row_number().over(ranked))
      .filter(col("rn") <= k)
      .groupBy(col("term"))
      .agg(sum(col("tf") * element_at(wArr, col("rn"))).as("dcg_micro"))
    val idcg = sc.withColumn("rn", row_number().over(ideal))
      .filter(col("rn") <= k)
      .groupBy(col("term"))
      .agg(sum(col("tf") * element_at(wArr, col("rn"))).as("idcg_micro"))
    graft.sealResult(dcg.join(idcg, "term")
      .select(col("term"), col("dcg_micro"), col("idcg_micro"),
        expr("dcg_micro * 1000000L div idcg_micro").as("ndcg_micro")),
      sc)
  }

  /** Driver-computed micro discount weights ⌊10⁶/log₂(i+1)⌋ for ranks
    * 1..k — the single source of truth for Spark AND the oracle SQL
    * (literal equality, no cross-engine transcendental).
    */
  def ndcgWeights(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.floor(1000000.0 / (math.log(i + 1.0) / math.log(2.0))).toLong)

  /** E105: interpolated Kneser–Ney bigram LM scoring (Kneser & Ney,
    * ICASSP 1995; Chen & Goodman 1999) — the smoothing real LM data
    * work uses where E41's add-one is the baseline: mass discounted
    * from seen bigrams is redistributed by CONTINUATION counts (how
    * many contexts a word follows), not raw frequency — "Francisco"
    * is frequent but predicts poorly outside "San _".
    *
    * With discount d = 3/4 every probability is the exact rational
    *
    *   P(v|u) = (c(uv) − 3/4)/c(u•) + (3/4)·N₁₊(u•)/c(u•) · N₁₊(•v)/B
    *          = (B·(4·c(uv) − 3) + 3·N₁₊(u•)·N₁₊(•v)) / (4·c(u•)·B)
    *
    * (c(uv) ≥ 1 in self-scoring so the (c−d)⁺ clamp never binds; B =
    * distinct bigram types). Numerator and denominator are exact
    * BIGINTs — safe while B·c(uv) < 2.3e18, i.e. far past any single
    * corpus shard — so each bigram's ln(P) is ONE IEEE division + ln,
    * and the per-doc sum folds in position order over the doc's own
    * bigram array (the E41 ln discipline), 6dp at output.
    *
    * Plan shape: one bigram explode feeds four keyed count aggregates
    * (bigram, context, forward-distinct, backward-distinct) + a 1-row
    * B broadcast; the per-doc fold is one more keyed agg.
    *
    * @return (doc_id, n_bigrams, kn_avg_lnp 6dp).
    */
  def kneserNeyScore(df: DataFrame, textCol: String,
                     idCol: String): DataFrame = {
    import graft.functions.TextFunctions
    val w = df.select(col(idCol).as("id"),
      TextFunctions.words(col(textCol)).as("ws"))
    val idxs = when(size(col("ws")) >= 2,
      sequence(lit(1), size(col("ws")) - 1))
      .otherwise(array().cast("array<int>"))
    val big = w.select(col("id"), explode(transform(idxs, i =>
        struct(i.as("pos"), element_at(col("ws"), i).as("a"),
          element_at(col("ws"), i + 1).as("b")))).as("g"))
      .select(col("id"), col("g.pos").as("pos"), col("g.a").as("a"),
        col("g.b").as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val c2 = big.groupBy(col("a"), col("b")).agg(count(lit(1)).as("c2"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cu = big.groupBy(col("a")).agg(count(lit(1)).as("cu"))
    val fwd = c2.groupBy(col("a")).agg(count(lit(1)).as("fwd"))
    val back = c2.groupBy(col("b")).agg(count(lit(1)).as("back"))
    val btot = c2.agg(count(lit(1)).as("bt"))
    val lnp = log(
      (col("bt") * (lit(4L) * col("c2") - 3L) +
        lit(3L) * col("fwd") * col("back")).cast("double") /
        (lit(4L) * col("cu") * col("bt")).cast("double"))
    graft.sealResult(
      big.join(c2, Seq("a", "b")).join(cu, Seq("a"))
        .join(fwd, Seq("a")).join(back, Seq("b"))
        .crossJoin(broadcast(btot))
        .select(col("id"), col("pos"), lnp.as("lnp"))
        .groupBy(col("id"))
        .agg(count(lit(1)).as("n_bigrams"),
          round(aggregate(
            transform(array_sort(collect_list(struct(col("pos"), col("lnp")))),
              x => x.getField("lnp")),
            lit(0.0), (acc, x) => acc + x)
            / count(lit(1)).cast("double"), 6).as("kn_avg_lnp")),
      big, c2)
  }

  /** E102: Heaps'-law vocabulary-growth curve (Heaps 1978) — distinct
    * vocabulary V as a function of corpus size N, the "is more data
    * still buying new language?" readout behind crawl-more and
    * tokenizer-sizing decisions (V ≈ K·N^β, β ≈ 0.5 for natural
    * text; a β near 0 says the corpus is exhausted/templated, near 1
    * says it's unboundedly diverse — or noise).
    *
    * The naive form (running distinct over an ordered doc stream) is a
    * sequential scan; the FIRST-OCCURRENCE method distributes it:
    * docs bucket by id range into `nBuckets` prefix slices, each
    * term's first bucket is ONE min-aggregate at term cardinality,
    * and V(prefix b) = Σ_{fb ≤ b} new-term counts — a cumulative sum
    * over bucket-cardinality rows (the only window, ≤ nBuckets rows,
    * single partition by construction and by design). β comes from
    * the log-log regression over the curve points, rounded to 6dp
    * (ln sums over ≤ nBuckets values — the q_lm_score rounding rule).
    *
    * @return per observed bucket: (bucket, n_tokens, cum_tokens,
    *         cum_vocab, beta_6) with beta_6 repeated on every row.
    */
  def heapsLaw(docs: DataFrame, idCol: String, textCol: String,
               tokens: Column => Column, nBuckets: Int = 16): DataFrame = {
    require(nBuckets >= 2)
    val ids = docs.agg(min(col(idCol)).as("mn"), max(col(idCol)).as("mx"))
      .select(col("mn"),
        expr(s"((mx - mn) div $nBuckets) + 1L").as("width"))
    val tok = docs.crossJoin(broadcast(ids))
      .select(expr(s"($idCol - mn) div width").as("bucket"),
        explode(tokens(col(textCol))).as("term"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bt = tok.groupBy(col("bucket")).agg(count(lit(1)).as("n_tokens"))
    val nv = tok.groupBy(col("term")).agg(min(col("bucket")).as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("nv"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val curve = bt.join(nv, Seq("bucket"), "left")
      .select(col("bucket"), col("n_tokens"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        sum(coalesce(col("nv"), lit(0L))).over(w).as("cum_vocab"))
    val fit = curve.agg(
        count(lit(1)).cast("double").as("n"),
        sum(log(col("cum_tokens"))).as("sx"),
        sum(log(col("cum_vocab"))).as("sy"),
        sum(log(col("cum_tokens")) * log(col("cum_vocab"))).as("sxy"),
        sum(log(col("cum_tokens")) * log(col("cum_tokens"))).as("sxx"))
      .select(round((col("n") * col("sxy") - col("sx") * col("sy")) /
        (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("beta_6"))
    graft.sealResult(curve.crossJoin(broadcast(fit)), tok)
  }

  /** E105: distinct-n lexical diversity (the distinct-1 / distinct-2
    * metrics of Li et al., NAACL 2016) per group — the standard
    * generation-diversity readout: a model-generated (or templated /
    * boilerplate-heavy) corpus collapses toward few n-grams, so
    * distinct-n = |unique n-grams| / |n-grams| drops. Curation reads
    * it per source/language to catch mode-collapsed synthetic data and
    * template farms that per-document repetition screens (q_repetition)
    * miss — the repetition lives ACROSS documents, not inside one.
    *
    * Exactness: two keyed (count, count distinct) aggregates, ratios in
    * floor-div micro-units — integers end to end. Scale shape: both
    * aggregates are map-combined on (group, gram); output is
    * group-cardinality. distinct2_micro is null for a group with no
    * bigram (every doc < 2 tokens).
    */
  /** E106: DSIR-style importance selection (Xie et al., NeurIPS 2023
    * "Data Selection for Language Models via Importance Resampling") —
    * THE modern pretraining-data curation move: pick from a huge raw
    * SOURCE the documents that look most like a small TARGET domain,
    * scored by a hashed bag-of-words likelihood ratio rather than a
    * trained classifier (E60) — no labels, no training, two counting
    * passes.
    *
    * Features are hashed word buckets (48-bit md5 prefix mod
    * `buckets` — exact integers on both engines); per bucket the
    * add-one-smoothed log ratio
    * lnr(b) = ln( (ct(b)+1)·(Ts+B) / ((cs(b)+1)·(Tt+B)) )
    * is ONE ln of an exact-integer rational; a document's importance
    * log-weight is the position-ordered fold of its tokens' lnr values
    * (the q_lm_score ln-sum discipline), rounded 6dp. Selection is the
    * deterministic greedy form — top-k by (logw_6 desc, id) — rather
    * than the paper's Gumbel resampling: reproducible across engines
    * and runs, and at k ≪ n the two pick nearly the same set (the
    * paper's noise mainly breaks ties at the boundary).
    *
    * Scale shape: two token-bucket count aggregates (map-combined), a
    * broadcast bucket table (≤ `buckets` rows) joined into one source
    * scan, top-k via orderBy+limit (TakeOrderedAndProject, no global
    * sort). Loud guard: token totals ≤ 3·10⁹ so every smoothing
    * product stays an exact BIGINT — at 100 TB the target is always a
    * small domain sample anyway, and the source fold is per-doc.
    *
    * @return top-k source docs: (doc_id, n_tokens, logw_6, rank).
    */
  def dsirSelect(source: DataFrame, target: DataFrame, idCol: String,
                 textCol: String, tokens: Column => Column,
                 buckets: Int = 4096, k: Int = 100): DataFrame = {
    require(buckets >= 2 && k >= 1)
    def bucketed(df: DataFrame) = df
      .select(col(idCol).as("id"),
        posexplode(tokens(col(textCol))).as(Seq("pos", "w")))
      .select(col("id"), col("pos"),
        (conv(substring(md5(col("w")), 1, 12), 16, 10).cast("long")
          % buckets).as("b"))
    val src = bucketed(source)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tgt = bucketed(target)
    val sc = src.groupBy(col("b")).agg(count(lit(1)).as("cs"))
    val tc = tgt.groupBy(col("b")).agg(count(lit(1)).as("ct"))
    val totals = src.agg(count(lit(1)).as("ts"))
      .crossJoin(tgt.agg(count(lit(1)).as("tt"))).head
    val (ts, tt) = (totals.getLong(0), totals.getLong(1))
    require(ts <= 3000000000L && tt <= 3000000000L,
      s"dsirSelect: token totals ($ts, $tt) exceed the exact-BIGINT " +
        "smoothing bound 3e9 — sample the corpora or shard")
    // lnr per bucket over the SOURCE's buckets only (a bucket no
    // source token hashes into can never contribute to a weight)
    val lnrTab = sc.join(tc, Seq("b"), "left")
      .select(col("b"),
        log(((coalesce(col("ct"), lit(0L)) + 1L) * lit(ts + buckets))
          .cast("double") /
          ((col("cs") + 1L) * lit(tt + buckets)).cast("double"))
          .as("lnr"))
    val perDoc = src.join(broadcast(lnrTab), "b")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(aggregate(
          transform(array_sort(collect_list(struct(col("pos"), col("lnr")))),
            x => x.getField("lnr")),
          lit(0.0), (acc, x) => acc + x), 6).as("logw_6"))
    val top = perDoc.orderBy(col("logw_6").desc, col("id")).limit(k)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("logw_6").desc, col("id"))
    graft.sealResult(
      top.withColumn("rank", row_number().over(w).cast("long"))
        .select(col("id").as("doc_id"), col("n_tokens"), col("logw_6"),
          col("rank")),
      src)
  }

  /** E107: tokenizer fertility profile per group (Rust et al., ACL
    * 2021 "How Good is Your Tokenizer?" — fertility = subword tokens
    * per word): per group the corpus totals of chars / whitespace
    * words / BPE-ish regex tokens (E10's deterministic subword proxy),
    * fertility and chars-per-token in exact floor-div micro-units. The
    * tokenizer-SIZING readout: a language whose fertility runs high is
    * under-served — more tokens per word means shorter effective
    * context and more compute per character, which is exactly what a
    * mixture planner (E24/E78) needs to weigh before fixing token
    * budgets per language. Pure map-side column work + one keyed agg.
    *
    * @return per group: (groupCol, n_docs, n_chars, n_words, n_tokens,
    *         fertility_micro, chars_per_token_micro).
    */
  def tokenizerFertility(docs: DataFrame, groupCol: String,
                         textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    docs.select(col(groupCol).as("grp"),
        length(col(textCol)).cast("long").as("c"),
        TextFunctions.wsTokenCount(col(textCol)).cast("long").as("w"),
        TextFunctions.regexTokenCount(col(textCol)).cast("long").as("t"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_docs"), sum(col("c")).as("n_chars"),
        sum(col("w")).as("n_words"), sum(col("t")).as("n_tokens"))
      .select(col("grp").as(groupCol), col("n_docs"), col("n_chars"),
        col("n_words"), col("n_tokens"),
        when(col("n_words") === 0, lit(null))
          .otherwise(expr("n_tokens * 1000000 div n_words")).cast("long")
          .as("fertility_micro"),
        when(col("n_tokens") === 0, lit(null))
          .otherwise(expr("n_chars * 1000000 div n_tokens")).cast("long")
          .as("chars_per_token_micro"))
  }

  def distinctNgrams(docs: DataFrame, groupCol: String, textCol: String,
                     tokens: Column => Column): DataFrame = {
    val w = docs.select(col(groupCol).as("grp"),
      tokens(col(textCol)).as("ws"))
    val idxs = when(size(col("ws")) >= 2,
      sequence(lit(1), size(col("ws")) - 1))
      .otherwise(array().cast("array<int>"))
    val uni = w.select(col("grp"), explode(col("ws")).as("x"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_uni"), countDistinct(col("x")).as("d_uni"))
    val big = w.select(col("grp"), explode(transform(idxs, i =>
        concat_ws(" ", element_at(col("ws"), i),
          element_at(col("ws"), i + 1)))).as("b"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_big"), countDistinct(col("b")).as("d_big"))
    uni.join(big, Seq("grp"), "left")
      .select(col("grp").as(groupCol), col("n_uni"), col("d_uni"),
        coalesce(col("n_big"), lit(0L)).as("n_big"),
        coalesce(col("d_big"), lit(0L)).as("d_big"),
        expr("d_uni * 1000000 div n_uni").as("distinct1_micro"),
        when(coalesce(col("n_big"), lit(0L)) === 0, lit(null))
          .otherwise(expr("d_big * 1000000 div n_big"))
          .cast("long").as("distinct2_micro"))
  }

  /** E113: unbiased pass@k estimator (Chen et al., "Evaluating LLMs
    * Trained on Code", arXiv:2107.03374 §2.1) — the standard
    * code/agent eval aggregate: per task with n samples of which c
    * pass, pass@k = 1 − C(n−c,k)/C(n,k), the probability ≥1 of k
    * drawn samples passes. Naive empirical k-subsampling is biased;
    * this is the exact estimator.
    *
    * Exactness: C(n−c,k)/C(n,k) = Π_{i<k}(n−c−i)/(n−i) — numerator
    * and denominator are exact long PRODUCTS (k terms; loud bound
    * keeps them in range), so pass@k_micro = 10⁶ − (10⁶·num) div den
    * is pure integer arithmetic, hash-gateable. A task with
    * n−c < k has a zero factor → pass = 10⁶ exactly. Tasks with
    * n < k are dropped (estimator undefined), counted in the caller's
    * own pre-flight if needed.
    *
    * Plan: one keyed (task) count agg, then per-row integer math in
    * the same stage — task-cardinality output, no second shuffle.
    *
    * @return per task: (taskCols..., n, c, pass_at_k_micro).
    */
  def passAtK(df: DataFrame, taskCols: Seq[String], passCol: String,
              k: Int): DataFrame = {
    require(k >= 1 && k <= 20, s"k out of range: $k")
    val byTask = df.groupBy(taskCols.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(when(col(passCol), 1L).otherwise(0L)).as("c"))
      .filter(col("n") >= k)
    // 10⁶·Πnum must stay an exact long: n^k ≤ 9.2·10¹², enforced
    // loudly per row (eval suites draw 10s-1000s of samples per task,
    // nowhere near the bound)
    val maxN = math.pow(9.2e12, 1.0 / k).toLong
    val prodNum = (0 until k).map(i => s"greatest(n - c - $i, 0L)")
      .mkString(" * ")
    val prodDen = (0 until k).map(i => s"(n - ${i}L)").mkString(" * ")
    byTask.select(taskCols.map(col) ++ Seq(col("n"), col("c"),
      when(col("n") > maxN,
        raise_error(lit(s"passAtK: n exceeds the exact-product bound " +
          s"$maxN for k=$k — reduce samples or k")).cast("long"))
        .otherwise(expr(
          s"1000000L - (1000000L * ($prodNum)) div ($prodDen)"))
        .as("pass_at_k_micro")): _*)
  }

  /** E110: token-overlap F1 — the SQuAD answer-overlap metric
    * (Rajpurkar et al., EMNLP 2016), the standard cheap eval for
    * generated-vs-reference text: per pair,
    * overlap = Σ_t min(tf_pred(t), tf_ref(t)) (multiset intersection)
    * and F1 = 2·overlap/(len_p + len_r) — 2PR/(P+R) collapses
    * algebraically, so the score is ONE exact integer floor division
    * in micro-units; no float accumulates anywhere.
    *
    * Plan (100 TB): explode both sides into (pair, token) count
    * tables (two keyed map-combined aggs), inner-join on
    * (pair, token), Σ least — everything hash-partitioned on pair_id,
    * linear, no driver state. Tokens via the canonical
    * [[graft.functions.TextFunctions.words]] normalization.
    *
    * @return (idCol, len_pred, len_ref, overlap, f1_micro); f1 null
    *         when both sides are empty.
    */
  def tokenF1(pairs: DataFrame, idCol: String, predCol: String,
              refCol: String): DataFrame = {
    import graft.functions.TextFunctions
    def counts(c: String, n: String) = pairs
      .select(col(idCol).as("pid"),
        explode(TextFunctions.words(col(c))).as("tok"))
      .filter(length(col("tok")) > 0)
      .groupBy(col("pid"), col("tok"))
      .agg(count(lit(1)).as(n))
    val p = counts(predCol, "np")
    val r = counts(refCol, "nr")
    val lens = p.groupBy("pid").agg(sum(col("np")).as("len_pred"))
      .join(r.groupBy("pid").agg(sum(col("nr")).as("len_ref")),
        Seq("pid"), "full_outer")
    val ov = p.join(r, Seq("pid", "tok"))
      .groupBy("pid")
      .agg(sum(least(col("np"), col("nr"))).as("overlap"))
    pairs.select(col(idCol).as("pid")).distinct()
      .join(lens, Seq("pid"), "left")
      .join(ov, Seq("pid"), "left")
      .select(col("pid"),
        coalesce(col("len_pred"), lit(0L)).as("len_pred"),
        coalesce(col("len_ref"), lit(0L)).as("len_ref"),
        coalesce(col("overlap"), lit(0L)).as("overlap"))
      .select(col("pid").as(idCol), col("len_pred"), col("len_ref"),
        col("overlap"),
        when(col("len_pred") + col("len_ref") === 0, lit(null))
          .otherwise(expr("2000000 * overlap div (len_pred + len_ref)"))
          .cast("long").as("f1_micro"))
  }

  /** E115: ROUGE-L (Lin, ACL-W 2004) — the LCS-based generation-eval
    * metric beside [[tokenF1]] (order-free overlap) and [[bleu2]]
    * (local n-gram order): the longest common SUBSEQUENCE rewards
    * in-order agreement without requiring contiguity. With β = 1 the
    * F-measure collapses algebraically to 2L/(m+n) — ONE exact
    * integer floor division in micro-units, no float anywhere.
    *
    * The O(m·n) DP runs in the native [[graft.plans.LcsLength]]
    * expression (codegen, two rolling primitive rows); both sides are
    * truncated to `maxTokens` (the standard ROUGE-tooling budget cap
    * — documented semantics, and what bounds a 100 TB pass: cost per
    * pair is capped², independent of document length). Precision /
    * recall / F all from CAPPED lengths, exact floor-div micros.
    *
    * @return per pair: (idCol, len_pred, len_ref, lcs, p_micro,
    *         r_micro, f_micro) — nulls where a side is empty.
    */
  def rougeL(pairs: DataFrame, idCol: String, predCol: String,
             refCol: String, maxTokens: Int = 32): DataFrame = {
    import graft.functions.TextFunctions
    def toks(c: String) =
      filter(TextFunctions.words(col(c)), t => length(t) > 0)
    val capped = pairs.select(col(idCol),
        toks(predCol).as("pt0"), toks(refCol).as("rt0"))
      .select(col(idCol),
        least(size(col("pt0")), lit(maxTokens)).cast("long").as("m"),
        least(size(col("rt0")), lit(maxTokens)).cast("long").as("n"),
        graft.plans.TextNativeFunctions
          .lcsLength(col("pt0"), col("rt0"), maxTokens).as("lcs"))
    capped.select(col(idCol), col("m").as("len_pred"),
      col("n").as("len_ref"), col("lcs"),
      when(col("m") > 0, expr("lcs * 1000000 div m")).as("p_micro"),
      when(col("n") > 0, expr("lcs * 1000000 div n")).as("r_micro"),
      when(col("m") + col("n") > 0,
        expr("2000000 * lcs div (m + n)")).as("f_micro"))
  }

  /** E114: corpus-level BLEU-2 (Papineni et al., ACL 2002) — THE
    * generation-eval aggregate beside [[tokenF1]]'s per-pair overlap:
    * clipped modified n-gram precision (n = 1, 2) pooled over the
    * corpus, brevity penalty from pooled lengths.
    *
    * Exactness: clipped matches mₙ = Σ min(tf_pred, tf_ref) and
    * totals tₙ are exact longs; pₙ = mₙ/tₙ ONE IEEE division each;
    * the geometric mean is written √(p₁·p₂) — one multiply + one
    * sqrt, both CORRECTLY-ROUNDED IEEE ops, engine-stable where
    * exp((ln p₁ + ln p₂)/2) would accumulate ln ulps — and zero
    * matches need no ln(0) special case; BP = e^(1−R/C) (one
    * transcendental of an exact ratio, the tfidf rule) clamped at 1;
    * BLEU = BP·√(p₁p₂), 6dp.
    *
    * Plan (VERDICT r10 #3): BOTH gram levels AND both sides ride one
    * union tagged by (n, side) — a single groupBy(pid, n, gram) with
    * conditional sums yields (tf_pred, tf_ref) per gram with NO join
    * anywhere (ref-only grams surface tf_pred = 0 and clip to 0,
    * preserving Σ min exactly), then one tiny agg by n returns all
    * (mₙ, tₙ) at once. One data-sized shuffle total; two driver jobs
    * (the gram aggregate, which carries the pooled lengths as its
    * n=1 totals, plus a tokenization-free pair count) and NO persist:
    * at 100 TB a
    * MEMORY_AND_DISK tokenized corpus is a full materialization,
    * while re-tokenizing is a scan-local map the column-pruned
    * parquet scan re-derives cheaper than it re-loads.
    *
    * @return one row: (n_pairs, c_len, r_len, m1, t1, m2, t2, p1_6,
    *         p2_6, bp_6, bleu2_6) — null scores when any tₙ = 0.
    */
  /** 1-grams and 2-grams of a token array as ONE (n, g)-tagged
    * stream — shared by [[bleu2]] and [[selfBleu2]]; the bigram
    * branch keeps the short-array guard (sequence(1, 0) would
    * generate DESCENDING indices).
    */
  private def gramsTagged12(
      tc: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val g1 = transform(tc, t => struct(lit(1).as("n"), t.as("g")))
    val g2 = when(size(tc) >= 2,
      transform(sequence(lit(1), size(tc) - 1),
        i => struct(lit(2).as("n"), concat_ws(" ",
          element_at(tc, i), element_at(tc, i + 1)).as("g"))))
      .otherwise(array().cast("array<struct<n:int,g:string>>"))
    concat(g1, g2)
  }

  def bleu2(pairs: DataFrame, idCol: String, predCol: String,
            refCol: String): DataFrame = {
    import graft.functions.TextFunctions
    def toks(c: String) =
      filter(TextFunctions.words(col(c)), t => length(t) > 0)
    val tok = pairs.select(col(idCol).as("pid"),
      toks(predCol).as("pt"), toks(refCol).as("rt"))
    def gramsTagged(tc: org.apache.spark.sql.Column) = gramsTagged12(tc)
    def side(c: String, isPred: Int) =
      tok.select(col("pid"), explode(gramsTagged(col(c))).as("x"),
        lit(isPred).as("is_pred"))
    // the pooled lengths are already IN the gram totals: C = Σ size(pt)
    // ≡ t₁ (every pred token is one unigram instance) and R ≡ the
    // ref-side unigram total — so the heavy job carries them for free
    // and the only other job is a tokenization-free pairs.count()
    val mt = side("pt", 1).unionAll(side("rt", 0))
      .groupBy(col("pid"), col("x.n").as("n"), col("x.g").as("g"))
      .agg(sum(col("is_pred")).as("np"),
        sum(lit(1) - col("is_pred")).as("nr"))
      .groupBy(col("n"))
      .agg(sum(least(col("np"), col("nr"))).as("m"),
        sum(col("np")).as("t"), sum(col("nr")).as("tr"))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3))))
      .toMap
    val (m1, t1, tr1) = mt.getOrElse(1, (0L, 0L, 0L))
    val (m2, t2, _) = mt.getOrElse(2, (0L, 0L, 0L))
    bleu2Assemble(pairs.sparkSession,
      pairs.count(), t1, tr1, (m1, t1), (m2, t2))
  }

  private def bleu2Assemble(spark: org.apache.spark.sql.SparkSession,
                            nPairs: Long, cLen: Long, rLen: Long,
                            c1: (Long, Long), c2: (Long, Long)): DataFrame = {
    val (m1, t1) = c1
    val (m2, t2) = c2
    import spark.implicits._
    def r6(v: Double): java.lang.Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    if (t1 == 0 || t2 == 0 || cLen == 0)
      return Seq((nPairs, cLen, rLen, m1, t1, m2, t2,
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double],
          null.asInstanceOf[java.lang.Double]))
        .toDF("n_pairs", "c_len", "r_len", "m1", "t1", "m2", "t2",
          "p1_6", "p2_6", "bp_6", "bleu2_6")
    val p1 = m1.toDouble / t1
    val p2 = m2.toDouble / t2
    val bp = if (cLen >= rLen) 1.0
      else math.exp(1.0 - rLen.toDouble / cLen)
    val bleu = bp * math.sqrt(p1 * p2)
    Seq((nPairs, cLen, rLen, m1, t1, m2, t2,
        r6(p1), r6(p2), r6(bp), r6(bleu)))
      .toDF("n_pairs", "c_len", "r_len", "m1", "t1", "m2", "t2",
        "p1_6", "p2_6", "bp_6", "bleu2_6")
  }

  /** E118: self-BLEU-2 corpus diversity (Zhu et al., SIGIR 2018 —
    * the Texygen diversity metric): each document scored as BLEU-2
    * against ALL OTHER documents as references. High self-BLEU =
    * mode collapse / templated corpus; the generation-diversity
    * companion of E105's distinct-n (which counts grams once,
    * blind to per-document clustering).
    *
    * Multi-reference clipping without materializing doc×doc pairs:
    * the clipped count of gram g in doc d is min(c_d, max_{d'≠d}
    * c_{d'}) — and max-over-others is the GLOBAL max M1 unless d is
    * its UNIQUE attainer (then the runner-up M2). Three windowed
    * stats per (n, gram) partition — M1, its attainer count, M2 —
    * replace the quadratic reference scan entirely: one (n, g)
    * shuffle + one doc shuffle, linear at any corpus size.
    *
    * The brevity penalty uses the CLOSEST other-document length
    * (NLTK's multi-ref rule: min |len diff|, ties → shorter), found
    * on the length-cardinality spine: a length with ≥ 2 docs is its
    * own closest-other; unique lengths take the nearer of their
    * lag/lead neighbors (lag on ties — the shorter one).
    *
    * Exactness: clipped/total counts exact longs; p_n RAW
    * exact-ratio doubles; BP one exp of an exact ratio and the
    * score bp·√(p1·p2) (6dp — the bleu2 tree). Null score for docs
    * with no unigrams/bigrams or a single-doc corpus (no reference).
    *
    * @return per doc: (idCol, c_len, r_len, m1, t1, m2, t2, p1, p2,
    *         bp_6, self_bleu_6).
    */
  def selfBleu2(docs: DataFrame, idCol: String,
                textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    val toks = filter(TextFunctions.words(col(textCol)),
      t => length(t) > 0)
    val tok = docs.select(col(idCol).as("did"), toks.as("tk"))
    val dg = tok
      .select(col("did"), explode(gramsTagged12(col("tk"))).as("x"))
      .groupBy(col("did"), col("x.n").as("n"), col("x.g").as("g"))
      .agg(count(lit(1)).as("c"))
    val wg = Window.partitionBy(col("n"), col("g"))
    val stats = dg
      .withColumn("m1g", max(col("c")).over(wg))
      .withColumn("cnt1",
        sum(when(col("c") === col("m1g"), 1L).otherwise(0L)).over(wg))
      .withColumn("m2g",
        max(when(col("c") < col("m1g"), col("c"))).over(wg))
    val maxOther = when(col("c") === col("m1g") && col("cnt1") === 1,
      coalesce(col("m2g"), lit(0L))).otherwise(col("m1g"))
    val perDoc = stats
      .withColumn("clip", least(col("c"), maxOther))
      .groupBy(col("did"))
      .agg(sum(when(col("n") === 1, col("clip")).otherwise(0L)).as("m1"),
        sum(when(col("n") === 1, col("c")).otherwise(0L)).as("t1"),
        sum(when(col("n") === 2, col("clip")).otherwise(0L)).as("m2"),
        sum(when(col("n") === 2, col("c")).otherwise(0L)).as("t2"))
    // every doc keeps a row (token-free docs have no grams)
    val base = tok.select(col("did"),
        size(col("tk")).cast("long").as("len"))
      .join(perDoc, Seq("did"), "left")
      .na.fill(0L, Seq("m1", "t1", "m2", "t2"))
    // closest-other length on the length-cardinality spine
    val spine = base.groupBy(col("len")).agg(count(lit(1)).as("docs"))
    val wl = Window.orderBy(col("len"))
    val rOf = spine
      .withColumn("prv", lag(col("len"), 1).over(wl))
      .withColumn("nxt", lead(col("len"), 1).over(wl))
      .select(col("len"),
        when(col("docs") >= 2, col("len"))
          .when(col("prv").isNull && col("nxt").isNull, lit(null))
          .when(col("prv").isNull, col("nxt"))
          .when(col("nxt").isNull, col("prv"))
          .when(col("len") - col("prv") <= col("nxt") - col("len"),
            col("prv"))
          .otherwise(col("nxt")).as("r"))
    val j = base.join(broadcast(rOf), Seq("len"))
    val ok = col("t1") > 0 && col("t2") > 0 && col("r").isNotNull
    val p1 = col("m1").cast("double") / col("t1").cast("double")
    val p2 = col("m2").cast("double") / col("t2").cast("double")
    val bp = when(col("t1") >= col("r"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("r").cast("double") / col("t1").cast("double")))
    j.select(col("did").as(idCol), col("t1").as("c_len"),
      col("r").as("r_len"), col("m1"), col("t1"), col("m2"), col("t2"),
      when(ok, p1).as("p1"), when(ok, p2).as("p2"),
      when(ok, round(bp, 6)).as("bp_6"),
      when(ok, round(bp * sqrt(p1 * p2), 6)).as("self_bleu_6"))
  }

  /** E119: per-document character-bigram conditional entropy
    * H(next | prev) over the canonical text — the COMPRESSIBILITY
    * quality signal: a gzip-style coder spends ≈ H bits per char, so
    * low H flags templated/repetitive spans that H13's unigram
    * entropy misses (a doc cycling "abcabcabc…" has maximal unigram
    * entropy but near-zero conditional entropy). The cheap stand-in
    * for the compression-ratio filters in C4/RefinedWeb-class
    * pipelines, without shipping a compressor into the engine.
    *
    * H = (1/T)·Σ_ab c_ab·ln(c_a/c_ab), where c_ab counts the doc's
    * canonical char bigrams, c_a = Σ_b c_ab and T = Σ c_ab. Each
    * term is an integer weight times ONE ln of an exact integer
    * ratio, folded per doc in bigram order with a 0.0 prepend
    * (alphabet ≤ 37 ⇒ ≤ 1369 distinct bigrams per doc — the fold
    * array is constant-bounded), 6dp. Canonical text is pure ASCII
    * by construction, so both engines index identical codepoints.
    *
    * @return per doc: (idCol, n_bigrams, distinct_bigrams, h_6) —
    *         null h for docs shorter than 2 canonical chars.
    */
  def charConditionalEntropy(docs: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    import graft.functions.TextFunctions
    val canon = docs.select(col(idCol).as("did"),
      TextFunctions.normalizeText(col(textCol)).as("txt"))
    val grams = canon.select(col("did"),
      explode(when(length(col("txt")) >= 2,
        transform(sequence(lit(1), length(col("txt")) - 1),
          i => col("txt").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("bg"))
    val counts = grams.groupBy(col("did"), col("bg"))
      .agg(count(lit(1)).as("c"))
    val wa = Window.partitionBy(col("did"), substring(col("bg"), 1, 1))
    val withPrefix = counts.withColumn("ca", sum(col("c")).over(wa))
    val folded = withPrefix.groupBy(col("did"))
      .agg(array_sort(collect_list(struct(col("bg"), col("c"),
        col("ca")))).as("arr"),
        sum(col("c")).as("tt"))
    val hFold = aggregate(transform(col("arr"), x =>
      x("c").cast("double") *
        log(x("ca").cast("double") / x("c").cast("double"))),
      lit(0.0), (acc, t) => acc + t)
    val scored = folded.select(col("did"), col("tt").as("n_bigrams"),
      size(col("arr")).cast("long").as("distinct_bigrams"),
      round(hFold / col("tt").cast("double"), 6).as("h_6"))
    // short docs (no bigrams) keep a row with null H
    canon.select(col("did")).join(scored, Seq("did"), "left")
      .select(col("did").as(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("distinct_bigrams"), lit(0L))
          .as("distinct_bigrams"),
        col("h_6"))
  }
}
