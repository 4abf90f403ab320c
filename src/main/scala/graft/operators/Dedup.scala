package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Document-deduplication operators (SURVEY.md §2.E1-E4).
  *
  * Scale design: every variant generates candidate pairs through an
  * EQUI-JOIN on some derived key (fingerprint, shingle, LSH band) —
  * never an O(n²) cross join — so candidate generation is a plain
  * hash-partitioned shuffle that scales out linearly with executors.
  * Only within-candidate pairs get exact similarity evaluation.
  */
object Dedup {

  /** E1: exact dedup — group by content fingerprint of the normalized
    * text; keeper = min id. One shuffle on the 128-bit fingerprint.
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(TextFunctions.fingerprint(col(textCol)).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper"), count(lit(1)).as("n_docs"))

  /** Distinct (id, shingle) pairs — the exploded form every
    * similarity-based dedup builds on. Cardinality ≈ docs × words, and
    * it stays partitioned by shingle for the subsequent self-join.
    */
  def docShingles(df: DataFrame, textCol: String, idCol: String,
                  n: Int): DataFrame =
    // round-12: shingling runs in the input's scan stage — spread an
    // under-parallelized input (no-op on a wide scan)
    graft.fanOut(df, col(idCol)).select(col(idCol).as("id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .distinct()

  /** E40: incremental exact dedup — the cross-RUN form every
    * continuously-ingesting corpus needs: dedupe a NEW batch against
    * the historical fingerprint store WITHOUT rescanning the old
    * corpus. In-batch keep-first (min id per fingerprint), then an
    * anti join against the store; the store update is an append of
    * the fresh fingerprints (no rewrite). Both steps are keyed
    * shuffles on the 128-bit fingerprint — at 100 TB the store is a
    * fingerprint-bucketed table and this is a shuffle-free bucket
    * join.
    *
    * @param seenFps historical store, one `fp` column (md5 hex).
    * @return fresh batch rows (batch columns + `fp`) — docs never
    *         seen before, one per distinct content.
    */
  def incrementalExact(batch: DataFrame, textCol: String, idCol: String,
                       seenFps: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fp")).orderBy(col(idCol))
    batch.withColumn("fp", TextFunctions.fingerprint(col(textCol)))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
      .join(seenFps.select(col("fp")), Seq("fp"), "left_anti")
  }

  /** E2: n-gram Jaccard near-dup pairs with similarity ≥ `threshold`.
    *
    * Candidate generation is PREFIX-FILTERED through the shared
    * `SetSim.prefixJoin` kernel (AllPairs/PPJoin — Bayardo et al.
    * WWW'07): under a rarest-first global shingle order, two docs with
    * J ≥ τ must share a shingle among the first |x| − ⌈τ·|x|⌉ + 1 of
    * each, so the self-join runs only on those low-df prefix
    * shingles. A boilerplate shingle shared by d docs therefore never
    * creates d²/2 join rows — it sits at the high-df tail and is
    * outside every doc's prefix. Unlike a df-cap the filter is
    * LOSSLESS, so the result relation is the one the oracle SQL
    * defines with a full shingle self-join.
    *
    * The kernel's bound is a slightly lowered rational
    * τ′ = (⌊1000·τ⌋ − 1)/1000 in exact integer arithmetic, which
    * makes its pairs a superset of every pair the tests below can
    * accept. Acceptance then applies the caller's τ exactly as the
    * oracle does: the IEEE-double size-ratio test
    * `max ≤ min / τ` and the 4-dp rounded Jaccard ≥ τ.
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        n: Int, threshold: Double): DataFrame = {
    val tauN = math.max(1L, math.floor(threshold * 1000).toLong - 1)
    val (pairs, ord) = SetSim.prefixJoin(df,
      TextFunctions.shingles(col(textCol), n), col(idCol), tauN, 1000L)
    // near-dup-pair output (corpus-small): seal — materialize, release
    // the persisted per-doc shingle arrays
    graft.sealResult(pairs
      .filter(col("sz_a") <= col("sz_b") / threshold &&
        col("sz_b") <= col("sz_a") / threshold)
      .withColumn("jaccard",
        round(col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard")),
      ord)
  }

  private val Mod48 = 1L << 48

  /** ONE digest per shingle: the md5 hex prefix (12 chars = 48 bits)
    * as an exact integer. All k per-seed minhash values derive from it
    * by odd-multiplier mixing — see [[minhashAgg]]. This replaced the
    * round-6 kernel (k md5 digests per shingle, the shared cost under
    * the near-dup bench tail) with k integer multiplies.
    */
  private def shingleBase48(sh: Column): Column =
    conv(substring(md5(sh.cast("binary")), 1, 12), 16, 10).cast("long")

  /** MinHash value for one seed: min over the doc's shingles of
    * (base48 · (2·seed+1)) mod 2^48. Multiplication by an odd constant
    * is a bijection mod 2^48, so each seed induces a distinct total
    * order on shingles (min-per-seed semantics unchanged vs the old
    * per-seed digest). Every intermediate is ≤ 17·2^48 < 2^53 —
    * exact in BIGINT and in IEEE doubles, so the DuckDB oracle mirrors
    * it bit-for-bit. Expects the pre-computed `hb` base column.
    */
  private def minhashAgg(seed: Int): Column =
    min((col("hb") * lit(2L * seed + 1)) % lit(Mod48)).as(s"mh$seed")

  /** E3: MinHash signatures (k = bands × rowsPerBand mins per doc),
    * computed in ONE aggregation pass over the RAW exploded shingles —
    * one digest per shingle, k seed mixes (exact integer arithmetic).
    * No distinct: min over a multiset equals min over its set, so the
    * per-doc dedup shuffle of the shingle stream is pure waste here —
    * the aggregation partials map-side over the scan instead (the
    * signature values are identical to the distinct form).
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    // round-12: shingle+md5 kernel runs in the scan stage — spread it
    graft.fanOut(df, col(idCol)).select(col(idCol).as("id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .withColumn("hb", shingleBase48(col("sh")))
      .groupBy(col("id"))
      .agg(minhashAgg(0), (1 until k).map(minhashAgg): _*)
  }

  /** E3: LSH candidate pairs — docs agreeing on at least one band
    * (all rowsPerBand minhashes in that band equal). The per-band
    * bucket key is an equi-join key; output is (id_a, id_b, n_bands).
    */
  /** (id, band, bh) band-bucket rows — the unit the LSH self-join and
    * the incremental store both run on. `bh` hashes the band's
    * rowsPerBand minhashes; two docs agreeing on a band agree on all
    * of them.
    */
  def minhashBands(df: DataFrame, textCol: String, idCol: String,
                   n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val sig = minhashSignatures(df, textCol, idCol, n, bands, rowsPerBand)
    sig.select(col("id"), explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
          .cast("binary")).as("bh"))
    }: _*)).as("bd"))
      .select(col("id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
  }

  def minhashLshCandidates(df: DataFrame, textCol: String, idCol: String,
                           n: Int, bands: Int, rowsPerBand: Int): DataFrame = {
    val banded = minhashBands(df, textCol, idCol, n, bands, rowsPerBand)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.sealResult(banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_bands")),
      banded)
  }

  /** E45: incremental MinHash LSH — the near-dup analog of
    * [[incrementalExact]]: screen a NEW batch against the historical
    * corpus using only its persisted BAND STORE ((id, band, bh) rows,
    * built by [[minhashBands]]) — the old corpus text is never
    * rescanned, never reshuffled, and the store update after the
    * screen is a plain append of the kept docs' band rows.
    *
    * Plan shape: batch bands (one agg over the batch's shingles) ⋈
    * store on (band, bh) — a keyed equi-join whose right side is
    * exactly the bucket index LSH already defines; per-doc hit
    * counts; left join back to the batch id set so no-shingle and
    * no-collision docs both surface with kept = true. At 100 TB the
    * store is a (band, bh)-bucketed table and the screen is a
    * shuffle-free bucket join of just the incoming batch.
    *
    * @return one row per batch doc: (id, store_hits = distinct stored
    *         docs sharing ≥1 band bucket, kept = store_hits == 0).
    */
  def incrementalMinhash(batch: DataFrame, textCol: String, idCol: String,
                         store: DataFrame, n: Int, bands: Int,
                         rowsPerBand: Int): DataFrame = {
    val bb = minhashBands(batch, textCol, idCol, n, bands, rowsPerBand)
    val hits = bb
      .join(store.select(col("id").as("sid"), col("band"), col("bh")),
        Seq("band", "bh"))
      .groupBy(col("id"))
      .agg(countDistinct(col("sid")).as("store_hits"))
    batch.select(col(idCol).as("id")).distinct()
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("store_hits"), lit(0L)).as("store_hits"))
      .withColumn("kept", col("store_hits") === 0L)
  }

  /** E48: MinHash Jaccard ESTIMATION on the LSH candidates — the
    * estimator theory made checkable: P(min-hash agrees) = J(A,B), so
    * (# agreeing mins)/k estimates the Jaccard without touching the
    * shingle sets. Emitted beside the exact value so the gate verifies
    * both the estimator arithmetic and (in spec) its accuracy — this
    * is what lets a 100 TB pipeline THRESHOLD on signatures alone
    * (k·8 bytes/doc) and reserve exact verification for the sliver
    * near the boundary.
    *
    * est and exact are each ONE IEEE division of exact integers
    * (raw-double safe); err = est − exact is a single further op,
    * deterministic on both engines.
    *
    * Semantics note (deliberate, round 7): `sz`/`inter`/`jaccard` are
    * defined over the per-doc SET of 48-bit md5-prefix shingle hashes,
    * not raw shingle strings. A within-doc 48-bit collision would
    * shrink `sz`; by birthday bound that's ≤ n²/2^49 per doc
    * (n = distinct shingles — at n=10⁴ that's ~1.8e-10), and the
    * oracle mirrors the identical hash space so gate parity is exact
    * either way. At 100 TB a shingle IS its hash — no pipeline ships
    * raw shingle strings to a join.
    */
  def minhashJaccardEstimates(df: DataFrame, textCol: String,
                              idCol: String, n: Int, bands: Int,
                              rowsPerBand: Int): DataFrame = {
    val k = bands * rowsPerBand
    // ONE aggregation over the raw hashed shingles builds the per-doc
    // 48-bit hash SET; signatures, sizes, and exact intersections all
    // derive from it IN-ROW — no distinct shuffle, no second
    // aggregation pass, no intersection double-join (the
    // ngramJaccardPairs shape, moved into hash space). Set sizes and
    // intersections are DEFINED over hashed shingles (a shingle IS
    // its hash in any at-scale dedup pipeline); the oracle mirrors
    // the same md5-prefix space bit-for-bit — exact parity, not
    // approximate. Per-seed mins come from array_min over the mixed
    // set: identical values to a grouped min aggregate.
    val sig = graft.fanOut(df, col(idCol)).select(col(idCol).as("id"),
        explode(TextFunctions.shingles(col(textCol), n)).as("sh"))
      .select(col("id"), shingleBase48(col("sh")).as("hb"))
      .groupBy(col("id"))
      .agg(collect_set(col("hb")).as("hs"))
      .select(col("id") +: col("hs") +:
        size(col("hs")).cast("long").as("sz") +:
        (0 until k).map { s =>
          array_min(transform(col("hs"),
            h => (h * lit(2L * s + 1)) % lit(Mod48))).as(s"mh$s")
        }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val banded = sig.select(col("id"), explode(array((0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          (0 until rowsPerBand).map(r => col(s"mh${b * rowsPerBand + r}")): _*)
          .cast("binary")).as("bh"))
    }: _*)).as("bd"))
      .select(col("id"), col("bd.band").as("band"), col("bd.bh").as("bh"))
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    val agree = (0 until k).map(i =>
      when(col(s"a.mh$i") === col(s"b.mh$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val inter = size(array_intersect(col("a.hs"), col("b.hs"))).cast("long")
    graft.sealResult(cand
      .join(sig.as("a"), col("id_a") === col("a.id"))
      .join(sig.as("b"), col("id_b") === col("b.id"))
      .select(col("id_a"), col("id_b"), agree.as("n_agree"),
        (agree.cast("double") / lit(k.toDouble)).as("est_jaccard"),
        inter.as("inter"),
        (inter.cast("double") /
          (col("a.sz") + col("b.sz") - inter).cast("double")).as("jaccard")),
      sig)
  }

  /** E4: 64-bit SimHash over normalized words: bit b of the signature is
    * set when the weighted sum of bit b across token hashes is positive.
    * Hot path: [[simhash]] — the one-pass native Catalyst expression
    * (plans.SimHash64). [[simhashComposed]] is the same signature built
    * from 64 composed higher-order aggregates, kept as the executable
    * specification (NativeExprSpec asserts bit-equality).
    */
  def simhash(c: Column): Column =
    graft.plans.NativeFunctions.simhash64(TextFunctions.words(c))

  def simhashComposed(c: Column): Column = {
    val tokens = TextFunctions.words(c)
    val hashes = transform(tokens, t => xxhash64(t))
    val bits = (0 until 64).map { b =>
      val mask = lit(1L << b)
      val votes = aggregate(hashes, lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(mask) =!= 0L, 1L).otherwise(-1L))
      when(votes > 0, mask).otherwise(lit(0L))
    }
    bits.reduce((a, x) => a.bitwiseOR(x))
  }

  /** E22: benchmark decontamination — the training-pipeline step that
    * flags corpus documents sharing any word n-gram with an evaluation /
    * benchmark set (so eval data can be excluded from training). Same
    * candidate-generation discipline as every dedup operator: an
    * EQUI-JOIN on the shingle. The benchmark side is broadcast — eval
    * sets are small by construction, so the 100 TB corpus never
    * shuffles; contamination detection is map-side work in the corpus
    * scan stage.
    *
    * @return (doc_id, n_shared) — contaminated corpus docs only, with
    *         the count of distinct shared n-grams.
    */
  def contaminationReport(corpus: DataFrame, bench: DataFrame,
                          textCol: String, idCol: String, n: Int): DataFrame = {
    val c = docShingles(corpus, textCol, idCol, n)
    val b = docShingles(bench, textCol, idCol, n).select(col("sh")).distinct()
    c.join(broadcast(b), "sh")
      .groupBy(col("id").as("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** E4: near-dup pairs with hamming ≤ maxDist, candidate-generated by
    * banding the signature into four 16-bit chunks (pigeonhole: any pair
    * within distance ≤ 3 shares at least one exact chunk — an equi-join,
    * not a cross join).
    */
  def simhashNearPairs(df: DataFrame, textCol: String, idCol: String,
                       maxDist: Int): DataFrame = {
    // round-12: the native simhash kernel runs in the scan stage —
    // kernel-bound (64-bit vote loop per token), keep the full spread
    val sigs = graft.fanOutHeavy(df, col(idCol)).select(col(idCol).as("id"),
      simhash(col(textCol)).as("sig"))
    val banded = sigs.select(col("id"), col("sig"),
        explode(array((0 until 4).map { i =>
          struct(lit(i).as("chunk"),
            col("sig").bitwiseAND(lit(0xFFFFL << (i * 16))).as("ck"))
        }: _*)).as("bd"))
      .select(col("id"), col("sig"), col("bd.chunk").as("chunk"),
        col("bd.ck").as("ck"))
    banded.as("a").join(banded.as("b"),
        col("a.chunk") === col("b.chunk") && col("a.ck") === col("b.ck") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        hamming64(col("a.sig"), col("b.sig")).as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  /** E55: winnowing-join — substring-level near-dup candidate pairs
    * (the MOSS use case): docs sharing winnowed fingerprints, scored
    * by fingerprint containment |F_a∩F_b| / min(|F_a|,|F_b|). The
    * SUBSTRING complement to whole-doc MinHash and to spanDedup's
    * exact 5-grams: winnowing guarantees any shared run ≥ w+k−1 chars
    * yields a shared fingerprint, at 2/(w+1) the index density of
    * all-grams.
    *
    * Scale shape: fingerprint extraction is the shuffle-free native
    * expression. Pairing runs over DISCRIMINATIVE fingerprints only —
    * fps seen in more than `maxDf` docs are dropped before the pair
    * join (MOSS's own common-code elimination): a fingerprint shared
    * by d docs yields d(d−1)/2 pairs, so one hot boilerplate gram
    * turns the equi-join quadratic; capping df bounds every join
    * bucket at maxDf. Set sizes and containment are defined over the
    * SAME rare subset (df ≤ maxDf — df=1 fps count toward size but
    * are skipped by the join since they cannot pair), which keeps the
    * semantics self-consistent: exact dups have identical fp sets with
    * identical dfs, so their rare sets coincide and containment is
    * exactly 1.0 under any cap. Acceptance den·|∩| ≥ num·min is exact
    * integer arithmetic; the reported containment is one IEEE division
    * of exact ints (raw-double safe).
    */
  def winnowPairs(df: DataFrame, textCol: String, idCol: String,
                  k: Int, w: Int, thrNum: Int, thrDen: Int,
                  maxDf: Long = Long.MaxValue): DataFrame = {
    import graft.plans.TextNativeFunctions
    // the exploded fp stream feeds the df aggregate AND the rare join —
    // persist it so the (scan + normalize + winnow) extraction runs once
    // kernel-bound (rolling-hash winnow window per char) — full spread
    val fps = graft.fanOutHeavy(df, col(idCol)).select(col(idCol).as("id"),
        explode(TextNativeFunctions.winnowFingerprints(
          TextFunctions.normalizeText(col(textCol)), k, w)).as("fp"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfCounts = fps.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    // rare fp stream feeds three branches (sizes, both self-join
    // sides) — persist it once (disk-spillable; it is the post-hot-drop
    // stream, corpus-sized at most) instead of re-running extraction
    // per branch; sz attaches to the PAIR-cardinality output, never
    // riding the wide fp stream through the self-join
    val rare = fps.join(dfCounts, "fp")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = rare.groupBy(col("id")).agg(count(lit(1)).as("sz"))
    val joinable = rare.filter(col("df") >= 2).select(col("id"), col("fp"))
    val pairs = joinable.as("a").join(joinable.as("b"),
        col("a.fp") === col("b.fp") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_shared"))
    val result = pairs
      .join(sizes.select(col("id").as("id_a"), col("sz").as("sz_a")), "id_a")
      .join(sizes.select(col("id").as("id_b"), col("sz").as("sz_b")), "id_b")
      .filter(col("n_shared") * thrDen >=
        least(col("sz_a"), col("sz_b")) * thrNum)
      .select(col("id_a"), col("id_b"), col("n_shared"),
        col("sz_a"), col("sz_b"),
        (col("n_shared").cast("double") /
          least(col("sz_a"), col("sz_b")).cast("double"))
          .as("containment"))
    // pair-cardinality result: seal it so the fp caches are freed here
    graft.sealResult(result, rare, fps)
  }
}
