package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** Token-set similarity self-join with prefix filtering
  * (AllPairs / PPJoin family — Bayardo et al. WWW'07, Xiao et al.
  * ICDE'08; reference pipeline's dedup semantics generalized to set
  * similarity, cf. reference transform.py dedup-by-key).
  *
  * Prefix filtering bounds candidate generation instead of pruning it
  * after the fact: under any global token order, two sets with
  * J(a,b) ≥ τ MUST share a token among the first
  * `|x| − ⌈τ·|x|⌉ + 1` tokens of each (else the remaining suffixes are
  * too short to reach the required overlap ⌈τ·max(|a|,|b|)⌉). Ordering
  * tokens rarest-first makes those prefixes the LOW-df tokens, so the
  * quadratic blowup lands on tokens shared by few docs — the hot
  * head of the vocabulary never enters the join. At 100 TB this is
  * the difference between a bounded equi-join and a skew bomb.
  *
  * `prefixJoin` is the one candidate-generation + verify kernel;
  * [[jaccardSelfJoin]] (E42) and `Dedup.ngramJaccardPairs` (E2) call
  * it with their own bound and acceptance test.
  */
object SetSim {

  /** The prefix-filtered Jaccard self-join kernel: every pair
    * (id_a < id_b) whose token sets may reach Jaccard ≥ num/den, with
    * their exact set sizes and intersection. Output:
    * `(id_a, id_b, sz_a, sz_b, inter)` — a SUPERSET of the pairs at
    * the bound (the caller applies its acceptance test), plus the
    * persisted per-doc frame the caller releases when it seals.
    *
    * Plan shape: raw token explode → `dfreq` aggregate (keyed on
    * token) → ONE per-doc aggregate building the rarest-first sorted
    * token set (keyed on id; size, prefix and verify arrays all derive
    * from it in-row) → prefix self equi-join on the token → two keyed
    * verify joins with `array_intersect`. No window, no cross join, no
    * broadcast of anything data-sized, no driver-side state.
    *
    * Invariants:
    *  - `dfreq` counts token OCCURRENCES (the raw explode is not
    *    de-duplicated — `collect_set` does that per doc for free).
    *    Prefix filtering is correct under ANY fixed global order, so
    *    the relation is the same as with document counts.
    *  - The raw token stream is NOT persisted: the codegen'd scan +
    *    explode re-runs per consumer branch, which is cheaper than
    *    materializing the exploded string stream through the block
    *    manager. Nor is it spread: under AQE the two branches' stages
    *    materialize concurrently and never reuse an exchange, so a
    *    repartition here would run once per branch. Only the per-doc
    *    arrays persist, because both sides of the candidate join and
    *    both verify joins read them.
    *  - Prefix length `|x| − ⌈num·|x|/den⌉ + 1` and the size-ratio
    *    bound `num·max ≤ den·min` (J ≤ min/max) are exact integer
    *    arithmetic, so pruning is bit-stable at any parallelism.
    *
    * @param tokens array column of set elements (null elements are
    *               not expected; duplicates are dropped per doc)
    */
  private[operators] def prefixJoin(df: DataFrame, tokens: Column,
                                    id: Column, num: Long,
                                    den: Long): (DataFrame, DataFrame) = {
    val raw = df.select(id.as("id"), explode(tokens).as("token"))
    val dfreq = raw.groupBy(col("token")).agg(count(lit(1)).as("dfreq"))
    // the global total order is (dfreq asc, token asc): rarest-first,
    // ties broken lexically — a pure function of the corpus
    val ord = raw
      .join(dfreq, "token")
      .groupBy(col("id"))
      .agg(transform(
        sort_array(collect_set(struct(col("dfreq"), col("token")))),
        x => x.getField("token")).as("toks"))
      .withColumn("sz", size(col("toks")).cast("long"))
      .withColumn("pref", slice(col("toks"), lit(1),
        (col("sz") - expr(s"($num * sz + ${den - 1}) div $den") + 1)
          .cast("int")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pc = ord.select(col("id"), col("sz"), explode(col("pref")).as("token"))
    val cand = pc.as("a").join(pc.as("b"),
        col("a.token") === col("b.token") && col("a.id") < col("b.id") &&
          lit(num) * greatest(col("a.sz"), col("b.sz")) <=
            lit(den) * least(col("a.sz"), col("b.sz")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .distinct()
    val pairs = cand
      .join(ord.select(col("id").as("id_a"), col("toks").as("ta")), "id_a")
      .join(ord.select(col("id").as("id_b"), col("toks").as("tb")), "id_b")
      .select(col("id_a"), col("id_b"), col("sz_a"), col("sz_b"),
        size(array_intersect(col("ta"), col("tb"))).cast("long")
          .as("inter"))
    (pairs, ord)
  }

  /** All pairs (doc_a < doc_b) whose distinct-token-set Jaccard
    * ≥ tauNum/tauDen. Output: doc_a, doc_b, inter, n_a, n_b, jacc.
    *
    * Threshold is a rational `tauNum/tauDen` so every pruning and
    * acceptance test is EXACT integer arithmetic (`den·|∩| ≥
    * num·|∪|`) — bit-stable at any parallelism, engine-portable; the
    * only float op is the reported Jaccard value itself (one IEEE
    * division of exact ints).
    *
    * @param tokens text column → array column; the set elements. Word
    *               n-gram shingles (`TextFunctions.shingles`) make the
    *               relation a near-dup join; plain words make it a
    *               bag-of-words similarity join.
    */
  def jaccardSelfJoin(df: DataFrame, textCol: String, idCol: String,
                      tauNum: Int, tauDen: Int,
                      tokens: Column => Column =
                        TextFunctions.words): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0,1]: $tauNum/$tauDen")
    val (pairs, ord) = prefixJoin(df, tokens(col(textCol)),
      col(idCol).cast("long"), tauNum, tauDen)
    // near-dup-pair output (threshold survivors, corpus-small): seal —
    // materialize, release the persisted per-doc token arrays
    graft.sealResult(pairs
      .filter(lit(tauDen) * col("inter") >=
        lit(tauNum) * (col("sz_a") + col("sz_b") - col("inter")))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("inter"), col("sz_a").as("n_a"), col("sz_b").as("n_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jacc")),
      ord)
  }

  /** Containment self-join: pairs with |A∩B| / min(|A|,|B|) ≥ τ — the
    * ASYMMETRIC near-dup test: a trimmed, quoted, or excerpted doc
    * sits INSIDE a larger one with containment ≈ 1 while its Jaccard
    * can be arbitrarily low (the small set barely dents the union).
    * The curation complement to [[jaccardSelfJoin]]: Jaccard finds
    * same-size near-dups, containment finds subsumption.
    *
    * No prefix filter here — containment's required overlap scales
    * with the SMALLER set, so the prefix bound degenerates (a token
    * of x can always be the one its tiny partner shares). Candidates
    * come from the shared-token equi-join (the E2 shape: keyed,
    * never cartesian; rare-token corpora keep it bounded), and the
    * acceptance test is exact integers: den·|∩| ≥ num·min(|A|,|B|).
    */
  def containmentSelfJoin(df: DataFrame, textCol: String, idCol: String,
                          tauNum: Int, tauDen: Int,
                          tokens: org.apache.spark.sql.Column =>
                            org.apache.spark.sql.Column =
                            TextFunctions.words): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0,1]: $tauNum/$tauDen")
    // un-persisted: re-scanning beats caching the exploded string
    // stream, and without a shared cache the per-branch exchange
    // count is deterministic; the keyed full spread is reused by the
    // per-id aggregate inside each branch
    val tok = graft.fanOutHeavy(df, col(idCol))
      .select(col(idCol).cast("long").as("id"),
        explode(array_distinct(tokens(col(textCol)))).as("token"))
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = tok.as("a").join(tok.as("b"),
        col("a.token") === col("b.token") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    graft.sealResult(inter
      .join(sizes.select(col("id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(lit(tauDen) * col("inter") >=
        lit(tauNum) * least(col("n_a"), col("n_b")))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a"), col("n_b"),
        (col("inter").cast("double") /
          least(col("n_a"), col("n_b")).cast("double")).as("containment")))
  }

  /** Brute-force reference: every shared-token pair, exact filter —
    * the executable spec `jaccardSelfJoin` is asserted against (and
    * the shape prefix filtering exists to avoid).
    */
  def jaccardNaive(df: DataFrame, textCol: String, idCol: String,
                   tauNum: Int, tauDen: Int,
                   tokens: org.apache.spark.sql.Column =>
                     org.apache.spark.sql.Column =
                     TextFunctions.words): DataFrame = {
    val tok = df.select(col(idCol).cast("long").as("id"),
      explode(array_distinct(tokens(col(textCol)))).as("token"))
    val sizes = tok.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = tok.as("a").join(tok.as("b"),
        col("a.token") === col("b.token") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("doc_a"), col("b.id").as("doc_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("id").as("doc_a"), col("n").as("n_a")), "doc_a")
      .join(sizes.select(col("id").as("doc_b"), col("n").as("n_b")), "doc_b")
      .filter(lit(tauDen) * col("inter") >=
        lit(tauNum) * (col("n_a") + col("n_b") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("inter"),
        col("n_a"), col("n_b"),
        (col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter"))).as("jacc"))
  }
}
