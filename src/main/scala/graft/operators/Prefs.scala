package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Pairwise-preference aggregation (SURVEY.md §2.E104) — the data shape
  * reward-model / RLHF-style training prep reduces to: a pile of
  * (winner, loser) judgments that must become one consistent strength
  * ranking before pairs are filtered, balanced, or mined for margin.
  *
  * Scale design: everything is keyed aggregation on the ITEM/PAIR
  * tables (cardinality = items and distinct match-ups, not raw
  * judgments); the fixed-point rounds join pair-cardinality tables
  * twice per round — the exact same two-shuffle-per-round shape as
  * [[Graph.pageRankFixed]] — with a driver rung below a pair threshold
  * (asserted bit-equal to the distributed loop in Round8OpsSpec) so a
  * small tournament never pays 5 rounds of distributed scheduling.
  */
object Prefs {

  /** E104: Bradley–Terry strength estimation (Bradley & Terry,
    * Biometrika 1952) from pairwise outcomes, via Hunter's MM algorithm
    * (Ann. Stat. 2004) in EXACT integer fixed-point — the
    * [[Graph.pageRankFixed]] discipline applied to preference data, so
    * the gate hash-matches any engine that replays the same rounds:
    *
    *   p'ᵢ = clamp( (Wᵢ·S²) div max(1, Σⱼ (nᵢⱼ·S²) div (pᵢ + pⱼ)) )
    *
    * with init pᵢ = S, clamp to [1, 10¹²] (the lower bound keeps
    * pᵢ + pⱼ nonzero — a winless item floors at 1 rather than
    * poisoning its opponents' denominators; the upper bound keeps every
    * later product in BIGINT — an undefeated item's MLE diverges and
    * must saturate SOMEWHERE, so it saturates at a documented value).
    * Every division is a positive-operand floor division and every sum
    * is order-free — bit-identical cross-engine.
    *
    * Data bound, validated loudly: nᵢⱼ·S² and Wᵢ·S² must stay under
    * 2⁶³, so per-pair judgments ≤ 4·10⁶ and per-item wins ≤ 9·10⁶ at
    * the default scale (lower `scale` for denser tournaments — the
    * ranking is scale-invariant, only the resolution changes).
    *
    * @param comparisons one row per judgment; items are compared as
    *                    strings.
    * @return (item, n_games, n_wins, rating_fp) — rating in
    *         scale-units, higher = stronger.
    */
  def bradleyTerryFixed(comparisons: DataFrame, winnerCol: String,
                        loserCol: String, iterations: Int = 5,
                        scale: Long = 1000000L): DataFrame = {
    require(iterations >= 1 && scale >= 1000L,
      s"bradleyTerryFixed: iterations=$iterations scale=$scale")
    val spark = comparisons.sparkSession
    val cap = 1000000000000L
    val w = comparisons
      .select(col(winnerCol).cast("string").as("win"),
        col(loserCol).cast("string").as("lose"))
      .filter(col("win").isNotNull && col("lose").isNotNull &&
        col("win") =!= col("lose"))
      .groupBy(col("win"), col("lose")).agg(count(lit(1)).as("c"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // symmetric match-up counts: n(i,j) rows in BOTH directions so the
    // per-round denominator is one equi-join + keyed sum per side
    val pairs = w.select(col("win").as("i"), col("lose").as("j"), col("c"))
      .union(w.select(col("lose").as("i"), col("win").as("j"), col("c")))
      .groupBy(col("i"), col("j")).agg(sum(col("c")).as("nij"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    val items = pairs.groupBy(col("i"))
      .agg(sum(col("nij")).as("games"))
      .join(w.groupBy(col("win").as("i")).agg(sum(col("c")).as("__w")),
        Seq("i"), "left")
      .select(col("i"), col("games"),
        coalesce(col("__w"), lit(0L)).as("wins"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // loud data-bound guard (one cheap agg over pair-cardinality rows):
    // nij·S² and wins·S² must stay in BIGINT for BOTH engines
    val bound = Long.MaxValue / (scale * scale)
    val mx = items.agg(max(col("wins")).as("mw"),
      max(col("games")).as("mg")).head
    if (!mx.isNullAt(0))
      // games ≥ nij for every pair at i, and wins ≤ games — one agg
      // covers both products
      require(mx.getLong(1) <= bound,
        s"bradleyTerryFixed: max per-item judgments ${mx.getLong(1)} " +
          s"exceeds the BIGINT-safe bound $bound at scale=$scale — " +
          "lower `scale`")
    import spark.implicits._
    val nPairs = pairs.count()
    if (nPairs == 0) {
      w.unpersist(); pairs.unpersist(); items.unpersist()
      return Seq.empty[(String, Long, Long, Long)]
        .toDF("item", "n_games", "n_wins", "rating_fp")
    }
    // 16 bytes per (i, j) pair: the pair's count plus its rating slot.
    // Driver rung: the tournament fits comfortably in memory — the SAME
    // integer recurrence, asserted bit-equal to the distributed rounds
    // in Round8OpsSpec
    graft.hybridSized("bradleyTerryFixed", pairs.as[(String, String, Long)],
        nPairs * 16) { ps =>
      val it = items.select(col("i"), col("games"), col("wins"))
        .as[(String, Long, Long)].collect()
      w.unpersist(); items.unpersist()
      val ids = it.map(_._1).sorted
      val idx = ids.zipWithIndex.toMap
      val wins = new Array[Long](ids.length)
      val games = new Array[Long](ids.length)
      it.foreach { case (i, g, wn) =>
        wins(idx(i)) = wn; games(idx(i)) = g
      }
      val pe = ps.map { case (i, j, n) => (idx(i), idx(j), n) }
      var p = Array.fill(ids.length)(scale)
      for (_ <- 1 to iterations) {
        val den = new Array[Long](ids.length)
        pe.foreach { case (i, j, n) =>
          den(i) += n * scale * scale / (p(i) + p(j))
        }
        p = ids.indices.toArray.map { i =>
          val d = math.max(1L, den(i))
          math.min(cap, math.max(1L, wins(i) * scale * scale / d))
        }
      }
      Some(spark.createDataset(ids.toSeq.map(i =>
          (i, games(idx(i)), wins(idx(i)), p(idx(i)))))
        .toDF("item", "n_games", "n_wins", "rating_fp"))
    } { pairs =>
      var ranks = items.select(col("i"), lit(scale).as("p"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      for (_ <- 1 to iterations) {
        val den = pairs
          .join(ranks.select(col("i"), col("p").as("pi")), Seq("i"))
          .join(ranks.select(col("i").as("j"), col("p").as("pj")), Seq("j"))
          .groupBy(col("i"))
          .agg(sum(expr(s"nij * ${scale}L * ${scale}L div (pi + pj)"))
            .as("den"))
        ranks = graft.nextRound(ranks, items.join(den, Seq("i"))
          .select(col("i"),
            least(lit(cap), greatest(lit(1L),
              expr(s"wins * ${scale}L * ${scale}L div greatest(den, 1L)")))
              .as("p")))
      }
      val out = items.join(ranks, Seq("i"))
        .select(col("i").as("item"), col("games").as("n_games"),
          col("wins").as("n_wins"), col("p").as("rating_fp"))
      graft.sealResult(out, w, pairs, items, ranks)
    }
  }
}
