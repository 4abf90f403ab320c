package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Distributed connected components (SURVEY.md §2.E21).
  *
  * Near-duplicate detection yields PAIRS; turning pairs into dedup
  * groups ("keep one doc per near-dup cluster") is a connected-
  * components problem — pair (a,b) + pair (b,c) must collapse into one
  * cluster {a,b,c} even though (a,c) was never emitted.
  *
  * Algorithm: iterated min-label propagation ("hash-to-min"). Every
  * node starts labeled with its own id; each round replaces a node's
  * label with the min over itself and its neighbors' labels. Labels
  * are monotonically non-increasing and converge to the minimum id of
  * the component in O(diameter) rounds (near-dup clusters have tiny
  * diameters — chains of shingle-overlapping docs).
  *
  * Scale design (100 TB): each round is ONE keyed shuffle (edges ⋈
  * labels on dst, then groupBy src + min) — the same primitive as
  * GraphX/GraphFrames CC, no driver-side adjacency. Convergence is
  * detected by a one-scalar aggregate (sum of labels is strictly
  * decreasing until fixpoint), not by collecting labels.
  *
  * Every converging distributed loop here (CC, kCore, kTruss, the BFS
  * visited set, Bellman–Ford and SCC's trim, forward and backward
  * passes) follows one rule, [[graft.fixpoint]]: a round's convergence
  * scalar is read by the job that materializes the round, the round it
  * replaces is freed, and the loop stops when the scalar repeats or at
  * its round bound. A loop that must not return short of a fixpoint
  * exits through [[graft.giveUp]], which frees everything it holds
  * before it throws.
  *
  * Storage: every distributed builder frees exactly what it created.
  * Loop state goes through [[graft.fixpoint]] or, for a fixed number of
  * rounds, [[graft.nextRound]] (the replaced round is freed as the new
  * one lands), final results through [[graft.sealResult]], and a result
  * is either the loop state itself or sealed — never a lazy view over
  * operator storage, which [[graft.release]] could not reach.
  */
object Graph {

  /** Canonical undirected edges (a, b): both ids cast to long,
    * self-loops dropped, each edge once as (least, greatest).
    */
  private def undirected(edges: DataFrame, srcCol: String,
                         dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("long").as("s"),
        col(dstCol).cast("long").as("d"))
      .filter(col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"),
        greatest(col("s"), col("d")).as("b"))
      .distinct()

  /** Connected components over an undirected edge list.
    *
    * Hybrid execution: dedup funnels usually reduce a huge corpus to a
    * SMALL edge set (pairs that survived LSH + verification), so when
    * the canonical edge list fits comfortably on the driver (the
    * shared [[graft.hybrid]] rung at 16 bytes per edge: 2M edges
    * ≈ 32 MB at the default bound) we collect it and run union-find —
    * one job, O(E·α) — instead of O(diameter) iterated shuffles.
    * Above the bound the distributed min-label-propagation loop runs
    * unchanged. Both paths produce the
    * identical (id, min-reachable-id) labeling (asserted in
    * GraphSamplingSpec), so the choice is pure execution strategy —
    * the same decision broadcast-vs-shuffle joins make.
    *
    * @return one row per node that appears in any edge:
    *         (id, component) where component = min node id reachable.
    */
  def connectedComponents(edges: DataFrame, srcCol: String, dstCol: String,
                          maxIter: Int = 25): DataFrame = {
    import edges.sparkSession.implicits._
    // canonicalize to undirected (min,max) edges FIRST and persist:
    // the naive union(e, e.swapped) evaluates the upstream pipeline —
    // often an expensive dedup-candidate join — TWICE before any cache
    // materializes, and carries 2× the rows through the distinct.
    // 16 bytes per edge: one (a, b) long pair; union-find treats
    // edges as undirected — no symmetrization needed
    graft.hybrid("connectedComponents",
        undirected(edges, srcCol, dstCol).as[(Long, Long)], 16)(es =>
      Some(localUnionFind(es).toDF("id", "comp")
        .repartition(col("comp")))) { (und, _) =>
      // symmetrize (from cache) so min-propagation flows both directions
      val sym = und.union(und.select(col("b"), col("a")))
        .toDF("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // round 0 fused into init: label₀ = min(id, direct neighbors) — one
      // groupBy instead of an identity-label table plus a full round
      val init = sym
        .groupBy(col("src"))
        .agg(min(col("dst")).as("mn"))
        .select(col("src").as("id"), least(col("src"), col("mn")).as("comp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      // sum(comp) strictly decreases while any label can still shrink, so
      // an unchanged sum IS the fixpoint — one scalar per round crosses
      // the driver, never the label table. The first round only sets the
      // baseline sum, hence maxIter + 1 rounds.
      val (labels, _, fixed) = graft.fixpoint(init, maxIter + 1) {
          (prev, round) =>
        // round 1 filled sym's cache, so und is no longer read
        if (round == 2) und.unpersist()
        val nbrMin = sym.join(prev, sym("dst") === prev("id"))
          .groupBy(sym("src").as("id"))
          .agg(min(col("comp")).as("nbr_comp"))
        prev.as("l")
          .join(nbrMin.as("n"), col("l.id") === col("n.id"), "left")
          .select(col("l.id").as("id"),
            least(col("l.comp"), coalesce(col("n.nbr_comp"), col("l.comp")))
              .as("comp"))
      }(_.agg(sum(col("comp"))).head.getLong(0))
      Seq(und, sym).foreach(_.unpersist())
      if (!fixed) graft.giveUp(
        s"connectedComponents: no fixpoint after $maxIter rounds — " +
          "component diameter exceeds maxIter; raise maxIter " +
          "(labels would be incorrect, refusing to return them)", labels)
      labels
    }
  }

  /** Driver-side union-find over a collected edge list — the small-
    * graph fast path. Path-halving + union-by-min keeps the root the
    * MINIMUM id of its set, matching the distributed labeling exactly.
    */
  private def localUnionFind(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = new scala.collection.mutable.HashMap[Long, Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) {
        parent(r) = parent(parent(r)) // path halving
        r = parent(r)
      }
      r
    }
    es.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val ra = find(a)
      val rb = find(b)
      // union by min id so the root IS the component label
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(id => (id, find(id)))
  }

  /** Cluster roll-up: one row per component with its size and the
    * canonical keeper (= the component label, the min id).
    */
  def componentSummary(components: DataFrame): DataFrame =
    components.groupBy(col("comp").as("cluster_id"))
      .agg(count(lit(1)).as("n_members"))

  /** PageRank over a directed edge list, fixed iteration count (the
    * deterministic-step form; convergence-check variants trade a
    * scalar aggregate per round, as in [[connectedComponents]]).
    *
    * Each round is the canonical two-shuffle step: contributions =
    * edges ⋈ ranks on src (rank/outdeg per edge), then groupBy dst +
    * sum, then a left join back onto the node set so rank mass
    * re-seeds nodes with no in-edges. Degrees are joined once and
    * cached; the rounds never collect to the driver. Rank sums are
    * floating-point (aggregation order varies with partitioning), so
    * gates over this operator are rows-only; semantics are spec'd
    * with tolerance in GraphSamplingSpec.
    *
    * Dangling nodes (no out-edges) leak their mass, as in the
    * original formulation — acceptable for ranking use.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               damping: Double = 0.85, iterations: Int = 10): DataFrame = {
    import edges.sparkSession.implicits._
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // hybrid execution, same rationale as connectedComponents: dedup
    // funnels reduce a huge corpus to a SMALL edge set, where 10
    // distributed rounds are pure scheduling floor — collect and power-
    // iterate on the driver instead. Above the gate: the distributed
    // loop, unchanged. 16 bytes per edge: one (src, dst) long pair.
    graft.hybrid("pageRank", e.as[(Long, Long)], 16)(es =>
      Some(localPageRank(es, damping, iterations).toDF("id", "rank"))) {
        (e, _) =>
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      val n = nodes.count()
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val withDeg = e.join(outdeg, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val base = (1.0 - damping) / n
      var ranks = nodes.select(col("id"), lit(1.0 / n).as("rank"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      for (_ <- 1 to iterations) {
        val contribs = withDeg.join(ranks, withDeg("src") === ranks("id"))
          .groupBy(col("dst").as("id"))
          .agg(sum(col("rank") / col("deg")).as("inflow"))
        // the round's checkpoint truncates lineage: without it the plan
        // nests one join level per iteration, generated code blows past
        // JIT/janino limits and plan rendering itself is quadratic
        ranks = graft.nextRound(ranks, nodes.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (lit(base) + lit(damping) * coalesce(col("inflow"), lit(0.0)))
              .as("rank")))
      }
      nodes.unpersist()
      withDeg.unpersist()
      e.unpersist()
      ranks
    }
  }

  /** E30b: fixed-point PageRank — the ENGINE-PORTABLE twin of
    * [[pageRank]], same shape as simhash's md5-portable twin: every
    * arithmetic step is exact integer math, so the result is
    * bit-identical on any engine, partitioning, or aggregation order,
    * and the operator can carry a hard hash-equality oracle gate
    * (float PageRank cannot: its per-node sums are IEEE adds in
    * partition order).
    *
    * Rank mass is held in integer `scale`-units (default 1e12 — ~12
    * significant digits, far below BIGINT overflow even summed over
    * the whole graph since total mass never exceeds `scale` +
    * n·base). One round:
    *
    *   contrib(e) = rank(src) div outdeg(src)        (exact int div)
    *   inflow(v)  = Σ contrib                         (int sum, order-free)
    *   rank'(v)   = base + (dampNum·inflow) div dampDen
    *
    * with base = ((dampDen−dampNum)·scale) div (dampDen·n) and
    * init = scale div n. Damping is the rational dampNum/dampDen
    * (85/100 = the canonical 0.85). Truncation loses < n·iters
    * scale-units of mass vs the float form — at scale=1e12 the two
    * agree to ~9 significant digits (asserted in GraphSamplingSpec) —
    * in exchange for determinism the float form cannot offer.
    *
    * Same hybrid execution as [[pageRank]]: graphs that pass the
    * shared [[graft.hybrid]] rung power-iterate on the driver
    * (identical integer ops ⇒ identical result to the distributed
    * loop, asserted in GraphSamplingSpec); larger graphs run the two-shuffle
    * distributed rounds, ranks advanced through [[graft.nextRound]].
    * Dangling nodes leak mass, as in [[pageRank]].
    *
    * @return (id, rank_fp) — rank in scale-units, BIGINT.
    */
  def pageRankFixed(edges: DataFrame, srcCol: String, dstCol: String,
                    dampNum: Long = 85L, dampDen: Long = 100L,
                    iterations: Int = 5,
                    scale: Long = 1000000000000L): DataFrame =
    fixedRank("pageRankFixed", edges, srcCol, dstCol, None, dampNum,
      dampDen, iterations, scale)

  /** HITS hubs & authorities (Kleinberg, JACM 1999) over a directed
    * edge list, fixed-point integer variant — the web-relevance pair
    * PageRank doesn't give: a page can matter as a CURATOR (hub:
    * points at good pages) or as a DESTINATION (authority: pointed at
    * by good hubs). On a crawl graph the authority score ranks fetch
    * candidates; the hub score finds link directories/boilerplate.
    *
    * Fixed-point discipline (the [[pageRankFixed]] trick, adapted):
    * each round computes auth = Σ in-neighbor hub then hub = Σ
    * out-neighbor auth, each renormalized to `scale` by the round's
    * max via floor division — integer sums are order-free and the max
    * is a 1-row broadcast, so the whole iteration is hash-gateable
    * cross-engine (the oracle unrolls the same rounds). Overflow
    * bound: per-node sums ≤ maxDegree·scale and the normalization
    * product ≤ maxDegree·scale² — scale 10⁶ supports degrees to ~9·10⁶
    * (document-graph hubs; lower `scale` for denser graphs).
    *
    * Scale design: each round = two keyed joins + two keyed aggregates
    * + two 1-row broadcast normalizations; O(rounds) shuffles; both
    * scores checkpointed per half-round through [[graft.nextRound]],
    * the replaced one freed. String node ids (URLs) supported directly.
    *
    * @return (id, hub_fp, auth_fp) in `scale`-units (round max = scale).
    */
  def hitsFixedPoint(edges: DataFrame, srcCol: String, dstCol: String,
                     rounds: Int = 2, scale: Long = 1000000L): DataFrame = {
    import edges.sparkSession.implicits._
    require(rounds >= 1 && rounds <= 8 && scale >= 1000L)
    val e = edges.select(col(srcCol).cast("string").as("src"),
        col(dstCol).cast("string").as("dst"))
      .filter(col("src").isNotNull && col("dst").isNotNull &&
        col("src") =!= col("dst"))
      .distinct()
    // hybrid small-graph rung (the CC/PageRank/LPA discipline): under
    // the size gate the 4·rounds tiny sequential jobs are pure
    // scheduling floor — run the identical integer recurrence on
    // driver arrays instead (asserted bit-equal in GraphSamplingSpec;
    // everything is exact integer arithmetic, so equality is ==).
    // 64 bytes per edge, not the long-id operators' 16: node ids here
    // are STRINGS (URLs), several times the size of a long pair.
    graft.hybrid("hitsFixedPoint", e.as[(String, String)], 64) { es =>
      val ids = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
      val idx = ids.zipWithIndex.toMap
      val n = ids.length
      val out = es.map { case (s, d) => (idx(s), idx(d)) }
      var hub = Array.fill(n)(scale)
      var auth = Array.fill(n)(0L)
      def normalize(raw: Array[Long]): Array[Long] = {
        val mx = if (raw.isEmpty) 0L else raw.max
        if (mx <= 0) Array.fill(raw.length)(0L)
        else raw.map(v => (BigInt(v) * scale / mx).toLong)
      }
      for (_ <- 1 to rounds) {
        val aRaw = Array.fill(n)(0L)
        out.foreach { case (s, d) => aRaw(d) += hub(s) }
        auth = normalize(aRaw)
        val hRaw = Array.fill(n)(0L)
        out.foreach { case (s, d) => hRaw(s) += auth(d) }
        hub = normalize(hRaw)
      }
      Some(ids.indices.map(i => (ids(i), hub(i), auth(i)))
        .toDF("id", "hub_fp", "auth_fp"))
    } { (e, _) =>
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // loud overflow guard (the knn/silhouette data-validation
      // discipline): the normalization computes s·scale with
      // s ≤ maxDegree·scale, so maxDegree must stay ≤ Long.Max/scale² —
      // validate the GRAPH and fail instead of wrapping negative. One
      // cheap degree aggregate; only the distributed branch needs it
      // (the local rung goes through BigInt).
      val maxDeg = e.select(col("src").as("n"))
        .unionAll(e.select(col("dst").as("n")))
        .groupBy(col("n")).agg(count(lit(1)).as("d"))
        .agg(max(col("d"))).head.getLong(0)
      require(maxDeg <= Long.MaxValue / scale / scale,
        s"hitsFixedPoint: max node degree $maxDeg exceeds the Long-safe " +
          s"bound ${Long.MaxValue / scale / scale} at scale=$scale — " +
          "lower `scale` for this graph")
      def normalized(raw: DataFrame, outCol: String): DataFrame = {
        // full node frame (zero-fill) → renormalize so the round max is
        // exactly `scale`; floor div, deterministic
        val full = nodes.join(raw, Seq("id"), "left")
          .select(col("id"), coalesce(col("s"), lit(0L)).as("s"))
        val mx = full.agg(max(col("s")).as("mx"))
        full.crossJoin(broadcast(mx))
          .select(col("id"),
            when(col("mx") > 0, expr(s"(s * ${scale}L) div mx"))
              .otherwise(lit(0L)).as(outCol))
      }
      // both scores are loop state: each half-round reads the other's
      // round twice (`normalized` uses its input for the zero-fill and
      // the max), so without a per-round checkpoint the plan would grow
      // fourfold per round. The zero authority before round 1 is a view
      // of `nodes` and owns no storage.
      var hub = nodes.select(col("id"), lit(scale).as("hub_fp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      var auth = nodes.select(col("id"), lit(0L).as("auth_fp"))
      for (_ <- 1 to rounds) {
        auth = graft.nextRound(auth, normalized(
          e.join(hub.withColumnRenamed("id", "src"), "src")
            .groupBy(col("dst").as("id")).agg(sum(col("hub_fp")).as("s")),
          "auth_fp"))
        hub = graft.nextRound(hub, normalized(
          e.join(auth.withColumnRenamed("id", "dst"), "dst")
            .groupBy(col("src").as("id")).agg(sum(col("auth_fp")).as("s")),
          "hub_fp"))
      }
      graft.sealResult(hub.join(auth, Seq("id")), hub, auth, nodes, e)
    }
  }

  /** Driver-local forward-oriented triangle enumeration for the
    * hybrid small-graph rungs of [[triangleStats]] and
    * [[localClustering]]: rank v by (deg, v), orient lo→hi, and for
    * each oriented edge (u,v) intersect the sorted out-neighbor lists
    * — each triangle found exactly once at its lowest-rank edge, all
    * three corners credited. Pure integer counting, so the rung is
    * asserted bit-equal to the distributed joins.
    *
    * @return (degree per node, triangles per node, total triangles)
    */
  private def localTriangleCounts(es: Array[(Long, Long)])
      : (Map[Long, Long], scala.collection.Map[Long, Long], Long) = {
    val deg = scala.collection.mutable.HashMap.empty[Long, Long]
    es.foreach { case (a, b) =>
      deg(a) = deg.getOrElse(a, 0L) + 1
      deg(b) = deg.getOrElse(b, 0L) + 1
    }
    def lt(a: Long, b: Long): Boolean = {
      val (da, db) = (deg(a), deg(b)); da < db || (da == db && a < b)
    }
    val out = scala.collection.mutable.HashMap
      .empty[Long, scala.collection.mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      val (u, v) = if (lt(a, b)) (a, b) else (b, a)
      out.getOrElseUpdate(u, scala.collection.mutable.ArrayBuffer
        .empty[Long]) += v
    }
    val adj = out.map { case (k, v) => k -> v.toArray.sorted }
    val tri = scala.collection.mutable.HashMap.empty[Long, Long]
    var total = 0L
    val empty = Array.empty[Long]
    es.foreach { case (a, b) =>
      val (u, v) = if (lt(a, b)) (a, b) else (b, a)
      val (nu, nv) = (adj.getOrElse(u, empty), adj.getOrElse(v, empty))
      var (i, j) = (0, 0)
      while (i < nu.length && j < nv.length) {
        if (nu(i) == nv(j)) {
          val w = nu(i)
          total += 1
          tri(u) = tri.getOrElse(u, 0L) + 1
          tri(v) = tri.getOrElse(v, 0L) + 1
          tri(w) = tri.getOrElse(w, 0L) + 1
          i += 1; j += 1
        } else if (nu(i) < nv(j)) i += 1 else j += 1
      }
    }
    (deg.toMap, tri, total)
  }

  /** Triangle count + global clustering coefficient over an undirected
    * edge list — the density fingerprint of a near-dup / co-occurrence
    * graph (dup clusters triangulate heavily; spurious LSH chains
    * don't).
    *
    * Triangles enumerate under the Schank/Ortmann forward orientation
    * ([[forwardEdges]]): every edge points at its HIGHER-(degree, id)
    * endpoint and wedges are enumerated at the node holding both
    * out-edges. Out-degrees are O(√m)-bounded (arboricity), so a
    * web-scale hub of degree D generates O(√m·D) wedge rows instead of
    * the O(D²) of an id-ordered a<b<c join — the difference between a
    * skewed wedge join finishing and one executor exploding.
    *
    * Wedge count Σ d(d−1)/2 stays integral (d(d−1) is even, DIV keeps
    * it exact), so clustering = 3·T / wedges is ONE double division
    * of exact integers — bit-identical everywhere, on either path.
    *
    * @return one row: (n_nodes, n_edges, n_triangles, clustering)
    */
  def triangleStats(edges: DataFrame, srcCol: String,
                    dstCol: String): DataFrame = {
    import edges.sparkSession.implicits._
    // hybrid small-graph rung (CC/PageRank/LPA/HITS discipline): the
    // wedge joins are pure scheduling floor under the size gate — the
    // driver enumeration is the same forward orientation, bit-equal
    // (GraphSamplingSpec). 64 bytes per edge: the pair plus its two
    // adjacency entries and the per-node degree/triangle counters.
    graft.hybrid("triangleStats",
        undirected(edges, srcCol, dstCol).as[(Long, Long)], 64) { es =>
      val (dg, _, total) = localTriangleCounts(es)
      val wedges = dg.values.map(d => d * (d - 1) / 2).sum
      val clustering =
        if (wedges > 0) Some((total * 3).toDouble / wedges.toDouble)
        else None
      Some(Seq((dg.size.toLong, es.length.toLong, total, clustering))
        .toDF("n_nodes", "n_edges", "n_triangles", "clustering"))
    } { (und, _) =>
      val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
      // d(d−1) is even, so DIV keeps the wedge sum in exact integers —
      // a float `/` would sum doubles in partition order
      val nodeStats = deg.agg(count(lit(1)).as("n_nodes"),
        sum(expr("degree * (degree - 1) DIV 2")).cast("long").as("wedges"))
      val edgeStats = und.agg(count(lit(1)).as("n_edges"))
      val oriented = forwardEdges(und, deg)
      val tri = triangles(oriented).agg(count(lit(1)).as("n_triangles"))
      graft.sealResult(nodeStats.crossJoin(edgeStats).crossJoin(tri)
        .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
          when(col("wedges") > 0,
            (col("n_triangles") * 3).cast("double") /
              col("wedges").cast("double")).as("clustering")),
        oriented, und)
    }
  }

  /** Forward orientation of canonical edges (a, b) given each node's
    * `degree`: rank r(v) = (degree v, v), every edge points lo-rank →
    * hi-rank, and carries its dst's degree (`dd`) so the wedge filter
    * needs no further join. Persisted: [[triangles]] reads it three
    * times.
    */
  private def forwardEdges(und: DataFrame, deg: DataFrame): DataFrame =
    und.join(deg.select(col("id").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("id").as("b"), col("degree").as("db")), "b")
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst"),
            col("db").as("dd")))
        .otherwise(struct(col("b").as("src"), col("a").as("dst"),
          col("da").as("dd"))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.dd").as("dd"))
      .persist(StorageLevel.MEMORY_AND_DISK)

  /** Every triangle exactly once as (src, x, y): wedges at the node
    * holding two out-edges of [[forwardEdges]], with rank x < rank y,
    * closed by the edge x→y (oriented so by transitivity of the rank
    * order).
    */
  private def triangles(oriented: DataFrame): DataFrame = {
    val w1 = oriented.toDF("src", "x", "dx")
    val w2 = oriented.toDF("src", "y", "dy")
    w1.join(w2, "src")
      .filter(col("dx") < col("dy") ||
        (col("dx") === col("dy") && col("x") < col("y")))
      .join(oriented.select(col("src").as("x"), col("dst").as("y")),
        Seq("x", "y"), "left_semi")
      .select(col("src"), col("x"), col("y"))
  }

  /** E76: per-node local clustering coefficient (Watts–Strogatz) over
    * an undirected edge list — [[triangleStats]] gives the corpus-level
    * density fingerprint; this gives the per-node view that separates
    * true duplicate-clique members (lcc ≈ 1) from LSH-chain bridge
    * nodes (lcc ≈ 0) so survivorship can distrust the bridges.
    *
    * Per-node triangle counts come from ONE triangle enumeration (the
    * [[triangleStats]] forward orientation, hub-safe) with each found
    * triangle credited to all three corners; lcc = 2·T / (deg·(deg−1))
    * is one IEEE division of exact integers — engine-deterministic,
    * hash-gateable raw.
    *
    * @return (id, degree, n_tri, lcc) — lcc 0.0 for degree < 2.
    */
  def localClustering(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    import edges.sparkSession.implicits._
    // hybrid small-graph rung, same enumeration crediting all corners
    // (64 bytes per edge, the triangleStats driver footprint)
    graft.hybrid("localClustering",
        undirected(edges, srcCol, dstCol).as[(Long, Long)], 64) { es =>
      val (dg, tri, _) = localTriangleCounts(es)
      Some(dg.toSeq.map { case (id, d) =>
        val t = tri.getOrElse(id, 0L)
        (id, d, t,
          if (d >= 2) (t * 2).toDouble / (d * (d - 1)).toDouble else 0.0)
      }.toDF("id", "degree", "n_tri", "lcc"))
    } { (und, _) =>
      val deg = und.select(explode(array(col("a"), col("b"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("degree"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      val oriented = forwardEdges(und, deg)
      val tris = triangles(oriented).persist(StorageLevel.MEMORY_AND_DISK)
      val triPerNode = tris.select(explode(
          array(col("src"), col("x"), col("y"))).as("id"))
        .groupBy(col("id")).agg(count(lit(1)).as("n_tri"))
      graft.sealResult(deg.join(triPerNode, Seq("id"), "left")
        .select(col("id"), col("degree"),
          coalesce(col("n_tri"), lit(0L)).as("n_tri"),
          when(col("degree") >= 2,
            (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
              (col("degree") * (col("degree") - 1)).cast("double"))
            .otherwise(lit(0.0)).as("lcc")),
        tris, oriented, deg, und)
    }
  }

  /** Synchronous label propagation (community detection) over an
    * undirected edge list, fixed round count, DETERMINISTIC variant:
    * every node starts labeled with its own id; each round every node
    * simultaneously adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label. The classic LPA
    * tie-break is random — fixing it to min-label makes the result a
    * pure function of the graph, so the operator is oracle-checkable
    * (the oracle unrolls the same rounds in SQL) and reproducible
    * across runs/engines, which a curation pipeline needs.
    *
    * Unlike [[connectedComponents]] (whole reachable set), LPA splits
    * a component along its dense cores — communities, not components.
    *
    * Scale design: each round is one keyed join (edges ⋈ labels on
    * dst) + two keyed aggregates ((node, label) counts, then per-node
    * argmax via ONE lexicographic struct max — no per-node sort, no
    * window). O(rounds) shuffles total; labels checkpointed per round
    * through [[graft.nextRound]], the replaced round freed. The state
    * carries the output's column names, so the last round IS the
    * result and owns its only storage.
    *
    * @return (id, community) for every node appearing in any edge.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       rounds: Int = 3): DataFrame = {
    import edges.sparkSession.implicits._
    // canonicalize + persist BEFORE symmetrizing — union(e, e.swap) on
    // an unpersisted plan would evaluate the (often expensive) upstream
    // candidate join twice, the exact trap connectedComponents documents.
    // Hybrid execution, same rationale as CC/PageRank: post-funnel
    // graphs are tiny, and LPA's update is pure INTEGER arithmetic
    // (counts + min-label ties), so the driver loop is bit-identical
    // to the distributed rounds — asserted in GraphSamplingSpec.
    // 16 bytes per edge: one (a, b) long pair.
    graft.hybrid("labelPropagation",
        undirected(edges, srcCol, dstCol).as[(Long, Long)], 16)(es =>
      Some(localLabelPropagation(es, rounds).toDF("id", "community")
        .repartition(col("community")))) { (e, _) =>
      val sym = e.union(e.select(col("b"), col("a")))
        .toDF("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      var labels = sym.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("community"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      for (round <- 1 to rounds) {
        val nbr = sym.join(labels, sym("dst") === labels("id"))
          .select(sym("src").as("id"), col("community"))
        // argmax(count, then min label) = max of the (count, -label)
        // struct — map-combinable, no window, no per-node sort
        labels = graft.nextRound(labels, nbr
          .groupBy(col("id"), col("community"))
          .agg(count(lit(1)).as("c"))
          .groupBy(col("id"))
          .agg(max(struct(col("c"), (-col("community")).as("nl"))).as("m"))
          .select(col("id"), (-col("m.nl")).as("community")))
        // round 1 filled sym's cache, so e is no longer read
        if (round == 1) e.unpersist()
      }
      Seq(e, sym).foreach(_.unpersist())
      labels
    }
  }

  /** Driver-side synchronized LPA for small (already-reduced) graphs —
    * identical semantics to the distributed loop: per round every node
    * simultaneously takes the most frequent neighbor label, ties to
    * the smallest. All-integer state → bit-identical to the
    * distributed path (no fp caveat like PageRank's).
    */
  private def localLabelPropagation(es: Array[(Long, Long)],
                                    rounds: Int): Seq[(Long, Long)] = {
    val adj = new scala.collection.mutable.HashMap[Long,
      scala.collection.mutable.ArrayBuffer[Long]]()
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, new scala.collection.mutable.ArrayBuffer) += b
      adj.getOrElseUpdate(b, new scala.collection.mutable.ArrayBuffer) += a
    }
    var lab = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.iterator.map { case (v, ns) =>
        val counts = new scala.collection.mutable.HashMap[Long, Int]()
        ns.foreach(n => counts(lab(n)) = counts.getOrElse(lab(n), 0) + 1)
        // max count, ties to the smallest label
        v -> counts.minBy { case (l, c) => (-c, l) }._1
      }.toMap
    }
    lab.toSeq
  }

  /** Driver-side power iteration for small (already-reduced) graphs —
    * node order fixed by sorted id, so the fold order (and result) is
    * fully deterministic, unlike the distributed path's partition-order
    * sums.
    */
  private def localPageRank(es: Array[(Long, Long)], damping: Double,
                            iterations: Int): Seq[(Long, Double)] = {
    val ids = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val deg = new Array[Long](n)
    es.foreach { case (s, _) => deg(idx(s)) += 1 }
    // group out-edges by source, sources in index order
    val adj = es.map { case (s, d) => (idx(s), idx(d)) }
      .groupBy(_._1).map { case (s, arr) => s -> arr.map(_._2).sorted }
    val srcOrder = adj.keys.toArray.sorted
    val base = (1.0 - damping) / n
    var rank = Array.fill(n)(1.0 / n)
    for (_ <- 1 to iterations) {
      val inflow = new Array[Double](n)
      srcOrder.foreach { s =>
        val c = rank(s) / deg(s)
        adj(s).foreach(d => inflow(d) += c)
      }
      rank = inflow.map(base + damping * _)
    }
    ids.toSeq.map(id => (id, rank(idx(id))))
  }

  /** k-core: the maximal subgraph in which every node has degree ≥ k
    * (Seidman 1983) — the standard "dense core vs fringe" split. In a
    * near-dup graph the k-core isolates genuine duplicate CLIQUES
    * from the chains and pendants LSH noise produces; with CC
    * (whole components) and LPA (dense cores by label) this
    * completes the graph toolkit's three views of the pair graph.
    *
    * Iterative peeling: drop nodes with degree < k, recompute degrees
    * on the survivor-induced subgraph, repeat to fixpoint. Each round
    * is one keyed degree agg + two semi joins; the surviving edges are
    * the loop state and their count, read by the job that materializes
    * the round, is the convergence check ([[graft.fixpoint]]; never a
    * collect). At the fixpoint the degrees are sealed from the last
    * round, which is then freed. Rounds = peeling depth (tiny for
    * clique-like graphs); throws past `maxRounds` rather than
    * returning a non-core silently.
    *
    * @return surviving nodes with their final in-core degree:
    *         (id, core_deg).
    */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 30): DataFrame = {
    import edges.sparkSession.implicits._
    require(k >= 1, s"k must be ≥ 1: $k")
    def degrees(e: DataFrame): DataFrame =
      e.select(explode(array(col("a"), col("b"))).as("p"))
        .groupBy(col("p")).agg(count(lit(1)).as("deg"))
    // 16 bytes per edge: one (a, b) long pair. Same hybrid rung as
    // CC/LPA/PageRank: a reduced graph this small peels on the driver
    // in one pass (all-integer state → bit-identical to the distributed
    // rounds, spec-asserted); each distributed round would otherwise
    // pay the full scheduling floor for kilobytes of work
    graft.hybrid("kCore",
        undirected(edges, srcCol, dstCol).as[(Long, Long)], 16)(es =>
      Some(localKCore(es, k).toDF("id", "core_deg"))) { (und, n) =>
      // the edge count is unchanged exactly at the fixpoint, where every
      // surviving degree is ≥ k; `maxRounds` peeling rounds may each
      // drop edges before the one that must find the fixpoint
      val (cur, _, fixed) = graft.fixpoint(und, maxRounds + 1, Some(n)) {
          (prev, _) =>
        val keep = degrees(prev).filter(col("deg") >= k).select(col("p"))
        prev
          .join(keep.withColumnRenamed("p", "a"), Seq("a"), "left_semi")
          .join(keep.withColumnRenamed("p", "b"), Seq("b"), "left_semi")
          .select(col("a"), col("b"))
      }(_.count())
      if (!fixed) graft.giveUp(
        s"kCore: no fixpoint after $maxRounds peeling rounds", cur)
      graft.sealResult(degrees(cur)
        .select(col("p").as("id"), col("deg").as("core_deg")), cur)
    }
  }

  /** E111: k-truss subgraph (Cohen 2008; Wang & Cheng, VLDB 2012) —
    * the maximal subgraph where every edge closes ≥ k−2 triangles
    * WITHIN the subgraph. The triangle-reinforced community core that
    * k-core over-admits: a star hub has high degree but zero
    * triangles, so it survives k-core and dies here — in a near-dup
    * graph that is exactly the "one template linked to everything"
    * node a cluster-quality cut wants gone.
    *
    * Plan (100 TB): per round, triangles enumerate ONCE each via the
    * oriented two-hop join e(a,b)⋈e(b,c)⋉e(a,c) over canonical a<b
    * edges; each triangle credits its three edges (one explode + keyed
    * count); edges below k−2 support drop via one semi-join; repeat to
    * fixpoint (edge count unchanged), loud failure past `maxRounds`
    * (the kCore discipline — wrong answers are never returned).
    * Support counting is exact integers → hash-gateable; the oracle
    * unrolls the rounds MATERIALIZED, so hash-equality also certifies
    * convergence within the unroll. The surviving edges are the loop
    * state ([[graft.fixpoint]], the kCore rule); the fixpoint's supports
    * are sealed from the last round, which is then freed. Under the shared
    * [[graft.hybrid]] rung the standard queue-cascade peel runs on
    * the driver (k-truss is the
    * unique maximal subgraph, so peel order is immaterial) —
    * bit-identical, asserted in Round9OpsSpec.
    *
    * @return fixpoint edges (id_a, id_b, support); support = triangle
    *         count within the fixpoint subgraph (≥ k−2 by definition).
    */
  def kTruss(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
             maxRounds: Int = 30): DataFrame = {
    require(k >= 3, s"k must be ≥ 3 (k=2 is the whole graph): $k")
    import edges.sparkSession.implicits._
    // 16 bytes per edge: one (a, b) long pair
    graft.hybrid("kTruss",
        undirected(edges, srcCol, dstCol).as[(Long, Long)], 16)(es =>
      Some(localKTruss(es, k).toDF("id_a", "id_b", "support"))) {
        (und, n) =>
      def support(e: DataFrame): DataFrame = {
        val tri = e.select(col("a").as("x"), col("b").as("y"))
          .join(e.select(col("a").as("y"), col("b").as("z")), "y")
          .join(e.select(col("a").as("x"), col("b").as("z")),
            Seq("x", "z"), "left_semi")
        tri.select(explode(array(
            struct(col("x").as("a"), col("y").as("b")),
            struct(col("y").as("a"), col("z").as("b")),
            struct(col("x").as("a"), col("z").as("b")))).as("e"))
          .select(col("e.a").as("a"), col("e.b").as("b"))
          .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
      }
      // as kCore's: the fixpoint keeps every edge, so its supports are
      // the ones the last round was filtered by
      val (cur, m, fixed) = graft.fixpoint(und, maxRounds + 1, Some(n)) {
          (prev, _) =>
        prev.join(support(prev).filter(col("support") >= k - 2),
          Seq("a", "b"), "left_semi")
      }(_.count())
      // a round that drops the last edge ends at the empty fixpoint
      if (!fixed && !m.contains(0L)) graft.giveUp(
        s"kTruss: no fixpoint after $maxRounds peeling rounds", cur)
      graft.sealResult(cur.join(support(cur), Seq("a", "b"))
        .select(col("a").as("id_a"), col("b").as("id_b"), col("support")),
        cur)
    }
  }

  /** [[kTruss]]'s driver rung: support = |Γ(a)∩Γ(b)| per edge, queue
    * cascade removes below-threshold edges and decrements the two
    * co-triangle edges; final supports recomputed over the survivor
    * adjacency so the output is definitionally the distributed one.
    */
  private def localKTruss(es: Array[(Long, Long)],
                          k: Int): Seq[(Long, Long, Long)] = {
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    def ckey(u: Long, v: Long): (Long, Long) = if (u < v) (u, v) else (v, u)
    def commons(u: Long, v: Long): Iterator[Long] = {
      val (s1, s2) = (adj(u), adj(v))
      (if (s1.size <= s2.size) s1 else s2).iterator
        .filter(c => (if (s1.size <= s2.size) s2 else s1).contains(c))
    }
    val sup = scala.collection.mutable.Map.empty[(Long, Long), Int]
    adj.foreach { case (u, ns) => ns.foreach { v =>
      if (u < v) sup((u, v)) = commons(u, v).size
    } }
    val queue = scala.collection.mutable.Queue.empty[(Long, Long)]
    val dead = scala.collection.mutable.Set.empty[(Long, Long)]
    sup.foreach { case (e, s) => if (s < k - 2) queue += e }
    while (queue.nonEmpty) {
      val e @ (a, b) = queue.dequeue()
      if (!dead(e) && adj.contains(a) && adj(a).contains(b)) {
        commons(a, b).toSeq.foreach { c =>
          Seq(ckey(a, c), ckey(b, c)).foreach { f =>
            if (!dead(f)) {
              val s = sup(f) - 1
              sup(f) = s
              if (s == k - 3) queue += f // just dropped below k−2
            }
          }
        }
        dead += e
        adj(a) -= b; adj(b) -= a
      }
    }
    sup.keysIterator.filterNot(dead).map { case (a, b) =>
      (a, b, commons(a, b).size.toLong)
    }.toSeq
  }

  /** Driver-side peel for small graphs — queue-based cascade, O(E). */
  private def localKCore(es: Array[(Long, Long)],
                         k: Int): Seq[(Long, Long)] = {
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.Set[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.Set.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.Set.empty) += a
    }
    val queue = scala.collection.mutable.Queue.empty[Long]
    adj.foreach { case (v, ns) => if (ns.size < k) queue += v }
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      adj.get(v).foreach { ns =>
        if (ns.size < k) {
          ns.foreach { u =>
            val un = adj(u)
            un -= v
            if (un.size == k - 1) queue += u // just dropped below k
          }
          adj.remove(v)
        }
      }
    }
    adj.toSeq.map { case (v, ns) => (v, ns.size.toLong) }
  }

  /** Degree assortativity (Newman 2002): Pearson correlation of the
    * endpoint degrees over the symmetrized edge list — do similar-
    * degree nodes attach to each other (r>0, social graphs) or do
    * hubs attach to leaves (r<0, dedup/co-occurrence graphs)? One
    * number that distinguishes "clusters of similar docs" from
    * "one template with thousands of variants" in a near-dup graph.
    *
    * Scale shape: degrees are one keyed agg over the exploded edge
    * list; endpoint degrees come back via two keyed joins; the
    * correlation reduces to ONE row of exact decimal moments (the
    * corr_stats discipline). The only float math is the final
    * r = A / (√B·√C) — five IEEE ops in fixed order on exact
    * integers, bit-stable at any parallelism, no rounding rule.
    * Degenerate regular graphs (zero degree variance) yield null.
    *
    * @param broadcastDegrees hint the degree table broadcast into the
    *        Sxy join — right when node cardinality is DIMENSION-bounded
    *        (parts, users), wrong when nodes are the fact set (docs);
    *        the default keyed join is the always-safe plan.
    * @param assumeCanonical skip canonicalization when the caller
    *        guarantees distinct (a<b) edges — saves a full shuffle.
    * @return one row: (n_nodes, n_edges, assortativity)
    */
  def degreeAssortativity(edges: DataFrame, srcCol: String,
                          dstCol: String,
                          broadcastDegrees: Boolean = false,
                          assumeCanonical: Boolean = false): DataFrame = {
    val und = (if (assumeCanonical)
        edges.select(col(srcCol).cast("long").as("a"),
          col(dstCol).cast("long").as("b"))
      else undirected(edges, srcCol, dstCol))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // the final query references und from THREE independent subtrees
    // (two broadcast-degree builds + the moment aggregate); AQE
    // schedules them concurrently, and a lazily persisted und would be
    // recomputed by ALL of them (each starts before any completes and
    // populates the cache). Materialize once first — the CC
    // persist+count discipline; at scale this is the one edge pass
    // you'd pay anyway on first use.
    und.count()
    // deg0 is read three times (two broadcast-degree builds + the
    // moment aggregate) — persist the node-cardinality table so the
    // degree aggregation over und runs once, not per consumer
    val deg0 = und.select(explode(array(col("a"), col("b"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    deg0.count()
    val deg = if (broadcastDegrees) broadcast(deg0) else deg0
    // moment algebra over the symmetrized pair set WITHOUT
    // materializing it — exact integer identities, so the result is
    // bit-identical to the explicit two-orientation form:
    //   n   = 2·|E|
    //   Sx  = Sy  = Σ_v deg(v)²   (node v leads deg(v) oriented pairs)
    //   Sxx = Syy = Σ_v deg(v)³
    //   Sxy = 2·Σ_edges da·db
    // Sx/Sxx need NO join at all (degree table alone); only Sxy joins
    // degrees back onto edges.
    val dec = "decimal(38,0)"
    val nd = deg.agg(count(lit(1)).as("n_nodes"),
      sum(col("deg").cast(dec) * col("deg").cast(dec)).as("s2"),
      sum(col("deg").cast(dec) * col("deg").cast(dec) *
        col("deg").cast(dec)).as("s3"))
    val ep = und
      .join(deg.select(col("p").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("p").as("b"), col("deg").as("db")), "b")
      .agg(count(lit(1)).cast(dec).as("ne"),
        sum(col("da").cast(dec) * col("db").cast(dec)).as("pp"))
    val m = nd.crossJoin(ep).select(col("n_nodes"),
      col("ne").cast("long").as("n_edges"),
      (col("ne") * 2).as("n"),
      col("s2").as("sx"), col("s2").as("sy"),
      (col("pp") * 2).as("sxy"),
      col("s3").as("sxx"), col("s3").as("syy"))
    graft.sealResult(m
      .select(col("n_nodes"), col("n_edges"),
        when(col("n") * col("sxx") - col("sx") * col("sx") > 0 &&
             col("n") * col("syy") - col("sy") * col("sy") > 0,
          (col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")) *
             sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))))
          .as("assortativity")),
      deg0, und)
  }

  /** Multi-source BFS: minimum hop distance from a SEED SET over an
    * undirected edge list, bounded at `maxHops` (SURVEY.md §2.E51).
    * The curation use: "everything within k hops of a known-bad seed"
    * (contaminated docs, flagged accounts, recalled parts) without
    * materializing transitive closure.
    *
    * Scale shape: frontier expansion — round i joins ONLY the hop-
    * (i−1) frontier of the visited set against the edge list
    * (frontier-sized, not graph-sized), anti-joins the visited set, and
    * unions the new nodes in at hop i. Two keyed shuffles per round,
    * O(maxHops) rounds; the visited set is the loop state
    * ([[graft.fixpoint]]), and the only scalar crossing the driver is
    * its size, read by the job that materializes the round (early exit
    * when it stops growing: the frontier drained). Same
    * hybrid rung as CC/LPA/kCore: a reduced graph under the shared
    * [[graft.hybrid]] rung runs a driver-side queue BFS —
    * all-integer state, asserted bit-identical to the distributed rounds.
    *
    * Seeds appear at hop 0 even when isolated (they are "reached" by
    * definition); non-seed nodes appear only if reached within
    * `maxHops`.
    *
    * @return (id, hop) — hop = min #edges from any seed, 0 ≤ hop ≤ maxHops.
    */
  def shortestHops(edges: DataFrame, srcCol: String, dstCol: String,
                   seeds: DataFrame, seedCol: String,
                   maxHops: Int): DataFrame = {
    import edges.sparkSession.implicits._
    require(maxHops >= 0, s"maxHops must be ≥ 0: $maxHops")
    val seed = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    // 16 bytes per edge: one (a, b) long pair
    graft.hybrid("shortestHops",
        undirected(edges, srcCol, dstCol).as[(Long, Long)], 16)(es =>
      Some(localBfs(es, seed.as[Long].collect(), maxHops)
        .toDF("id", "hop"))) { (und, _) =>
      val sym = und.union(und.select(col("b").as("a"), col("a").as("b")))
        .toDF("src", "dst")
        .persist(StorageLevel.MEMORY_AND_DISK)
      // the visited set is the loop state: round r joins its hop-(r−1)
      // frontier against the edges and adds the unvisited neighbors at
      // hop r; its size is unchanged exactly when the frontier drains
      val (dist, _, _) = graft.fixpoint(
          seed.select(col("id"), lit(0L).as("hop")), maxHops) {
          (prev, round) =>
        // round 1 filled sym's cache, so und is no longer read
        if (round == 2) und.unpersist()
        val frontier = prev.filter(col("hop") === round - 1)
        prev.union(sym.join(frontier, sym("src") === frontier("id"))
          .select(sym("dst").as("id")).distinct()
          .join(prev, Seq("id"), "left_anti")
          .select(col("id"), lit(round.toLong).as("hop")))
      }(_.count())
      Seq(und, sym).foreach(_.unpersist())
      dist
    }
  }

  /** Driver-side multi-source BFS for small graphs — queue sweep,
    * O(V+E), integer state only (bit-identical to the rounds). */
  private def localBfs(es: Array[(Long, Long)], seeds: Array[Long],
                       maxHops: Int): Seq[(Long, Long)] = {
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.ArrayBuffer[Long]]
    es.foreach { case (a, b) =>
      adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
      adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
    }
    val dist = scala.collection.mutable.Map.empty[Long, Long]
    val queue = scala.collection.mutable.Queue.empty[Long]
    seeds.foreach { s =>
      dist(s) = 0L
      queue += s
    }
    while (queue.nonEmpty) {
      val v = queue.dequeue()
      val h = dist(v)
      if (h < maxHops) adj.getOrElse(v, Nil).foreach { u =>
        if (!dist.contains(u)) {
          dist(u) = h + 1
          queue += u
        }
      }
    }
    dist.toSeq
  }

  /** E87: strongly connected components of a DIRECTED graph — the
    * directed citizenship question CC cannot answer (a→b→a is one
    * unit of mutual reachability; a→b alone is not): SCC(v) = the set
    * of nodes u with u ⇝ v AND v ⇝ u, labeled by the component's min
    * id (the CC labeling convention).
    *
    * Hybrid rung like CC/LPA/kCore/BFS: graphs under the shared
    * [[graft.hybrid]] rung run iterative Tarjan on the driver
    * (explicit stack — no recursion depth limit), asserted equal to
    * the distributed path.
    * The distributed path is trim + forward-min/backward-check
    * (the FW-BW-MIN / coloring family):
    *   1. TRIM — nodes with zero in- or out-degree among the remaining
    *      edges are singleton SCCs; their edges leave, to fixpoint (two
    *      distinct endpoint sets per round — kills the DAG skeleton
    *      fast).
    *   2. FORWARD — f(v) = min id that can reach v, by min-label
    *      propagation along edge direction to fixpoint (the CC loop,
    *      directed).
    *   3. BACKWARD CHECK — within each f-class, flags propagate from
    *      the root r (f(r)=r) along REVERSED edges restricted to the
    *      class: flagged ⟺ v ⇝ r through the class ⟺ v ∈ SCC(r).
    *   4. Extract flagged nodes (scc = f), drop their edges, repeat.
    * Each of the three converging loops is a [[graft.fixpoint]] (edge
    * count, sum of f, flag count); the edge count each trim ends at
    * stays in a driver variable, so no state is counted twice. Nodes
    * never flagged are the trimmed singletons: the result labels every
    * node of the input once, at the end. Exhaustion THROWS through
    * [[graft.giveUp]], freeing the loop's state, rather than returning
    * partial labels (the CC contract). Worst case (a long chain of
    * SCCs) needs O(chain) outer rounds — the known FW-BW caveat;
    * trimming removes the common DAG tails first.
    *
    * @return (id, scc) — scc = min id of the strongly connected
    *         component; every endpoint of a non-self-loop edge
    *         appears (self-loops are trivially strongly connected and
    *         are dropped with their nodes if they carry no other
    *         edge).
    */
  def stronglyConnectedComponents(edges: DataFrame, srcCol: String,
                                  dstCol: String,
                                  maxIter: Int = 25): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e0 = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
    // 16 bytes per edge: one (src, dst) long pair
    graft.hybrid("stronglyConnectedComponents", e0.as[(Long, Long)], 16)(
        es => Some(localTarjan(es).toDF("id", "scc")
          .repartition(col("scc")))) { (e0, n) =>
      def endpoints(e: DataFrame): DataFrame = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
      // 1. trim to fixpoint: a node without an in- or an out-edge among
      // the remaining edges is a singleton SCC and its edges leave; the
      // edge count (`known` when the caller holds it) is unchanged
      // exactly at the fixpoint, where every endpoint has both
      def trim(e: DataFrame, known: Option[Long]): (DataFrame, Long) = {
        val (out, m, _) = graft.fixpoint(e, Int.MaxValue, known) {
            (prev, _) =>
          val live = prev.select(col("dst").as("id")).distinct()
            .join(prev.select(col("src").as("id")).distinct(), "id")
          prev.join(live.select(col("id").as("src")), Seq("src"), "left_semi")
            .join(live.select(col("id").as("dst")), Seq("dst"), "left_semi")
        }(_.count())
        (out, m.get)
      }
      // every node is labeled at the end: by the flagged set that took
      // it, else as a trimmed singleton
      val nodes = graft.sealResult(endpoints(e0))
      var found = List(spark.emptyDataset[(Long, Long)].toDF("id", "f"))
      var (remaining, nEdges) = trim(e0, Some(n))
      var outer = 0
      while (nEdges > 0) {
        outer += 1
        if (outer > maxIter) graft.giveUp(s"scc: $maxIter outer rounds " +
          "left nodes unassigned — a chain of SCCs longer than maxIter; " +
          "raise maxIter", remaining :: nodes :: found: _*)
        // 2. forward min-label to fixpoint (directed CC loop); as in CC
        // the first round only sets the baseline sum
        val (f, _, forward) = graft.fixpoint(endpoints(remaining)
            .select(col("id"), col("id").as("f")), maxIter + 1) { (prev, _) =>
          val inMin = remaining.join(prev, remaining("src") === prev("id"))
            .groupBy(remaining("dst").as("id"))
            .agg(min(col("f")).as("inf"))
          prev.as("l").join(inMin.as("n"), Seq("id"), "left")
            .select(col("id"),
              least(col("l.f"), coalesce(col("n.inf"), col("l.f"))).as("f"))
        }(_.agg(sum(col("f"))).head.getLong(0))
        if (!forward) graft.giveUp(
          s"scc: forward pass hit $maxIter rounds without a fixpoint",
          f :: remaining :: nodes :: found: _*)
        // 3. backward check within f-classes from each root
        val (flagged, _, backward) = graft.fixpoint(
            f.filter(col("id") === col("f")), maxIter + 1) { (prev, _) =>
          prev.union(remaining
            .join(prev.select(col("id").as("dst"), col("f").as("fd")),
              Seq("dst"))
            .join(f.select(col("id").as("src"), col("f").as("fs")),
              Seq("src"))
            .filter(col("fs") === col("fd"))
            .select(col("src").as("id"), col("fs").as("f"))).distinct()
        }(_.count())
        if (!backward) graft.giveUp(
          s"scc: backward pass hit $maxIter rounds without a fixpoint",
          flagged :: f :: remaining :: nodes :: found: _*)
        // 4. flagged nodes take scc = f; their edges leave, and the trim
        // runs on the edges left (its first round materializes them)
        found = flagged :: found
        val (next, m) = trim(remaining
          .join(flagged.select(col("id").as("src")), Seq("src"), "left_anti")
          .join(flagged.select(col("id").as("dst")), Seq("dst"), "left_anti"),
          None)
        Seq(remaining, f).foreach(graft.release)
        remaining = next
        nEdges = m
      }
      graft.release(remaining)
      graft.sealResult(nodes.join(found.reduce(_.union(_)), Seq("id"), "left")
        .select(col("id"), coalesce(col("f"), col("id")).as("scc")),
        nodes :: found: _*)
    }
  }

  /** E88: weighted shortest paths from a seed set (bounded
    * Bellman–Ford) — E51's WEIGHTED sibling: cheapest cost within
    * `maxHops` relaxation rounds, integer weights so every distance
    * is an EXACT long (min-plus semiring over integers — order-free,
    * hash-gateable; the hop bound both bounds work and makes the
    * semantics well-defined even with negative edge weights). Per
    * round: one keyed join + min aggregate + min-merge; the distances
    * are a [[graft.fixpoint]] whose (sum, count), read in one aggregate,
    * exits early once no cost falls and no node joins; driver
    * fast path under the shared [[graft.hybrid]] rung runs the
    * same rounds in a hash map, asserted identical.
    *
    * @return (id, cost) — min total weight over paths of ≤ maxHops
    *         edges from any seed; seeds at cost 0; unreached nodes
    *         absent.
    */
  def shortestPaths(edges: DataFrame, srcCol: String, dstCol: String,
                    wCol: String, seeds: DataFrame, seedCol: String,
                    maxHops: Int): DataFrame = {
    import edges.sparkSession.implicits._
    require(maxHops >= 0, s"maxHops must be ≥ 0: $maxHops")
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"),
        col(wCol).cast("long").as("w"))
      .filter(col("src") =!= col("dst"))
      .groupBy(col("src"), col("dst")).agg(min(col("w")).as("w"))
    val seed = seeds.select(col(seedCol).cast("long").as("id")).distinct()
    // 16 bytes per edge, the long-pair class of the unweighted
    // operators (the weight is not charged)
    graft.hybrid("shortestPaths", e.as[(Long, Long, Long)], 16)(es =>
      Some(localBellmanFord(es, seed.as[Long].collect(), maxHops)
        .toDF("id", "cost"))) { (e, _) =>
      // costs never rise and reached nodes stay reached, so an unchanged
      // (sum, count) is the fixpoint; past it a round changes nothing,
      // so the first round setting the baseline costs no correctness
      val (dist, _, _) = graft.fixpoint(
          seed.select(col("id"), lit(0L).as("cost")), maxHops) { (prev, _) =>
        val relax = e.join(prev, e("src") === prev("id"))
          .groupBy(e("dst").as("id"))
          .agg(min(col("cost") + col("w")).as("cand"))
        prev.as("d").join(relax.as("r"), Seq("id"), "full_outer")
          .select(col("id"),
            least(coalesce(col("d.cost"), col("r.cand")),
              coalesce(col("r.cand"), col("d.cost"))).as("cost"))
      } { d =>
        val r = d.agg(coalesce(sum(col("cost")), lit(0L)), count(lit(1))).head
        (r.getLong(0), r.getLong(1))
      }
      e.unpersist()
      dist
    }
  }

  /** Driver-side bounded Bellman–Ford — identical rounds in a hash
    * map; integer state only.
    */
  private def localBellmanFord(es: Array[(Long, Long, Long)],
                               seeds: Array[Long],
                               maxHops: Int): Seq[(Long, Long)] = {
    var dist = seeds.map(_ -> 0L).toMap
    var round = 0
    var changed = true
    while (changed && round < maxHops) {
      round += 1
      val relaxed = es.flatMap { case (s, d, w) =>
        dist.get(s).map(c => d -> (c + w))
      }.groupBy(_._1).map { case (d, cs) => d -> cs.map(_._2).min }
      val next = (dist.keySet ++ relaxed.keySet).map { k =>
        k -> math.min(dist.getOrElse(k, Long.MaxValue),
          relaxed.getOrElse(k, Long.MaxValue))
      }.toMap
      changed = next != dist
      dist = next
    }
    dist.toSeq
  }

  /** Driver-side iterative Tarjan (explicit stack — no recursion
    * limit) for small directed graphs; SCC labels remapped to the
    * component min id to match the distributed labeling exactly.
    */
  private def localTarjan(es: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val adj = scala.collection.mutable.Map.empty[Long,
      scala.collection.mutable.ArrayBuffer[Long]]
    val allNodes = scala.collection.mutable.LinkedHashSet.empty[Long]
    es.foreach { case (s, d) =>
      adj.getOrElseUpdate(s, scala.collection.mutable.ArrayBuffer.empty) += d
      allNodes += s; allNodes += d
    }
    val index = scala.collection.mutable.Map.empty[Long, Int]
    val low = scala.collection.mutable.Map.empty[Long, Int]
    val onStack = scala.collection.mutable.Set.empty[Long]
    val stack = scala.collection.mutable.ArrayBuffer.empty[Long]
    val comp = scala.collection.mutable.Map.empty[Long, Long]
    var counter = 0
    allNodes.foreach { root =>
      if (!index.contains(root)) {
        // explicit DFS stack of (node, next-child cursor)
        val work = scala.collection.mutable.ArrayBuffer[(Long, Int)]((root, 0))
        index(root) = counter; low(root) = counter; counter += 1
        stack += root; onStack += root
        while (work.nonEmpty) {
          val (v, ci) = work.last
          val kids = adj.getOrElse(v,
            scala.collection.mutable.ArrayBuffer.empty)
          if (ci < kids.length) {
            work(work.length - 1) = (v, ci + 1)
            val w = kids(ci)
            if (!index.contains(w)) {
              index(w) = counter; low(w) = counter; counter += 1
              stack += w; onStack += w
              work += ((w, 0))
            } else if (onStack(w)) {
              low(v) = math.min(low(v), index(w))
            }
          } else {
            work.remove(work.length - 1)
            if (work.nonEmpty) {
              val p = work.last._1
              low(p) = math.min(low(p), low(v))
            }
            if (low(v) == index(v)) {
              // pop the SCC; label by min id
              var members = List.empty[Long]
              var w = 0L
              do {
                w = stack.remove(stack.length - 1)
                onStack -= w
                members = w :: members
              } while (w != v)
              val label = members.min
              members.foreach(m => comp(m) = label)
            }
          }
        }
      }
    }
    comp.toSeq
  }

  /** E100: neighborhood link prediction (Liben-Nowell & Kleinberg,
    * CIKM 2003) — for node pairs NOT yet connected, how strongly the
    * graph suggests they will be: common-neighbor count plus the
    * resource-allocation index RA = Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z)
    * (Zhou, Lü & Zhang, Eur. Phys. J. B 2009 — RA ≥ Adamic–Adar in
    * their benchmarks, and unlike AA's 1/ln(deg) it is EXACT integer
    * arithmetic here: each z contributes ⌊10⁶/deg(z)⌋ micro-units,
    * engine-portable with no transcendental in sight).
    *
    * Plan shape (100 TB): symmetrize once, then candidate pairs are
    * the 2-hop wedge join sym(a,z)⋈sym(z,b) — fan-out Σ_z deg(z)²,
    * the standard bound. Hub nodes both blow that bound up and carry
    * the least signal (RA weight → 0), so z is capped at `maxDeg`
    * BEFORE the wedge join — the classic hub-exclusion mitigation,
    * which also makes the join skew-resistant. Existing edges drop
    * via one anti-join; top-k is TakeOrderedAndProject (per-partition
    * heaps, never a global sort).
    *
    * @param edges one orientation per undirected edge (src < dst)
    * @return top-k (id_a, id_b, cn, ra_micro) by (cn desc, ra_micro
    *         desc, id_a, id_b) — a total, engine-portable order.
    */
  def linkPrediction(edges: DataFrame, srcCol: String, dstCol: String,
                     maxDeg: Long = 1000L, topK: Int = 100): DataFrame = {
    import edges.sparkSession.implicits._
    val e = edges.select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // hybrid driver rung (as CC/LPA/kCore/HITS): under the size gate
    // the wedge census runs as one driver loop — the distributed
    // plan's cost at that scale is pure scheduling floor. Bit-equal
    // by construction (Round9OpsSpec asserts local ≡ distributed);
    // bails back to the distributed path if the candidate-pair set
    // outgrows the in-memory bound. 64 bytes per edge: the pair plus
    // its adjacency entries and candidate-pair counters.
    graft.hybrid("linkPrediction", e.as[(Long, Long)], 64)(es =>
      localLinkPrediction(es, maxDeg, topK)
        .map(_.toDF("id_a", "id_b", "cn", "ra_micro"))) { (e, _) =>
      val sym = e.union(e.select(col("b").as("a"), col("a").as("b")))
      val deg = sym.groupBy(col("a").as("z"))
        .agg(count(lit(1)).as("deg"))
        .filter(col("deg") <= maxDeg)
      // wedges a–z–b through capped-degree hubs only; a < b halves the
      // pair space (scores are symmetric)
      val hop = sym.select(col("b").as("z"), col("a"))
        .join(deg, "z")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val wedges = hop.select(col("z"), col("a"), col("deg"))
        .join(hop.select(col("z"), col("a").as("b")), "z")
        .filter(col("a") < col("b"))
      val scored = wedges.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("cn"),
          sum(expr("1000000L div deg")).as("ra_micro"))
        .join(e, Seq("a", "b"), "left_anti")
        .orderBy(col("cn").desc, col("ra_micro").desc, col("a"), col("b"))
        .limit(topK)
        .select(col("a").as("id_a"), col("b").as("id_b"),
          col("cn"), col("ra_micro"))
      graft.sealResult(scored, e, hop)
    }
  }

  /** [[linkPrediction]]'s driver rung: the same wedge census —
    * Γ-multiset per capped-degree center z, ordered-pair (a<b) counts,
    * per-z RA contribution ⌊10⁶/deg(z)⌋ in Long floor division, the
    * identical (cn desc, ra desc, a, b) total order — so both rungs
    * are hash-indistinguishable. Returns None (→ distributed path)
    * if the candidate-pair map exceeds `pairBound` entries.
    */
  private def localLinkPrediction(edgePairs: Array[(Long, Long)],
      maxDeg: Long, topK: Int, pairBound: Int = 30000000)
      : Option[Seq[(Long, Long, Long, Long)]] = {
    val adj = new scala.collection.mutable.HashMap[Long,
      scala.collection.mutable.ArrayBuffer[Long]]
    edgePairs.foreach { case (a, b) =>
      adj.getOrElseUpdate(a,
        new scala.collection.mutable.ArrayBuffer[Long]) += b
      adj.getOrElseUpdate(b,
        new scala.collection.mutable.ArrayBuffer[Long]) += a
    }
    val scores =
      new scala.collection.mutable.HashMap[(Long, Long), Array[Long]]
    for ((_, nbrs) <- adj if nbrs.size <= maxDeg) {
      val contrib = 1000000L / nbrs.size
      val arr = nbrs.toArray
      var i = 0
      while (i < arr.length) {
        var j = 0
        while (j < arr.length) {
          val a = arr(i); val b = arr(j)
          if (a < b) {
            val s = scores.getOrElseUpdate((a, b), Array(0L, 0L))
            s(0) += 1L; s(1) += contrib
            if (scores.size > pairBound) return None
          }
          j += 1
        }
        i += 1
      }
    }
    edgePairs.foreach(p => scores.remove(p))
    val top = scores.iterator
      .map { case ((a, b), s) => (a, b, s(0), s(1)) }
      .toSeq
      .sortBy { case (a, b, cn, ra) => (-cn, -ra, a, b) }
      .take(topK)
    Some(top)
  }

  /** E101: personalized PageRank (fixed-point) — [[pageRankFixed]]'s
    * exact-integer discipline with the teleport vector concentrated on
    * a SEED set instead of uniform: rank mass restarts only at seeds,
    * so scores measure proximity to the seeds (the "related items" /
    * query-biased relevance PageRank can't give — Haveliwala, WWW
    * 2002). Same per-round algebra, only `base` becomes seed-
    * conditional:
    *
    *   rank'(v) = [v ∈ S]·((dampDen−dampNum)·scale) div (dampDen·|S|)
    *            + (dampNum·inflow(v)) div dampDen
    *
    * with init rank = scale div |S| on seeds, 0 elsewhere. Integer
    * sums are order-free → hash-gateable cross-engine; dangling nodes
    * leak mass exactly as in [[pageRankFixed]]. Same hybrid driver /
    * two-shuffle-per-round distributed execution, ranks advanced
    * through [[graft.nextRound]].
    *
    * @param seeds one `id` column; rows not present in the graph are
    *              ignored for mass but still divide |S| — pass graph
    *              nodes.
    * @return (id, rank_fp) over graph nodes, rank in scale-units.
    */
  def pprFixed(edges: DataFrame, srcCol: String, dstCol: String,
               seeds: DataFrame,
               dampNum: Long = 85L, dampDen: Long = 100L,
               iterations: Int = 5,
               scale: Long = 1000000000000L): DataFrame =
    fixedRank("pprFixed", edges, srcCol, dstCol,
      Some(seeds.select(col(seeds.columns.head).cast("long").as("id"))
        .distinct()),
      dampNum, dampDen, iterations, scale)

  /** The one fixed-point rank kernel behind [[pageRankFixed]] (`seeds`
    * None: uniform teleport, every graph node a seed, |S| = n) and
    * [[pprFixed]] (teleport on the distinct seed ids). One round:
    *
    *   rank'(v) = [v ∈ S]·base + (dampNum·inflow(v)) div dampDen
    *   base     = ((dampDen−dampNum)·scale) div (dampDen·|S|)
    *
    * from rank₀(v) = [v ∈ S]·(scale div |S|). The uniform case runs no
    * seed job and no seed join: its teleport flag is a literal.
    */
  private def fixedRank(op: String, edges: DataFrame, srcCol: String,
                        dstCol: String, seeds: Option[DataFrame],
                        dampNum: Long, dampDen: Long, iterations: Int,
                        scale: Long): DataFrame = {
    import edges.sparkSession.implicits._
    val e = edges.select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    // 16 bytes per edge: one (src, dst) long pair
    graft.hybrid(op, e.as[(Long, Long)], 16)(es =>
      Some(localFixedRank(es, seeds.map(_.as[Long].collect().toSet),
          dampNum, dampDen, iterations, scale).toDF("id", "rank_fp"))) {
        (e, _) =>
      val nodes = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
      // (id, is_seed) over graph nodes, |S|, and the frames to release
      val (isSeed, nSeeds, held) = seeds match {
        case None =>
          (nodes.select(col("id"), lit(true).as("is_seed")), nodes.count(),
            Seq.empty[DataFrame])
        case Some(sd) =>
          val seedNodes = sd.persist(StorageLevel.MEMORY_AND_DISK)
          val nS = seedNodes.count()
          require(nS > 0, "pprFixed needs a non-empty seed set")
          val flagged = nodes.join(seedNodes.select(col("id"),
              lit(true).as("__s")), Seq("id"), "left")
            .select(col("id"),
              coalesce(col("__s"), lit(false)).as("is_seed"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          (flagged, nS, Seq(flagged, seedNodes))
      }
      val outdeg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      val withDeg = e.join(outdeg, "src")
        .persist(StorageLevel.MEMORY_AND_DISK)
      val base = ((dampDen - dampNum) * scale) / (dampDen * nSeeds)
      var ranks = isSeed.select(col("id"),
          when(col("is_seed"), lit(scale / nSeeds)).otherwise(lit(0L))
            .as("rank_fp"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      for (_ <- 1 to iterations) {
        val contribs = withDeg.join(ranks, withDeg("src") === ranks("id"))
          .groupBy(col("dst").as("id"))
          .agg(sum(expr("rank_fp div deg")).as("inflow"))
        ranks = graft.nextRound(ranks, isSeed.join(contribs, Seq("id"), "left")
          .select(col("id"),
            (when(col("is_seed"), lit(base)).otherwise(lit(0L)) +
              expr(s"($dampNum * coalesce(inflow, 0L)) div $dampDen"))
              .as("rank_fp")))
      }
      nodes.unpersist()
      held.foreach(_.unpersist())
      withDeg.unpersist()
      e.unpersist()
      ranks
    }
  }

  /** [[fixedRank]]'s driver rung: the identical integer rounds over
    * arrays indexed by sorted node id; `seeds` None = every node.
    * @return (id, rank_fp) per graph node
    */
  private def localFixedRank(es: Array[(Long, Long)],
                             seeds: Option[Set[Long]], dampNum: Long,
                             dampDen: Long, iterations: Int,
                             scale: Long): Seq[(Long, Long)] = {
    seeds.foreach(s => require(s.nonEmpty,
      "pprFixed needs a non-empty seed set"))
    val ids = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val idx = ids.zipWithIndex.toMap
    val n = ids.length
    val isSeed = ids.map(id => seeds.forall(_(id)))
    val nSeeds = seeds.fold(n.toLong)(_.size.toLong)
    val deg = new Array[Long](n)
    es.foreach { case (s, _) => deg(idx(s)) += 1 }
    val adj = es.map { case (s, d) => (idx(s), idx(d)) }
      .groupBy(_._1).map { case (s, arr) => s -> arr.map(_._2) }
    val base = ((dampDen - dampNum) * scale) / (dampDen * nSeeds)
    var rank = isSeed.map(s => if (s) scale / nSeeds else 0L)
    for (_ <- 1 to iterations) {
      val inflow = new Array[Long](n)
      adj.foreach { case (s, ds) =>
        val c = rank(s) / deg(s)
        ds.foreach(d => inflow(d) += c)
      }
      rank = Array.tabulate(n)(i =>
        (if (isSeed(i)) base else 0L) + (dampNum * inflow(i)) / dampDen)
    }
    ids.toSeq.map(id => (id, rank(idx(id))))
  }
}
