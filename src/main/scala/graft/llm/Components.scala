package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge.{Mat, materialize, release}
import org.apache.spark.sql.functions._

/** Connected components over a pair graph — the step that turns near-dup
  * PAIRS (jaccardPairs / minhashLshPairs / simhashPairs / nearDupPairsLsh)
  * into per-document CLUSTER assignments, so a dedup pipeline can keep one
  * representative per cluster instead of reasoning about pairwise drops.
  * The reference's dedup (Redis exact-hash, fetch_data_energinet.py:68-72)
  * never needs this because exact-duplicate groups are equivalence classes
  * by construction; near-dup similarity is NOT transitive, and the standard
  * resolution (used by large-corpus dedup pipelines) is clustering the
  * similarity graph's connected components.
  *
  * Algorithm: iterative min-label propagation with path compression —
  * each round every vertex takes the minimum label among itself and its
  * neighbors, then labels are compressed one hop (label <- label(label),
  * pointer-jumping), which converges in O(log diameter) rounds instead of
  * O(diameter) on chain-shaped components. The driver loop carries only a
  * per-round METADATA aggregate (the label checksum for the convergence
  * test); labels live in a DataFrame throughout — nothing per-vertex ever
  * reaches the driver, and each round's label frame is eagerly
  * materialized with exact statistics (GraftSqlBridge.materialize) so
  * lineage stays flat and the planner sizes every join on it. This is the alternating-star
  * family of MapReduce CC algorithms (Kiveris et al., "Connected
  * Components in MapReduce and Beyond") in DataFrame form.
  *
  * 100 TB posture: every round is one join + one aggregation on
  * (vertex, label) pairs — two longs per edge endpoint — shuffled on ids.
  * Pass only vertices that appear in an edge (near-dup graph endpoints are
  * a tiny fraction of a corpus) and coalesce singletons to themselves
  * outside, as q76 does.
  */
object Components {
  /** Labels every vertex with the minimum vertex id reachable from it.
    *
    * @param vertices one column `id`
    * @param edges    two columns `src`, `dst` (undirected; orientation and
    *                 duplicates don't matter)
    * @return (id, component) with component = min id in the component
    */
  def connectedComponents(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 50): DataFrame = {
    val e = materialize(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())
    // Min-propagation only ever lowers labels: an unchanged Σ is the fixpoint.
    val init = materialize(vertices.select(col("id"), col("id").as("label")), 1)
    val labels = withLoopShuffle(edges.sparkSession, math.max(e.rows, init.rows)) {
      Bsp(init, maxIters, 1, Bsp.unchanged) { (labels, _) =>
        val nbrMin = e.df
          .join(labels.select(col("id").as("dst"), col("label").as("nl")), "dst")
          .groupBy(col("src").as("id")).agg(min(col("nl")).as("nbr"))
        val stepped = labels.join(nbrMin, Seq("id"), "left")
          .select(col("id"),
            least(col("label"), coalesce(col("nbr"), col("label"))).as("label"))
        // Pointer-jumping: follow the label one hop (label <- label(label)).
        stepped
          .join(stepped.select(col("id").as("label"), col("label").as("ll")),
            Seq("label"), "left")
          .select(col("id"), coalesce(col("ll"), col("label")).as("label"))
      }.state
    }
    e.release() // the returned plan reads only `labels`
    labels.df.select(col("id"), col("label").as("component"))
  }

  /** Connected components via ALTERNATING large-star / small-star edge
    * rewriting (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14 — public algorithm), the variant that converges in
    * fewer rounds than label propagation on high-diameter graphs:
    *
    * - large-star (per node u over its FULL neighborhood): attach every
    *   neighbor v > u to m = min(Γ(u) ∪ {u});
    * - small-star (per node u over its SMALLER neighbors, i.e. the
    *   canonical hi→lo orientation): attach u and all its lower neighbors
    *   to their minimum.
    *
    * Each half-round is one groupBy + one join + a distinct on edges
    * (two longs per edge — the same shuffle discipline as min-label
    * propagation), the edge list is materialized per round so
    * lineage stays flat, and the driver sees only a (count, hash-sum)
    * convergence checksum. At the fixpoint the edge set IS the component
    * assignment: every non-root vertex holds exactly one edge to its
    * component's minimum id.
    */
  def connectedComponentsStars(vertices: DataFrame, edges: DataFrame,
      maxIters: Int = 50): DataFrame =
    starsWithRounds(vertices, edges, maxIters)._1

  private[llm] def starsWithRounds(vertices: DataFrame, edges: DataFrame,
      maxIters: Int): (DataFrame, Int) = {
    def canon(df: DataFrame): DataFrame = df
      .select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    def bidir(df: DataFrame): DataFrame = df
      .union(df.select(col("dst").as("src"), col("src").as("dst")))
    def largeStar(df: DataFrame): DataFrame = {
      val nbr = bidir(df)
      val mins = nbr.groupBy("src").agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      canon(nbr.join(mins, "src")
        .filter(col("dst") > col("src"))
        .select(col("dst").as("src"), col("m").as("dst")))
    }
    def smallStar(df: DataFrame): DataFrame = {
      val mins = df.groupBy("src").agg(min(col("dst")).as("m"))
      canon(df.join(mins, "src")
        .select(col("dst").as("src"), col("m").as("dst"))
        .union(mins.select(col("src"), col("m").as("dst"))))
    }
    // Edge-set checksum: the per-edge hash rides as a column, so a round's
    // (count, Σ hash) equal to the last round's is the fixpoint.
    def withH(df: DataFrame): DataFrame =
      df.withColumn("__h", xxhash64(col("src"), col("dst")))
    val e0 = materialize(withH(canon(edges)), 2)
    // an empty edge set is already the fixpoint: no round runs
    val run = withLoopShuffle(edges.sparkSession, e0.rows) {
      Bsp(e0, if (e0.rows == 0L) 0 else maxIters, 2, Bsp.unchanged) { (e, _) =>
        withH(smallStar(largeStar(e.select("src", "dst"))))
      }
    }
    // At the fixpoint e holds one edge per non-root vertex.
    val labels = vertices
      .join(run.state.df.select(col("src").as("id"), col("dst").as("root")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
    (labels, run.rounds)
  }

  /** Per-node local clustering coefficient — [[triangleCount]]'s
    * degree-ordered orientation, but keeping each closed wedge's three
    * endpoints so every node gets its own triangle count; the
    * coefficient is 2·tri / (deg·(deg−1)) — one double division of
    * exact integers. Same skew posture as triangleCount: a hub's wedge
    * space is capped by its out-degree under the orientation, and every
    * shuffle carries only node ids.
    *
    * @param edges undirected (src, dst); orientation/duplicates ignored
    * @return (v, dg, n_tri, lcc) per node appearing in any edge
    */
  def localClustering(edges: DataFrame): DataFrame = {
    val und = materialize(edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()).df
    val bid = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val deg = bid.groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
    val o = materialize(bid
      .join(deg.select(col("v").as("src"), col("dg").as("dsrc")), "src")
      .join(deg.select(col("v").as("dst"), col("dg").as("ddst")), "dst")
      .filter(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")))
      .select(col("src"), col("dst"))).df
    val tri = o.select(col("src").as("a"), col("dst").as("b"))
      .join(o.select(col("src").as("b"), col("dst").as("c")), "b")
      .join(o.select(col("src").as("a"), col("dst").as("c")), Seq("a", "c"))
    val perNode = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("v"))
      .groupBy("v").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("v"), "left")
      .select(col("v"), col("dg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("dg") >= 2,
          (coalesce(col("n_tri"), lit(0L)) * 2).cast("double") /
            (col("dg") * (col("dg") - 1)).cast("double"))
          .otherwise(lit(0.0)).as("lcc"))
  }

  /** Exact triangle count over an undirected pair graph — the classic
    * MapReduce graph statistic (clustering-coefficient numerator; for a
    * near-dup graph it measures how clique-like the duplicate clusters
    * are). Degree-ordered orientation (each edge directed from its
    * (degree, id)-smaller endpoint) makes the wedge join skew-proof: a
    * hub of degree D contributes wedges only through its capped
    * out-degree, so no task ever materializes a star's D² wedge space —
    * the formulation that survives power-law graphs at 100 TB. Shuffles
    * carry two longs per edge/wedge throughout.
    *
    * @param edges undirected (src, dst); orientation/duplicates ignored
    * @return one row: (n_edges, n_triangles), both BIGINT
    */
  def triangleCount(edges: DataFrame): DataFrame = {
    val und = materialize(edges
      .select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()).df
    val bid = und.union(und.select(col("dst").as("src"), col("src").as("dst")))
    val deg = bid.groupBy(col("src").as("v")).agg(count(lit(1)).as("dg"))
    val o = materialize(bid
      .join(deg.select(col("v").as("src"), col("dg").as("dsrc")), "src")
      .join(deg.select(col("v").as("dst"), col("dg").as("ddst")), "dst")
      .filter(struct(col("dsrc"), col("src")) < struct(col("ddst"), col("dst")))
      .select(col("src"), col("dst"))).df
    val wedges = o.select(col("src").as("a"), col("dst").as("b"))
      .join(o.select(col("src").as("b"), col("dst").as("c")), "b")
      .select(col("a"), col("c"))
    val tri = wedges.join(o.select(col("src").as("a"), col("dst").as("c")),
      Seq("a", "c"))
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(und.agg(count(lit(1)).as("n_edges")))
      .select(col("n_edges"), col("n_triangles"))
  }

  /** Deterministic integer-scaled PageRank over a directed edge list:
    * ranks are 64-bit integers (true rank × `scale`), contributions use
    * integer floor division, and the damping step is integer
    * multiply-then-divide — every iteration is EXACT int64 arithmetic, so
    * the result is bit-identical across engines, partitionings, task
    * retries, and aggregation orders. (IEEE-double PageRank is none of
    * those: float sums reorder under shuffle, so two runs of the same job
    * can rank ties differently.) The price is bounded precision: pick
    * `scale` so `dampNum · |V| · scale` fits in int64 — 10⁶ is fine up to
    * ~10⁸ vertices; drop to 10³ beyond that or switch the sums to
    * decimal(38,0).
    *
    * Dangling mass is dropped (a vertex with no out-edges absorbs rank) —
    * the common simplification; feed a symmetrized edge list to avoid
    * dangling vertices entirely. Per iteration: one join edges⋈ranks on
    * src + one aggregation on dst — the same two-longs-per-edge shuffle
    * discipline as [[connectedComponents]], with per-round
    * materialization keeping lineage flat. */
  def pageRankScaled(edges: DataFrame, iters: Int, scale: Long = 1000000L,
      dampNum: Long = 85L, dampDen: Long = 100L): DataFrame = {
    val e = materialize(edges.select(col("src"), col("dst")).distinct()).df
    val vertices = materialize(e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()).df
    val outdeg = materialize(e.groupBy("src").agg(count(lit(1)).as("deg"))).df
    val tele = (dampDen - dampNum) * scale / dampDen
    val ranks = Bsp(Bsp.lazyState(vertices.select(col("id"), lit(scale).as("r"))),
        iters) { (ranks, _) =>
      // Per-SOURCE contribution first (|V| rows — a vertex-sized join of
      // ranks⋈outdeg), so the edge list is joined exactly ONCE per round;
      // joining ranks and outdeg into the edges separately would run two
      // edge-sized joins per iteration.
      val perSrc = ranks.withColumnRenamed("id", "src")
        .join(outdeg, "src")
        .select(col("src"), expr("r div deg").as("c"))
      val contrib = e.join(perSrc, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("s"))
      vertices
        .join(contrib, Seq("id"), "left")
        .select(col("id"),
          (lit(tele) + expr(s"($dampNum * coalesce(s, 0L)) div $dampDen")).as("r"))
    }.state.df
    Bsp.releaseUnread(ranks, e, vertices, outdeg)
    ranks
  }

  /** Personalized PageRank (integer-scaled, exact): the teleport mass
    * returns ONLY to the seed set — the "related to these nodes"
    * ranking behind similar-item and local-community discovery. Same
    * exact-int64 determinism and one-edge-join-per-round shape as
    * [[pageRankScaled]]; the only change is where the teleport constant
    * lands (seed rows), so two runs with different seeds share every
    * materialized graph-side relation. Seeds not present in the graph
    * are ignored (semi-join membership). */
  def personalizedPageRankScaled(edges: DataFrame, seeds: DataFrame,
      iters: Int, scale: Long = 1000000L, dampNum: Long = 85L,
      dampDen: Long = 100L): DataFrame = {
    val e = materialize(edges.select(col("src"), col("dst")).distinct()).df
    val vertices = e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()
    val v = materialize(vertices
      .join(seeds.select(col("id")).distinct()
        .withColumn("is_seed", lit(1L)), Seq("id"), "left")
      .select(col("id"), coalesce(col("is_seed"), lit(0L)).as("is_seed"))).df
    val outdeg = materialize(e.groupBy("src").agg(count(lit(1)).as("deg"))).df
    val tele = (dampDen - dampNum) * scale / dampDen
    val ranks = Bsp(Bsp.lazyState(v.select(col("id"), (col("is_seed") * scale).as("r"))),
        iters) { (ranks, _) =>
      val perSrc = ranks.withColumnRenamed("id", "src")
        .join(outdeg, "src")
        .select(col("src"), expr("r div deg").as("c"))
      val contrib = e.join(perSrc, "src")
        .groupBy(col("dst").as("id")).agg(sum(col("c")).as("s"))
      v.join(contrib, Seq("id"), "left")
        .select(col("id"), (col("is_seed") * tele +
          expr(s"($dampNum * coalesce(s, 0L)) div $dampDen")).as("r"))
    }.state.df
    Bsp.releaseUnread(ranks, e, v, outdeg)
    ranks
  }

  /** Bounded-depth BFS from one source over an undirected edge list:
    * min-hop level per reached vertex, levels 0..`maxDepth` (the
    * neighborhood-expansion primitive behind link-graph audits and
    * crawl-frontier analysis). Classic distributed BFS: per round, the
    * FRONTIER (only the newly reached vertices, never the visited set)
    * joins the edge list once — a frontier-sized keyed shuffle of two
    * longs — and an anti-join against the visited set drops
    * already-levelled vertices; per-round materialization keeps lineage
    * flat like [[connectedComponentsStars]]. On a 100 TB graph each
    * round's cost is O(edges incident to the frontier), and the depth
    * bound caps the round count; the early exit reads the frontier's
    * row count from its materializing job.
    *
    * @param edges (src, dst) pairs; direction/duplicates ignored
    * @return (node, depth) — every vertex within `maxDepth` hops of `src`
    */
  def bfsLevels(edges: DataFrame, src: Long, maxDepth: Int): DataFrame =
    bfsLevelsPrepared(prepareUndirected(edges), src, maxDepth)

  /** Canonicalize + dedup + mirror an edge list into the materialized
    * bidirectional form the BFS loops join against. Exposed so callers
    * that run SEVERAL sweeps over the same graph (double-sweep diameter,
    * landmark batches) pay the edge build — often a fact-table self-join
    * far heavier than the sweeps — exactly once. Canonicalizing to
    * (min, max) BEFORE the distinct matters for symmetric inputs (the
    * co-purchase relation): both directions would survive dedup and
    * every round's frontier-edge join would process each undirected
    * edge 2x. */
  def prepareUndirected(edges: DataFrame): DataFrame = {
    val und0 = edges.select(least(col("src"), col("dst")).as("src"),
        greatest(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    materialize(
      und0.union(und0.select(col("dst").as("src"), col("src").as("dst")))).df
  }

  /** [[bfsLevels]] over an edge list already materialized by
    * [[prepareUndirected]] (both directions present, no self-loops, no
    * duplicates). */
  def bfsLevelsPrepared(und: DataFrame, src: Long,
      maxDepth: Int): DataFrame = {
    val spark = und.sparkSession
    import spark.implicits._
    // The frontier's exact statistics let the planner broadcast the
    // (small) frontier into the edge join; without them every round
    // degrades to a full edge shuffle (measured 3x). The dedup anti-join
    // needs only the LAST TWO levels, not the full visited set: in an
    // undirected graph a neighbor of a depth-d vertex has depth >= d-1
    // (else that vertex would be closer than d), so any already-reached
    // candidate sits in level d or d-1. That keeps the per-round
    // anti-join O(|frontier|), independent of total reach.
    var frontier = materialize(Seq((src, 0)).toDF("node", "depth"))
    var levels = List(frontier.df)
    var prev: DataFrame = null
    var depth = 0
    // Hand-written: the result reads every level; no state is superseded.
    while (depth < maxDepth && frontier.rows > 0) {
      depth += 1
      val cur = frontier.df
      val recent =
        if (prev == null) cur.select("node")
        else cur.select("node").union(prev.select("node"))
      val fr = cur.select("node")
      frontier = materialize(fr.join(und, fr("node") === und("src"))
        .select(col("dst").as("node")).distinct()
        .join(recent, Seq("node"), "left_anti")
        .withColumn("depth", lit(depth)))
      levels ::= frontier.df
      prev = cur
    }
    levels.reduce(_ union _)
  }

  /** Multi-source BFS — one frontier keyed by (node, root) explores all
    * `sources` simultaneously, so k landmark distances cost ONE pass
    * instead of k (the landmark-embedding primitive: approximate
    * d(u,v) <= min over landmarks of d(u,L)+d(L,v)). Same per-round
    * shape as [[bfsLevels]]: frontier-edge join + anti-join against the
    * lazily-unioned materialized levels; rows are (node, root, depth)
    * triples — k longs per reached node at worst, shuffled on ids.
    *
    * @return (node, root, depth): minimal hop count from each root that
    *         reaches `node` within `maxDepth`
    */
  def multiSourceBfs(edges: DataFrame, sources: Seq[Long],
      maxDepth: Int): DataFrame = {
    require(sources.nonEmpty, "sources must be non-empty")
    // Same [[prepareUndirected]] canonicalization and two-level dedup
    // window as [[bfsLevelsPrepared]] (the depth >= d-1 argument holds
    // per root independently).
    multiSourceBfsPrepared(prepareUndirected(edges), sources, maxDepth)
  }

  /** [[multiSourceBfs]] over an edge list already satisfying the
    * [[prepareUndirected]] contract (both directions, no self-loops, no
    * duplicates) — callers holding a staged symmetric relation skip the
    * canonicalize+distinct+mirror reshuffle. */
  def multiSourceBfsPrepared(und: DataFrame, sources: Seq[Long],
      maxDepth: Int): DataFrame = {
    require(sources.nonEmpty, "sources must be non-empty")
    val spark = und.sparkSession
    import spark.implicits._
    var frontier = materialize(sources.map(r => (r, r, 0))
      .toDF("node", "root", "depth"))
    var levels = List(frontier.df)
    var prev: DataFrame = null
    var depth = 0
    // Hand-written: the result reads every level; no state is superseded.
    while (depth < maxDepth && frontier.rows > 0) {
      depth += 1
      val cur = frontier.df
      val recent =
        if (prev == null) cur.select("node", "root")
        else cur.select("node", "root").union(prev.select("node", "root"))
      val fr = cur.select("node", "root")
      frontier = materialize(fr.join(und, fr("node") === und("src"))
        .select(col("dst").as("node"), col("root")).distinct()
        .join(recent, Seq("node", "root"), "left_anti")
        .withColumn("depth", lit(depth)))
      levels ::= frontier.df
      prev = cur
    }
    levels.reduce(_ union _)
  }

  /** Deterministic MUTUAL-BEST matching on a weighted pair graph — the
    * one-to-one assignment that makes entity-resolution merges safe
    * (each record merges with at most ONE partner per pass, so no
    * chain of pairwise merges collapses distinct entities). Each
    * round: every vertex picks its best neighbor (max weight, min-id
    * tie-break); an edge is matched iff the pick is MUTUAL; matched
    * vertices leave the graph. Mutual-best is the parallel greedy
    * matching (Preis-style): no coordination beyond one keyed window
    * and one semi-join per round, and a constant expected fraction of
    * remaining weight matches each round.
    *
    * @param edges three columns `u`, `v`, `w` (undirected; one row per
    *              unordered pair is enough)
    * @return (u, v, round) matched pairs, u < v
    */
  def mutualBestMatching(edges: DataFrame, rounds: Int,
      symmetricInput: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = edges.sparkSession
    // symmetricInput: the caller guarantees (u,v,w) already contains both
    // directions with equal weights, no self-pairs, one row per directed
    // pair — the union + groupBy-max re-symmetrization (a full shuffle
    // and aggregate over the algorithm's biggest relation) is then
    // skipped. The same caller-invariant discipline as
    // [[lubyMis]]'s symmetricInput.
    val und = if (symmetricInput) edges.select(col("u"), col("v"), col("w"))
    else edges.filter(col("u") =!= col("v"))
      .select(col("u"), col("v"), col("w"))
      .union(edges.select(col("v").as("u"), col("u").as("v"), col("w")))
      .groupBy("u", "v").agg(max("w").as("w"))
    // TWO materializing jobs per round, each forced exactly once: the
    // matched pairs m_r (whose job runs the round's heavy keyed window
    // + mutuality semi-join, fused — `best` is never materialized
    // separately) and the surviving edge state e_{r+1} (anti-joins
    // against the already-small m_r; skipped on the last round). The
    // final union reads the materialized m_r blocks directly, so
    // nothing heavy recomputes at result time. Loop shuffles are sized
    // to the actual edge count; round states stay pinned until the
    // result materializes (rounds is small, two longs per edge) —
    // lineage is truncated, so none may be unpersisted while a
    // downstream frame still reads it.
    val Mat(e0, n0, _) = materialize(und)
    // r13: the surviving-edge state is VIRTUAL — `live` anti-joins the
    // materialized-once input against the cumulative matched-vertex set
    // (vertex-sized, grows by the round's matches; matched vertices are
    // disjoint across rounds, so the union needs no distinct) instead
    // of rewriting the whole edge relation into the block manager every
    // round. The anti-joins run under AQE (loop shuffles are
    // edge-sized, so AQE stays on) and convert to broadcast at runtime
    // while the matched set is small; at corpus scale the runtime plan
    // flips to shuffle — the scale-adaptive posture.
    var matched: DataFrame = null
    var out: DataFrame = null
    // Hand-written: keeps every round's matches, skips the last matched-set job.
    withLoopShuffle(spark, n0) {
      for (r <- 1 to rounds) {
        val live = if (matched == null) e0
          else e0
            .join(matched.select(col("x").as("u")), Seq("u"), "left_anti")
            .join(matched.select(col("x").as("v")), Seq("v"), "left_anti")
        // best neighbor per vertex as a partial-aggregable argmax —
        // max(struct(w, -v)) = (max weight, then min id), identical to
        // the former `row_number over (w desc, v asc) = 1` window but
        // with map-side combine and NO per-partition sort. Stays FUSED
        // into the m job (the mutuality semi-join references it twice;
        // exchange reuse shares the aggregate's shuffle): materializing
        // `best` separately was A/B'd and measured WORSE on both axes
        // (wall 2.31→2.77 s, CPU 30.6→32.2 s — the vertex-sized copy
        // job costs more than the shared-exchange re-aggregation).
        val best = live.groupBy("u")
          .agg(max(struct(col("w"), (-col("v")).as("nv"))).as("b"))
          .select(col("u"), (-col("b.nv")).as("v"))
        val swapped = best.select(col("v").as("u"), col("u").as("v"))
        val m = materialize(best.join(swapped, Seq("u", "v"), "left_semi")
          .filter(col("u") < col("v"))
          .withColumn("round", lit(r.toLong))).df
        out = if (out == null) m else out.unionByName(m)
        if (r < rounds) {
          val prevMatched = matched
          val mvNew = m.select(explode(array(col("u"), col("v"))).as("x"))
          matched = materialize(if (prevMatched == null) mvNew
            else prevMatched.unionByName(mvNew)).df
          release(prevMatched)
        }
      }
    }
    out
  }

  /** k-round Bellman-Ford single-source shortest paths over a directed
    * weighted edge list (exact int64 weights): after round k, `dist` is
    * the minimum path weight over paths of ≤ k edges — the bounded-round
    * form every distributed SSSP runs (Pregel/GraphX semantics, one
    * superstep per round). FRONTIER-optimized: each round relaxes only
    * edges out of vertices whose distance improved last round (an
    * unchanged vertex re-offers candidates the running min already
    * absorbed — dropping them provably preserves the per-round result),
    * so round cost is O(edges incident to the improved set), not
    * O(all edges). Parallel-duplicate edges collapse to their min weight
    * up front; per-round materialization keeps lineage flat, and its
    * in-job sum of the improved flag is the early-exit probe.
    *
    * @param edges (src, dst, w) triples, w ≥ 0
    * @param uniqueEdges caller guarantees one row per (src, dst) —
    *        skips the parallel-edge min-fold shuffle (a staged distinct
    *        relation with a functional weight column qualifies; the
    *        fold over already-unique pairs is the identity)
    * @return (node, dist) — min ≤`rounds`-edge path weight from `src` */
  def ssspRounds(edges: DataFrame, src: Long, rounds: Int,
      uniqueEdges: Boolean = false): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = materialize(
      if (uniqueEdges) edges.select("src", "dst", "w")
      else edges.groupBy("src", "dst").agg(min(col("w")).as("w"))).df
    // The state is the merged (node, dist, __improved) frame; the frontier
    // and `dist` are its projections. __improved rides as a LONG, so the
    // round's in-job Σ is the frontier size (no per-round isEmpty action).
    val seed = materialize(Seq((src, 0L, 1L)).toDF("node", "dist", "__improved"), 2)
    val merged = Bsp(seed, rounds, 2, Bsp.until(_.sum.signum == 0)) { (merged, _) =>
      val frontier = merged.filter(col("__improved") === 1L).select("node", "dist")
      val relax = frontier
        .join(e, frontier("node") === e("src"))
        .select(e("dst").as("node"),
          (frontier("dist") + e("w")).as("dist"))
        .groupBy("node").agg(min("dist").as("dist"))
      merged.select("node", "dist").as("d")
        .join(relax.as("r"), Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("d.dist"), lit(Long.MaxValue)),
            coalesce(col("r.dist"), lit(Long.MaxValue))).as("dist"),
          (col("d.dist").isNull ||
            (col("r.dist").isNotNull && col("r.dist") < col("d.dist")))
            .cast("long").as("__improved"))
    }.state
    release(e) // every state is materialized: the result never reads `e`
    merged.df.select("node", "dist")
  }

  /** Luby-style maximal independent set over an undirected edge list,
    * DETERMINISTIC: vertex priority is the total order
    * (xxhash64(id), id), so every engine replays the exact same MIS.
    * Per round each ACTIVE vertex compares its priority against the MIN
    * priority among its active neighbors (one keyed aggregate over the
    * live edge relation — min(struct) is partial-aggregable, no window);
    * strict winners join the MIS, then winners and their neighborhoods
    * leave. Fixed `rounds` rather than a fixpoint claim so a
    * bounded-round oracle replays it exactly (the kTruss discipline);
    * with a total order at least the globally-minimal active vertex
    * wins each round, and whp a constant fraction of edges dies per
    * round (Luby '86). A vertex whose neighborhood was consumed earlier
    * has no live edges and wins its round automatically.
    *
    * 100 TB posture: shuffles carry (src, dst) / (v, priority) longs
    * only; per-round materialization flattens lineage; winners
    * accumulate as materialized per-round frames unioned lazily at the
    * end. Returns (node, mis_round) for vertices that entered the MIS
    * within `rounds`. */
  def lubyMis(edges: DataFrame, rounds: Int,
      symmetricInput: Boolean = false): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val pri = struct(xxhash64(col("v")).as("h"), col("v").as("i"))
    // symmetricInput: the caller guarantees `edges` is already
    // symmetrized, self-loop-free, and distinct (the co-purchase
    // relation is, by construction), so the doubling+distinct of the
    // algorithm's BIGGEST relation — measured at a third of q433's
    // wall time — is skipped. Round 1 then scans the input relation
    // directly (columnar scans, no materialization job needed).
    var e = if (symmetricInput) edges.select("src", "dst")
      else prepareUndirected(edges)
    // No prepared active set: active is by construction exactly the
    // src key set of the symmetric edge relation, which is exactly
    // nbrMin's grouping keys, so round 1 reads winners straight off
    // the aggregate (nb is never null there) and later rounds carry
    // the survivor set forward.
    var active: DataFrame = null
    val misParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var r = 0
    var done = false
    // Hand-written: two states a round, keeps winners, skips the last edge job.
    while (r < rounds && !done) {
      r += 1
      val nbrMin = e
        .groupBy(col("src").as("v"))
        .agg(min(struct(xxhash64(col("dst")).as("h"),
          col("dst").as("i"))).as("nb"))
      // Profiled shape (round 9): materialize flagged FIRST so the
      // nbrMin aggregate — the expensive edge-keyed shuffle — is
      // evaluated exactly once per round. Referencing the winner
      // subtree from both the survivor anti-join and the output union
      // in one fused job re-evaluated that aggregate three times and
      // was measured SLOWER (7.8 s vs 5.6 s idle at sf0.1), not faster.
      val flaggedPlan =
        if (r == 1) nbrMin.select(col("v"),
          (pri < col("nb")).cast("long").as("w"))
        else active.join(nbrMin, Seq("v"), "left")
          .select(col("v"),
            (col("nb").isNull || pri < col("nb")).cast("long").as("w"))
      // flagged backs this round's misParts slice, so it stays pinned
      // for the call's lifetime — vertex-sized and shrinking
      // geometrically, unlike the per-round EDGE relation below.
      val flagged = materialize(flaggedPlan).df
      misParts += flagged.filter(col("w") === 1L)
        .select(col("v"), lit(r.toLong).as("mis_round"))
      val nbrOfWinners = e
        .join(flagged.filter(col("w") === 1L).select(col("v").as("src")),
          Seq("src"), "left_semi")
        .select(col("dst").as("v")).distinct()
      // Survivor materialization doubles as the emptiness probe (count
      // folded into the materializing job — no separate isEmpty action).
      val Mat(nextActive, nAct, _) = materialize(
        flagged.filter(col("w") === 0L).select("v")
          .join(nbrOfWinners, Seq("v"), "left_anti"))
      done = nAct == 0L
      val prevE = e
      val prevActive = active
      if (!done && r < rounds) {
        e = materialize(e
          .join(nextActive.select(col("v").as("src")), Seq("src"), "left_semi")
          .join(nextActive.select(col("v").as("dst")), Seq("dst"), "left_semi")
          .select("src", "dst")).df
      }
      active = nextActive
      // Every consumer of the previous round's frames has now executed
      // (flagged, nextActive, next e are all materialized) — release
      // their blocks so a many-round run doesn't pin every round's
      // edge relation for the session lifetime. (Round 1's prevE may be
      // the caller's input, on which release is a no-op.)
      release(prevE)
      release(prevActive)
    }
    misParts.reduce(_ union _).select(col("v").as("node"), col("mis_round"))
  }

  /** k-core decomposition by synchronous iterative peeling: each round
    * drops every vertex whose degree within the current subgraph is < k,
    * until a fixpoint (the k-core) or `maxRounds`. The standard corpus/
    * graph-mining density filter (cohesive-subgraph extraction, spam/hub
    * pruning before community detection).
    *
    * Semantics are the synchronous peel — alive(r+1) = {v in alive(r) :
    * deg_alive(r)(v) >= k} — so a bounded-round replay (the q211/BPE
    * unrolled-CTE discipline) reproduces it exactly; peeling is monotone,
    * so rounds past the fixpoint are no-ops and an early exit is safe.
    *
    * 100 TB posture: each round is one degree aggregation plus two
    * edge⋈alive semi joins — everything shuffled on vertex ids, two longs
    * per edge, nothing vertex- or edge-sized on the driver (the
    * convergence probe is the CC/SSSP (count, hash-sum) checksum,
    * computed in each round's materializing job). Lineage stays flat via
    * per-round materialization.
    *
    * @param edges (src, dst) pairs; symmetrized and de-duplicated here
    * @return surviving (node, core_deg) — degree within the k-core
    */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 30): DataFrame = {
    def withH(df: DataFrame): DataFrame =
      df.withColumn("__h", xxhash64(col("src"), col("dst")))
    val e0 = materialize(withH(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()), 2)
    // an empty edge set is already the fixpoint: no round runs
    val e = Bsp(e0, if (e0.rows == 0L) 0 else maxRounds, 2, Bsp.unchanged) { (e, _) =>
      val cur = e.select("src", "dst")
      val alive = cur.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src").as("v"))
      withH(cur
        .join(alive.select(col("v").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("v").as("dst")), Seq("dst"), "left_semi")
        .select("src", "dst"))
    }.state.df
    e.groupBy("src").agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("node"), col("core_deg"))
  }

  /** k-truss decomposition (Cohen 2008), fixed-round peel: every round
    * recomputes per-edge triangle SUPPORT (triangles enumerated once in
    * the canonical a<b<c orientation — the same degree-bounded wedge
    * discipline as exact triangle counting) and drops edges with
    * support < k-2. Fixed `rounds` rather than a fixpoint claim so a
    * bounded-round oracle replays it exactly; on a graph where the peel
    * converges earlier the extra rounds are no-ops (specs pin
    * convergence on the test graph).
    *
    * 100 TB posture: each round is two edge⋈edge equi-joins keyed on
    * vertex ids (two longs per row) + one (u, v) support aggregation —
    * wedge space bounded by per-vertex degree, nothing driver-sized;
    * lineage flattened with per-round materialization.
    *
    * @param edges (src, dst) in any orientation; canonicalized u<v here
    * @return surviving (u, v, support) under the final peel
    */
  def kTruss(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val thr = k - 2
    val e0 = materialize(edges
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .filter(col("u") =!= col("v")).distinct())
    Bsp(e0, rounds) { (surviving, _) =>
      val e = surviving.select("u", "v")
      val tri = e.select(col("u").as("a"), col("v").as("b"))
        .join(e.select(col("u").as("b2"), col("v").as("c")),
          col("b") === col("b2"))
        .join(e.select(col("u").as("a2"), col("v").as("c2")),
          col("a2") === col("a") && col("c2") === col("c"))
        .select("a", "b", "c")
      val sup = tri.select(col("a").as("u"), col("b").as("v"))
        .union(tri.select(col("b").as("u"), col("c").as("v")))
        .union(tri.select(col("a").as("u"), col("c").as("v")))
        .groupBy("u", "v").agg(count(lit(1)).as("support"))
      sup.filter(col("support") >= thr)
    }.state.df
  }

  /** Synchronous label propagation (Raghavan et al. 2007) for `rounds`
    * fixed iterations: every vertex simultaneously adopts the most
    * frequent label among its neighbors, ties broken on the SMALLEST
    * label — fully deterministic, so a bounded-round replay reproduces
    * it exactly (synchronous LPA can oscillate on bipartite structures,
    * which is why this is a fixed-round schedule, not a fixpoint claim).
    *
    * 100 TB posture: each round is one edge⋈labels join (shuffled on
    * vertex id, two longs per row) + one (vertex, label) count + one
    * per-vertex argmax via max(struct(cnt, -label)) — a map-side-
    * combined aggregate, NO window over the corpus. Lineage stays flat
    * via per-round materialization; the driver never sees a vertex.
    *
    * @return (node, label) after `rounds` synchronous updates
    */
  def labelPropagation(edges: DataFrame, rounds: Int): DataFrame = {
    val ue = materialize(edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .filter(col("src") =!= col("dst")).distinct()).df
    val lab = Bsp(materialize(ue.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("label"))), rounds) { (lab, _) =>
      ue.join(lab.withColumnRenamed("node", "dst"), Seq("dst"))
        .groupBy(col("src"), col("label"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("src"))
        .agg(max(struct(col("cnt"), (-col("label")).as("nl"))).as("m"))
        .select(col("src").as("node"), (-col("m.nl")).as("label"))
    }.state.df
    release(ue) // every state is materialized: the result never reads `ue`
    lab
  }

  /** Cycle detection in a FUNCTIONAL graph (every node has exactly one
    * successor — retry chains, redirect maps, "next version" pointers)
    * by pointer doubling: maintain p_k(u) = f^(2^k)(u) and
    * m_k(u) = min{f^j(u) : 0 <= j < 2^k}, square per round
    * (p <- p(p), m <- min(m, m(p))). After `rounds` with
    * 2^rounds >= |V|, every p(u) has entered u's terminal cycle, the
    * anchor image {p(u)} is EXACTLY the union of all cycle nodes (f
    * rotates each cycle bijectively), and m at a cycle node is the min
    * over its whole cycle — the canonical cycle id.
    *
    * O(log n) rounds where naive walking is O(n); each round one
    * self-join on ids (two longs per node), per-round materialization
    * keeps lineage flat, nothing per-node reaches the driver.
    *
    * @param succ two columns `id`, `p` (u -> f(u), total function)
    * @param rounds doubling rounds; caller picks ceil(log2 |V|)
    * @return (id, on_cycle, cycle_id): cycle_id = min node of the
    *         terminal cycle u's walk falls into
    */
  def functionalGraphCycles(succ: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    // The doubling state is |V| rows EXACTLY, every round (p is a total
    // function); exact statistics keep the self-join's estimate from
    // squaring round over round.
    val df = Bsp(materialize(
        succ.select(col("id"), col("p"), col("id").as("mn"))), rounds) { (df, _) =>
      df.as("a")
        .join(df.as("b"), col("a.p") === col("b.id"))
        .select(col("a.id").as("id"), col("b.p").as("p"),
          least(col("a.mn"), col("b.mn")).as("mn"))
    }.state.df
    val anchors = df.select(col("p")).distinct()
    val cycleMin = df.select(col("id").as("p"), col("mn"))
      .join(anchors, Seq("p"), "left_semi")
    df.select(col("id"), col("p"))
      .join(cycleMin, Seq("p"))
      .join(anchors.select(col("p").as("id"), lit(true).as("__cyc")),
        Seq("id"), "left")
      .select(col("id"), coalesce(col("__cyc"), lit(false)).as("on_cycle"),
        col("mn").as("cycle_id"))
  }

  /** HITS (Kleinberg) hub/authority scores over a directed edge list as
    * EXACT integers: scores start at h0 = 1 and alternate a = Aᵀh,
    * h = Aa for `rounds` full rounds WITHOUT the usual per-round L2
    * normalization — after k rounds each score counts the alternating
    * paths of length 2k ending at the node, and since normalization
    * rescales every score by the same constant, the RANKING (the thing
    * HITS is for) is identical while the integers replay bit-exact in
    * SQL. Returns (final hub DF, final authority DF) as (id, score).
    *
    * Scale shape: each half-round is one edge⋈score equi-join + one
    * keyed sum — edge-sized shuffles of (long, long), nothing
    * node-quadratic; the deduped edge list is materialized once and
    * reused by all 2·rounds half-steps. int64 bound: scores grow like
    * (d_hub·d_auth)^rounds; at rounds=2 that is ~1e9 even at 1e3-degree
    * hubs — switch `score` to DECIMAL(38,0) before raising `rounds` on
    * heavier graphs. */
  def hitsExact(edges: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val e = materialize(edges.select(col("src"), col("dst")).distinct()).df
    var hub = e.select(col("src").as("id")).distinct()
      .withColumn("score", lit(1L))
    var auth: DataFrame = null
    // Hand-written: lazy half-rounds; nothing to materialize or release.
    for (_ <- 1 to rounds) {
      auth = e.join(hub.select(col("id").as("src"), col("score").as("hs")),
          Seq("src"))
        .groupBy(col("dst").as("id")).agg(sum(col("hs")).as("score"))
      hub = e.join(auth.select(col("id").as("dst"), col("score").as("as_")),
          Seq("dst"))
        .groupBy(col("src").as("id")).agg(sum(col("as_")).as("score"))
    }
    (hub, auth)
  }

  /** Max-label propagation to fixpoint with pointer jumping:
    * c(v) ← max(c(v), c over in-edges of `e`, c(c(v))) from c(v) = v —
    * the coloring kernel of [[stronglyConnectedComponents]], converging
    * in O(log diameter) rounds on any graph (the jump doubles the
    * effective propagation distance per round). Convergence detected by
    * the monotone Σc checksum (a metadata scalar). */
  private def colorToFixpoint(nodes: DataFrame, e: DataFrame,
      maxInner: Int): DataFrame = {
    // One propagation step: c'(v) = max(c(v), max over in-edges of
    // c(u), c(c(v))) — edge relax plus pointer jump, monotone
    // non-decreasing per vertex.
    def step(p: DataFrame): DataFrame = {
      val fromEdges = e
        .join(p.select(col("id").as("src"), col("c").as("cand")), Seq("src"))
        .select(col("dst").as("id"), col("cand"))
      val fromJump = p.as("p")
        .join(p.select(col("id").as("c0"), col("c").as("cand")).as("j"),
          col("p.c") === col("j.c0"))
        .select(col("p.id").as("id"), col("cand"))
      p.select(col("id"), col("c").as("cand"))
        .union(fromEdges).union(fromJump)
        .groupBy("id").agg(max("cand").as("c"))
    }
    // NOTE (round-9 measurement): fusing two steps per materializing
    // job (step(step(ptr))) HALVED the round count but TRIPLED the
    // per-round time — the inner step's subtree is re-evaluated at each
    // of its four references (fresh exprIds defeat exchange reuse) —
    // and was a net regression at every scale tried. One step per job
    // is the measured optimum; don't re-fuse.
    // monotone non-decreasing: an unchanged round is the fixpoint
    val run = Bsp(materialize(nodes.select(col("id"), col("id").as("c")), 1),
      maxInner, 1, Bsp.unchanged)((p, _) => step(p))
    require(run.fixpoint, s"SCC coloring did not converge in $maxInner rounds")
    run.state.df
  }

  /** Strongly connected components of a directed edge list via the
    * COLORING algorithm (Orzan; the standard distributed SCC — FW-BW
    * without the pivot recursion), with two scale guards the naive
    * form lacks:
    *
    * repeat until no vertices remain:
    *   0. TRIM (iterated): a vertex missing either in-edges or
    *      out-edges in the current graph is a singleton SCC — peel
    *      those to fixpoint first. Real graphs are mostly acyclic
    *      fringe (the q372 top-2 successor graph at sf0.1 is 17k
    *      singleton SCCs out of 20k vertices); without trimming, every
    *      fringe layer costs a FULL coloring round.
    *   1. COLOR: c(v) = max id over ancestors(v) ∪ {v}, by
    *      pointer-jumped max-label propagation ([[colorToFixpoint]]),
    *      O(log diameter) rounds.
    *   2. Every color class has exactly one root r with c(r) = r, all
    *      paths between class members stay inside the class, and
    *      SCC(r) = the members that reach r — found by running the
    *      SAME pointer-jumped coloring on the class-restricted
    *      REVERSED edges: rev(v) = max class member reachable FROM v,
    *      so v ∈ SCC(c(v)) iff rev(v) = c(v). (The earlier plain
    *      backward BFS here was O(SCC diameter) rounds — hundreds on
    *      a ring-shaped giant SCC, the q372 sf0.1 hang; the jump makes
    *      it logarithmic like phase 1.)
    *   3. Remove the found SCCs and their edges; each round removes at
    *      least all root SCCs, so the outer loop is bounded by the
    *      cycle-peeling depth of the condensation (trim collapses the
    *      acyclic depth).
    *
    * Shuffle discipline matches [[connectedComponentsStars]]: every
    * round moves two-longs-per-edge relations, per-round materialization
    * truncates lineage, the driver sees only count/sum convergence
    * checksums (metadata scalars, never vertex data). Returns
    * (scc_id = min member id, id, scc_size). */
  def stronglyConnectedComponents(edges: DataFrame, maxOuter: Int = 25,
      maxInner: Int = 60): DataFrame = sccBody(edges, maxOuter, maxInner)

  /** Run a BSP loop with `spark.sql.shuffle.partitions` sized to the
    * loop's actual state (`rows`, the exact count [[materialize]] returns):
    * ~50k rows per partition, capped at the session default. At 100 TB
    * the state is corpus-scale and this IS the session default; at
    * small scale it removes the dominant cost of a many-round loop —
    * scheduling a full default-width task wave per tiny stage (the q372
    * SCC pays ~70 round jobs for a few-thousand-row state). The session
    * value is restored before the (lazy) result executes, so downstream
    * consumers keep the corpus-sized setting. */
  private[llm] def withLoopShuffle[T](spark: org.apache.spark.sql.SparkSession,
      rows: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val aqeKey = "spark.sql.adaptive.enabled"
    val old = spark.conf.get(key)
    val oldAqe = spark.conf.get(aqeKey)
    val p = math.max(1L, math.min(old.toLong, rows / 50000L + 1))
    spark.conf.set(key, p.toString)
    // AQE exists to right-size UNKNOWN shuffles; here the loop state is
    // known and already sized, so when it is metadata-scale (a few
    // partitions) AQE contributes only its per-stage re-planning and
    // extra stage-job scheduling — measured at a large share of the
    // ~130 ms fixed cost of each of the q372 SCC's ~45 tiny round jobs.
    // Corpus-scale loops (p at the session default) keep AQE: there the
    // runtime re-plan (skew splits, coalescing) is worth its overhead.
    if (p <= 4) spark.conf.set(aqeKey, "false")
    try f finally {
      spark.conf.set(key, old)
      spark.conf.set(aqeKey, oldAqe)
    }
  }

  private def sccBody(edges: DataFrame, maxOuter: Int,
      maxInner: Int): DataFrame = {
    // Per-round job ledger: every materialization carries its row count
    // in the SAME job, so the loop never pays a separate isEmpty/count
    // action; assigned SCCs accumulate in a driver-side buffer of
    // already-materialized frames (metadata-sized handles) and union
    // lazily at the end — the earlier running re-materialized union cost
    // one extra job per round.
    var e = materialize(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct())
    var remaining = materialize(e.df.select(col("src").as("id"))
      .union(e.df.select(col("dst").as("id"))).distinct())
    val assignedParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var outer = 0
    // Hand-written: replaces two frames a round and keeps its found SCCs.
    withLoopShuffle(edges.sparkSession, e.rows) {
    while (remaining.rows > 0 && outer < maxOuter) {
      outer += 1
      // Phase 0: iterated trim — acyclic fringe = singleton SCCs.
      // Each round is ONE materializing job (edges restricted by two
      // semi-joins, fixpoint when the edge count stops shrinking); the
      // singleton harvest and remaining-set update happen ONCE after
      // the fixpoint, not per round — the earlier per-round
      // both/single/e-rewrite ledger paid 3 driver jobs per layer.
      // r14 adjudication of "check trim convergence every K rounds":
      // structurally a NO-OP at the job level — the convergence check IS
      // the materialized count, computed inside each layer's materializing
      // job (no separate driver action exists to elide), so checking
      // less often removes zero jobs; the only shape that does reduce
      // jobs (K layers per materialization) is the twice-measured
      // negative below. The fixpoint's one discarded zero-removal round
      // is the price of exactness. Declared job-count-bound (§1.3).
      // One layer per materializing job — MEASURED optimum, twice now.
      // Round 9: fusing two coloring steps re-evaluated the inner
      // subtree at each reference and tripled per-round time. Round 12
      // re-tested the fusion hypothesis HERE, where the input `e` is
      // materialized (so the inner layer's three re-evaluations are
      // scans of in-memory blocks, not plan re-execution) and the edge
      // set is metadata-scale (so the ~130 ms fixed job cost should
      // dominate): an interleaved matched quad at sf0.1 still showed
      // two layers per job SLOWER (wall 10.3/10.6 s vs 9.7/8.6 s; CPU
      // 36 s vs 27-30 s — the CPU rise proves real extra work, not
      // noise). The fused job's extra distinct/semi-join STAGES cost
      // more than the saved job scheduling. Don't re-fuse.
      e = Bsp(e, maxInner, done = Bsp.unchanged) { (e, _) =>
        e.join(e.select(col("dst").as("src")).distinct(), Seq("src"), "left_semi")
          .join(e.select(col("src").as("dst")).distinct(), Seq("dst"), "left_semi")
      }.state
      // core = endpoints of the trimmed edge set ⊆ remaining; everything
      // outside it is a singleton SCC
      val core = materialize(e.df.select(col("src").as("id"))
        .union(e.df.select(col("dst").as("id"))).distinct())
      if (core.rows < remaining.rows) {
        val single = materialize(remaining.df.join(core.df, Seq("id"), "left_anti")
          .select(col("id"), col("id").as("c"))).df
        assignedParts += single // forced `single` → old remaining done
        remaining.release()
        remaining = core
      } else core.release()
      if (remaining.rows > 0) {
        // Phase 1: forward max-ancestor coloring.
        val fwd = colorToFixpoint(remaining.df, e.df, maxInner)
        // Phase 2: reverse coloring on class-restricted reversed edges.
        val ec = materialize(e.df
          .join(fwd.select(col("id").as("src"), col("c").as("cs")), Seq("src"))
          .join(fwd.select(col("id").as("dst"), col("c").as("cd")), Seq("dst"))
          .filter(col("cs") === col("cd"))
          .select(col("dst").as("src"), col("src").as("dst"))).df
        val rev = colorToFixpoint(remaining.df, ec, maxInner)
        val found = materialize(fwd
          .join(rev.select(col("id"), col("c").as("rc")), Seq("id"))
          .filter(col("c") === col("rc"))
          .select(col("id"), col("c"))).df
        assignedParts += found // buffered: do NOT release
        val nr = materialize(
          remaining.df.join(found.select("id"), Seq("id"), "left_anti"))
        remaining.release()
        remaining = nr
        val ne = materialize(
          e.df.join(found.select(col("id").as("src")), Seq("src"), "left_anti")
            .join(found.select(col("id").as("dst")), Seq("dst"), "left_anti")
            .select("src", "dst"))
        e.release()
        e = ne
        release(fwd); release(ec); release(rev)
      }
    }
    }
    require(remaining.rows == 0, s"SCC did not finish in $maxOuter rounds")
    e.release(); remaining.release() // the returned plan reads only `assigned`
    if (assignedParts.isEmpty)
      return edges.sparkSession.range(0)
        .select(col("id").as("c"), col("id"))
        .groupBy(col("c"))
        .agg(min("id").as("scc_id"), count(lit(1)).as("scc_size"))
        .select(col("scc_id"), col("scc_id").as("id"), col("scc_size"))
    val assigned = assignedParts.reduce(_ union _)
    assigned.groupBy(col("c"))
      .agg(min("id").as("scc_id"), count(lit(1)).as("scc_size"))
      .join(assigned, Seq("c"))
      .select(col("scc_id"), col("id"), col("scc_size"))
  }

  /** Deterministic DeepWalk-style walk corpus (Perozzi et al. 2014
    * shape, derandomized): one walk per start vertex; at step t the
    * walk at node u moves to the out-neighbor v minimizing
    * xxhash64(u, v) XOR xxhash64(t) — a hash-argmin in place of a
    * random draw, so the whole corpus is a pure function of the graph
    * and replays bit-for-bit in any engine with the same hash. The
    * per-EDGE hash is computed once and reused by every step (at
    * 100 TB it persists with the edge relation); the per-step XOR
    * constant re-permutes all edge priorities each round for free —
    * re-hashing (u, t, v) per candidate per step would redo the
    * expensive part steps× over. Returns (start, step, node) for
    * steps 0..`steps`.
    *
    * Each round is ONE edges join keyed on the current node plus a
    * partial-aggregable min(struct(hash, dst)) per walk — never a
    * window over the candidate relation, and nothing driver-side. At
    * 100 TB the per-round shuffle is frontier-sized (one row per
    * walk), the classic BSP walk shape. */
  def hashWalks(edges: DataFrame, steps: Int): DataFrame = {
    val e = edges.select(col("src").cast("long").as("esrc"),
      col("dst").cast("long").as("edst"))
      .withColumn("eh", xxhash64(col("esrc"), col("edst")))
    var cur = materialize(e.select(col("esrc").as("start")).distinct()
      .withColumn("node", col("start"))).df // frontier: one row per walk
    var out = cur.withColumn("step", lit(0))
    // Hand-written: the result reads every step; no state is superseded.
    for (t <- 1 to steps) {
      // xxhash64(lit) is foldable — the per-step constant costs nothing
      val next = cur.join(e, col("node") === col("esrc"))
        .select(col("start"),
          struct(col("eh").bitwiseXOR(xxhash64(lit(t.toLong))).as("h"),
            col("edst").as("dst")).as("hd"))
        .groupBy("start").agg(min(col("hd")).as("m"))
        .select(col("start"), col("m.dst").as("node"))
      cur = materialize(next).df
      out = out.union(cur.withColumn("step", lit(t)))
    }
    out
  }

  /** Bounded-depth Brandes betweenness from a deterministic pivot set
    * (Brandes 2001; the pivot-sampled "k-betweenness" estimator of
    * Brandes & Pich 2007 with hop cutoff `depth`): forward BFS per
    * pivot accumulating exact integer shortest-path counts σ, then the
    * backward dependency sweep δ(v) = Σ_w σv/σw·(1+δ(w)) over the
    * shortest-path DAG, integerized at `scale` with one explicit
    * floor division per DAG edge (decimal-widened product — σ·scale
    * overflows int64 on dense graphs). Returns (node, bc_scaled) for
    * nodes with positive truncated dependency.
    *
    * All pivots advance together: state is (pivot, node)-keyed, each
    * round is one frontier-sized edges join — σ and δ both
    * partial-aggregable sums, never windows; the visited set joins
    * only against the frontier (BFS discipline of [[bfsLevels]]). */
  def betweennessPivots(edges: DataFrame, nPivots: Int, depth: Int,
      scale: Long = 1000000000L): DataFrame = {
    // depth < 2 leaves the backward sweep empty (loop depth-1 .. 1
    // never runs) and `acc` null — fail fast instead of NPE.
    require(depth >= 2, s"depth must be >= 2, got $depth")
    val e = edges.select(col("src").cast("long").as("esrc"),
      col("dst").cast("long").as("edst"))
    val pivots = e.select(col("esrc").as("pivot")).distinct()
      .orderBy("pivot").limit(nPivots)
    var front = materialize(pivots.select(col("pivot"), col("pivot").as("node"))
      .withColumn("sig", lit(1L))).df
    var visited = materialize(front.select("pivot", "node")).df
    var levels = Vector(front)
    // Hand-written: the backward sweep reads every level.
    for (_ <- 1 to depth) {
      val next = materialize(front.join(e, col("node") === col("esrc"))
        .groupBy(col("pivot"), col("edst").as("nnode"))
        .agg(sum(col("sig")).as("sig"))
        .join(visited.withColumnRenamed("node", "nnode"),
          Seq("pivot", "nnode"), "left_anti")
        .withColumnRenamed("nnode", "node")).df
      val seen = materialize(visited.union(next.select("pivot", "node"))).df
      release(visited)
      visited = seen
      levels :+= next
      front = next
    }
    var deltaNext: DataFrame = null // (pivot, node, delta) one level down
    var acc: DataFrame = null
    // Hand-written: reads two levels a round; the result reads every `d`.
    for (k <- (depth - 1) to 1 by -1) {
      val w0 = levels(k + 1)
      val wd = (if (deltaNext == null) w0.withColumn("delta", lit(0L))
        else w0.join(deltaNext, Seq("pivot", "node"), "left")
          .na.fill(0L, Seq("delta")))
        .select(col("pivot").as("wpivot"), col("node").as("wnode"),
          col("sig").as("wsig"), col("delta"))
      val d = materialize(levels(k).join(e, col("node") === col("esrc"))
        .join(wd, col("pivot") === col("wpivot") &&
          col("edst") === col("wnode"))
        .groupBy("pivot", "node")
        .agg(sum(expr(
          s"(CAST(sig AS DECIMAL(38,0)) * (${scale}L + delta)) div wsig"))
          .as("delta"))).df
      acc = if (acc == null) d else acc.union(d)
      deltaNext = d
    }
    (visited +: levels).foreach(release) // the result reads only `acc`
    acc.groupBy("node").agg(sum(col("delta")).as("bc_scaled"))
  }
}
