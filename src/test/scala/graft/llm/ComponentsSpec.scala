package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference CC: union-find over the edge list, components labeled by
    * their min vertex id. */
  private def bruteCC(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(vertices.map(v => v -> v): _*)
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    vertices.map(v => v -> find(v)).toMap
  }

  private def runCC(vertices: Seq[Long], edges: Seq[(Long, Long)]): Map[Long, Long] =
    Components.connectedComponents(
        vertices.toDF("id"), edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("chain, two components, singleton — worst case for pure propagation") {
    // A 12-vertex chain exercises the pointer-jumping (naive propagation
    // needs 11 rounds; compressed needs ~4), plus a separate triangle and
    // an isolated vertex.
    val chain = (0L until 12L).sliding(2).map(s => (s(0), s(1))).toSeq
    val tri = Seq((20L, 21L), (21L, 22L), (20L, 22L))
    val verts = (0L until 12L) ++ Seq(20L, 21L, 22L, 30L)
    val got = runCC(verts, chain ++ tri)
    assert(got == bruteCC(verts, chain ++ tri))
    assert(got(11L) == 0L && got(22L) == 20L && got(30L) == 30L)
  }

  test("property: matches union-find on seeded random graphs") {
    val rng = new scala.util.Random(7)
    for (_ <- 1 to 8) {
      val n = 2 + rng.nextInt(29)
      val verts = (0L until n.toLong).toSeq
      val es = Seq.fill(rng.nextInt(41)) {
        val a = rng.nextInt(n - 1)
        val b = a + 1 + rng.nextInt(n - 1 - a)
        (a.toLong, b.toLong)
      }
      assert(runCC(verts, es) == bruteCC(verts, es),
        s"mismatch on n=$n edges=$es")
    }
  }

  test("near-dup graph on testdata clusters planted duplicates together") {
    val docs = Tables(spark, sfDir, "documents")
    val pairs = NearDup.jaccardPairsPrefix(docs, "doc_id", "text", 3, 0.8)
    val endpoints = pairs.select(col("d1").as("id"))
      .union(pairs.select(col("d2").as("id"))).distinct()
    val cc = Components.connectedComponents(endpoints,
      pairs.select(col("d1").as("src"), col("d2").as("dst")))
    val got = cc.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val es = pairs.select("d1", "d2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = bruteCC(got.keys.toSeq, es)
    assert(got == expected)
    // Every edge's endpoints share a component (pairs really merged).
    es.foreach { case (a, b) => assert(got(a) == got(b)) }
  }

  private def runStars(vertices: Seq[Long], edges: Seq[(Long, Long)]): (Map[Long, Long], Int) = {
    val (df, rounds) = Components.starsWithRounds(
      vertices.toDF("id"), edges.toDF("src", "dst"), 50)
    (df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, rounds)
  }

  test("alternating-star CC matches union-find on seeded random graphs") {
    val rng = new scala.util.Random(11)
    for (_ <- 1 to 8) {
      val n = 2 + rng.nextInt(29)
      val verts = (0L until n.toLong).toSeq
      val es = Seq.fill(rng.nextInt(41)) {
        val a = rng.nextInt(n - 1)
        val b = a + 1 + rng.nextInt(n - 1 - a)
        (a.toLong, b.toLong)
      }
      assert(runStars(verts, es)._1 == bruteCC(verts, es),
        s"mismatch on n=$n edges=$es")
    }
  }

  test("alternating-star CC: 64-chain converges in logarithmic rounds") {
    // A 64-vertex chain is the high-diameter worst case: naive label
    // propagation needs 63 rounds; the alternating-star rewriting must
    // land the whole component on vertex 0 in <= 8 LS+SS rounds.
    val verts = (0L until 64L).toSeq
    val chain = verts.sliding(2).map(s => (s(0), s(1))).toSeq
    val (got, rounds) = runStars(verts, chain)
    assert(got == bruteCC(verts, chain))
    assert(got.values.forall(_ == 0L))
    assert(rounds <= 8, s"expected <= 8 rounds, took $rounds")
  }

  test("alternating-star CC: empty edges and singletons label themselves") {
    val (got, rounds) = runStars(Seq(3L, 7L), Seq.empty)
    assert(got == Map(3L -> 3L, 7L -> 7L) && rounds == 0)
  }

  test("triangle count: K4 + chain + dupes/orientation noise = 4 triangles") {
    // K4 has C(4,3)=4 triangles; the chain adds edges but no triangle;
    // reversed duplicates and a self-loop must not change the count.
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val noise = Seq((10L, 11L), (11L, 12L), (2L, 0L), (3L, 3L))
    val out = Components.triangleCount((k4 ++ noise).toDF("src", "dst")).head
    assert(out.getLong(0) == 8 && out.getLong(1) == 4) // 6 K4 + 2 chain edges
  }

  /** Single-threaded integer PageRank reference — same arithmetic contract
    * as the operator (int64, floor division). */
  private def brutePageRank(edges: Seq[(Long, Long)], iters: Int,
      scale: Long = 1000000L): Map[Long, Long] = {
    val e = edges.distinct
    val vs = e.flatMap(p => Seq(p._1, p._2)).distinct
    val deg = e.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var r = vs.map(_ -> scale).toMap
    for (_ <- 0 until iters) {
      val in = e.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => r(s) / deg(s) }.sum).toMap
      r = vs.map(v => v -> (150000L + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    r
  }

  test("pageRankScaled matches the single-threaded integer reference") {
    import spark.implicits._
    // Chain + hub + a dangling sink (5 -> nothing): exercises the
    // dropped-dangling-mass contract and asymmetric degrees.
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (3L, 4L),
      (4L, 3L), (1L, 4L), (4L, 5L))
    val got = Components.pageRankScaled(
        edges.toDF("src", "dst"), iters = 4)
      .as[(Long, Long)].collect().toMap
    assert(got == brutePageRank(edges, iters = 4))
    // The hub (3) outranks the sink-adjacent leaf under symmetric-ish
    // structure — sanity that ranks differentiate.
    assert(got.values.toSet.size > 1)
  }

  test("pageRankScaled is invariant to partitioning") {
    import spark.implicits._
    val edges = (0L until 40L).map(i => (i, (i * 7 + 3) % 40))
    val df1 = edges.toDF("src", "dst").repartition(1)
    val df2 = edges.toDF("src", "dst").repartition(13)
    val r1 = Components.pageRankScaled(df1, iters = 3).as[(Long, Long)].collect().toMap
    val r2 = Components.pageRankScaled(df2, iters = 3).as[(Long, Long)].collect().toMap
    assert(r1 == r2)
  }

  /** Single-threaded BFS reference: min-hop levels via queue. */
  private def bruteBfs(edges: Seq[(Long, Long)], src: Long,
      maxDepth: Int): Map[Long, Int] = {
    val adj = (edges ++ edges.map(e => (e._2, e._1)))
      .filter(e => e._1 != e._2)
      .groupMap(_._1)(_._2)
    val lvl = scala.collection.mutable.Map(src -> 0)
    var frontier = Seq(src)
    var d = 0
    while (d < maxDepth && frontier.nonEmpty) {
      d += 1
      frontier = frontier.flatMap(v => adj.getOrElse(v, Nil))
        .distinct.filterNot(lvl.contains)
      frontier.foreach(v => lvl(v) = d)
    }
    lvl.toMap
  }

  test("bfsLevels: min-hop on a graph with shortcuts and a cut depth") {
    // 1-2-3-4-5-6 chain, plus shortcut 1-4 (so 4 is depth 1, 5 depth 2),
    // a triangle hanging off 2, and an unreachable island 90-91.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L),
      (1L, 4L), (2L, 7L), (7L, 8L), (8L, 2L), (90L, 91L))
    for (depth <- Seq(1, 2, 4)) {
      val got = Components.bfsLevels(edges.toDF("src", "dst"), 1L, depth)
        .as[(Long, Int)].collect().toMap
      assert(got == bruteBfs(edges, 1L, depth), s"depth=$depth")
    }
    val full = Components.bfsLevels(edges.toDF("src", "dst"), 1L, 4)
      .as[(Long, Int)].collect().toMap
    assert(full(4L) == 1 && full(5L) == 2 && full(6L) == 3)
    assert(!full.contains(90L) && !full.contains(91L))
  }

  /** Bounded-round Bellman-Ford reference: full relaxation each round. */
  private def bruteSssp(edges: Seq[(Long, Long, Long)], src: Long,
      rounds: Int): Map[Long, Long] = {
    val e = edges.groupBy(t => (t._1, t._2))
      .map { case ((s0, d0), ts) => (s0, d0, ts.map(_._3).min) }.toSeq
    var dist = Map(src -> 0L)
    for (_ <- 1 to rounds) {
      val relax = e.flatMap { case (s0, d0, w) =>
        dist.get(s0).map(ds => d0 -> (ds + w))
      }
      dist = (dist.toSeq ++ relax).groupMapReduce(_._1)(_._2)(math.min)
    }
    dist
  }

  test("ssspRounds: matches full Bellman-Ford on a weighted digraph") {
    // Diamond with a cheap long path vs an expensive short path, a
    // parallel duplicate edge (min weight wins), and a far tail that
    // needs all rounds: frontier optimization must not change results.
    val edges = Seq(
      (1L, 2L, 10L), (1L, 2L, 4L),          // parallel dup, min = 4
      (1L, 3L, 1L), (3L, 4L, 1L), (4L, 2L, 1L), // cheap 3-hop path to 2
      (2L, 5L, 2L), (5L, 6L, 2L), (6L, 7L, 2L)) // tail
    for (r <- Seq(1, 2, 3, 4, 6)) {
      val got = Components.ssspRounds(edges.toDF("src", "dst", "w"), 1L, r)
        .as[(Long, Long)].collect().toMap
      assert(got == bruteSssp(edges, 1L, r), s"rounds=$r")
    }
    // the 3-hop path (cost 3) must beat the direct edge (cost 4)
    val full = Components.ssspRounds(edges.toDF("src", "dst", "w"), 1L, 6)
      .as[(Long, Long)].collect().toMap
    assert(full(2L) == 3L && full(7L) == 9L)
  }

  test("ssspRounds: early-exits once no distance improves") {
    val edges = Seq((1L, 2L, 5L), (2L, 3L, 5L))
    val got = Components.ssspRounds(edges.toDF("src", "dst", "w"), 1L, 50)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 0L, 2L -> 5L, 3L -> 10L))
  }

  test("bfsLevels: direction-agnostic, dup-tolerant, early-exits") {
    // Reversed + duplicated edges; component exhausted at depth 2 while
    // maxDepth allows 10 — the early-exit must stop the loop.
    val edges = Seq((2L, 1L), (2L, 1L), (3L, 2L), (1L, 2L))
    val got = Components.bfsLevels(edges.toDF("src", "dst"), 1L, 10)
      .as[(Long, Int)].collect().toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2))
  }

  /** Reference k-core: synchronous peel over an adjacency map. */
  private def bruteKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] = {
    var adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a != b }.distinct
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }
    var changed = true
    while (changed) {
      val alive = adj.filter(_._2.size >= k).keySet
      val next = adj.collect {
        case (v, ns) if alive(v) => v -> ns.intersect(alive)
      }.filter(_._2.nonEmpty)
      changed = next != adj
      adj = next
    }
    adj.map { case (v, ns) => v -> ns.size }
  }

  private def runKCore(edges: Seq[(Long, Long)], k: Int): Map[Long, Int] =
    Components.kCore(edges.toDF("src", "dst"), k)
      .collect().map(r => r.getLong(0) -> r.getLong(1).toInt).toMap

  test("lubyMis (q433): independent, maximal once converged, and " +
      "matches the driver-side priority replay on random graphs") {
    val rng = new scala.util.Random(29)
    for (trial <- 1 to 5) {
      val n = 5 + rng.nextInt(20)
      val es = Seq.fill(6 + rng.nextInt(50)) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (es.nonEmpty) {
        val got = Components.lubyMis(es.toDF("src", "dst"), rounds = 12)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val mis = got.keySet
        val und = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.toSet
        // independence: no edge inside the MIS
        assert(!und.exists { case (a, b) => mis(a) && mis(b) },
          s"trial $trial: MIS not independent: $mis in $es")
        // maximality (12 rounds converge on <= 25 vertices): every
        // vertex is in the MIS or adjacent to one
        val verts = und.map(_._1)
        assert(verts.forall(v => mis(v) ||
          und.exists { case (a, b) => a == v && mis(b) }),
          s"trial $trial: not maximal: $mis in $es")
        // exact replay: greedy by (xxhash64, id) priority — a vertex
        // wins round r iff its priority beats every then-active
        // neighbor; replicate with Spark's own hash values
        val hash = verts.toSeq.toDF("v")
          .withColumn("h", xxhash64(col("v")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        var active = verts
        val expect = scala.collection.mutable.Map[Long, Long]()
        var r = 0L
        while (active.nonEmpty && r < 12) {
          r += 1
          val win = active.filter { v =>
            val nbr = und.collect {
              case (a, b) if a == v && active(b) => b }
            nbr.forall(u => Ordering[(Long, Long)]
              .lt((hash(v), v), (hash(u), u)))
          }
          win.foreach(v => expect(v) = r)
          val rm = win ++ und.collect {
            case (a, b) if win(a) => b }
          active = active -- rm
        }
        assert(got == expect.toMap, s"trial $trial: got $got want $expect")
      }
    }
  }

  test("lubyMis symmetricInput path matches the general path") {
    // symmetricInput = true skips prepareUndirected under the caller's
    // guarantee (symmetric, distinct, no self-loops) — feeding it the
    // pre-symmetrized edge list must give the exact same MIS + rounds
    // as the general path given the raw list.
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 3) {
      val n = 5 + rng.nextInt(20)
      val es = Seq.fill(6 + rng.nextInt(50)) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }.distinct
      if (es.nonEmpty) {
        val sym = es.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct
        val general = Components.lubyMis(es.toDF("src", "dst"), rounds = 12)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val fast = Components.lubyMis(sym.toDF("src", "dst"), rounds = 12,
          symmetricInput = true)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        assert(fast == general, s"trial $trial")
      }
    }
  }

  test("mutualBestMatching symmetricInput path matches the general path") {
    // symmetricInput = true skips the self-pair filter and the
    // union + groupBy-max re-symmetrization under the caller's guarantee
    // (both directions present with equal weights, no self-pairs) —
    // feeding it the pre-symmetrized weighted list must give the exact
    // same (u, v, round) matching as the general path given the raw
    // one-row-per-unordered-pair list. Mirrors the lubyMis parity test
    // above; q377 relies on this invariant.
    val rng = new scala.util.Random(47)
    for (trial <- 1 to 3) {
      val n = 5 + rng.nextInt(20)
      val es = Seq.fill(6 + rng.nextInt(50)) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong,
          (1 + rng.nextInt(9)).toLong)
      }.filter { case (a, b, _) => a != b }
        .groupBy { case (a, b, _) => (math.min(a, b), math.max(a, b)) }
        .map { case ((a, b), g) => (a, b, g.map(_._3).max) }.toSeq
      if (es.nonEmpty) {
        val sym = es.flatMap { case (a, b, w) => Seq((a, b, w), (b, a, w)) }
        val general = Components
          .mutualBestMatching(es.toDF("u", "v", "w"), rounds = 4)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        val fast = Components
          .mutualBestMatching(sym.toDF("u", "v", "w"), rounds = 4,
            symmetricInput = true)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
          .toSet
        assert(fast == general, s"trial $trial")
      }
    }
  }

  test("kCore: clique survives k=3, chain and triangle peel away") {
    // K4 on {0..3} is the 3-core; a chain hung off it (4-5-6) and a
    // separate triangle {10,11,12} must peel (max degree 2). The chain's
    // attachment point 0 keeps its in-core degree 3, not 4.
    val k4 = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L))
    val extra = Seq((0L, 4L), (4L, 5L), (5L, 6L),
      (10L, 11L), (11L, 12L), (10L, 12L))
    val got = runKCore(k4 ++ extra, 3)
    assert(got == Map(0L -> 3, 1L -> 3, 2L -> 3, 3L -> 3))
    assert(got == bruteKCore(k4 ++ extra, 3))
  }

  test("kCore: cascade peel needs multiple rounds; k=1 keeps everything") {
    // A "caterpillar": peeling leaves exposes new leaves round by round.
    val chain = (0L until 8L).sliding(2).map(s => (s(0), s(1))).toSeq
    assert(runKCore(chain, 2) == Map.empty)            // chain has no 2-core
    assert(runKCore(chain, 1) == bruteKCore(chain, 1)) // everything, deg>=1
    // Cycle + pendant: the cycle IS the 2-core, pendant drops.
    val cyc = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 9L))
    assert(runKCore(cyc, 2) == Map(0L -> 2, 1L -> 2, 2L -> 2))
  }

  test("kCore: property vs brute peel on seeded random graphs") {
    val rng = new scala.util.Random(13)
    for (trial <- 1 to 6) {
      val n = 4 + rng.nextInt(16)
      val es = Seq.fill(8 + rng.nextInt(40)) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val k = 2 + rng.nextInt(3)
      assert(runKCore(es, k) == bruteKCore(es, k),
        s"mismatch trial=$trial k=$k edges=$es")
    }
  }

  /** Reference synchronous LPA: mode of neighbor labels, ties → min. */
  private def bruteLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (a, b) => a != b }.distinct
      .groupBy(_._1).map { case (v, es) => v -> es.map(_._2) }
    var lab: Map[Long, Long] = adj.keys.map(v => v -> v).toMap
    for (_ <- 1 to rounds) {
      lab = adj.map { case (v, ns) =>
        val counts = ns.map(lab).groupBy(identity)
          .map { case (l, xs) => (l, xs.size) }
        val bestCnt = counts.values.max
        v -> counts.collect { case (l, c) if c == bestCnt => l }.min
      }
    }
    lab
  }

  private def runLpa(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] =
    Components.labelPropagation(edges.toDF("src", "dst"), rounds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("labelPropagation: two cliques joined by a bridge settle into two communities") {
    val c1 = Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L), (1L, 3L), (2L, 3L))
    val c2 = Seq((10L, 11L), (10L, 12L), (11L, 12L), (10L, 13L), (11L, 13L), (12L, 13L))
    val es = c1 ++ c2 ++ Seq((3L, 10L))
    val got = runLpa(es, 4)
    assert(got == bruteLpa(es, 4))
    // Both cliques collapse onto their min label.
    assert(Seq(0L, 1L, 2L).forall(got(_) == 0L))
    assert(Seq(11L, 12L, 13L).forall(v => got(v) == got(11L)))
  }

  test("localClustering: triangle + pendant, against hand computation") {
    // Triangle {1,2,3} with a pendant 4 hanging off 1: nodes 2 and 3
    // have fully-connected neighborhoods (lcc=1), node 1 sees one of
    // its three possible neighbor pairs closed (lcc=1/3), the pendant
    // has degree 1 (lcc defined 0).
    val es = Seq((1L, 2L), (2L, 3L), (1L, 3L), (1L, 4L))
    val got = Components.localClustering(es.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(got(1L) == ((3L, 1L, 1.0 / 3.0)))
    assert(got(2L) == ((2L, 1L, 1.0)))
    assert(got(3L) == ((2L, 1L, 1.0)))
    assert(got(4L) == ((1L, 0L, 0.0)))
  }

  test("localClustering: per-node triangles sum to 3x the global count") {
    val rng = new scala.util.Random(17)
    for (trial <- 1 to 3) {
      val n = 6 + rng.nextInt(10)
      val es = Seq.fill(10 + rng.nextInt(25)) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      val perNode = Components.localClustering(es.toDF("src", "dst"))
        .agg(sum("n_tri")).collect()(0).getLong(0)
      val global = Components.triangleCount(es.toDF("src", "dst"))
        .collect()(0).getLong(1)
      assert(perNode == 3 * global, s"trial=$trial edges=$es")
    }
  }

  test("labelPropagation: property vs brute on seeded random graphs") {
    val rng = new scala.util.Random(29)
    for (trial <- 1 to 5) {
      val n = 4 + rng.nextInt(12)
      val es = Seq.fill(6 + rng.nextInt(30)) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
      if (es.nonEmpty) {
        val r = 1 + rng.nextInt(4)
        assert(runLpa(es, r) == bruteLpa(es, r),
          s"mismatch trial=$trial rounds=$r edges=$es")
      }
    }
  }

  test("multiSourceBfs: agrees with per-root bfsLevels, any data") {
    val rng = new scala.util.Random(11)
    for (trial <- 1 to 8) {
      val es = Seq.fill(3 + rng.nextInt(20))(
        (rng.nextInt(12).toLong, rng.nextInt(12).toLong))
        .filter { case (a, b) => a != b }
      if (es.nonEmpty) {
        val roots = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted.take(3)
        val depth = 1 + rng.nextInt(3)
        val got = Components.multiSourceBfs(es.toDF("src", "dst"),
            roots, depth)
          .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2)))
          .toMap
        val want = roots.flatMap { root =>
          Components.bfsLevels(es.toDF("src", "dst"), root, depth)
            .as[(Long, Int)].collect()
            .map { case (n, dd) => ((n, root), dd) }
        }.toMap
        assert(got == want, s"trial=$trial roots=$roots depth=$depth es=$es")
      }
    }
  }

  /** Reference cycle finder: walk each node n steps (lands on the
    * cycle), collect the anchor set, then walk once around each
    * anchor's cycle for its min. */
  private def bruteCycles(succ: Map[Long, Long]): Map[Long, (Boolean, Long)] = {
    val n = succ.size
    def walk(u: Long, k: Int): Long =
      Iterator.iterate(u)(succ).drop(k).next()
    val anchor = succ.keys.map(u => u -> walk(u, n)).toMap
    val onCycle = anchor.values.toSet
    val cycleMin = onCycle.map { z =>
      z -> Iterator.iterate(z)(succ).take(n + 1).filter(onCycle).min
    }.toMap
    succ.keys.map(u => u -> (onCycle(u), cycleMin(anchor(u)))).toMap
  }

  /** Reference mutual-best matching: same rounds, sequential. */
  private def bruteMatching(edges: Seq[(Long, Long, Long)],
      rounds: Int): Set[(Long, Long, Long)] = {
    var e = edges.filter(t => t._1 != t._2)
      .flatMap(t => Seq((t._1, t._2, t._3), (t._2, t._1, t._3)))
      .groupBy(t => (t._1, t._2))
      .map { case ((u, v), ts) => (u, v, ts.map(_._3).max) }.toSeq
    val out = scala.collection.mutable.Set[(Long, Long, Long)]()
    for (r <- 1 to rounds) {
      val best = e.groupBy(_._1).map { case (u, es) =>
        u -> es.maxBy(t => (t._3, -t._2))._2
      }
      val m = best.collect { case (u, v)
        if u < v && best.get(v).contains(u) => (u, v, r.toLong) }
      out ++= m
      val mv = m.flatMap(t => Seq(t._1, t._2)).toSet
      e = e.filter(t => !mv(t._1) && !mv(t._2))
    }
    out.toSet
  }

  /** Reference k-truss: fixed-round peel with brute triangle counting. */
  private def bruteTruss(edges: Seq[(Long, Long)], thr: Int,
      rounds: Int): Map[(Long, Long), Long] = {
    var e = edges.map(t => (math.min(t._1, t._2), math.max(t._1, t._2)))
      .filter(t => t._1 != t._2).distinct.toSet
    var sup = Map.empty[(Long, Long), Long]
    for (_ <- 1 to rounds) {
      val s = collection.mutable.Map[(Long, Long), Long]()
      val vs = e.flatMap(t => Seq(t._1, t._2)).toSeq.sorted
      for {
        a <- vs; b <- vs if a < b && e((a, b))
        c <- vs if b < c && e((b, c)) && e((a, c))
      } Seq((a, b), (b, c), (a, c)).foreach(k =>
        s(k) = s.getOrElse(k, 0L) + 1)
      sup = s.toMap.filter(_._2 >= thr)
      e = sup.keySet
    }
    sup
  }

  test("kTruss: matches brute fixed-round peel on random graphs") {
    val rng = new scala.util.Random(47)
    for (trial <- 1 to 5) {
      val es = Seq.fill(8 + rng.nextInt(30))(
        (rng.nextInt(12).toLong, rng.nextInt(12).toLong))
        .filter(t => t._1 != t._2)
      val got = Components.kTruss(es.toDF("src", "dst"), k = 3, rounds = 3)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2))
        .toMap
      assert(got == bruteTruss(es, thr = 1, rounds = 3), s"trial=$trial es=$es")
    }
  }

  test("kTruss: q356's schedule reaches its fixpoint on the test graph") {
    val e = Tables(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"))
    val pairs = e.as("a").join(e.as("b"),
        col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
      .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
      .agg(countDistinct(col("a.ok")).as("w"))
      .filter(col("w") >= 2).select("src", "dst")
    val r4 = Components.kTruss(pairs, k = 3, rounds = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val r5 = Components.kTruss(pairs, k = 3, rounds = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(r4 == r5, "peel not converged within q356's round budget")
  }

  test("mutualBestMatching: matches sequential reference, random graphs") {
    val rng = new scala.util.Random(31)
    for (trial <- 1 to 6) {
      val es = Seq.fill(3 + rng.nextInt(20))((rng.nextInt(10).toLong,
        rng.nextInt(10).toLong, (1 + rng.nextInt(5)).toLong))
        .filter(t => t._1 != t._2)
      if (es.nonEmpty) {
        val got = Components.mutualBestMatching(
            es.toDF("u", "v", "w"), rounds = 3)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(got == bruteMatching(es, 3), s"trial=$trial es=$es")
      }
    }
  }

  test("functionalGraphCycles: matches walk reference, random functions") {
    val rng = new scala.util.Random(23)
    for (trial <- 1 to 6) {
      val n = 3 + rng.nextInt(14)
      val succ = (0L until n).map(u => u -> rng.nextInt(n).toLong).toMap
      val rounds = math.max(1,
        math.ceil(math.log(n.toDouble) / math.log(2.0)).toInt)
      val got = Components.functionalGraphCycles(
          succ.toSeq.toDF("id", "p"), rounds)
        .collect()
        .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getLong(2)))).toMap
      assert(got == bruteCycles(succ), s"trial=$trial succ=$succ")
    }
  }

  test("doubled-graph CC derives original components + bipartiteness " +
      "(the q298 one-pass derivation), random graphs") {
    // q298 runs CC ONCE on the doubled graph (u—v', v—u') and derives
    // both answers from it: (a) min over REAL ids of v's doubled
    // component = v's ORIGINAL component label (a bipartite component
    // splits into two parity copies, each still covering every member
    // through mirrors; an odd component stays whole), and (b) v's
    // component has an odd cycle iff v and its mirror land in the same
    // doubled component. Pin both claims against brute references on
    // random graphs — the query's oracle checks one dataset; this
    // checks the theorem.
    val off = 4294967296L
    val rng = new scala.util.Random(47)
    for (trial <- 1 to 4) {
      val n = 4 + rng.nextInt(14)
      val es = Seq.fill(4 + rng.nextInt(26)) {
        (rng.nextInt(n).toLong, rng.nextInt(n).toLong)
      }.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      if (es.nonEmpty) {
        val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
        // Brute references: union-find components; bipartite via BFS
        // 2-coloring inside each component.
        val comp = bruteCC(verts, es)
        val adj = (es ++ es.map(_.swap)).groupMap(_._1)(_._2)
        def bipartite(members: Seq[Long]): Boolean = {
          val color = scala.collection.mutable.Map[Long, Int]()
          members.sorted.forall { s =>
            color.contains(s) || {
              color(s) = 0
              var q = List(s)
              var ok = true
              while (q.nonEmpty && ok) {
                val v = q.head; q = q.tail
                adj.getOrElse(v, Nil).foreach { u =>
                  if (!color.contains(u)) { color(u) = 1 - color(v); q ::= u }
                  else if (color(u) == color(v)) ok = false
                }
              }
              ok
            }
          }
        }
        val wantBip = comp.values.toSeq.distinct.map { c =>
          c -> bipartite(comp.collect { case (v, cc) if cc == c => v }.toSeq)
        }.toMap
        // The q298 construction: doubled edges, one CC run, realMin +
        // mirror-collision derivation.
        val und = (es ++ es.map(_.swap)).toDF("src", "dst")
        val vDf = verts.toDF("id")
        val dVerts = vDf.union(vDf.select((col("id") + off).as("id")))
        val dEdges = und.select(col("src"), (col("dst") + off).as("dst"))
          .union(und.select(col("dst").as("src"),
            (col("src") + off).as("dst")))
        val cc2 = Components.connectedComponentsStars(dVerts, dEdges)
          .localCheckpoint(true)
        val realMin = cc2
          .select(when(col("id") < off, col("id"))
            .otherwise(col("id") - off).as("rid"), col("component"))
          .groupBy("component").agg(min("rid").as("orig_comp"))
        val gotComp = cc2.filter(col("id") < off)
          .join(realMin, Seq("component"))
          .select(col("id"), col("orig_comp"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(gotComp == comp, s"trial $trial components: es=$es")
        val gotOdd = cc2.filter(col("id") < off)
          .join(cc2.filter(col("id") >= off)
            .select((col("id") - off).as("id"),
              col("component").as("cm")), "id")
          .select(col("id"), (col("component") === col("cm")).as("odd"))
          .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
        verts.foreach { v =>
          assert(gotOdd(v) == !wantBip(comp(v)),
            s"trial $trial odd flag for $v: es=$es")
        }
      }
    }
  }

  test("materialized loop state: the planner broadcasts on its exact stats") {
    import org.apache.spark.sql.GraftSqlBridge.materialize
    // Both sides materialized, the exact shape of a BSP round: no hint,
    // the broadcast decision is JoinSelection's own.
    val edges = materialize(
      (0L until 100L).map(i => (i, i + 1)).toDF("src", "dst")).df
    val state = materialize(
      (0L until 100L).map(i => (i, i)).toDF("id", "c")).df
    def plan(): String =
      edges.join(state.withColumnRenamed("id", "src"), Seq("src"))
        .queryExecution.executedPlan.toString
    assert(plan().contains("BroadcastHashJoin"))
    // A threshold below rows × rowBytes → shuffle plan on both sides.
    val bytes = state.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(bytes == edges.queryExecution.optimizedPlan.stats.sizeInBytes)
    withConf("spark.sql.autoBroadcastJoinThreshold", (bytes - 1).toString) {
      assert(!plan().contains("BroadcastHashJoin"))
    }
    // autoBroadcastJoinThreshold = -1 disables it too. The conf flip is
    // structural (set inside the try, restored in finally) so a failure
    // anywhere in the block cannot leak the setting into the shared
    // session.
    withConf("spark.sql.autoBroadcastJoinThreshold", "-1") {
      assert(!plan().contains("BroadcastHashJoin"))
    }
  }

  /** withSQLConf-style helper: the set happens inside the try so the
    * restore in finally always matches it, regardless of where the body
    * (or a future assert placed before it) throws. */
  private def withConf[T](key: String, value: String)(f: => T): T = {
    val old = spark.conf.get(key)
    try { spark.conf.set(key, value); f }
    finally spark.conf.set(key, old)
  }
}
