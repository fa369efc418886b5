package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.GraftSqlBridge.materialize
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The BSP round driver's contract, and the lifetime of loop state in every
  * loop that runs on it: once a loop's result has run, the materialized
  * blocks it leaves pinned are exactly the ones its plan reads. */
class BspSpec extends SparkSpec {
  import spark.implicits._

  private val chain = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L),
    (5L, 6L), (6L, 4L), (7L, 8L), (2L, 5L))
  private def edges = chain.toDF("src", "dst")

  test("maxRounds = 0 returns the initial state unreleased") {
    val init = materialize((0L until 5L).toDF("id"), 0)
    val run = Bsp(init, 0)((_, _) => fail("no round may run"))
    assert(run.state eq init)
    assert(run.rounds == 0 && !run.fixpoint)
    assert(leaves(init.df).subsetOf(pinned))
    assert(init.df.count() == 5L)
    init.release()
  }

  test("a fixpoint stops on the first unchanged round; each superseded " +
      "state is released, only after its successor exists") {
    val seen = scala.collection.mutable.ArrayBuffer[DataFrame]()
    def start = materialize((0L until 4L).toDF("id")
      .select(col("id"), lit(0L).as("v")), 1)
    // v climbs 0 → 1 → 2 → 3 and then stays: round 4 is the first
    // unchanged one
    def climb(s: DataFrame) =
      s.select(col("id"), least(col("v") + 1, lit(3L)).as("v"))
    val run = Bsp(start, 50, 1, Bsp.unchanged) { (s, r) =>
      assert(leaves(s).subsetOf(pinned), s"round $r read a released state")
      seen += s
      climb(s)
    }
    assert(run.rounds == 4 && run.fixpoint)
    assert(run.state.sum.longValue == 12L)
    assert(seen.size == 4 && seen.forall(s => (leaves(s) & pinned).isEmpty))
    assert(leaves(run.state.df).subsetOf(pinned))
    // out of rounds: the same loop capped at 2 reports no fixpoint
    val capped = Bsp(start, 2, 1, Bsp.unchanged)((s, _) => climb(s))
    assert(capped.rounds == 2 && !capped.fixpoint)
    run.state.release(); capped.state.release()
  }

  test("a lazy initial state runs no job and never counts as unchanged") {
    val init = Bsp.lazyState((0L until 3L).toDF("id"))
    val run = Bsp(init, 10, done = Bsp.unchanged)((s, _) => s)
    assert(run.rounds == 2 && run.fixpoint)
    assert(Bsp(init, 0)((s, _) => s).state eq init)
    // `until` reads the new state alone
    val stop = Bsp(init, 10, done = Bsp.until(_.rows == 3L))((s, _) => s)
    assert(stop.rounds == 1 && stop.fixpoint)
    run.state.release(); stop.state.release()
  }

  private def emb = {
    val rnd = new scala.util.Random(5)
    Seq.fill(40)(Array.fill(4)(rnd.nextGaussian().toFloat)).toDF("embedding")
  }
  private def weighted =
    chain.map { case (s, d) => (s, d, s + d) }.toDF("src", "dst", "w")
  private def ids = {
    val rnd = new scala.util.Random(9)
    Seq.tabulate(30)(i => (i.toLong, Array.fill(4)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
  }
  private def sets = Seq("a" -> 1L, "a" -> 2L, "a" -> 3L, "b" -> 3L,
    "b" -> 4L, "c" -> 5L, "c" -> 1L).toDF("source", "h")
  private def words = Seq(1L -> "low lower lowest", 2L -> "newer wider low",
    3L -> "a b a b").toDF("id", "text")

  // Each loop on the driver, run and collected: the materialized RDDs it
  // leaves pinned must be exactly its result's `LogicalRDD` leaves.
  Seq[(String, () => DataFrame)](
    "connectedComponents" -> (() =>
      Components.connectedComponents((1L to 8L).toDF("id"), edges)),
    "connectedComponentsStars" -> (() =>
      Components.connectedComponentsStars((1L to 8L).toDF("id"), edges)),
    "pageRankScaled" -> (() => Components.pageRankScaled(edges, 3)),
    "pageRankScaled, 0 rounds" -> (() => Components.pageRankScaled(edges, 0)),
    "personalizedPageRankScaled" -> (() => Components
      .personalizedPageRankScaled(edges, Seq(1L, 7L).toDF("id"), 3)),
    "personalizedPageRankScaled, 0 rounds" -> (() => Components
      .personalizedPageRankScaled(edges, Seq(1L, 7L).toDF("id"), 0)),
    "ssspRounds" -> (() => Components.ssspRounds(weighted, 1L, 4)),
    "ssspRounds, 0 rounds" -> (() => Components.ssspRounds(weighted, 1L, 0)),
    "kCore" -> (() => Components.kCore(edges, 2)),
    "kTruss" -> (() => Components.kTruss(edges, 3, 2)),
    "labelPropagation" -> (() => Components.labelPropagation(edges, 3)),
    "functionalGraphCycles" -> (() => Components.functionalGraphCycles(
      (0L until 9L).map(u => (u, (u * 4 + 1) % 9)).toDF("id", "p"), 4)),
    "stronglyConnectedComponents" -> (() =>
      Components.stronglyConnectedComponents(edges)),
    "betweennessPivots" -> (() => Components.betweennessPivots(edges, 3, 3)),
    "Similarity.pcaTopComponent" -> (() =>
      Similarity.pcaTopComponent(emb, "embedding")),
    "Similarity.pcaTopComponent, 0 rounds" -> (() =>
      Similarity.pcaTopComponent(emb, "embedding", 0)),
    "Similarity.kCenterGreedy" -> (() => Similarity.kCenterGreedy(ids, 4)),
    "Similarity.kCenterGreedy, k = 1" -> (() =>
      Similarity.kCenterGreedy(ids, 1)),
    "Similarity.mmrSelect" -> (() => Similarity.mmrSelect(ids, 3L, 3, 0.7)),
    "Similarity.kmeansCells" -> (() => Similarity.kmeansCells(ids, 3, 2)),
    "Curation.greedySetCover" -> (() => Curation.greedySetCover(sets, 3)),
    "Curation.greedySetCover, exhausted" -> (() =>
      Curation.greedySetCover(sets, 9)),
    "Bpe.train" -> (() => Bpe.train(words, "id", "text", 4)),
    "Bpe.train, out of pairs" -> (() => Bpe.train(words, "id", "text", 40)),
    "TextOps.suffixRanks" -> (() => TextOps.suffixRanks(words, "id", "text", 2)),
    // hand-written loops that keep every round's frame
    "bfsLevels" -> (() => Components.bfsLevels(edges, 1L, 3)),
    "multiSourceBfs" -> (() => Components.multiSourceBfs(edges, Seq(1L, 7L), 3)),
    "mutualBestMatching" -> (() => Components.mutualBestMatching(
      weighted.select(col("src").as("u"), col("dst").as("v"), col("w")), 3)),
    "lubyMis" -> (() => Components.lubyMis(edges, 3))
  ).foreach { case (name, loop) =>
    test(s"loop state: $name pins only what its result reads") {
      val before = pinned
      val out = loop()
      out.collect()
      assert(pinned -- before == leaves(out))
    }
  }

  test("zero-round results still read their inputs") {
    assert(Components.pageRankScaled(edges, 0).as[(Long, Long)].collect()
      .toSet == (1L to 8L).map(_ -> 1000000L).toSet)
    assert(Components.personalizedPageRankScaled(edges, Seq(7L).toDF("id"), 0)
      .as[(Long, Long)].collect().toMap.filter(_._2 != 0L) == Map(7L -> 1000000L))
    assert(Components.ssspRounds(edges.withColumn("w", lit(1L)), 1L, 0)
      .as[(Long, Long)].collect().toSeq == Seq(1L -> 0L))
  }
}
