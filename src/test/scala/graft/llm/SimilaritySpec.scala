package graft.llm

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables(spark, sfDir, "embeddings")

  test("brute-force top-k: k rows per query, no self-matches") {
    val out = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5)
    val perQuery = out.groupBy("query_id").count().collect()
    assert(perQuery.length == 10)
    assert(perQuery.forall(_.getLong(1) == 5))
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("IVF ANN: nprobe=all equals brute force; nprobe=3 has useful recall") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // Exactness property: probing every cell must reproduce brute force.
    val full = Similarity.ivfTopK(emb, "label", col("vec_id") < 10, k = 5,
        nprobe = 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, "nprobe = ncells must equal brute force")
    val ivf = Similarity.ivfTopK(emb, "label", col("vec_id") < 10, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect ivf).size.toDouble / brute.size
    // These embeddings are weakly clustered (max intra-cell cosine ~0.47),
    // so 3/10 cells yields partial recall; the scan reduction is 10/3.
    assert(recall >= 0.4, s"recall@5 = $recall")
  }

  test("cosine of identical vectors is ~1, orthogonal is ~0") {
    import spark.implicits._
    val df = Seq(
      (Seq(1f, 0f, 2f), Seq(1f, 0f, 2f)),
      (Seq(1f, 0f, 0f), Seq(0f, 1f, 0f))
    ).toDF("a", "b")
    val sims = df.select(Similarity.cosine(col("a"), col("b")).as("s"))
      .as[Double].collect()
    assert(math.abs(sims(0) - 1.0) < 1e-12)
    assert(math.abs(sims(1)) < 1e-12)
  }

  test("k-means IVF: nprobe=all equals brute force; partial probe has recall") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = Similarity.ivfTopKKmeans(emb, ncells = 8, iters = 2,
        queryPred = col("vec_id") < 10, k = 5, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == brute, "nprobe = ncells must equal brute force")
    val partial = Similarity.ivfTopKKmeans(emb, ncells = 8, iters = 2,
        queryPred = col("vec_id") < 10, k = 5, nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect partial).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall@5 = $recall")
  }

  test("kmeansCells: lineage stays flat at iters=10 (eager per-round materialize)") {
    val cents = Similarity.kmeansCells(emb, k = 4, iters = 10)
    // Each Lloyd's round materializes the k-row centroid frame, so the
    // final plan is a scan of materialized partitions — not 10 stacked
    // assign+average subtrees.
    val nodes = cents.queryExecution.analyzed.collect { case n => n }.size
    assert(nodes <= 5, s"analyzed plan has $nodes nodes — lineage is accumulating")
    assert(cents.count() == 4)
  }

  test("hyperplane LSH: useful recall vs brute force at default params") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(emb, dim = 64, col("vec_id") < 10, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("LSH near-dup: precision 1 vs brute force, measurable recall") {
    val brute = emb.as("a").join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .filter(Similarity.cosine(col("a.embedding"), col("b.embedding")) >= 0.25)
      .select(col("a.vec_id"), col("b.vec_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.nearDupPairsLsh(emb, dim = 64, tau = 0.25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((lsh -- brute).isEmpty, "every reported pair must be a true pair")
    assert(brute.nonEmpty)
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall = $recall")
  }

  test("near-dup pairs are symmetric-free and above threshold") {
    val pairs = Similarity.nearDupPairs(emb, "label", tau = 0.25)
    assert(pairs.filter(col("v1") >= col("v2")).count() == 0)
  }

  test("int8 quantization: codes in range, dequant error within one step") {
    import spark.implicits._
    val q = Similarity.quantizeInt8(emb, "vec_id", "embedding")
    val joined = emb.select(col("vec_id"), col("embedding"))
      .join(q, "vec_id")
    // Range + per-dim bound recovery: |x - dequant(q)| <= (mx-mn)/255.
    val dims = emb.select(posexplode(col("embedding").cast("array<double>"))
        .as(Seq("i", "v")))
      .groupBy("i").agg(min("v").as("mn"), max("v").as("mx"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = joined.select(col("vec_id"),
        col("embedding").cast("array<double>"), col("qvec"))
      .as[(Long, Seq[Double], Seq[Int])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (_, e, qs) =>
      assert(e.length == qs.length)
      qs.zipWithIndex.foreach { case (c, i) =>
        assert(c >= 0 && c <= 255)
        val (mn, mx) = dims(i)
        val step = (mx - mn) / 255.0
        val deq = mn + (c + 0.5) * step
        assert(math.abs(e(i) - deq) <= step * 0.5 + 1e-9,
          s"dim $i: x=${e(i)} code=$c dequant=$deq step=$step")
      }
    }
  }

  test("int8 quantization: constant dimension codes to 0, partition-invariant") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq(0.5f, 1.0f, -2.0f)),
      (2L, Seq(0.5f, 3.0f, 4.0f)),
      (3L, Seq(0.5f, 2.0f, 1.5f))).toDF("vec_id", "embedding")
    def codes(d: org.apache.spark.sql.DataFrame) =
      Similarity.quantizeInt8(d, "vec_id", "embedding")
        .as[(Long, Seq[Int])].collect().toMap
    val c1 = codes(df.repartition(1))
    val c7 = codes(df.repartition(7))
    assert(c1 == c7, "quantization must not depend on partitioning")
    assert(c1.values.forall(_.head == 0), "constant dim must code to 0")
    // Min codes to 0, max clamps to 255.
    assert(c1(1L)(1) == 0 && c1(2L)(1) == 255)
  }

  test("IVF-PQ: useful recall vs brute; candK=corpus ≈ plain IVF") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 10, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // With the candidate cut wider than any cell the ADC ordering is
    // irrelevant — IVF-PQ must equal plain IVF at the same nprobe (the
    // exact rerank sees every probed-cell vector).
    val ivf = Similarity.ivfTopK(emb, "label", col("vec_id") < 10, k = 5,
        nprobe = 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pqWide = Similarity.ivfPqTopK(emb, "label", col("vec_id") < 10,
        m = 8, subDim = 8, kCodes = 4, iters = 1, nprobe = 3,
        candK = 100000, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pqWide == ivf, "candK >= probed corpus must reduce to plain IVF")
    // The real configuration: 40 ADC candidates out of ~150 probed.
    val pq = Similarity.ivfPqTopK(emb, "label", col("vec_id") < 10,
        m = 8, subDim = 8, kCodes = 4, iters = 1, nprobe = 3,
        candK = 40, k = 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect pq).size.toDouble / brute.size
    assert(recall >= 0.3, s"IVF-PQ recall@5 = $recall")
    // ADC candidates must be a useful approximation: the PQ result at
    // candK=40 should retain most of what plain IVF finds.
    val vsIvf = (ivf intersect pq).size.toDouble / ivf.size
    assert(vsIvf >= 0.5, s"ADC kept only $vsIvf of IVF's result")
  }

  test("IVF-PQ: code assignment is one exchange-free projection") {
    val cb = Similarity.pqCodebooks(emb, m = 8, subDim = 8, k = 4, iters = 1)
    assert(cb.count() == 32, "8 subspaces x 4 codes")
    // codes dense 0..3 per subspace
    import spark.implicits._
    val perSub = cb.groupBy("sub")
      .agg(sort_array(collect_list(col("code"))).as("cs"))
      .select("cs").as[Seq[Int]].collect()
    assert(perSub.forall(_ == Seq(0, 1, 2, 3)))
  }

  /** Driver-side greedy MMR over collected vectors — the reference. */
  private def bruteMmr(vecs: Map[Long, Array[Float]], qId: Long, k: Int,
      lambda: Double): Seq[Long] = {
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q = vecs(qId)
    val cand = (vecs - qId).map { case (id, v) => id -> cos(v, q) }
    val sel = scala.collection.mutable.ArrayBuffer.empty[Long]
    for (_ <- 1 to k) {
      val best = cand.keys.filterNot(sel.contains).minBy { id =>
        val red = if (sel.isEmpty) 0.0
          else sel.map(s => cos(vecs(id), vecs(s))).max
        val score = if (sel.isEmpty) cand(id)
          else lambda * cand(id) - (1 - lambda) * red
        (-score, id)
      }
      sel += best
    }
    sel.toSeq
  }

  test("MMR: matches driver-side greedy; first pick is the cosine argmax") {
    val sub = emb.filter(col("vec_id") < 120)
    val vecs = sub.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val got = Similarity.mmrSelect(sub, queryId = 3L, k = 4, lambda = 0.5)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(got == bruteMmr(vecs, 3L, 4, 0.5))
    assert(got.distinct.size == 4 && !got.contains(3L))
  }

  test("MMR: λ=1 degenerates to pure relevance ranking (brute top-k)") {
    val sub = emb.filter(col("vec_id") < 100)
    val topk = Similarity.bruteTopK(sub, col("vec_id") === 3, k = 4)
      .orderBy("rank").select("neighbor_id").collect().map(_.getLong(0)).toSeq
    val mmr = Similarity.mmrSelect(sub, queryId = 3L, k = 4, lambda = 1.0)
      .orderBy("rank").select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(mmr == topk)
  }

  test("semantic-dedup (q398) candidate stage: no shuffle carries the " +
      "embedding column — pairs are scored on codes + broadcast luts") {
    // disable auto-broadcast so the plan takes the shape it would at
    // 100 TB (tiny test relations otherwise broadcast everything and
    // the pin is vacuous)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val old = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      val cand = Similarity.sdcCandidates(emb, "label", m = 8, subDim = 8,
        kCodes = 4, iters = 1, tauApprox = 0.15)
      val plan = cand.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.initialPlan // AQE wrapper hides the exchanges from collect()
        case p => p
      }
      val shuffles = plan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(shuffles.nonEmpty) // the pair join itself must shuffle codes
      shuffles.foreach { e =>
        assert(!e.output.exists(_.name == "embedding"),
          "corpus embeddings crossed a shuffle in the candidate stage:\n" + e)
      }
    } finally spark.conf.set(key, old)
  }

  test("SQ8 ANN (q404): candK=corpus reproduces brute force exactly; " +
      "candK=20 has useful recall") {
    val brute = Similarity.bruteTopK(emb, col("vec_id") < 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // With every vector a candidate, the integer-dot prefilter cannot
    // drop a true neighbor — rerank must equal brute force bit-exactly.
    val n = emb.count().toInt
    val full = Similarity.sq8TopK(emb, col("vec_id") < 8, k = 5, candK = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(full == brute)
    val sq = Similarity.sq8TopK(emb, col("vec_id") < 8, k = 5, candK = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sq.size == brute.size)
    val recall = (brute intersect sq).size.toDouble / brute.size
    assert(recall >= 0.6, s"SQ8 recall too low: $recall")
  }

  test("SQ8 ANN: signed codes and integer dot are exact (spot-check " +
      "one pair against a driver-side replay)") {
    val rows = emb.filter(col("vec_id").isin(3L, 97L))
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble)).toMap
    val scales = emb.select(posexplode(col("embedding")).as(Seq("i", "v")))
      .groupBy("i").agg(greatest(abs(min(col("v").cast("double"))),
        abs(max(col("v").cast("double")))).as("a"))
      .orderBy("i").collect().map(_.getDouble(1))
    def quant(v: Seq[Double]): Seq[Long] = v.zip(scales).map { case (x, a) =>
      if (a == 0.0) 0L
      else math.max(-127.0,
        math.min(127.0, math.floor(x * 127.0 / a + 0.5))).toLong
    }
    val qa = quant(rows(3L))
    val qb = quant(rows(97L))
    assert(qa.forall(q => q >= -127 && q <= 127))
    val expected = qa.zip(qb).map { case (a, b) => a * b }.sum
    import spark.implicits._
    val codes = Similarity.quantizeInt8Signed(
      emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
    val got = codes.filter(col("vec_id").isin(3L, 97L))
      .agg(collect_list(struct(col("vec_id"), col("qvec"))).as("cs"))
      .select(expr("aggregate(zip_with(cs[0].qvec, cs[1].qvec, " +
        "(x, y) -> CAST(x AS BIGINT) * y), 0L, (a, v) -> a + v)"))
      .as[Long].head()
    assert(got == expected)
  }

  test("nearestCentroidEval (q409): confusion sums to the corpus, " +
      "planted-cluster data classifies perfectly") {
    import spark.implicits._
    val conf = Similarity.nearestCentroidEval(emb)
    val total = conf.agg(sum("n")).as[Long].head()
    assert(total == emb.count(), "every vector must be classified once")
    // Planted clusters: label L vectors = one-hot(L) + tiny per-vector
    // jitter on a different axis — nearest centroid must be exact.
    val planted = (0 until 30).map { i =>
      val l = i % 3
      val v = Array.fill(6)(0f)
      v(l) = 1f
      v(3 + l) = 0.01f * (i % 5)
      (i.toLong, v.toSeq, l)
    }.toDF("vec_id", "embedding", "label")
    val got = Similarity.nearestCentroidEval(planted)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 0L, 10L), (1L, 1L, 10L), (2L, 2L, 10L)),
      s"got $got")
  }

  test("labelMedoids (q422): closed-form moments argmin equals the " +
      "brute-force pairwise medoid") {
    import spark.implicits._
    val got = Similarity.labelMedoids(emb)
      .select("label", "medoid_vec_id", "total_sqdist")
      .as[(Long, Long, Long)].collect().map(r => r._1 -> (r._2, r._3)).toMap
    // brute force: driver-side pairwise over the (small) corpus
    val all = emb.select(col("vec_id"), col("label").cast("long"),
        col("embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getSeq[Float](2).map(x => math.floor(x.toDouble * 1000).toLong)))
    all.groupBy(_._2).foreach { case (label, vs) =>
      val brute = vs.map { case (id, _, q) =>
        val td = vs.map { case (_, _, y) =>
          q.zip(y).map { case (a, b) => (a - b) * (a - b) }.sum }.sum
        (td, id)
      }.min
      assert(got(label) == ((brute._2, brute._1)),
        s"label $label: got ${got(label)}, brute $brute")
    }
  }

  test("kCenterGreedy (q429): matches the driver-side farthest-first " +
      "replay exactly, radii are non-increasing, centers distinct") {
    import spark.implicits._
    val got = Similarity.kCenterGreedy(emb, k = 6)
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.map(_._1).sameElements(1L to 6L))
    assert(got.map(_._2).distinct.length == 6, s"duplicate centers: $got")
    // radius sequence non-increasing from round 2 on (greedy invariant)
    val radii = got.drop(1).map(_._3)
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"radii not monotone: ${radii.toSeq}")
    // exact driver replay
    val all = emb.select(col("vec_id"), col("embedding")).collect()
      .map(r => (r.getLong(0),
        r.getSeq[Float](1).map(x => math.floor(x.toDouble * 1000000).toLong)))
      .sortBy(_._1)
    def d2(a: Seq[Long], b: Seq[Long]): Long =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    var centers = List(all.head._1)
    var mind = all.map { case (id, q) => id -> d2(q, all.head._2) }.toMap
    val vecs = all.toMap
    val expect = scala.collection.mutable.ArrayBuffer((1L, all.head._1, 0L))
    for (r <- 2 to 6) {
      val (cid, rad) = mind.toSeq.map { case (id, dd) => (dd, -id) }.max match {
        case (dd, nid) => (-nid, dd)
      }
      expect += ((r.toLong, cid, rad))
      centers ::= cid
      mind = mind.map { case (id, dd) =>
        id -> math.min(dd, d2(vecs(id), vecs(cid))) }
    }
    assert(got.toSeq == expect.toSeq, s"got ${got.toSeq}, want $expect")
  }

  test("hardNegatives (q410): every mined negative has a different label, " +
      "ranks are 1..k, and it equals the window formulation") {
    import spark.implicits._
    val mined = Similarity.hardNegatives(emb, col("vec_id") < 8, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(mined.length == 8 * 5)
    val labels = emb.select(col("vec_id"), col("label").cast("long"))
      .as[(Long, Long)].collect().toMap
    mined.foreach { case (q, _, n) =>
      assert(labels(q) != labels(n), s"negative $n shares label with $q")
    }
    assert(mined.groupBy(_._1).values.forall(
      _.map(_._2).sorted.sameElements(1L to 5L)))
  }
}
