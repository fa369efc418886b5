package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.cosineSim

/** Vector similarity search over an Array[Float] embedding column.
  *
  * - Brute-force top-k: broadcast the (small) query set against the corpus,
  *   one codegen'd pass, per-query top-k via window rank. Linear in corpus
  *   size — the correct baseline and the verification oracle.
  * - IVF top-k: coarse-quantize the corpus into centroid cells (here the
  *   label-derived centroids; production would k-means a sample), probe the
  *   nprobe nearest cells per query. Cuts the scanned fraction to
  *   nprobe/ncells — the 100 TB path (cells = partition pruning).
  *
  * All arithmetic in double: float inputs upcast once, so results are
  * stable across engines (double noise ~1e-15 vs observed top-k margins
  * >= 1e-5).
  */
object Similarity {
  /** Dot product in double over two float-array columns. */
  def dotD(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def norm2(a: Column): Column =
    aggregate(transform(a, x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  def cosine(a: Column, b: Column): Column =
    dotD(a, b) / (sqrt(norm2(a)) * sqrt(norm2(b)))

  /** Brute-force cosine top-k. Queries: rows of `emb` with vec_id in the
    * given predicate; self-matches excluded. Output: query_id, rank,
    * neighbor_id (scores excluded — last-bit float noise is expected to
    * differ across engines; ranking is margin-stable). */
  def bruteTopK(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val q = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosineSim(col("embedding"), col("q_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Nearest-centroid (cosine) cell assignment as a shuffle-free
    * projection: the centroid set (k rows — always metadata-sized) is
    * aggregated into ONE row holding an array of (cell, centroid) structs,
    * broadcast onto the corpus with a nested-loop join, and the argmax is
    * computed per row as `array_max(transform(...))` over struct ordering
    * — (csim, -cell) so ties break to the smallest cell, exactly matching
    * the former `row_number over (csim desc, cell asc)` window. Unlike the
    * window form, NOTHING corpus-sized shuffles: the plan between the
    * corpus scan and the assignment is a pure projection (pinned in
    * PlanQualitySpec). At 100 TB with ncells=1024 the window form would
    * shuffle+sort corpus x ncells expanded rows; this shuffles zero.
    *
    * `cell` must be numeric (it is: a label int or a seed vec_id long) —
    * the tie-break negates it inside the ordering struct.
    *
    * @return (vec_id, embedding, cell)
    */
  def assignCells(base: DataFrame, cellsDf: DataFrame): DataFrame = {
    val centArr = cellsDf.agg(
      array_sort(collect_list(struct(col("cell"), col("centroid")))).as("__cents"))
    base.crossJoin(broadcast(centArr))
      .withColumn("__best",
        array_max(transform(col("__cents"), c =>
          struct(cosineSim(col("embedding"), c.getField("centroid")).as("csim"),
            (-c.getField("cell")).as("negcell")))))
      .select(col("vec_id"), col("embedding"),
        (-col("__best").getField("negcell")).as("cell"))
  }

  /** Element-wise mean vectors per cell key (centroids), via posexplode +
    * re-assemble — keeps everything in DataFrame ops (no collect). */
  def centroids(emb: DataFrame, keyCol: String): DataFrame =
    emb.select(col(keyCol).as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("cell"), transform(col("pm"), p => p.getField("m")).as("centroid"))

  /** Deterministic mini k-means over the embedding column (Lloyd's, cosine
    * assignment, `iters` rounds): init = the k lowest vec_ids, then
    * assign-and-average entirely in DataFrame ops — no collect of vectors,
    * so the corpus never touches the driver. Used to derive IVF cells when
    * no natural cell key exists; at 100 TB you run this on a sample and
    * broadcast the result, which is exactly what the loop does (centroids
    * are k rows). */
  def kmeansCells(emb: DataFrame, k: Int, iters: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val init = materialize(base.orderBy("vec_id").limit(k)
      .select(col("vec_id").as("cell"), col("embedding").cast("array<float>").as("centroid")))
    // Each round's k-row centroid frame is materialized: lineage is
    // truncated so the plan stays flat at any iteration count (without
    // this, each Lloyd's round stacks the full assign+average subtree
    // onto the next round's plan).
    Bsp(init, iters) { (cents, _) =>
      // Exchange-free nearest-centroid argmax (see assignCells): each
      // Lloyd's round is one projection pass over the corpus + the k-row
      // re-average — the corpus never shuffles during assignment.
      assignCells(base, cents).select(col("cell"),
          posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy("cell", "pos").agg(avg(col("x")).as("m"))
        .groupBy("cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell"),
          transform(col("pm"), p => p.getField("m")).cast("array<float>").as("centroid"))
    }.state.df
  }

  /** IVF top-k over k-means cells (no natural cell column needed). */
  def ivfTopKKmeans(emb: DataFrame, ncells: Int, iters: Int,
      queryPred: Column, k: Int, nprobe: Int): DataFrame =
    // kmeansCells returns an eagerly-materialized k-row frame, so both the
    // assignment and probing branches reuse it without recompute.
    ivfWithCells(emb, kmeansCells(emb, ncells, iters), queryPred, k, nprobe)

  /** IVF-style ANN: assign corpus vectors to nearest centroid cell, probe
    * the `nprobe` nearest cells per query, exact top-k inside the probed
    * cells. Recall traded for a ~ncells/nprobe scan reduction. */
  def ivfTopK(emb: DataFrame, cellSource: String, queryPred: Column,
      k: Int, nprobe: Int): DataFrame =
    ivfWithCells(emb,
      centroids(emb, cellSource)
        .select(col("cell"), col("centroid").cast("array<float>").as("centroid")),
      queryPred, k, nprobe)

  private def ivfWithCells(emb: DataFrame, cellsDf: DataFrame,
      queryPred: Column, k: Int, nprobe: Int): DataFrame = {
    val cents = broadcast(cellsDf)
    val base = emb.select(col("vec_id"), col("embedding"))
    // Assign every vector to its nearest centroid (cosine) — shuffle-free
    // projection argmax, NOT a window (see assignCells).
    val assigned = assignCells(base, cellsDf)
    // Each query probes its nprobe nearest cells.
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probed = q.join(cents)
      .withColumn("csim", cosineSim(col("q_emb"), col("centroid")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("q_emb"), col("cell"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    assigned.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosineSim(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Brute-force top-k via the bounded-heap TopKCosine aggregator
    * (§2.6 custom typed aggregate): same result as bruteTopK, but the
    * shuffle carries O(k) state per (partition, query) instead of every
    * scored candidate — the formulation that wins once candidates per
    * query outgrow memory. */
  def bruteTopKAgg(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val q = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = base.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"),
        col("vec_id").as("neighbor_id"),
        cosineSim(col("embedding"), col("q_emb")).as("sim"))
      .as[(Long, Long, Double)]
    val topk = new TopKCosine(k).toColumn
    scored.groupByKey(_._1)
      .mapValues { case (_, id, sim) => Scored(id, sim) }
      .agg(topk.name("topk"))
      .toDF("query_id", "topk")
      .select(col("query_id"), posexplode(col("topk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.neighbor_id").as("neighbor_id"))
  }

  /** Random-hyperplane LSH ANN: each vector gets `tables` short bit
    * signatures from fixed pseudo-random hyperplanes (seeded, shipped as
    * array literals — deterministic across runs and retries); query and
    * corpus vectors sharing any (table, signature) bucket become
    * candidates, reranked exactly. The angular-LSH alternative to IVF:
    * P(candidate) = 1 - (1 - p^bits)^tables with p = 1 - angle/pi, so
    * bits trades scan reduction for recall as the corpus grows. */
  /** Guard for the hyperplane paths: a wrong caller-supplied `dim` makes
    * cosineSim(v, plane) null for every vector (dimension mismatch), every
    * signature 0, and the bucket self-join silently corpus-square.
    * Two layers: a 1-row probe fails fast on a globally-wrong `dim`
    * before any plan is built, and a per-row inline check (the embedding
    * column is rewrapped, so it cannot be pruned away) raises on ANY
    * mismatched row during the signature scan — a mixed-dimension corpus
    * cannot silently collapse into one bucket. The inline check costs one
    * `size()` per row inside the existing scan, not an extra pass. */
  private def requireDim(emb: DataFrame, dim: Int): DataFrame = {
    emb.select(size(col("embedding")).as("d")).limit(1).collect()
      .foreach { r =>
        require(r.getInt(0) == dim,
          s"embedding dimension ${r.getInt(0)} != configured dim $dim")
      }
    emb.withColumn("embedding",
      when(size(col("embedding")) === dim, col("embedding"))
        .otherwise(raise_error(format_string(
          s"embedding dimension %d != configured dim $dim",
          size(col("embedding"))))))
  }

  /** The seeded pseudo-random hyperplane family shared by the LSH paths —
    * public so the DuckDB oracles can inline the exact same planes. */
  def hyperplanes(dim: Int, tables: Int, bitsPerTable: Int,
      seed: Long): IndexedSeq[IndexedSeq[Array[Float]]] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(tables)(IndexedSeq.fill(bitsPerTable)(
      Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat)))
  }

  def lshTopK(emb: DataFrame, dim: Int, queryPred: Column, k: Int,
      tables: Int = 16, bitsPerTable: Int = 4, seed: Long = 42L): DataFrame = {
    val embG = requireDim(emb, dim)
    val planes = hyperplanes(dim, tables, bitsPerTable, seed)
    // sign(dot) == sign(cosine) (norms are positive), so the fused
    // codegen'd cosine expression computes the hyperplane bit.
    def sigFor(v: Column, t: Int): Column =
      (0 until bitsPerTable).foldLeft(lit(0)) { (acc, b) =>
        acc * 2 + when(cosineSim(v, typedLit(planes(t)(b).toSeq)) > 0, 1).otherwise(0)
      }
    def bucketed(df: DataFrame, vCol: String): DataFrame =
      df.select(col("*"), explode(array((0 until tables).map(t =>
          struct(lit(t).as("table_id"), sigFor(col(vCol), t).as("sig"))): _*))
        .as("tb"))
        .select(df.columns.map(col) :+ col("tb.table_id") :+ col("tb.sig"): _*)
    val base = embG.select(col("vec_id"), col("embedding"))
    // Buckets carry ONLY ids — the embedding arrays never ride the
    // candidate-join shuffle; they are re-attached after pair dedup.
    val q = bucketed(base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb")), "q_emb")
      .select("query_id", "table_id", "sig")
    // Materialize the corpus bucket index (3 ints per (vec, table)): it is
    // the reusable LSH index at scale, and the broadcast candidate join
    // should probe it, not recompute every hyperplane signature.
    val corpus = materialize(
      bucketed(base, "embedding").select("vec_id", "table_id", "sig")).df
    val cand = corpus.join(broadcast(q), Seq("table_id", "sig"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .dropDuplicates("query_id", "vec_id")
    val qe = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    cand.join(base, Seq("vec_id"))
      .join(broadcast(qe), Seq("query_id"))
      .withColumn("sim", cosineSim(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** General embedding near-dup (no cell column needed): candidates are
    * pairs sharing any hyperplane-LSH bucket, verified with exact cosine —
    * precision 1 by construction, recall set by (tables, bitsPerTable).
    * The pair space is per-bucket, never corpus-square. */
  def nearDupPairsLsh(emb: DataFrame, dim: Int, tau: Double,
      tables: Int = 16, bitsPerTable: Int = 4, seed: Long = 42L): DataFrame = {
    val embG = requireDim(emb, dim)
    val planes = hyperplanes(dim, tables, bitsPerTable, seed)
    def sigFor(v: Column, t: Int): Column =
      (0 until bitsPerTable).foldLeft(lit(0)) { (acc, b) =>
        acc * 2 + when(cosineSim(v, typedLit(planes(t)(b).toSeq)) > 0, 1).otherwise(0)
      }
    // Buckets carry ONLY ids; candidate pairs dedup on (v1, v2) before
    // the embeddings are joined back for exact verification — the
    // candidate shuffle is two longs per row, not two 64-float arrays.
    // Materialized eagerly (3 ints per (vec, table) row) so the self-join
    // below reads the bucket index instead of re-evaluating tables x bits
    // hyperplane signatures on both sides.
    val bucketed = materialize(embG.select(col("vec_id"),
        explode(array((0 until tables).map(t =>
          struct(lit(t).as("table_id"), sigFor(col("embedding"), t).as("sig"))): _*))
          .as("tb"))
      .select(col("vec_id"),
        col("tb.table_id").as("table_id"), col("tb.sig").as("sig"))).df
    val cand = bucketed.as("a")
      .join(bucketed.as("b"),
        col("a.table_id") === col("b.table_id") && col("a.sig") === col("b.sig") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
      .dropDuplicates("v1", "v2")
    val e = emb.select(col("vec_id"), col("embedding"))
    cand
      .join(e.select(col("vec_id").as("v1"), col("embedding").as("e1")), Seq("v1"))
      .join(e.select(col("vec_id").as("v2"), col("embedding").as("e2")), Seq("v2"))
      .filter(cosineSim(col("e1"), col("e2")) >= tau)
      .select(col("v1"), col("v2"))
  }

  /** Embedding near-duplicate pairs: cosine >= tau, blocked by a cell key
    * (label here; LSH hyperplane buckets in the general case — see
    * nearDupPairsLsh) so the pair space is per-cell, not corpus-square. */
  def nearDupPairs(emb: DataFrame, cellCol: String, tau: Double): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"), col(cellCol).as("cell"))
    base.as("a")
      .join(base.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("sim", cosineSim(col("a.embedding"), col("b.embedding")))
      .filter(col("sim") >= tau)
      .select(col("a.vec_id").as("v1"), col("b.vec_id").as("v2"))
  }

  /** Product-quantization codebooks: the embedding splits into `m`
    * subspaces of `subDim` dims; each subspace learns `k` centroids with
    * the deterministic spherical [[kmeansCells]] (init = k lowest
    * vec_ids' subvectors, `iters` Lloyd's rounds, per-round FLOAT
    * rounding). Cells re-index densely to codes 0..k-1 in cell-id order
    * so ADC lookup arrays index as sub·k + code.
    *
    * @return (sub, code, centroid) — m·k rows, metadata-sized
    */
  def pqCodebooks(emb: DataFrame, m: Int, subDim: Int, k: Int,
      iters: Int): DataFrame = {
    require(m >= 1 && subDim >= 1 && k >= 2)
    // All m subspaces train JOINTLY on one exploded (sub, vec_id,
    // subvec) relation: one argmax projection + one (sub, cell, pos)
    // re-average per Lloyd's round — 2 eager jobs per iteration TOTAL
    // instead of 2 per subspace (the per-sub [[kmeansCells]] loop cost
    // m separate tiny driver jobs each round; their fixed overhead
    // dominated q195/q398). Semantics are unchanged: the same
    // k-lowest-vec_id init per sub, the same cosine argmax with a
    // (csim, -cell) tie-break WITHIN each sub (the leading sub-match
    // bool dominates the ordering struct), the same float-cast
    // centroid averaging — so the DuckDB codebook replay still holds.
    val subStructs = (0 until m).map { s =>
      struct(lit(s).as("sub"),
        slice(col("embedding"), s * subDim + 1, subDim).as("sv")) }
    def explodeSubs(df: DataFrame) =
      df.select(col("vec_id"), explode(array(subStructs: _*)).as("e"))
        .select(col("e.sub").as("sub"), col("vec_id"), col("e.sv").as("sv"))
    val subs = explodeSubs(emb)
    val init = materialize(explodeSubs(emb.orderBy("vec_id").limit(k))
      .select(col("sub"), col("vec_id").as("cell"),
        col("sv").cast("array<float>").as("centroid")))
    val cents = Bsp(init, iters) { (cents, _) =>
      val carr = cents.agg(array_sort(collect_list(
        struct(col("sub"), col("cell"), col("centroid")))).as("__c"))
      val assigned = subs.crossJoin(broadcast(carr))
        .withColumn("__best", array_max(transform(col("__c"), c =>
          struct((c.getField("sub") === col("sub")).as("ok"),
            cosineSim(col("sv"), c.getField("centroid")).as("csim"),
            (-c.getField("cell")).as("negcell")))))
        .select(col("sub"), col("sv"),
          (-col("__best").getField("negcell")).as("cell"))
      assigned.select(col("sub"), col("cell"),
          posexplode(col("sv")).as(Seq("pos", "x")))
        .groupBy("sub", "cell", "pos").agg(avg(col("x")).as("m"))
        .groupBy("sub", "cell")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("sub"), col("cell"),
          transform(col("pm"), p => p.getField("m"))
            .cast("array<float>").as("centroid"))
    }.state.df
    val w = Window.partitionBy("sub").orderBy("cell")
    cents.withColumn("code", row_number().over(w) - 1)
      .select(col("sub"), col("code"), col("centroid"))
  }

  /** IVF-PQ ANN — the standard memory shape for 100 TB-scale candidate
    * generation: coarse IVF cells prune the corpus to `nprobe` cells per
    * query; inside them, candidates are scored by ASYMMETRIC DISTANCE
    * COMPUTATION against `m`-byte PQ codes (a per-query lookup array of
    * query-subvector · codebook-centroid dot products, summed in a FIXED
    * fold order — no embedding is touched during scoring); the top
    * `candK` approximate candidates then rerank with exact cosine.
    *
    * Scale shape: codes are assigned in ONE exchange-free projection
    * over the corpus scan (m argmaxes against the broadcast codebook —
    * the assignCells discipline); ADC scoring joins the ids+codes
    * relation against broadcast (probed-cell × lookup-array) rows, so
    * the only corpus-sized shuffle in the candidate stage carries
    * (vec_id, m codes) — never float arrays; embeddings are re-attached
    * for the candK-bounded exact rerank only. PQ here encodes raw
    * vectors (FAISS by_residual=false form); residual encoding drops in
    * by subtracting the cell centroid before [[pqCodebooks]].
    */
  def ivfPqTopK(emb: DataFrame, cellSource: String, queryPred: Column,
      m: Int, subDim: Int, kCodes: Int, iters: Int,
      nprobe: Int, candK: Int, k: Int): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val cells = centroids(emb, cellSource)
      .select(col("cell"), col("centroid").cast("array<float>").as("centroid"))
    val assigned = assignCells(base, cells)
    val cb = pqCodebooks(emb, m, subDim, kCodes, iters)
    val cbArr = codebookArray(cb, m, kCodes)
    val coded = pqAssignCodes(assigned, cbArr, m, subDim, kCodes)
    val q = assigned.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("csim").desc, col("cell"))
    val probedCells = q.join(broadcast(cells))
      .withColumn("csim", cosineSim(col("q_emb"), col("centroid")))
      .withColumn("crn", row_number().over(wProbe))
      .filter(col("crn") <= nprobe)
      .select(col("query_id"), col("cell"))
    // ADC lookup array per query: dot(q_sub, centroid), (sub, code) order
    val lut = q.crossJoin(broadcast(cbArr))
      .select(col("query_id"),
        transform(col("__cb"), c =>
          dotD(slice(col("q_emb"), c.getField("sub") * subDim + 1,
            lit(subDim)), c.getField("centroid"))).as("lut"))
    val probed = probedCells.join(lut, "query_id")
    val adc = (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
      acc + element_at(col("lut"),
        lit(s * kCodes) + element_at(col("codes"), s + 1) + 1)
    }
    val wCand = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("vec_id"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val cand = coded.join(broadcast(probed), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("approx", adc)
      .withColumn("crank", row_number().over(wCand))
      .filter(col("crank") <= candK)
      .select(col("query_id"), col("vec_id"))
    cand.join(base, Seq("vec_id"))
      .join(broadcast(q), Seq("query_id"))
      .withColumn("sim", cosineSim(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Codebook rows collapsed to ONE broadcast-ready array row ordered
    * by (sub, code) → position sub·k+code+1; an empty training cell
    * would break that indexing, so fail loudly. */
  private def codebookArray(cb: DataFrame, m: Int, kCodes: Int): DataFrame =
    cb.agg(array_sort(collect_list(
        struct(col("sub"), col("code"), col("centroid")))).as("__cb"))
      .select(when(size(col("__cb")) === m * kCodes, col("__cb"))
        .otherwise(raise_error(lit(
          "PQ codebook lost a cell — lower kCodes or raise iters")))
        .as("__cb"))

  /** m nearest-code argmaxes in ONE exchange-free projection over the
    * corpus scan (the assignCells discipline) →
    * (vec_id, cell, codes: array<int>). */
  private def pqAssignCodes(assigned: DataFrame, cbArr: DataFrame, m: Int,
      subDim: Int, kCodes: Int): DataFrame =
    assigned.crossJoin(broadcast(cbArr))
      .select(col("vec_id"), col("cell"),
        array((0 until m).map { s =>
          val sl = slice(col("embedding"), s * subDim + 1, subDim)
          (-array_max(transform(
            slice(col("__cb"), s * kCodes + 1, kCodes),
            c => struct(cosineSim(sl, c.getField("centroid")).as("csim"),
              (-c.getField("code")).as("negcode"))))
            .getField("negcode")).cast("int")
        }: _*).as("codes"))

  /** Generated DuckDB replay of the ENTIRE [[ivfPqTopK]] pipeline —
    * coarse label-mean cells, per-subspace Lloyd's rounds (unrolled, with
    * the same per-round FLOAT rounding), dense re-indexing, code
    * assignment, ADC lookup joins with the same left-associative add
    * chain, candidate cut, and exact rerank. Generated from the same
    * parameters as the Spark side so the two cannot drift (the
    * Bpe.duckTrainSql discipline). */
  /** Shared DuckDB CTE text for the PQ machinery — per-subspace Lloyd's
    * training (unrolled, same per-round FLOAT rounding as
    * [[pqCodebooks]]), dense re-indexing, and per-vector code
    * assignment. Expects a CTE `base(vec_id, e)` upstream; emits
    * sub_s/cents_s_r/cb_s/code_s per subspace plus
    * `cball(sub, code, c)`. Generated from the same parameters as the
    * Spark side so the two cannot drift. */
  private def pqDuckCodebookCtes(m: Int, subDim: Int, kCodes: Int,
      iters: Int): String = {
    def sl(s: Int, v: String) = s"$v[${s * subDim + 1}:${(s + 1) * subDim}]"
    val subCtes = (0 until m).map { s =>
      val rounds = (1 to iters).map { r =>
        s"""a_${s}_$r AS (SELECT vec_id, se, cell FROM (
          SELECT b.vec_id, b.se, c.cell,
            row_number() OVER (PARTITION BY b.vec_id
              ORDER BY list_cosine_similarity(b.se, c.c) DESC, c.cell) AS rn
          FROM sub_$s b, cents_${s}_${r - 1} c) WHERE rn = 1),
        cents_${s}_$r AS (
          SELECT cell, CAST(CAST(list(mm ORDER BY pos) AS FLOAT[]) AS DOUBLE[]) AS c
          FROM (SELECT cell, pos, avg(x) AS mm FROM (
              SELECT cell, unnest(se) AS x, generate_subscripts(se, 1) AS pos
              FROM a_${s}_$r)
            GROUP BY cell, pos) GROUP BY cell)"""
      }.mkString(",\n")
      s"""sub_$s AS (SELECT vec_id, ${sl(s, "e")} AS se FROM base),
      cents_${s}_0 AS (SELECT vec_id AS cell, se AS c FROM sub_$s
        WHERE vec_id IN (SELECT vec_id FROM base ORDER BY vec_id LIMIT $kCodes)),
      $rounds,
      cb_$s AS (SELECT row_number() OVER (ORDER BY cell) - 1 AS code, c
                FROM cents_${s}_$iters),
      code_$s AS (SELECT vec_id, code FROM (
        SELECT b.vec_id, cb.code, row_number() OVER (PARTITION BY b.vec_id
          ORDER BY list_cosine_similarity(b.se, cb.c) DESC, cb.code) AS rn
        FROM sub_$s b, cb_$s cb) WHERE rn = 1)"""
    }.mkString(",\n")
    val cball = (0 until m)
      .map(s => s"SELECT $s AS sub, code, c FROM cb_$s")
      .mkString(" UNION ALL ")
    s"$subCtes,\n    cball AS ($cball)"
  }

  def ivfPqDuckSql(cellSource: String, queryPredSql: String, m: Int,
      subDim: Int, kCodes: Int, iters: Int, nprobe: Int, candK: Int,
      k: Int): String = {
    val codeJoins = (0 until m).map { s =>
      s"""JOIN code_$s k$s ON k$s.vec_id = a.vec_id
         JOIN lut l$s ON l$s.query_id = p.query_id AND l$s.sub = $s
           AND l$s.code = k$s.code"""
    }.mkString("\n")
    val adcChain = (0 until m).map(s => s"l$s.d").reduceLeft((a, b) => s"($a + $b)")
    s"""
    WITH base AS (SELECT vec_id, $cellSource AS lbl, embedding::DOUBLE[] AS e
                  FROM embeddings),
    cent AS (
      SELECT lbl AS cell, CAST(CAST(list(mm ORDER BY pos) AS FLOAT[]) AS DOUBLE[]) AS c
      FROM (SELECT lbl, pos, avg(x) AS mm
        FROM (SELECT lbl, unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM base)
        GROUP BY lbl, pos) GROUP BY lbl),
    assigned AS (
      SELECT vec_id, e, cell FROM (
        SELECT b.vec_id, b.e, c.cell,
          row_number() OVER (PARTITION BY b.vec_id
            ORDER BY list_cosine_similarity(b.e, c.c) DESC, c.cell) AS rn
        FROM base b, cent c) WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, e AS qe FROM base WHERE $queryPredSql),
    probed AS (SELECT query_id, cell FROM (
      SELECT q.query_id, c.cell, row_number() OVER (PARTITION BY q.query_id
        ORDER BY list_cosine_similarity(q.qe, c.c) DESC, c.cell) AS rn
      FROM q, cent c) WHERE rn <= $nprobe),
    ${pqDuckCodebookCtes(m, subDim, kCodes, iters)},
    lut AS (SELECT q.query_id, cb.sub, cb.code,
        list_inner_product(q.qe[cb.sub * $subDim + 1 : (cb.sub + 1) * $subDim],
          cb.c) AS d
      FROM q, cball cb),
    scored AS (SELECT p.query_id, a.vec_id, $adcChain AS approx
      FROM assigned a
      JOIN probed p ON a.cell = p.cell AND a.vec_id <> p.query_id
      $codeJoins),
    candk AS (SELECT query_id, vec_id FROM (
      SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
        ORDER BY approx DESC, vec_id) AS crn FROM scored) WHERE crn <= $candK),
    r AS (SELECT c.query_id, c.vec_id, row_number() OVER (PARTITION BY c.query_id
        ORDER BY list_cosine_similarity(b.e, q.qe) DESC, c.vec_id) AS rank
      FROM candk c JOIN base b ON b.vec_id = c.vec_id
      JOIN q ON q.query_id = c.query_id)
    SELECT query_id, CAST(rank AS BIGINT) AS rank, vec_id AS neighbor_id
    FROM r WHERE rank <= $k ORDER BY query_id, rank"""
  }

  /** SEMANTIC DEDUP AT CORPUS SCALE — the composed flagship: the way a
    * 100 TB embedding-dedup run actually ships, as ONE pipeline.
    *
    *   1. Coarse IVF cells ([[centroids]] + exchange-free
    *      [[assignCells]]) block the pair space per cell — never
    *      corpus².
    *   2. PQ codes ([[pqCodebooks]] + exchange-free [[pqAssignCodes]])
    *      compress each vector to `m` small ints; the ONLY corpus-sized
    *      relation that shuffles into the pair join carries
    *      (vec_id, cell, m codes, recon-norm²) — float arrays never
    *      cross an exchange in the candidate stage.
    *   3. Candidate pairs are scored by SYMMETRIC DISTANCE COMPUTATION:
    *      a broadcast m·k² table of centroid-pair dot products
    *      (plus the m·k centroid-norm² table folded into a per-vector
    *      reconstructed norm² at code-assignment time), so the
    *      approximate cosine is m array lookups + adds per pair.
    *      Pairs with approx >= `tauApprox` (the loose recall gate)
    *      survive.
    *   4. The candK-free EXACT rerank re-attaches embeddings for the
    *      surviving candidates only and confirms cosine >= `tau`.
    *   5. Confirmed pairs → alternating-star connected components
    *      ([[Components.connectedComponentsStars]]) → keep-BEST keeper
    *      per cluster (argmax by reconstructable exact norm², vec_id
    *      tiebreak — production keeps the highest-information copy,
    *      not an arbitrary one; singletons keep themselves).
    *
    * Returns (cluster_id, keeper_id, n_members) per cluster —
    * ids/counts only, no floats, so the relation replays bit-exact from
    * [[semanticDedupPqDuckSql]] (codebook training, SDC chain order,
    * recursive closure and keeper window all regenerated from the same
    * parameters).
    */
  def semanticDedupPq(emb: DataFrame, cellSource: String, m: Int,
      subDim: Int, kCodes: Int, iters: Int, tauApprox: Double,
      tau: Double): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val cand = sdcCandidates(emb, cellSource, m, subDim, kCodes, iters,
      tauApprox)
    // Materialized: consumed three times below (both endpoint projections
    // and the CC edge input) — without this the exact-confirm join
    // re-attaches the float embeddings and re-scores every candidate
    // pair once per consumer.
    val confirmed = materialize(cand
      .join(base.select(col("vec_id").as("v1"),
        col("embedding").as("e1")), Seq("v1"))
      .join(base.select(col("vec_id").as("v2"),
        col("embedding").as("e2")), Seq("v2"))
      .filter(cosineSim(col("e1"), col("e2")) >= tau)
      .select(col("v1"), col("v2"))).df
    val endpoints = confirmed.select(col("v1").as("id"))
      .union(confirmed.select(col("v2").as("id"))).distinct()
    val cc = Components.connectedComponentsStars(endpoints,
      confirmed.select(col("v1").as("src"), col("v2").as("dst")))
    // r14 OPT (guide §2.4 remove shuffles, §3.1 broadcast the small
    // side): the keeper/size tail previously computed `clustered` TWICE
    // (once under the keep-best window, once under the sizes aggregate
    // — two parquet scans of the corpus, two endpoint-distinct
    // aggregates, two base⋈cc SortMergeJoins) and then SMJ-joined the
    // two corpus-keyed results back together. One groupBy computing the
    // keeper via max_by (argmax over (n2, −vec_id) ≡ the old
    // row_number() over (n2 DESC, vec_id ASC) = 1 — vec_id is unique,
    // so the tie order is total and the argmax identical) and
    // n_members via count in the SAME aggregate consumes it once: the
    // whole tail is a single partial-agg exchange. The cc side is one
    // row per endpoint, materialized so its exact statistics let the
    // planner broadcast the label attach: the corpus never shuffles by
    // vec_id at all, and at corpus scale the planner keeps the shuffle.
    val labels = materialize(
      cc.select(col("id").as("vec_id"), col("component"))).df
    val clustered = base
      .select(col("vec_id"), dotD(col("embedding"), col("embedding")).as("n2"))
      .join(labels, Seq("vec_id"), "left")
      .withColumn("cluster_id", coalesce(col("component"), col("vec_id")))
    Bsp.releaseUnread(clustered.groupBy("cluster_id")
      .agg(max_by(col("vec_id"), struct(col("n2"), (-col("vec_id"))
          .as("__nv"))).as("keeper_id"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_id"), col("keeper_id"), col("n_members")),
      cand, cc)
  }

  /** The candidate stage of [[semanticDedupPq]], exposed for plan-shape
    * pinning: everything through the tauApprox SDC gate. The ONLY
    * corpus-sized relation that crosses an exchange here carries
    * (vec_id, cell, m int codes, recon-norm²) — embeddings reach the
    * pair space only as broadcast codebook/lookup metadata
    * (PlanQualitySpec pins that no shuffle output includes the
    * embedding column). */
  private[llm] def sdcCandidates(emb: DataFrame, cellSource: String,
      m: Int, subDim: Int, kCodes: Int, iters: Int,
      tauApprox: Double): DataFrame = {
    val base = emb.select(col("vec_id"), col("embedding"))
    val cells = centroids(emb, cellSource)
      .select(col("cell"), col("centroid").cast("array<float>").as("centroid"))
    val assigned = assignCells(base, cells)
    val cb = pqCodebooks(emb, m, subDim, kCodes, iters)
    val cbArr = codebookArray(cb, m, kCodes)
    val coded = pqAssignCodes(assigned, cbArr, m, subDim, kCodes)
    // SDC lookup: centroid-pair dots ordered by (sub, ca, cb) →
    // position sub·k² + ca·k + cb + 1 — m·k² doubles, one broadcast row
    val sdcArr = cb.as("a")
      .join(cb.as("b"), col("a.sub") === col("b.sub"))
      .select(col("a.sub").as("sub"), col("a.code").as("ca"),
        col("b.code").as("cb0"),
        dotD(col("a.centroid"), col("b.centroid")).as("dd"))
      .agg(array_sort(collect_list(struct(col("sub"), col("ca"),
        col("cb0"), col("dd")))).as("__sdc"))
      .select(transform(col("__sdc"), x => x.getField("dd")).as("sdc"))
    // centroid norm² by (sub, code) → position sub·k + code + 1
    val nrmArr = cb
      .select(col("sub"), col("code"),
        dotD(col("centroid"), col("centroid")).as("n2"))
      .agg(array_sort(collect_list(struct(col("sub"), col("code"),
        col("n2")))).as("__nrm"))
      .select(transform(col("__nrm"), x => x.getField("n2")).as("nrm"))
    // fold the per-vector reconstructed norm² in at code-assignment
    // time: the pair join then never needs the norm table per side
    // Materialized ONCE (exact stats): both sides of the pair
    // self-join read the same (vec_id, cell, codes, rn2) blocks —
    // without this the entire training+assignment lineage (centroid
    // aggregation, k-means codebooks, code argmax) executes twice,
    // once per join side. This is also the relation a 100 TB run
    // persists as its PQ index.
    val codedN = materialize(
      coded.crossJoin(broadcast(nrmArr))
        .select(col("vec_id"), col("cell"), col("codes"),
          (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
            acc + element_at(col("nrm"),
              lit(s * kCodes) + element_at(col("codes"), s + 1) + 1)
          }.as("rn2"))).df
    val approxDot = (0 until m).foldLeft(lit(0.0)) { (acc, s) =>
      acc + element_at(col("sdc"),
        lit(s * kCodes * kCodes) +
          element_at(col("a_codes"), s + 1) * kCodes +
          element_at(col("b_codes"), s + 1) + 1)
    }
    codedN.select(col("vec_id").as("v1"), col("cell"),
        col("codes").as("a_codes"), col("rn2").as("a_rn2"))
      .join(codedN.select(col("vec_id").as("v2"), col("cell"),
        col("codes").as("b_codes"), col("rn2").as("b_rn2")), Seq("cell"))
      .filter(col("v1") < col("v2"))
      .crossJoin(broadcast(sdcArr))
      .filter(approxDot / (sqrt(col("a_rn2")) * sqrt(col("b_rn2")))
        >= tauApprox)
      .select(col("v1"), col("v2"))
  }

  /** Generated DuckDB replay of the ENTIRE [[semanticDedupPq]] pipeline:
    * shared codebook training CTEs, the SDC add chain in the same
    * left-associative fold order, per-vector reconstructed norm², the
    * approximate gate, exact-cosine confirm, recursive closure, and the
    * keep-best window — all from the same parameters as the Spark side
    * so the two cannot drift. */
  def semanticDedupPqDuckSql(cellSource: String, m: Int, subDim: Int,
      kCodes: Int, iters: Int, tauApprox: Double, tau: Double): String = {
    val codeJoinsA = (1 until m).map { s =>
      s"JOIN code_$s ka$s ON ka$s.vec_id = ka0.vec_id"
    }.mkString("\n        ")
    val nrmJoins = (0 until m).map { s =>
      s"JOIN nrm n$s ON n$s.sub = $s AND n$s.code = ka$s.code"
    }.mkString("\n        ")
    val rn2Chain = (0 until m).foldLeft("0.0") { (acc, s) =>
      s"($acc + n$s.n2)"
    }
    val sdcJoins = (0 until m).map { s =>
      s"""JOIN code_$s pa$s ON pa$s.vec_id = a.vec_id
        JOIN code_$s pb$s ON pb$s.vec_id = b.vec_id
        JOIN sdc s$s ON s$s.sub = $s AND s$s.ca = pa$s.code
          AND s$s.cb = pb$s.code"""
    }.mkString("\n        ")
    val dotChain = (0 until m).foldLeft("0.0") { (acc, s) =>
      s"($acc + s$s.dd)"
    }
    s"""
    WITH RECURSIVE
    base AS (SELECT vec_id, $cellSource AS lbl, embedding::DOUBLE[] AS e
             FROM embeddings),
    cent AS (
      SELECT lbl AS cell, CAST(CAST(list(mm ORDER BY pos) AS FLOAT[]) AS DOUBLE[]) AS c
      FROM (SELECT lbl, pos, avg(x) AS mm
        FROM (SELECT lbl, unnest(e) AS x, generate_subscripts(e, 1) AS pos FROM base)
        GROUP BY lbl, pos) GROUP BY lbl),
    assigned AS (
      SELECT vec_id, e, cell FROM (
        SELECT b.vec_id, b.e, c.cell,
          row_number() OVER (PARTITION BY b.vec_id
            ORDER BY list_cosine_similarity(b.e, c.c) DESC, c.cell) AS rn
        FROM base b, cent c) WHERE rn = 1),
    ${pqDuckCodebookCtes(m, subDim, kCodes, iters)},
    sdc AS (SELECT a.sub, a.code AS ca, b.code AS cb,
        list_inner_product(a.c, b.c) AS dd
      FROM cball a JOIN cball b ON a.sub = b.sub),
    nrm AS (SELECT sub, code, list_inner_product(c, c) AS n2 FROM cball),
    vn AS (SELECT ka0.vec_id, $rn2Chain AS rn2
      FROM code_0 ka0
        $codeJoinsA
        $nrmJoins),
    cand AS (SELECT a.vec_id AS v1, b.vec_id AS v2
      FROM assigned a JOIN assigned b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
        JOIN vn va ON va.vec_id = a.vec_id
        JOIN vn vb ON vb.vec_id = b.vec_id
        $sdcJoins
      WHERE $dotChain / (sqrt(va.rn2) * sqrt(vb.rn2)) >= $tauApprox),
    conf AS (SELECT c.v1, c.v2
      FROM cand c JOIN base e1 ON e1.vec_id = c.v1
      JOIN base e2 ON e2.vec_id = c.v2
      WHERE list_cosine_similarity(e1.e, e2.e) >= $tau),
    edges AS (SELECT v1 AS u, v2 AS v FROM conf
              UNION SELECT v2, v1 FROM conf),
    reach AS (SELECT u, v FROM edges
              UNION
              SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
              WHERE e.v <> r.u),
    comp AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS component
             FROM reach GROUP BY u),
    cl AS (SELECT bb.vec_id, list_inner_product(bb.e, bb.e) AS n2,
        COALESCE(c.component, bb.vec_id) AS cluster_id
      FROM base bb LEFT JOIN comp c USING (vec_id)),
    sz AS (SELECT cluster_id, COUNT(*) AS n_members FROM cl GROUP BY 1),
    rk AS (SELECT cluster_id, vec_id,
        ROW_NUMBER() OVER (PARTITION BY cluster_id
          ORDER BY n2 DESC, vec_id) AS rn FROM cl)
    SELECT r.cluster_id, r.vec_id AS keeper_id, s.n_members
    FROM rk r JOIN sz s USING (cluster_id)
    WHERE r.rn = 1 ORDER BY cluster_id"""
  }

  /** Per-dimension min-max int8 (0..255) scalar quantization — the 4×
    * storage/bandwidth cut an embedding store takes before ANN serving.
    * q_i = floor((x_i − min_i) · 255 / (max_i − min_i)), clamped to 255
    * (a constant dimension quantizes to 0). All arithmetic is IEEE double
    * in a fixed expression order, so codes are bit-identical across
    * engines and partitionings.
    *
    * Scale shape: the per-dimension bounds aggregate is ONE pass with
    * map-side combine — posexplode to (dim, value), partial min/max per
    * partition reduce the shuffle to dims·nPartitions rows — and the
    * bounds (dims rows) broadcast back into a map-only transform over the
    * vectors. Nothing corpus-sized shuffles.
    *
    * @return (idCol, qvec array<int>) — one code per input dimension
    */
  def quantizeInt8(emb: DataFrame, idCol: String, embCol: String): DataFrame = {
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__e"))
    val dims = e.select(posexplode(col("__e")).as(Seq("i", "v")))
      .groupBy("i").agg(min("v").as("mn"), max("v").as("mx"))
    // dims rows -> two position-ordered arrays (array_sort on (i, bound)
    // structs — collect_list order is not otherwise guaranteed).
    val bounds = dims.agg(
      transform(array_sort(collect_list(struct(col("i"), col("mn")))),
        s => s("mn")).as("__mns"),
      transform(array_sort(collect_list(struct(col("i"), col("mx")))),
        s => s("mx")).as("__mxs"))
    e.crossJoin(broadcast(bounds))
      .select(col(idCol),
        transform(col("__e"), (x, i) => {
          val mn = element_at(col("__mns"), i + 1)
          val mx = element_at(col("__mxs"), i + 1)
          when(mx === mn, lit(0.0))
            .otherwise(least(lit(255.0), floor((x - mn) * lit(255.0) / (mx - mn))))
            .cast("int")
        }).as("qvec"))
  }

  /** Symmetric signed-int8 quantization — the SQ8 variant that serves
    * COSINE search: per-dimension scale a_i = max|x_i| maps each value
    * to round(x·127/a) ∈ [-127, 127] with NO offset, so codes are a
    * positive diagonal rescaling of the original vectors and angles
    * survive quantization (the min/max-affine [[quantizeInt8]] adds a
    * per-dim shift — right for range compression, fatal for angular
    * ranking: the shared offset vector dominates every cosine).
    * Same shuffle shape as quantizeInt8: the corpus crosses no exchange,
    * only dims·nPartitions (min, max) rows do, and the dims-row bound
    * table broadcasts back into a map-only transform.
    *
    * @return (idCol, qvec array<int> in [-127, 127])
    */
  def quantizeInt8Signed(emb: DataFrame, idCol: String,
      embCol: String): DataFrame = {
    val e = emb.select(col(idCol), col(embCol).cast("array<double>").as("__e"))
    val dims = e.select(posexplode(col("__e")).as(Seq("i", "v")))
      .groupBy("i").agg(greatest(abs(min("v")), abs(max("v"))).as("a"))
    val bounds = dims.agg(
      transform(array_sort(collect_list(struct(col("i"), col("a")))),
        s => s("a")).as("__as"))
    e.crossJoin(broadcast(bounds))
      .select(col(idCol),
        transform(col("__e"), (x, i) => {
          val a = element_at(col("__as"), i + 1)
          when(a === 0.0, lit(0L)).otherwise(
            greatest(lit(-127L), least(lit(127L),
              floor(x * lit(127.0) / a + lit(0.5)))))
            .cast("int")
        }).as("qvec"))
  }

  /** SQ8 scalar-quantized ANN — the FAISS-ScalarQuantizer compression
    * path beside IVF-PQ (q195): symmetric signed int8 codes
    * ([[quantizeInt8Signed]]), candidate generation by the
    * norm-corrected INTEGER dot idot/√(ñ²x·ñ²q) — the quantized-domain
    * cosine — exact-cosine rerank on the candK survivors only.
    *
    * Why integer arithmetic: idot and the code norms ñ² are exact
    * int64 (≤ dims·127² per pair), and the closing score divides exact
    * integers through one textually-identical double expression, so
    * the candidate SET is bit-identical in any engine — the oracle
    * replays it with no float-margin caveat; the only margin-dependent
    * stage is the final rerank, which shares q38's stability argument.
    * 100 TB posture: codes are 64 bytes/vec (16× under float32), the
    * query side broadcasts, the corpus-sized scoring pass funnels
    * through the bounded-heap [[TopKCosine]] aggregator (O(candK)
    * state per partition crosses the exchange, never the scored
    * candidates), and the rerank touches candK·nq full vectors.
    */
  def sq8TopK(emb: DataFrame, queryPred: Column, k: Int,
      candK: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val codes = quantizeInt8Signed(base, "vec_id", "embedding")
      .withColumn("n2",
        aggregate(transform(col("qvec"), v => v.cast("long") * v.cast("long")),
          lit(0L), (acc, v) => acc + v))
    val q = codes.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qvec").as("q_qvec"),
        col("n2").as("q_n2"))
    val scored = codes.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        when(col("n2") * col("q_n2") === 0, lit(-2.0)).otherwise(
          aggregate(zip_with(col("qvec"), col("q_qvec"),
              (x, y) => x.cast("long") * y.cast("long")),
            lit(0L), (acc, v) => acc + v).cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("q_n2").cast("double"))))
          .as("sim"))
      .as[(Long, Long, Double)]
    val cand = scored.groupByKey(_._1)
      .mapValues { case (_, id, s) => Scored(id, s) }
      .agg(new TopKCosine(candK).toColumn.name("cand"))
      .toDF("query_id", "cand")
      .select(col("query_id"), explode(col("cand")).as("c"))
      .select(col("query_id"), col("c").getField("neighbor_id").as("vec_id"))
    val qe = base.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    base.join(broadcast(cand), Seq("vec_id"))
      .join(broadcast(qe), Seq("query_id"))
      .withColumn("sim", cosineSim(col("embedding"), col("q_emb")))
      .withColumn("rank", row_number().over(wRank).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"))
  }

  /** Nearest-class-mean (Rocchio) classifier evaluation — the embedding-
    * space sanity check a labeled corpus gets before anything fancier:
    * per-label centroid sums over INTEGERIZED coordinates
    * (floor(x·1000) — float→double is exact and the scaling replays
    * identically in any engine), every vector scored against every
    * centroid by the cosine-proportional d/√m (d = x·s exact int64,
    * m = s·s exact int64; the close is one textually-identical
    * IEEE division+sqrt — q387's discipline — and the emitted relation
    * is the argmax CONFUSION MATRIX, never the score). Tie-break on the
    * smaller label makes the argmax total.
    *
    * 100 TB posture: centroids are a label-cardinality aggregate
    * broadcast back; scoring is map-side (zip_with over the broadcast
    * array); the only corpus shuffles are the centroid partial-sum and
    * the label-pair count. The per-vector argmax window partitions by
    * vec_id (label-count rows per partition). At ~1e9 vectors/label the
    * int64 centroid moments would widen to DECIMAL(38,0).
    */
  def nearestCentroidEval(emb: DataFrame, scale: Long = 1000L): DataFrame = {
    val q = emb.select(col("vec_id"), col("label").cast("long").as("label"),
      transform(col("embedding"),
        x => floor(x.cast("double") * scale).cast("long")).as("q"))
    val cents = q
      .select(col("label"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(sum("x").as("s"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("i"), col("s")))),
          p => p("s")).as("c"))
      .withColumn("m",
        aggregate(col("c"), lit(0L), (a, v) => a + v * v))
      .select(col("label").as("clabel"), col("c"), col("m"))
    // label-cardinality metadata side (one row per class) — the one
    // sanctioned crossJoin shape
    val scored = q.crossJoin(broadcast(cents))
      .withColumn("d", aggregate(zip_with(col("q"), col("c"),
        (a, b) => a * b), lit(0L), (a, v) => a + v))
      .withColumn("score", when(col("m") === 0, lit(-2.0))
        .otherwise(col("d").cast("double") / sqrt(col("m").cast("double"))))
    val w = Window.partitionBy("vec_id")
      .orderBy(col("score").desc, col("clabel"))
    scored.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .groupBy(col("label"), col("clabel").as("pred_label"))
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred_label")
  }

  /** Hard-negative mining for contrastive training: for each query
    * vector, the top-k nearest OTHER-label vectors — the negatives that
    * are hard precisely because the compressed metric ranks them close.
    * Ranking runs in the SQ8 quantized domain ([[quantizeInt8Signed]]
    * codes, exact integer dot, norm-corrected one-expression double
    * close — bit-identical across engines, q404's discipline) and
    * deliberately does NOT rerank exactly: production mining scores
    * negatives with the same compressed metric the trainer's retrieval
    * index uses. Corpus-sized candidates funnel through the bounded-heap
    * [[TopKCosine]] aggregator (O(k) state per partition crosses the
    * exchange); the query side broadcasts.
    */
  def hardNegatives(emb: DataFrame, queryPred: Column, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val codes = quantizeInt8Signed(
        emb.select(col("vec_id"), col("embedding")), "vec_id", "embedding")
      .join(emb.select(col("vec_id"), col("label")), "vec_id")
      .withColumn("n2",
        aggregate(transform(col("qvec"), v => v.cast("long") * v.cast("long")),
          lit(0L), (acc, v) => acc + v))
    val q = codes.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"),
        col("qvec").as("q_qvec"), col("n2").as("q_n2"))
    codes.join(broadcast(q), col("label") =!= col("q_label"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        when(col("n2") * col("q_n2") === 0, lit(-2.0)).otherwise(
          aggregate(zip_with(col("qvec"), col("q_qvec"),
              (x, y) => x.cast("long") * y.cast("long")),
            lit(0L), (acc, v) => acc + v).cast("double") /
          (sqrt(col("n2").cast("double")) * sqrt(col("q_n2").cast("double"))))
          .as("sim"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues { case (_, id, s) => Scored(id, s) }
      .agg(new TopKCosine(k).toColumn.name("top"))
      .toDF("query_id", "top")
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "t")))
      .select(col("query_id"), (col("r") + 1).cast("long").as("rank"),
        col("t").getField("neighbor_id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** Per-label medoid selection — the prototype/coreset pick ("which
    * single example best represents this class"): the vector minimizing
    * the total squared L2 distance to its label-mates, WITHOUT a
    * quadratic pair stage. Over integerized coordinates
    * (floor(x·1000), exact in both engines) the total distance has the
    * closed form Σ_y‖x−y‖² = n·‖x‖² − 2·x·S + T from the per-label
    * moment aggregates S = Σ_y y (vector) and T = Σ_y‖y‖² — so the plan
    * is ONE corpus moments aggregate broadcast back, a map-side score,
    * and a partial-aggregable argmin (min-id tie-break). All int64 at
    * this scale; ~1e9 rows/label would widen the moments to
    * DECIMAL(38,0).
    *
    * @return (label, medoid_vec_id, n, total_sqdist)
    */
  def labelMedoids(emb: DataFrame, scale: Long = 1000L): DataFrame = {
    val q = emb.select(col("vec_id"), col("label").cast("long").as("label"),
      transform(col("embedding"),
        x => floor(x.cast("double") * scale).cast("long")).as("q"))
      .withColumn("sq",
        aggregate(col("q"), lit(0L), (a, v) => a + v * v))
    val moments = q
      .select(col("label"), posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("label", "i").agg(sum("x").as("s"))
      .groupBy("label").agg(
        transform(array_sort(collect_list(struct(col("i"), col("s")))),
          p => p("s")).as("sv"))
    val tn = q.groupBy("label")
      .agg(count(lit(1)).as("n"), sum("sq").as("t"))
    val scored = q
      .join(broadcast(moments), "label")
      .join(broadcast(tn), "label")
      .withColumn("xs", aggregate(zip_with(col("q"), col("sv"),
        (a, b) => a * b), lit(0L), (a, v) => a + v))
      .withColumn("total_sqdist",
        col("n") * col("sq") - lit(2L) * col("xs") + col("t"))
    scored.groupBy("label")
      .agg(min(struct(col("total_sqdist"), col("vec_id"))).as("b"),
        max("n").as("n"))
      .select(col("label"), col("b.vec_id").as("medoid_vec_id"),
        col("n"), col("b.total_sqdist").as("total_sqdist"))
      .orderBy("label")
  }

  /** Greedy k-center / farthest-first traversal (Gonzalez '85, the
    * classic 2-approximation) — the coreset/diversity selection pass a
    * data-pruning pipeline runs to pick k maximally-spread exemplars.
    * Distances are EXACT integer squared-L2 over floor(x·scale)
    * coordinates, so every engine replays each round bit-for-bit.
    *
    * 100 TB posture: per round exactly ONE new center's quantized vector
    * broadcasts (a one-row frame); the min-distance update is a map-only
    * pass over the (vec_id, q, mind2) state — the vector column never
    * crosses a shuffle — and the next center is a single
    * max(struct(mind2, -id)) argmax row to the driver. The state runs on
    * [[Bsp]], materialized per round so lineage stays flat across k
    * rounds; each round picks from the state it is given.
    *
    * Returns (round, center_id, radius2): radius2 is the covering radius²
    * BEFORE that round's center was added (round 1 = seed, radius2 0). */
  def kCenterGreedy(emb: DataFrame, k: Int,
      scale: Long = 1000000L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.select(col("vec_id"), transform(col("embedding"),
      x => floor(x.cast("double") * scale).cast("long")).as("q"))
    val seed = q.agg(min("vec_id")).as[Long].head()
    def d2(a: Column, b: Column): Column =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v)
    val init = materialize(q.crossJoin(broadcast(
        q.filter(col("vec_id") === seed).select(col("q").as("cq"))))
      .select(col("vec_id"), col("q"), d2(col("q"), col("cq")).as("mind2")))
    val out = scala.collection.mutable.ArrayBuffer((1L, seed, 0L))
    // Round r's center: the farthest point of the state it is given.
    def pick(state: DataFrame, r: Int): Long = {
      val (radius2, cid) = state
        .agg(max(struct(col("mind2"), (-col("vec_id")).as("nv"))).as("m"))
        .select(col("m.mind2"), (-col("m.nv")).as("cid"))
        .as[(Long, Long)].head()
      out += ((r.toLong, cid, radius2))
      cid
    }
    // k − 2 state updates: the last center needs no state after it.
    val last = Bsp(init, k - 2) { (state, round) =>
      val cid = pick(state, round + 1)
      state.crossJoin(broadcast(state
          .filter(col("vec_id") === cid).select(col("q").as("cq"))))
        .select(col("vec_id"), col("q"),
          least(col("mind2"), d2(col("q"), col("cq"))).as("mind2"))
    }.state.df
    if (k > 1) pick(last, k)
    Bsp.releaseUnread(out.toSeq.toDF("round", "center_id", "radius2"), last)
  }

  /** Maximal Marginal Relevance re-ranking (Carbonell & Goldstein '98) —
    * the RAG diversification pass: greedily select k results balancing
    * query relevance against redundancy with what's already selected,
    * score(d) = λ·sim(q,d) − (1−λ)·max_{s∈S} sim(d,s); ties broken on
    * the smaller id (the suite's ranking discipline: ids/ranks out,
    * never recomputed float scores).
    *
    * 100 TB posture: relevance is computed ONCE over the candidate scan
    * and materialized; each of the k greedy rounds then
    * joins the candidates against a ≤k-row BROADCAST selected set, takes
    * a map-side-combined per-candidate max, and ships exactly one argmax
    * row to the driver (TakeOrderedAndProject(1)). Nothing corpus-sized
    * is collected, windowed globally, or recomputed per round.
    */
  def mmrSelect(emb: DataFrame, queryId: Long, k: Int,
      lambda: Double): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col("vec_id"), col("embedding"))
    val q = base.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"))
    val cand = materialize(base.filter(col("vec_id") =!= queryId)
      .crossJoin(broadcast(q))
      .select(col("vec_id"), col("embedding"),
        cosineSim(col("embedding"), col("q_emb")).as("rel"))).df
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    // Not on Bsp: `cand` never changes and the picks live on the driver,
    // so a per-round state would add a materializing job per round.
    for (_ <- 1 to k) {
      val best =
        if (picked.isEmpty)
          cand.orderBy(col("rel").desc, col("vec_id")).limit(1)
        else {
          val remaining = cand.filter(!col("vec_id").isin(picked.toSeq: _*))
          val sel = cand.filter(col("vec_id").isin(picked.toSeq: _*))
            .select(col("embedding").as("s_emb"))
          remaining.crossJoin(broadcast(sel))
            .groupBy(col("vec_id"), col("rel"))
            .agg(max(cosineSim(col("embedding"), col("s_emb"))).as("red"))
            .select(col("vec_id"),
              (col("rel") * lambda - col("red") * (1 - lambda)).as("score"))
            .orderBy(col("score").desc, col("vec_id")).limit(1)
        }
      picked += best.select("vec_id").as[Long].head()
    }
    Bsp.releaseUnread(picked.toSeq.zipWithIndex
      .map { case (id, i) => (i + 1L, id) }
      .toDF("rank", "vec_id"), cand)
  }

  /** Top principal component of an embedding column by POWER ITERATION in
    * exact integer arithmetic — deterministic and SQL-replayable where a
    * float implementation would be partition-order-dependent:
    *
    *  - components quantize to FLOOR(x·10⁶) (exact in doubles, identical
    *    across engines);
    *  - the UN-NORMALIZED covariance C = n·Σxxᵀ − (Σx)(Σx)ᵀ (same
    *    eigenvectors; all integer) comes from ONE corpus scan — each row
    *    map-side explodes its d(d+1)/2 upper-triangle products and
    *    partial aggregation collapses them before the shuffle, so the
    *    exchange carries ≤ d² rows per partition, never the corpus;
    *  - `rounds` multiplications run on the d²-row matrix relation
    *    (metadata-sized), each followed by an exact integer rescale of
    *    the iterate to ≤ 10⁹ (truncating division via the remainder
    *    identity — decimal `div` silently overflows through its BIGINT
    *    result type) so DECIMAL(38,0) never overflows;
    *  - the sign is canonicalized (largest-|loading| dimension, lowest
    *    index on ties, made positive).
    *
    * At extreme n (≥ ~10¹²) the C entries approach 10³⁸: drop SCALE a
    * decade or divide C by n before iterating. Returns
    * (dim_idx, loading_scaled) with |loading| ≤ 10⁹. */
  def pcaTopComponent(df: DataFrame, vecCol: String,
      rounds: Int = 3): DataFrame = {
    val q = materialize(df.select(transform(col(vecCol), // scanned twice
        x => floor(x.cast("double") * lit(1000000d)).cast("long")).as("q"))).df
    val nRow = q.agg(count(lit(1)).cast("decimal(38,0)").as("n"))
    val sums = q.select(posexplode(col("q")).as(Seq("i", "x")))
      .groupBy("i").agg(sum("x").cast("decimal(38,0)").as("s"))
    val prods = q.select(explode(expr(
        """flatten(transform(sequence(0, size(q) - 1),
             i -> transform(sequence(i, size(q) - 1),
               j -> named_struct('i', i, 'j', j, 'xy', q[i] * q[j]))))"""))
        .as("p"))
      .select(col("p.i").as("i"), col("p.j").as("j"), col("p.xy").as("xy"))
      .groupBy("i", "j").agg(sum("xy").cast("decimal(38,0)").as("pS"))
    val upper = prods.crossJoin(broadcast(nRow))
      .join(broadcast(sums.select(col("i"), col("s").as("si"))), Seq("i"))
      .join(broadcast(sums.select(col("i").as("j"), col("s").as("sj"))),
        Seq("j"))
      .select(col("i"), col("j"),
        (col("n") * col("pS") - col("si") * col("sj")).as("c"))
    // The matrix relation has EXACTLY d² rows, a count the materializing
    // job returns for free, and the d²-row rounds run under
    // [[Components.withLoopShuffle]] so each tiny aggregate schedules a
    // state-sized task wave instead of a session-width one. The iterate v
    // (d rows) is materialized each round, so its exact statistics let
    // the planner broadcast it into the matrix join; a plain checkpoint
    // would carry the join's product estimate instead. At corpus
    // dimensionality the planner and the loop sizing return the session
    // defaults.
    val mR = materialize(
      upper.unionByName(upper.filter(col("i") =!= col("j"))
        .select(col("j").as("i"), col("i").as("j"), col("c"))))
    val m = mR.df // d² rows, reused every round
    val v0 = m.select(col("j")).distinct()
      .select(col("j"), lit(1000000000L).cast("decimal(38,0)").as("x"))
    val v = Components.withLoopShuffle(df.sparkSession, mR.rows) {
      Bsp(Bsp.lazyState(v0), rounds) { (v, _) =>
        val w = m.join(v, Seq("j"))
          .groupBy(col("i")).agg(sum(col("c") * col("x")).as("w"))
        val mx = w.agg(max(abs(col("w"))).as("mx"))
        w.crossJoin(broadcast(mx)).select(col("i").as("j"), expr(
            """CAST(CASE WHEN w >= 0
                 THEN (w - w % (CAST((mx - mx % 1000000000) / 1000000000
                   AS DECIMAL(38,0)) + 1))
                   / (CAST((mx - mx % 1000000000) / 1000000000
                   AS DECIMAL(38,0)) + 1)
                 ELSE -(((-w) - (-w) % (CAST((mx - mx % 1000000000)
                   / 1000000000 AS DECIMAL(38,0)) + 1))
                   / (CAST((mx - mx % 1000000000) / 1000000000
                   AS DECIMAL(38,0)) + 1))
               END AS DECIMAL(38,0)) AS x"""))
      }.state.df
    }
    val m2 = v.agg(max(abs(col("x"))).as("m2"))
    val sgn = v.crossJoin(broadcast(m2)).filter(abs(col("x")) === col("m2"))
      .orderBy(col("j")).limit(1)
      .select(when(col("x") < 0, lit(-1L)).otherwise(lit(1L)).as("sgn"))
    val out = v.crossJoin(broadcast(sgn))
      .select(col("j").cast("int").as("dim_idx"),
        (col("x") * col("sgn")).cast("long").as("loading_scaled"))
      .orderBy("dim_idx")
    Bsp.releaseUnread(out, m, q) // after zero rounds `v` still reads `m`
  }
}
