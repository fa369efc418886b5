package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a training-data pipeline needs between
  * "cleaned documents" and "training shards": reproducible sampling,
  * token-budget shard packing, and PII-style redaction. All three are
  * pure column/window/aggregation plans — no RNG state, no driver-side
  * data, nothing that breaks under retries or re-partitioning.
  */
object Curation {
  /** Deterministic stratified sampling: keep a row iff
    * `pmod(xxhash64(id), 100) < pct(stratum)`.
    *
    * Hash-gated, not `rand()`-gated: the keep/drop decision is a pure
    * function of the row's id, so the sample is reproducible across runs,
    * retries, and partitionings, composable (a 10% sample of a 50% sample
    * is a true 5% sample — nested hash gates commute), and needs no
    * sampling state. `rand()`-based sampling breaks all three under task
    * retry. This is the idiomatic 100 TB downsampling shape: a
    * codegen'd filter right above the scan, no shuffle at all.
    *
    * @param pctFor stratum value -> keep percentage in [0,100]
    */
  def sampleStratified(df: DataFrame, idCol: String, stratumCol: Column,
      pctFor: Map[String, Int], defaultPct: Int): DataFrame = {
    val rate = pctFor.foldLeft(lit(defaultPct)) { case (acc, (k, p)) =>
      when(stratumCol === k, p).otherwise(acc)
    }
    df.filter(pmod(xxhash64(col(idCol)), lit(100)) < rate)
  }

  /** Token-budget shard packing: documents in `orderCols` order are packed
    * into contiguous shards of ~`targetWeight` total `weightCol` (tokens);
    * a document belongs to shard `floor(start_offset / targetWeight)`
    * where start_offset is the exact global running weight before it.
    * `orderCols` must be a total order (include a unique id as the last
    * tie-break) — pass the id alone for in-order packing, or a hash of the
    * id first for a deterministic global corpus shuffle (the pretraining
    * shuffle: reproducible, partition-independent, no RNG state).
    *
    * The global prefix sum is computed DISTRIBUTED, two-level (the classic
    * parallel scan): range-partition by the order, per-partition running
    * sums via a partition-local window, then one tiny per-partition offset
    * table (nPart rows — metadata) cumulated on the driver-side-sized
    * frame and broadcast back. No global single-task window ever sees the
    * data — the naive `Window.orderBy` with no partitionBy would serialize
    * the whole corpus through one task at 100 TB.
    *
    * Shard assignment depends only on the global cumsum — partitioning
    * changes the parallel structure, never the output. */
  def packShards(docs: DataFrame, orderCols: Seq[Column], weightCol: String,
      targetWeight: Long, nPart: Int = 32): DataFrame = {
    val parts = docs.repartitionByRange(nPart, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy("__pid").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts.withColumn("__cum_local", sum(col(weightCol)).over(wLocal))
    // nPart rows: the only global ordering happens on this metadata frame.
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy("__pid")
      .agg(sum(col(weightCol)).as("__psum"))
      .withColumn("__offset", coalesce(sum("__psum").over(wOff), lit(0L)))
      .select("__pid", "__offset")
    local.join(broadcast(offsets), "__pid")
      .withColumn("__start", col("__cum_local") + col("__offset") - col(weightCol))
      .withColumn("shard_id", expr(s"__start div $targetWeight"))
      .drop("__pid", "__cum_local", "__offset", "__start")
  }

  /** Centered systematic PPS sampling (probability proportional to size,
    * Madow '49): lay the corpus out on a weight line in the deterministic
    * (xxhash64(id), id) shuffle order, drop k centered gridpoints at
    * (2j+1)·W/(2k) for j = 0..k-1, and give every document one pick per
    * gridpoint that lands inside its weight interval — the classic
    * survey-sampling design for "sample k training documents proportional
    * to token count" with ZERO floating point: pick counts come from
    * exact integer interval/gridpoint counting (cross-multiplied by 2k so
    * the rational gridpoints never materialize), so any engine replays
    * them bit-for-bit. Σ n_picks = k exactly (the gridpoints tile [0, W)).
    *
    * 100 TB posture: the only global structure is the exclusive prefix
    * sum over weights, computed two-level exactly like [[packShards]]
    * (per-range-partition local window + an nPart-row broadcast offset
    * table) — no corpus-wide single-task window; the total weight W is a
    * one-row broadcast aggregate. Everything else is a map-side integer
    * formula. Products reach 2k·W, so they are carried in DECIMAL(38,0)
    * (at 100 TB, W ~ 1e14 tokens and k ~ 1e6 overflow int64; the q384
    * discipline).
    *
    * @return (idCol, w, n_picks) for documents with ≥ 1 pick
    */
  def ppsSystematicSample(docs: DataFrame, idCol: String, weightCol: String,
      k: Int, nPart: Int = 32): DataFrame = {
    val orderCols = Seq(xxhash64(col(idCol)), col(idCol))
    val parts = docs.select(col(idCol), col(weightCol).cast("long").as("w"))
      .repartitionByRange(nPart, orderCols: _*)
      .withColumn("__pid", spark_partition_id())
    val wLocal = Window.partitionBy("__pid").orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val local = parts.withColumn("__cum_local", sum(col("w")).over(wLocal))
    val wOff = Window.orderBy("__pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parts.groupBy("__pid")
      .agg(sum(col("w")).as("__psum"))
      .withColumn("__offset", coalesce(sum("__psum").over(wOff), lit(0L)))
      .select("__pid", "__offset")
    val total = parts.agg(sum("w").cast("decimal(38,0)").as("__tw"))
    val dec = "decimal(38,0)"
    val start = (col("__cum_local") + col("__offset") - col("w")).cast(dec)
    // Gridpoint j sits at (2j+1)·W/(2k); doc owns [start, start+w). Cross-
    // multiplying by 2k: count odd m = 2j+1 with A ≤ m·W < B where
    // A = 2k·start, B = 2k·(start+w). lo = ceil(A/W), hi = ceil(B/W)-1,
    // picks = floor((hi+1)/2) - floor(lo/2) (count of odd ints in [lo,hi];
    // B ≥ A guarantees hi ≥ lo-1, so the difference is never negative).
    val twoK = lit(2L * k).cast(dec)
    local.join(broadcast(offsets), "__pid")
      .join(broadcast(total))
      .withColumn("__a", twoK * start)
      .withColumn("__b", twoK * (start + col("w").cast(dec)))
      .withColumn("__lo",
        (col("__a") + col("__tw") - lit(1)).cast(dec).div_(col("__tw")))
      .withColumn("__hi", (col("__b") - lit(1)).cast(dec).div_(col("__tw")))
      .withColumn("n_picks",
        ((col("__hi") + lit(1)).cast(dec).div_(lit(2).cast(dec)) -
          col("__lo").div_(lit(2).cast(dec))).cast("long"))
      .filter(col("n_picks") >= 1)
      .select(col(idCol), col("w"), col("n_picks"))
  }

  /** Quantile normalization across sources — the distribution-alignment
    * pass that makes per-source quality scores comparable before a
    * global threshold (each source's scorer drifts; rank space doesn't):
    * every document's score is replaced by the GLOBAL nearest-rank
    * quantile value at its within-source percentile,
    * g = ceil(r·N / c) with r = rank within source, c = source count,
    * N = corpus count — all exact integers, so any engine replays the
    * mapping bit-for-bit (no float percentile interpolation).
    *
    * Shuffle ledger: one keyed window for within-source ranks, the
    * [[graft.ops.Layout.globalRowNumber]] two-level scheme for global
    * ranks (no corpus-wide single-task window), one broadcast one-row N,
    * and one integer equi-join from g to the global rank relation.
    * The index product r·N overflows int64 at ~10^9.5 rows, so it is
    * computed in DECIMAL(38,0).
    *
    * @return (idCol, srcCol, score, norm_score)
    */
  def quantileNormalize(df: DataFrame, idCol: String, srcCol: String,
      valCol: String): DataFrame = {
    val base = df.select(col(idCol), col(srcCol),
      col(valCol).cast("long").as("score"))
    val wSrc = Window.partitionBy(srcCol).orderBy(col("score"), col(idCol))
    val counts = base.groupBy(srcCol).agg(count(lit(1)).as("__c"))
    val ranked = base
      .withColumn("__r", row_number().over(wSrc).cast("long"))
      .join(broadcast(counts), srcCol)
    // globalRowNumber orders (coarse DESC, fine ASC); negating the score
    // makes that (score ASC, id ASC) — the global quantile order.
    val glob = graft.ops.Layout.globalRowNumber(
        base.select(col(idCol).as("__gid"), col("score").as("__gv"))
          .withColumn("__negv", -col("__gv")),
        "__negv", "__gid")
      .select(col("__gv"), col("rn").as("__g"))
    val tot = base.agg(count(lit(1)).as("__n"))
    val dec = "decimal(38,0)"
    ranked.crossJoin(broadcast(tot))
      .withColumn("__g",
        (col("__r").cast(dec) * col("__n") + col("__c") - lit(1))
          .cast(dec).div_(col("__c").cast(dec)).cast("long"))
      .join(glob, "__g")
      .select(col(idCol), col(srcCol), col("score"),
        col("__gv").as("norm_score"))
  }

  /** T5-style span-corruption mask statistics — the objective-
    * construction pass of a denoising pretraining pipeline, made fully
    * deterministic: a span of `spanLen` tokens starts at every position
    * whose xxhash64(doc_id, pos) is ≡ 0 mod 16 (a pure function of the
    * row — reproducible across runs/retries/partitionings, the
    * [[sampleStratified]] hash-gate discipline; mod a power of two so
    * the unsigned replay is exact), overlapping spans merge, and the
    * per-document relation reports tokens/spans/masked counts with the
    * masked fraction in exact basis points. Everything is keyed by
    * doc_id — per-doc windows, never a global one.
    */
  def spanCorruptionStats(docs: DataFrame, idCol: String, textCol: String,
      spanLen: Int = 3): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n_tokens"))
    val starts = toks
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(0L), col("n_tokens") - 1)).as("pos"))
      .filter(pmod(xxhash64(col("doc_id"), col("pos")), lit(16)) === 0)
    val masked = starts
      .select(col("doc_id"), col("n_tokens"), explode(sequence(col("pos"),
        least(col("pos") + (spanLen - 1), col("n_tokens") - 1))).as("mp"))
      .distinct()
    val wDoc = Window.partitionBy("doc_id").orderBy("mp")
    val islands = masked
      .withColumn("is_start",
        when(lag("mp", 1).over(wDoc) === col("mp") - 1, 0L).otherwise(1L))
      .groupBy("doc_id")
      .agg(sum("is_start").as("n_spans"), count(lit(1)).as("n_masked"))
    toks.join(islands, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_masked"), lit(0L)).as("n_masked"),
        call_function("div",
          coalesce(col("n_masked"), lit(0L)) * 10000L, col("n_tokens"))
          .as("masked_bp"))
  }

  /** Optimal length bucketing for padded batching — choose `k` bucket
    * boundaries over the token-length distribution minimizing total
    * padding Σ (bucket_upper − len), the classic Jenks-style 1-D DP that
    * decides the bucket shapes a padded-batch trainer/server uses.
    * The CORPUS work is one histogram aggregate (distinct token lengths
    * + counts — value-cardinality metadata); the O(k·D²) DP then runs on
    * that collected histogram, squarely inside the sanctioned
    * metadata-sized driver-work class (bucket indexes, day lists). Cost
    * of a bucket ending at index i starting after m is closed-form from
    * prefix sums: len_i·(C_i − C_m) − (S_i − S_m); argmin ties break on
    * the smaller split index. The DuckDB oracle replays the same DP as
    * unrolled relational layers — two independent implementations must
    * agree on every boundary.
    *
    * @return k rows (bucket_id, upper_len, n_docs, padding)
    */
  def optimalLengthBuckets(docs: DataFrame, textCol: String,
      k: Int = 4): DataFrame = {
    val spark = docs.sparkSession
    val hist = docs
      .select(size(TextOps.tokens(col(textCol))).cast("long").as("len"))
      .groupBy("len").agg(count(lit(1)).as("cnt"))
      .orderBy("len")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val d = hist.length
    require(d >= k, s"need at least $k distinct lengths, got $d")
    val len = hist.map(_._1)
    val cc = hist.map(_._2).scanLeft(0L)(_ + _).tail
    val ss = hist.map(h => h._1 * h._2).scanLeft(0L)(_ + _).tail
    def cost(m: Int, i: Int): Long = // bucket covers indices (m, i], m = -1 ok
      len(i) * (cc(i) - (if (m < 0) 0L else cc(m))) -
        (ss(i) - (if (m < 0) 0L else ss(m)))
    // dp(j)(i): min padding covering indices 0..i with j+1 buckets, the
    // last ending exactly at i; arg(j)(i): its best previous end.
    val dp = Array.fill(k, d)(Long.MaxValue)
    val arg = Array.fill(k, d)(-1)
    for (i <- 0 until d) dp(0)(i) = cost(-1, i)
    for (j <- 1 until k; i <- j until d; m <- (j - 1) until i) {
      val c = dp(j - 1)(m) + cost(m, i)
      if (c < dp(j)(i)) { dp(j)(i) = c; arg(j)(i) = m }
    }
    val ends = new Array[Int](k)
    ends(k - 1) = d - 1
    for (j <- (k - 1) to 1 by -1) ends(j - 1) = arg(j)(ends(j))
    val rows = (0 until k).map { j =>
      val e = ends(j)
      val m = if (j == 0) -1 else ends(j - 1)
      (j.toLong + 1, len(e), cc(e) - (if (m < 0) 0L else cc(m)), cost(m, e))
    }
    import spark.implicits._
    rows.toDF("bucket_id", "upper_len", "n_docs", "padding")
  }

  /** Exact floor division on non-negative DECIMAL(38,0) operands —
    * Spark's integral `div` via the Column DSL so the PPS formula reads
    * like the math (`a div b` truncates toward zero; all operands here
    * are ≥ 0, so truncation IS floor). */
  implicit private class DecDiv(private val n: Column) {
    def div_(d: Column): Column =
      call_function("div", n, d).cast("decimal(38,0)")
  }

  private val UrlRe = "https?://[^\\s]+"
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val NumRe = "[0-9]{6,}"

  /** PII-style scrubbing: URLs, then e-mail addresses, then long digit
    * runs are replaced with typed placeholder tokens (in that order —
    * URLs can contain @ and digits, so they must go first). The match
    * counts come from the SAME patterns pre-replacement, so
    * "what was removed" is auditable per document. Patterns are kept in
    * the common RE2/Java regex subset so an independent engine replays
    * them exactly. Pure codegen'd string expressions — shuffle-free. */
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, UrlRe, "<URL>"),
        EmailRe, "<EMAIL>"),
      NumRe, "<NUM>")

  def piiCounts(text: Column): (Column, Column, Column) =
    (regexp_count(text, lit(UrlRe)).cast("long"),
      regexp_count(text, lit(EmailRe)).cast("long"),
      regexp_count(text, lit(NumRe)).cast("long"))

  /** Top-k distinguishing terms per document, ranked by df-normalized
    * term frequency tf/df (monotone in tf-idf for any fixed df; chosen
    * over tf*log(N/df) because one IEEE division replays bit-for-bit in
    * any engine, while log implementations differ in the last ulp and
    * can flip near-tie ranks). Ties break on the term itself, so ranks
    * are total and deterministic. Exact tf/df counts ride along; the
    * floating score itself is never emitted. */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int): DataFrame = {
    val tf = docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokensLower(col(textCol))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").cast("double").divide(col("df")).desc, col("term"))
    tf.join(dfreq, "term")
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("rank"), col("term"), col("tf"), col("df"))
  }

  /** Deterministic SYSTEMATIC weighted sampling: walk the corpus in id
    * order accumulating integer weights, and pick every item whose
    * cumulative-weight interval (cum − w, cum] contains a multiple of
    * `stride` — each item is selected with multiplicity
    * k = cum div stride − (cum − w) div stride, i.e. expected count w/stride,
    * EXACTLY and reproducibly (no RNG, no floating point) — the
    * quality-weighted corpus-mixing sampler that survives reruns and
    * engine changes bit-for-bit.
    *
    * Scale shape — a distributed prefix sum: ids are range-bucketed
    * (id div bucketSize — deterministic, unlike a sampling range
    * partitioner), the running sum is computed per bucket (bounded
    * window partitions), bucket totals (metadata-sized — one row per
    * bucket) get their offsets in one tiny global window and broadcast
    * back. No corpus-wide single-task window anywhere.
    *
    * @return (id, w, k) for every item with k >= 1
    */
  def systematicWeightedSample(df: DataFrame, idCol: String, wCol: String,
      stride: Long, bucketSize: Long = 1L << 16): DataFrame = {
    require(stride >= 1 && bucketSize >= 1)
    val base = df.select(col(idCol).as("id"), col(wCol).cast("long").as("w"))
    val bucketed = base.withColumn("bucket", expr(s"id div $bucketSize"))
    val wLocal = Window.partitionBy("bucket").orderBy("id")
    val local = bucketed.withColumn("lcum", sum(col("w")).over(wLocal))
    val wOff = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = bucketed.groupBy("bucket").agg(sum(col("w")).as("bw"))
      .withColumn("off", coalesce(sum(col("bw")).over(wOff), lit(0L)))
      .select("bucket", "off")
    local.join(broadcast(offs), "bucket")
      .withColumn("cum", col("off") + col("lcum"))
      .withColumn("k",
        expr(s"cum div $stride") - expr(s"(cum - w) div $stride"))
      .filter(col("k") > 0)
      .select(col("id").as(idCol), col("w"), col("k"))
  }

  /** BM25 retrieval scoring against a fixed query term set, in EXACT
    * rational arithmetic so scores replay bit-for-bit in any engine
    * (the q80/q134 discipline — log-idf flips near-tie ranks on the last
    * ulp, so idf is the integer surprisal N div df instead, q134's proxy).
    * With k1 = 6/5 and b = 3/4, the per-term BM25 contribution
    *     idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    * reduces over the common denominator 10·L (L = total corpus tokens,
    * avgdl = L/N) to
    *     22·L·tf·(N div df)  /  (10·tf·L + 3·L + 9·dl·N)
    * — an int64 denominator, a double numerator built in a fixed
    * multiplication order, ONE IEEE division per term, and a fixed-order
    * (left-associative) sum across the query terms instead of an
    * order-nondeterministic aggregation. Every input (tf, dl, df, N, L)
    * is an exact integer.
    *
    * Scale shape: per-doc tf/dl are shuffle-free array expressions; the
    * corpus-level (N, L, df) row is one map-side-combined aggregate
    * broadcast back; ranking is one global top-k. At 100 TB swap the
    * int64 denominator for decimal if L·tf outgrows 9.2e18.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val baseCols = col("doc_id") +: size(col("__tk")).cast("long").as("dl") +:
      terms.map(tm => size(filter(col("__tk"), x => x === tm))
        .cast("long").as(s"tf_$tm"))
    val base = docs.select(col(idCol).as("doc_id"),
        TextOps.tokensLower(col(textCol)).as("__tk"))
      .select(baseCols: _*)
    val aggCols = count(lit(1)).as("n") +: sum(col("dl")).as("l") +:
      terms.map(tm => count(when(col(s"tf_$tm") > 0, 1)).as(s"df_$tm"))
    val globals = base.agg(aggCols.head, aggCols.tail: _*)
    val scored = base.crossJoin(broadcast(globals))
    val score = terms.map { tm =>
      (lit(22.0) * col("l") * col(s"tf_$tm") * expr(s"n div df_$tm")) /
        (lit(10L) * col(s"tf_$tm") * col("l") + lit(3L) * col("l") +
          lit(9L) * col("dl") * col("n"))
    }.reduce(_ + _) // left-associative fixed-order IEEE sum
    // Global top-k via orderBy+limit (TakeOrderedAndProject — per-partition
    // heaps, no global window over the corpus); the rank window then runs
    // over k rows only.
    val topk = scored.withColumn("score", score)
      .orderBy(col("score").desc, col("doc_id")).limit(k)
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    topk.withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank") +: col("doc_id") +: col("dl") +: col("score") +:
        terms.map(tm => col(s"tf_$tm")): _*)
  }

  /** Benchmark decontamination: flag training documents that share at
    * least `minShared` distinct word n-grams with ANY benchmark document
    * (the standard n-gram-overlap test-set leakage check run before
    * training). Output: (doc_id, n_shared_grams, n_bench_docs) for every
    * flagged training document.
    *
    * Scale shape: the benchmark side is SMALL by construction (eval suites
    * are MB-scale against a 100 TB corpus), so its distinct gram set is
    * broadcast and the whole check is a map-side join on the training
    * gram stream — one scan of the corpus, no corpus-sized shuffle. Grams
    * join on their 64-bit hash (8-byte key, collision odds ~|grams|²/2⁶⁵
    * — a collision can only over-flag one document). */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int, minShared: Long): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
          explode(array_distinct(NearDup.wordNgrams(
            TextOps.tokens(col(textCol)), n))).as("gram"))
        .select(col(as), xxhash64(col("gram")).as("g"))
    // r14 MEASURED FLAT — do not re-try at this scale: pre-aggregating
    // the bench side to (g, collect_set(bench_id)) makes the join 1:1
    // and removes the multi-countDistinct Expand here and in
    // [[decontaminateOverlap]], but the filtered A/B
    // (BENCH_R14OPT_q190_{before,after}_{a,b}, q287 control flat, quiet
    // windows) measured q190 1.81 -> 1.91 s wall / CPU 3.8 -> 3.8 and
    // q90 flat: the joined gram relation is bounded by the (tiny)
    // benchmark side, so gram construction dominates and the Expand is
    // noise at any benchable SF. Reverted to the simpler spelling.
    grams(train, "doc_id")
      .join(broadcast(grams(bench, "bench_id")), "g")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .filter(col("n_shared_grams") >= minShared)
  }

  /** Per-doc contamination REPORT at the industry-standard 13-gram
    * granularity (the GPT-3/PaLM-style check): every training doc is
    * emitted — clean ones included — with its distinct-gram count, the
    * count shared with the benchmark, matched benchmark docs, and the
    * overlap FRACTION in basis points (an exact integer: shared·10⁴ div
    * total — no float division, so the relation replays bit-for-bit).
    * Threshold-free by design: the caller picks the cut (e.g. drop at
    * ≥50% overlap, flag at any), which is policy, not plumbing.
    *
    * Scale shape: ONE corpus-side gram scan, left-joined against the
    * BROADCAST benchmark gram set (eval suites are MB-scale next to a
    * 100 TB corpus), then one doc-keyed aggregation — the only shuffle,
    * carrying 8-byte gram hashes, never text. */
  def decontaminateOverlap(train: DataFrame, bench: DataFrame, idCol: String,
      textCol: String, n: Int = 13): DataFrame = {
    def grams(df: DataFrame, as: String) =
      df.select(col(idCol).as(as),
          explode(array_distinct(NearDup.wordNgrams(
            TextOps.tokens(col(textCol)), n))).as("gram"))
        .select(col(as), xxhash64(col("gram")).as("g"))
    grams(train, "doc_id")
      .join(broadcast(grams(bench, "bench_id")), Seq("g"), "left")
      .groupBy("doc_id")
      .agg(countDistinct(col("g")).as("n_grams"),
        countDistinct(when(col("bench_id").isNotNull, col("g")))
          .as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
      .withColumn("overlap_bp",
        expr("n_shared_grams * 10000 div n_grams"))
  }

  /** Largest-remainder (Hamilton) apportionment of an exact token budget
    * across strata: quota_s = budget·avail_s/total, every stratum gets
    * floor(quota_s), and the seats lost to flooring go one each to the
    * largest fractional remainders (remainder = (budget·avail_s) mod
    * total, ties to the smaller stratum key) — allocations sum EXACTLY
    * to the budget, all in int64/decimal arithmetic, no float rounding
    * drift. The step a production data mixer runs after the mixture
    * weights are chosen (q162's temperature rates say "what fraction";
    * this says "exactly how many tokens per source so the shard totals
    * add up").
    *
    * Scale shape: the corpus appears ONLY in the availability aggregate
    * (column-pruned, map-side combined); everything after is the
    * stratum-count-sized relation — windows over it are metadata, the
    * [[graft.ops.Layout.globalRowNumber]] level-1 discipline.
    *
    * @return one row per stratum: (stratumCol, avail, alloc);
    *         sum(alloc) = budget always. When budget > sum(avail) an
    *         alloc_s may exceed avail_s (apportionment is agnostic to
    *         capacity) — a consumer that TAKES alloc_s items, e.g.
    *         [[sampleApportioned]], then exhausts the stratum and
    *         returns fewer than budget rows.
    */
  def apportionBudget(df: DataFrame, stratumCol: String, weightCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    import org.apache.spark.sql.expressions.Window
    val avail = df.groupBy(stratumCol)
      .agg(sum(col(weightCol)).cast("decimal(38,0)").as("avail"))
    val tot = avail.agg(sum(col("avail")).as("__tot"))
    val quotas = avail.crossJoin(broadcast(tot))
      .select(col(stratumCol), col("avail"),
        expr(s"CAST(avail * $budget DIV __tot AS BIGINT)").as("__fl"),
        expr(s"(avail * $budget) % __tot").as("__rem"))
    // stratum-count-sized from here on: one tiny window ranks remainders,
    // a second sums the floors to find the leftover seat count
    val leftover = quotas.agg((lit(budget) - sum(col("__fl"))).as("__extra"))
    quotas.crossJoin(broadcast(leftover))
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__rem").desc, col(stratumCol))))
      .select(col(stratumCol), col("avail").cast("long").as("avail"),
        (col("__fl") + when(col("__rk") <= col("__extra"), 1L)
          .otherwise(0L)).as("alloc"))
  }

  /** Exact-count stratified sample hitting an [[apportionBudget]]
    * allocation: apportion `budget` DOCUMENTS across strata
    * proportionally (largest-remainder, so the per-stratum counts sum
    * exactly to the budget), then take exactly alloc_s docs per stratum
    * by hash rank — the reproducible take-order of `sampleExactK`
    * (xxhash64 asc, id tiebreak). Unlike the rate-based gates
    * ([[sampleStratified]], [[temperatureMix]]) whose output size is
    * binomial around the target, the sample size here is EXACT — what a
    * shard-budgeted export actually needs. Alloc table is
    * stratum-count-sized (broadcast); the rank is a keyed window.
    *
    * @return input rows of the selected sample (all columns) */
  def sampleApportioned(df: DataFrame, idCol: String, stratumCol: String,
      budget: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val alloc = apportionBudget(df.withColumn("__one", lit(1L)),
        stratumCol, "__one", budget)
      .select(col(stratumCol), col("alloc"))
    df.join(broadcast(alloc), Seq(stratumCol))
      .withColumn("__rk", row_number().over(Window.partitionBy(stratumCol)
        .orderBy(xxhash64(col(idCol)), col(idCol))))
      .filter(col("__rk") <= col("alloc"))
      .drop("__rk", "alloc")
  }

  /** Cross-source score calibration: a raw quality score is comparable
    * only WITHIN its source (each source's scorer has its own scale and
    * offset — web-crawl perplexity vs. curated-corpus perplexity), so
    * mixing policies threshold the within-source PERCENTILE instead.
    * calib_bp = (rank-1)·10000 DIV (n_s-1) — the basis-point
    * percent_rank, computed in exact integers (rank ties share a value,
    * n_s = 1 pins to 0) so both engines agree bit-for-bit where a float
    * percent_rank could differ in the last ulp. One keyed window + one
    * stratum-count-sized broadcast; the corpus never crosses a global
    * window.
    *
    * @return input plus `calib_bp` in [0, 10000] */
  def calibrateScores(df: DataFrame, stratumCol: String,
      scoreCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("__n"))
    df.join(broadcast(counts), Seq(stratumCol))
      .withColumn("__r", rank().over(
        Window.partitionBy(stratumCol).orderBy(scoreCol)))
      .withColumn("calib_bp",
        when(col("__n") === 1, 0L).otherwise(
          expr("(__r - 1) * 10000 DIV (__n - 1)")))
      .drop("__r", "__n")
  }

  /** Vocabulary coverage / OOV curve: for each candidate vocab size S
    * (top-S tokens by corpus frequency), the fraction of all token
    * OCCURRENCES not covered — the curve a tokenizer design reads to
    * pick its vocab size. Token ranks come from
    * [[graft.ops.Layout.globalRowNumber]] (coarse = frequency, fine =
    * token) so the vocabulary relation never crosses a single-partition
    * window either; coverage per size is a conditional aggregate over
    * the sizes×vocab join, not a prefix sum. All integer until the
    * closing basis-point division (DIV — exact).
    *
    * @return one row per size: (vocab_size, n_types, covered, oov_bp) */
  def vocabCoverage(df: DataFrame, textCol: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty, "sizes must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val freqs = df.select(explode(TextOps.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
    val ranked = graft.ops.Layout.globalRowNumber(freqs, "freq", "tok")
    val total = freqs.agg(sum(col("freq")).as("__tot"))
    ranked.crossJoin(broadcast(sizes.toDF("vocab_size")))
      .filter(col("rn") <= col("vocab_size"))
      .groupBy("vocab_size")
      .agg(count(lit(1)).as("n_types"), sum(col("freq")).as("covered"))
      .crossJoin(broadcast(total))
      .select(col("vocab_size").cast("long").as("vocab_size"),
        col("n_types"), col("covered"),
        expr("10000 - covered * 10000 DIV __tot").as("oov_bp"))
  }

  /** Deterministic rebalance-to-uniform: downsample every stratum to
    * (approximately) the size of the smallest one, by computing per-stratum
    * keep rates floor(min_count·100 / count) and gating rows with the same
    * reproducible hash gate as [[sampleStratified]] — the domain-mixing
    * step that turns a source-skewed crawl into a balanced training mix.
    *
    * The per-stratum count table is metadata-sized (one row per stratum),
    * so the rate join is an explicit broadcast; the gate itself is a
    * codegen'd filter above the scan. Two passes over the corpus (count,
    * then gate) — the count pass is aggregate-only and column-pruned to
    * the stratum column. */
  def rebalanceUniform(df: DataFrame, idCol: String,
      stratumCol: String): DataFrame = {
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("__c"))
    val rates = counts.crossJoin(counts.agg(min(col("__c")).as("__m")))
      .select(col(stratumCol), expr("__m * 100 div __c").as("__rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(pmod(xxhash64(col(idCol)), lit(100)) < col("__rate"))
      .drop("__rate")
  }

  /** Temperature-scaled domain mixture (the alpha=0.5 sampling used to
    * flatten source skew without going fully uniform): per-stratum keep
    * rate sqrt(n_min/n_s) in basis points, so sampled counts are
    * proportional to sqrt(n_s) and the rarest stratum is kept whole —
    * between [[rebalanceUniform]] (alpha=0) and no-op (alpha=1).
    *
    * Exactness: the rate is floor(10000 * sqrt(n_min/n_s)) — one IEEE
    * division, one correctly-rounded sqrt, one multiply, in a pinned
    * order, so the gate replays bit-for-bit in any engine. Crucially
    * there is NO cross-stratum float sum (a sum's accumulation order
    * would be partition-dependent); normalizing by n_min instead of
    * sum(sqrt(n)) keeps every rate a pure per-stratum scalar. Same
    * two-pass / broadcast-rates / codegen-gate shape as
    * [[rebalanceUniform]]. */
  def temperatureMix(df: DataFrame, idCol: String,
      stratumCol: String): DataFrame = {
    val counts = df.groupBy(stratumCol).agg(count(lit(1)).as("__c"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(min(col("__c")).as("__m"))))
      .select(col(stratumCol), floor(lit(10000) *
        sqrt(col("__m").cast("double") / col("__c").cast("double")))
        .as("__rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(pmod(xxhash64(col(idCol)), lit(10000)) < col("__rate"))
      .drop("__rate")
  }

  /** Exactly min(k, |stratum|) rows per stratum, selected by hash order
    * (ascending xxhash64(id), id tie-break) — the EXACT-size companion to
    * [[sampleStratified]]'s percentage gate: same determinism (pure
    * function of ids — reproducible across runs, retries, partitionings),
    * but a guaranteed count, which is what eval-set carving and per-domain
    * quota sampling need.
    *
    * Two-level top-k, the scale-correct shape: a first window partitioned
    * by (stratum, ORIGINAL partition id) prunes to ≤ k rows per
    * (stratum, partition) in parallel — no single reducer ever sees a
    * whole stratum — then the global per-stratum window ranks only the
    * ≤ k·nPartitions survivors. Pruning is lossless: any row in a
    * stratum's global hash-top-k is in the top-k of every subset that
    * contains it, so the output is partition-invariant. */
  def sampleExactK(df: DataFrame, idCol: String, stratumCol: String,
      k: Int): DataFrame = {
    val h = xxhash64(col(idCol))
    val wLocal = Window.partitionBy(col(stratumCol), spark_partition_id())
      .orderBy(h, col(idCol))
    val pruned = df.withColumn("__rkl", row_number().over(wLocal))
      .filter(col("__rkl") <= k).drop("__rkl")
    val wGlobal = Window.partitionBy(col(stratumCol)).orderBy(h, col(idCol))
    pruned.withColumn("__rk", row_number().over(wGlobal))
      .filter(col("__rk") <= k).drop("__rk")
  }

  /** Corpus n-gram language-model statistics: token frequency and
    * document frequency for every word n-gram of each order in
    * `1 to maxN` — the count table behind LM smoothing, contamination
    * audits, and infini-gram-style lookups. One explode + one shuffle per
    * order (partial counts combine map-side), unioned; at 100 TB this is
    * the job that builds the persisted n-gram store, and `minTf` prunes
    * the hapax tail before it is ever shuffled... after counting — the
    * filter cuts the OUTPUT (and the store), not the count shuffle.
    *
    * Output: (n, gram, tf, df) — tf = total occurrences (bag count),
    * df = distinct documents containing the gram. */
  def ngramStats(docs: DataFrame, idCol: String, textCol: String,
      maxN: Int, minTf: Long = 1L): DataFrame = {
    val toks = TextOps.tokens(col(textCol))
    (1 to maxN).map { n =>
      docs.select(col(idCol).as("doc_id"),
          explode(NearDup.wordNgrams(toks, n)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("tf"), countDistinct(col("doc_id")).as("df"))
        .select(lit(n).as("n"), col("gram"), col("tf"), col("df"))
    }.reduce(_.unionByName(_)).filter(col("tf") >= minTf)
  }

  /** Fasttext-style hashed-feature linear scorer: every token hashes into
    * one of `dim` buckets (Spark's seed-42 xxhash64 family), each bucket
    * carries an integer weight, and a document's score is the sum of its
    * tokens' bucket weights — the quality-classifier inference shape
    * (hash -> bucket -> weight -> sum) used to gate web corpora. The
    * weight table here is the frozen deterministic stand-in
    * w(b) = (b mod 21) - 10; in production the bucket indexes a learned
    * vector broadcast to executors, and nothing else changes.
    *
    * `dim` must be a power of two: the bucket is `hash & (dim-1)`, whose
    * low bits are identical for the signed and unsigned readings of the
    * 64-bit hash, so any engine replays it. Shuffle-free: the whole score
    * is one codegen'd HOF projection over the scan (transform + aggregate
    * on the token array — no explode, no aggregation exchange). */
  def hashedLinearScore(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 1024): DataFrame = {
    require((dim & (dim - 1)) == 0, "dim must be a power of two")
    val wts = transform(TextOps.tokens(col(textCol)),
      t => xxhash64(t).bitwiseAND(lit((dim - 1).toLong)) % 21 - 10)
    docs.select(col(idCol).as("doc_id"),
      aggregate(wts, lit(0L), (acc, x) => acc + x).as("score"))
  }

  /** Per-domain quota cap: keep at most `k` documents per stratum under
    * the caller's preference order (e.g. longest-first with an id
    * tie-break) — the crawl-balancing cap that stops one domain from
    * dominating the mix, emitted with each survivor's rank. Same
    * two-level lossless top-k as [[sampleExactK]] (local prune per
    * (stratum, input partition), global rank over ≤ k·nPart survivors),
    * so no task ever ranks a whole domain. `order` must be total —
    * include the unique id last. */
  def capPerStratum(df: DataFrame, stratumCol: String, k: Int,
      order: Seq[Column]): DataFrame = {
    require(!df.columns.contains("__rkl") && !df.columns.contains("rank_in_stratum"),
      "capPerStratum would overwrite an existing __rkl / rank_in_stratum column")
    val wLocal = Window.partitionBy(col(stratumCol), spark_partition_id())
      .orderBy(order: _*)
    val pruned = df.withColumn("__rkl", row_number().over(wLocal))
      .filter(col("__rkl") <= k).drop("__rkl")
    val wGlobal = Window.partitionBy(col(stratumCol)).orderBy(order: _*)
    pruned.withColumn("rank_in_stratum", row_number().over(wGlobal).cast("long"))
      .filter(col("rank_in_stratum") <= k)
  }

  /** Context-window chunking: split each document's token stream into
    * fixed `chunkLen`-token examples (the doc -> training-sample
    * explosion run after cleaning and before shard packing). Emits one
    * row per chunk with its index, token count (== chunkLen except the
    * tail) and re-joined text. A pure per-row array computation —
    * explode-only, shuffle-free, and the chunk arithmetic
    * (ceil(n/chunkLen) slices) is integer-exact in any engine. */
  def chunkTokens(docs: DataFrame, idCol: String, textCol: String,
      chunkLen: Int): DataFrame = {
    require(chunkLen >= 1, s"chunkLen must be >= 1, got $chunkLen")
    val l = chunkLen
    docs.select(col(idCol).as("doc_id"),
        TextOps.tokens(col(textCol)).as("__toks"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), expr(s"(size(__toks) - 1) div $l").cast("int")),
        i => slice(col("__toks"), i * l + 1, lit(l)))))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_id"),
        size(col("col")).cast("long").as("n_tokens"),
        array_join(col("col"), " ").as("chunk_text"))
  }

  /** Token co-occurrence association mining (PMI-style, integerized):
    * for token pairs sharing a document, lift_bp = c12 * N * 10000 div
    * (c1 * c2) — the scaled integer ratio of observed to
    * independence-expected co-occurrence (10000 = independence). A pure
    * integer ordering equivalent to PMI's log without the log, so the
    * ranking replays exactly.
    *
    * Scale posture: tokens below `minDf` document frequency are pruned
    * BEFORE pairing (the df store is one gram-key aggregate), bounding
    * the per-doc pair fan-out; the pair space shuffles on the doc key,
    * pair counts combine map-side. */
  def pmiPairs(docs: DataFrame, idCol: String, textCol: String,
      minDf: Long, topK: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
    val c1 = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minDf)
    val tkf = toks.join(c1.select("tok"), "tok")
    val pairs = tkf.as("a").join(tkf.as("b"),
        col("a.doc_id") === col("b.doc_id") && col("a.tok") < col("b.tok"))
      .groupBy(col("a.tok").as("t1"), col("b.tok").as("t2"))
      .agg(count(lit(1)).as("c12"))
    val nDocs = docs.agg(count(lit(1)).as("n"))
    pairs
      .join(broadcast(c1.select(col("tok").as("t1"), col("c").as("ca"))), "t1")
      .join(broadcast(c1.select(col("tok").as("t2"), col("c").as("cb"))), "t2")
      .crossJoin(broadcast(nDocs))
      // numerator widened to DECIMAL: c12*n*10000 overflows BIGINT at
      // ~1e9-doc corpora (the operator's own target scale); DIV on
      // decimals floors exactly, result fits BIGINT since c12 <= ca, cb
      .select(col("t1"), col("t2"), col("c12"),
        expr("CAST((CAST(c12 AS DECIMAL(22,0)) * n * 10000) DIV " +
          "(CAST(ca AS DECIMAL(22,0)) * cb) AS BIGINT)").as("lift_bp"))
      .orderBy(col("lift_bp").desc, col("t1"), col("t2"))
      .limit(topK)
  }

  /** Training-sequence packing (the GPT-style token-stream chunker that
    * CROSSES document boundaries, unlike [[chunkTokens]] which chunks
    * within a doc): the corpus's token stream — documents concatenated
    * in doc-id order — is cut into fixed `seqLen` sequences, and each
    * (sequence, document) overlap is computed from pure integer
    * arithmetic on the document's global token offset. Returns one row
    * per (doc_id, seq_id) overlap with the token count contributed.
    *
    * The global offset is an EXCLUSIVE prefix sum over doc order —
    * computed at scale as two levels: a per-bucket windowed cumsum
    * (buckets = doc_id ranges, all parallel), plus cumulative BUCKET
    * totals (one row per bucket — metadata-sized, the only unpartitioned
    * window) broadcast back. No single reducer ever sees the per-doc
    * relation, the token stream itself is never materialized, and every
    * number is an exact integer. */
  def packSequences(docs: DataFrame, idCol: String, textCol: String,
      seqLen: Int, bucketSize: Long = 1L << 20): DataFrame = {
    require(seqLen >= 1, s"seqLen must be >= 1, got $seqLen")
    val counts = docs.select(col(idCol).as("doc_id"),
      size(TextOps.tokens(col(textCol))).cast("long").as("n"))
      .filter(col("n") > 0)
      .withColumn("bkt", expr(s"doc_id div $bucketSize"))
    val wLocal = Window.partitionBy("bkt").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = counts
      .withColumn("local_off", coalesce(sum(col("n")).over(wLocal), lit(0L)))
    // Bucket offsets via a SECOND prefix-sum level (super-buckets of
    // 2^10 buckets): the only unpartitioned window runs over one row
    // per super-bucket — nBuckets/1024 rows — so even a 10^12-doc
    // corpus (10^6 buckets) leaves ~1000 rows on the global window.
    val superSize = 1L << 10
    val bn = counts.groupBy("bkt").agg(sum(col("n")).as("bn"))
      .withColumn("sbkt", expr(s"bkt div $superSize"))
    val wBktLocal = Window.partitionBy("sbkt").orderBy("bkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wSuper = Window.orderBy("sbkt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOff = bn.groupBy("sbkt").agg(sum(col("bn")).as("sn"))
      .withColumn("s_off", coalesce(sum(col("sn")).over(wSuper), lit(0L)))
      .select("sbkt", "s_off")
    val bktOff = bn
      .withColumn("bkt_local", coalesce(sum(col("bn")).over(wBktLocal), lit(0L)))
      .join(broadcast(superOff), "sbkt")
      .select(col("bkt"), (col("bkt_local") + col("s_off")).as("bkt_off"))
    local.join(broadcast(bktOff), "bkt")
      .withColumn("off", col("local_off") + col("bkt_off"))
      .select(col("doc_id"), col("n"), col("off"),
        explode(sequence(expr(s"off div $seqLen"),
          expr(s"(off + n - 1) div $seqLen"))).as("seq_id"))
      .select(col("doc_id"), col("seq_id"),
        (least((col("seq_id") + 1) * seqLen, col("off") + col("n")) -
          greatest(col("seq_id") * seqLen, col("off"))).as("n_tokens"))
  }

  /** Bigram language-model document scoring (the KenLM-style fluency
    * filter, integerized): each bigram occurrence (w1 w2) contributes
    * ctx(w1) div c(w1 w2) — the integer reciprocal of the conditional
    * probability P(w2|w1) estimated from the corpus itself — so fluent
    * text (bigrams typical of their context) scores low and improbable
    * sequences score high, with NO floating log anywhere: scores replay
    * exactly in any engine and are partitioning-stable.
    *
    * ctx(w1) = total bigram occurrences starting with w1 (so the
    * conditional distribution sums to 1). Shuffles: the count store is
    * one gram-key aggregate; scoring joins back on the same gram key;
    * the context join rides the w1 key. At 100 TB the store is the
    * persisted [[ngramStats]]-style index and only the scoring joins run
    * per batch. */
  def bigramLmScore(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(NearDup.wordNgrams(TextOps.tokens(col(textCol)), 2))
        .as("gram"))
    val store = grams.groupBy("gram").agg(count(lit(1)).as("c2"))
      .withColumn("w1", substring_index(col("gram"), " ", 1))
    val ctx = store.groupBy("w1").agg(sum(col("c2")).as("c1"))
    grams.join(store, "gram").join(ctx, "w1")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(expr("c1 div c2")).as("lm_score"))
  }

  /** Rare-n-gram document scoring against the corpus document-frequency
    * store: each DISTINCT word n-gram of a document contributes
    * floor(N / df) (N = corpus size; ubiquitous grams add ~1, singleton
    * grams add N) — an integer "surprisal" proxy that needs no floating
    * log, so scores replay exactly in any engine and are stable under
    * any partitioning. Two passes over the corpus (build the df store,
    * then score against it), like [[rebalanceUniform]]; at 100 TB the df
    * relation is the persisted index of [[ngramStats]] and only the
    * scoring join runs per batch, shuffling on the gram key. */
  def rarityScore(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    val grams = docs.select(col(idCol).as("doc_id"),
      explode(array_distinct(NearDup.wordNgrams(
        TextOps.tokens(col(textCol)), n))).as("gram"))
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    grams.join(dfreq, "gram")
      .crossJoin(broadcast(nDocs))
      .groupBy("doc_id")
      .agg(sum(expr("n_docs div df")).as("rarity"))
  }

  /** DSIR-shaped importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): every token hashes
    * into one of `dim` buckets (power of two — the signed/unsigned-proof
    * bucket of [[hashedLinearScore]]), the TARGET subset and the RAW
    * corpus each induce a bucket mass table, and a document's importance
    * is the ratio of its expected target-feature mass to its raw-feature
    * mass, length-normalized by the corpus totals:
    * weight = (Σ_b c(doc,b)·t[b] · Nr) / (Σ_b c(doc,b)·r[b] · Nt).
    * (DSIR proper scores in the log domain; the linear-domain mass ratio
    * keeps every operand an EXACT integer — numerator and denominator are
    * BIGINT sums — so the single closing division is the only float and
    * the ranking replays bit-for-bit in any engine.)
    *
    * Scale shape: the two mass tables are `dim`-row aggregates broadcast
    * into the per-doc join — the corpus shuffles only on (doc, bucket)
    * and doc keys, nothing corpus-sized is ever broadcast, and the
    * hashed-feature trick is exactly what lets DSIR run on a 100 TB raw
    * corpus (the feature space is fixed-size regardless of vocabulary).
    *
    * @param targetPred row predicate defining the target distribution
    * @return top-`k` docs: (doc_id, num, den, weight), weight-desc
    */
  def dsirTopK(docs: DataFrame, idCol: String, textCol: String,
      targetPred: Column, dim: Int = 1024, k: Int = 50): DataFrame = {
    require((dim & (dim - 1)) == 0, "dim must be a power of two")
    val cb = docs.select(col(idCol).as("doc_id"), targetPred.as("pos"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), col("pos"),
        xxhash64(col("tok")).bitwiseAND(lit((dim - 1).toLong)).as("b"))
      .groupBy("doc_id", "pos", "b").agg(count(lit(1)).as("c"))
    val tb = cb.filter(col("pos")).groupBy("b").agg(sum(col("c")).as("t"))
    val rb = cb.groupBy("b").agg(sum(col("c")).as("r"))
    val tot = cb.agg(
      sum(when(col("pos"), col("c")).otherwise(lit(0L))).as("nt"),
      sum(col("c")).as("nr"))
    cb.join(broadcast(tb), Seq("b"), "left")
      .join(broadcast(rb), Seq("b"))
      .groupBy("doc_id")
      .agg(sum(col("c") * coalesce(col("t"), lit(0L))).as("num"),
        sum(col("c") * col("r")).as("den"))
      .crossJoin(broadcast(tot))
      .select(col("doc_id"), col("num"), col("den"),
        ((col("num") * col("nr")).cast("double") /
          (col("den") * col("nt")).cast("double")).as("weight"))
      .orderBy(col("weight").desc, col("doc_id")).limit(k)
  }

  /** Chi-square token–label association (the supervised feature selection
    * behind quality-classifier vocabularies): for each token, the 2×2
    * doc-presence contingency table against a binary label, scored
    * χ² = N·(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)). Every cell is an exact
    * BIGINT doc count (presence, not frequency), the numerator and
    * denominator are exact integer products, and the single closing
    * division is the only float — rankings replay bit-for-bit. Tokens
    * with document frequency outside [minDf, N−minDf] are dropped (the
    * standard df gate; it also keeps the denominator nonzero).
    *
    * One (doc, token)-keyed aggregate over distinct per-doc tokens, one
    * token-keyed aggregate, and a broadcast one-row totals join — at
    * 100 TB the corpus shuffles once on the token key. Integer range:
    * safe to ~5·10⁵ docs in int64 (N·(ad−bc)² ≤ N⁵/16); decimal-widen
    * the two products past that. */
  def chiSquareTerms(docs: DataFrame, idCol: String, textCol: String,
      labelPred: Column, minDf: Int = 5, k: Int = 20): DataFrame = {
    val pairs = docs.select(col(idCol).as("doc_id"), labelPred.as("pos"),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("tok"))
    val tot = docs.agg(count(lit(1)).as("n"),
      sum(labelPred.cast("long")).as("ne"))
    val byTok = pairs.groupBy("tok").agg(
      sum(col("pos").cast("long")).as("a"), count(lit(1)).as("ab"))
    byTok.crossJoin(broadcast(tot))
      .filter(col("ab") >= minDf && col("ab") <= col("n") - minDf)
      .withColumn("b", col("ab") - col("a"))
      .withColumn("c", col("ne") - col("a"))
      .withColumn("d", col("n") - col("ne") - col("b"))
      .withColumn("chi2",
        (col("n") * (col("a") * col("d") - col("b") * col("c"))
          * (col("a") * col("d") - col("b") * col("c"))).cast("double")
        / (col("ab") * (col("n") - col("ab")) * col("ne")
          * (col("n") - col("ne"))).cast("double"))
      .select("tok", "a", "b", "c", "d", "chi2")
      .orderBy(col("chi2").desc, col("tok")).limit(k)
  }

  /** Multinomial naive Bayes classifier (add-one smoothing),
    * integerized: the per-class "surprisal" of a document is
    * Σ_tokens k · ((n_c + V) div (c(tok,c) + 1)) — the floor of the
    * reciprocal smoothed probability, the [[bigramLmScore]] / q134
    * no-floating-log discipline — and the prediction is the argmin
    * class (ties → lexicographically first). Trained and applied on
    * the same labeled corpus (resubstitution), returning the confusion
    * relation (label, pred, n_docs).
    *
    * Shuffle posture at 100 TB: the model is the (class, token) count
    * store — vocabulary-sized, not corpus-sized; class totals and the
    * vocab size are one-row/broadcast relations. Scoring shuffles the
    * per-doc term vectors once on the (class, token) key (k classes
    * replicate the doc-term relation, k small); the argmin is a
    * partial-aggregable min(struct), never a window. */
  def naiveBayesConfusion(docs: DataFrame, idCol: String,
      textCol: String, labelCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("doc_id"),
      col(labelCol).as("cls"),
      explode(TextOps.tokens(col(textCol))).as("tok"))
    val cwc = toks.groupBy("cls", "tok").agg(count(lit(1)).as("cwc"))
    val nc = cwc.groupBy("cls").agg(sum(col("cwc")).as("nc"))
    val vocab = toks.agg(countDistinct(col("tok")).as("v"))
    val dt = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("k"))
    val scored = dt
      .crossJoin(broadcast(nc))
      .crossJoin(broadcast(vocab))
      .join(cwc, Seq("cls", "tok"), "left")
      .groupBy("doc_id", "cls")
      .agg(sum(expr(
        "k * ((nc + v) div (coalesce(cwc, CAST(0 AS BIGINT)) + 1))"))
        .as("surprisal"))
    val pred = scored.groupBy("doc_id")
      .agg(min(struct(col("surprisal"), col("cls"))).as("m"))
      .select(col("doc_id"), col("m.cls").as("pred"))
    docs.select(col(idCol).as("doc_id"), col(labelCol).as("label"))
      .join(pred, "doc_id")
      .groupBy("label", "pred").agg(count(lit(1)).as("n_docs"))
  }

  /** Interpolated Kneser-Ney bigram model statistics (Kneser & Ney 1995;
    * Chen & Goodman 1999 fixed-discount form, d = 1/2): for each bigram
    * (w1, w2) the exact integer ingredients — c(w1 w2), c(w1·),
    * N1+(w1 ·) (distinct continuations of w1, the backoff mass source)
    * and N1+(· w2) (distinct left contexts of w2, the continuation
    * probability numerator) — plus the smoothed probability integerized
    * at `scale` with explicit floor divisions:
    *
    *   p_scaled = ((2·c12 − 1)·scale) div (2·c1)
    *            + (((scale · nContW1) div (2·c1)) · nCtxW2) div nBigrams
    *
    * (both terms are the d = 1/2 discount written in halves; the second
    * is the backoff weight λ(w1) = d·N1+(w1·)/c(w1) times the
    * continuation probability N1+(·w2)/|bigram types|). No floating
    * point anywhere, so the relation replays bit-for-bit in any engine.
    * Everything is bigram-type-keyed: two aggregates over the gram
    * stream plus two vocabulary-sized side relations — the corpus is
    * touched once, the model store is vocabulary-sized. */
  /** Greedy maximum-coverage source selection — the classic (1−1/e)
    * set-cover greedy, run when a budget allows ingesting only k of the
    * corpus' sources and you want the union of their distinct content
    * maximized. Elements are 8-byte gram hashes, so every round's state
    * shuffles longs only; per round ONE anti-join against the picked
    * source's (materialized) element set, one map-side-combined
    * per-source count, and a single min(struct) argmax row to the
    * driver. Ties break on the lexicographically smallest source.
    *
    * @param pairs DISTINCT (source: String, h: Long) element pairs
    * @return (round, source, gained, cum_covered), one row per pick */
  def greedySetCover(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = pairs.sparkSession
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, Long, Long)]
    var cum = 0L
    // Stops on an empty `remaining`: the one state whose pick is null.
    val init = materialize(pairs.select(col("source"), col("h")))
    val run = Bsp(init, if (init.rows == 0) 0 else k,
        done = Bsp.until(_.rows == 0)) { (remaining, r) =>
      val pick = remaining.groupBy("source").agg(count(lit(1)).as("g"))
        .agg(min(struct((-col("g")).as("ng"), col("source").as("s"))).as("m"))
        .select(col("m.s"), (-col("m.ng")).as("g")).head()
      val (src, gained) = (pick.getString(0), pick.getLong(1))
      cum += gained
      out += ((r.toLong, src, gained, cum))
      val covered = remaining.filter(col("source") === src).select("h")
      remaining.filter(col("source") =!= src)
        .join(covered, Seq("h"), "left_anti")
    }
    Bsp.releaseUnread(out.toSeq.toDF("round", "source", "gained", "cum_covered"),
      run.state.df)
  }

  def kneserNeyBigrams(docs: DataFrame, idCol: String, textCol: String,
      scale: Long = 1000000L): DataFrame = {
    val grams = docs.select(
      explode(NearDup.wordNgrams(TextOps.tokens(col(textCol)), 2))
        .as("gram"))
      .select(substring_index(col("gram"), " ", 1).as("w1"),
        substring_index(col("gram"), " ", -1).as("w2"))
    val c12 = grams.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val c1 = c12.groupBy("w1").agg(sum(col("c12")).as("c1"),
      count(lit(1)).as("n_cont"))
    val ctx = c12.groupBy("w2").agg(count(lit(1)).as("n_ctx"))
    val nTypes = c12.agg(count(lit(1)).as("n_types"))
    c12.join(c1, "w1").join(ctx, "w2")
      .crossJoin(broadcast(nTypes))
      .withColumn("p_scaled",
        expr(s"((2*c12 - 1) * ${scale}L) div (2*c1)") +
          expr(s"(((${scale}L * n_cont) div (2*c1)) * n_ctx) div n_types"))
      .select("w1", "w2", "c12", "c1", "n_cont", "n_ctx", "p_scaled")
  }
}
