package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.materialize
import org.apache.spark.sql.functions._

/** Near-duplicate detection: exact n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: every variant is built around a shuffle on a SMALL
  * blocking key (shared n-gram, LSH band bucket, SimHash chunk) so the
  * candidate set — never the full pair cross-product — is what gets
  * compared. The exact Jaccard join is the verification/baseline path;
  * MinHash-LSH and SimHash are the 100 TB paths (candidate generation is
  * linear in corpus size for bounded bucket sizes).
  */
object NearDup {
  /** Word n-grams over whitespace tokens (cased — parity with the oracle).
    *
    * Built as a fold of zip_withs against shifted views of the token array:
    * gram_i = toks[i] + " " + toks[i+1] + ... — O(len) array operations per
    * document instead of the O(len*n) per-gram slicing of the naive
    * transform(sequence)(slice) formulation (zip_with null-pads the shorter
    * side; nulls propagate through concat and are filtered at the end). */
  def wordNgrams(toks: Column, n: Int): Column = {
    val joined = (1 until n).foldLeft(toks) { (acc, k) =>
      zip_with(acc, slice(toks, lit(k + 1), size(toks)),
        (a, b) => concat(a, lit(" "), b))
    }
    when(size(toks) >= n, filter(joined, g => g.isNotNull))
      .otherwise(array(array_join(toks, " ")))
  }

  private def gramsOf(docs: DataFrame, idCol: String, textCol: String, n: Int) =
    docs.select(col(idCol).as("doc_id"),
        explode(array_distinct(wordNgrams(TextOps.tokens(col(textCol)), n))).as("gram"))

  /** Exact n-gram Jaccard similar pairs (doc_id ordered, jaccard >= tau).
    * Inverted-index join on the gram: only docs sharing at least one gram
    * ever meet. The join key is the gram's 64-bit hash, not the string —
    * an 8-byte shuffle key instead of ~20-byte text (collision odds among
    * distinct grams are ~|grams|^2 / 2^65 — vanishing, and a collision
    * only merges two gram postings). Output: d1, d2, jaccard (exact int
    * counts, one double division — deterministic across engines).
    *
    * `maxDf` caps a gram's document frequency before candidate generation
    * (stop-gram pruning): a gram appearing in f documents emits f(f-1)/2
    * candidate pairs from one posting list, so a single ubiquitous gram is a
    * quadratic blowup — the cap bounds every posting list. Recall contract
    * under a cap: per-document sizes are still computed from the UNPRUNED
    * index, but n_common counts only kept grams, so the reported jaccard is
    * a lower bound and a pair whose shared grams are all above the cap is
    * missed. maxDf = None disables pruning (exact; the verification
    * baseline for the LSH/SimHash variants). */
  def jaccardPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double, maxDf: Option[Long] = None): DataFrame = {
    // The gram index feeds several plan branches (both join sides, sizes,
    // the df filter): evaluate it once. At 100 TB this is the persisted
    // inverted index. `persist`, not `materialize`: the one job computing
    // `res` fills it (no job of its own), and it lives only until then.
    val grams = gramsOf(docs, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val index = maxDf.fold(grams) { cap =>
      val kept = grams.groupBy("gram").agg(count(lit(1)).as("__df"))
        .filter(col("__df") <= cap).select("gram")
      grams.join(kept, "gram")
    }
    val inter = index.as("a")
      .join(index.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_common"))
    // No broadcast hint on sizes: it has one row per document, which is
    // unbounded at corpus scale — AQE broadcasts it only when it actually
    // fits, and shuffle-joins otherwise.
    val out = inter
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("sz1") + col("sz2") - col("n_common")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("jaccard"))
    // Materialize the (small — pairs above tau) result eagerly so the
    // gram-index cache can be released instead of accumulating across
    // queries in a long-lived session.
    val res = materialize(out).df
    grams.unpersist()
    res
  }

  /** Exact n-gram CONTAINMENT pairs — the asymmetric near-dup relation
    * Jaccard misses: containment(sub→sup) = |grams(sub) ∩ grams(sup)| /
    * |grams(sub)| flags a short document whose content is (mostly) a
    * SUBSET of a longer one (quotes, excerpts, wrapper pages around a
    * syndicated body) even when the symmetric Jaccard is tiny because
    * the container is much larger. Broder's containment coefficient —
    * the relation behind "this doc is an excerpt of that one" dedup
    * policies (keep the superset, drop the fragment).
    *
    * Same inverted-index discipline as [[jaccardPairs]] (8-byte gram
    * hashes, one undirected intersection count per candidate pair);
    * both DIRECTED rows derive from the single symmetric n_common, and
    * the threshold is an exact integer cross-multiply
    * (100·n_common >= minPct·sz_sub) — no float compare in the gate.
    *
    * @param minPct containment threshold in percent (e.g. 80)
    * @return (d_sub, d_sup, n_common, sz_sub) — directed: d_sub's grams
    *         are >= minPct% contained in d_sup's */
  def containmentPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, minPct: Int): DataFrame = {
    require(minPct > 0 && minPct <= 100, s"minPct in (0,100], got $minPct")
    // Persisted for the one job computing `res`, as in [[jaccardPairs]].
    val grams = gramsOf(docs, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = grams.as("a")
      .join(grams.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_common"))
      .join(sizes.select(col("doc_id").as("d1"), col("sz").as("sz1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("sz").as("sz2")), "d2")
    val directed = inter
      .select(col("d1").as("d_sub"), col("d2").as("d_sup"),
        col("n_common"), col("sz1").as("sz_sub"))
      .union(inter.select(col("d2"), col("d1"), col("n_common"), col("sz2")))
      .filter(col("n_common") * 100 >= lit(minPct) * col("sz_sub"))
    val res = materialize(directed).df
    grams.unpersist()
    res
  }

  /** Exact n-gram Jaccard similar pairs via PREFIX FILTERING (the
    * AllPairs/PPJoin candidate scheme — Bayardo et al., WWW'07): same
    * output as [[jaccardPairs]], subquadratic candidate generation.
    *
    * Grams get a global canonical order, rarest-first (df asc, gram hash as
    * tie-break — a total order). A document of sz distinct grams indexes
    * only its first `sz - ceil(tau*sz) + 1` grams in that order (its
    * "prefix"): two documents with J >= tau overlap in at least
    * ceil(tau/(1+tau)*(sz1+sz2)) grams, which forces their prefixes to
    * intersect — so the prefix-prefix join finds every qualifying pair, no
    * false negatives. Candidates are then verified with the exact
    * intersection count (array_intersect over the per-doc sorted gram-hash
    * arrays) and the same jaccard formula, so results are bit-identical to
    * the naive inverted-index join.
    *
    * Why this is THE 100 TB shape: the naive index meets every pair sharing
    * ANY gram — a ubiquitous trigram appearing in f docs contributes
    * f(f-1)/2 pairs regardless of tau. Under prefix filtering a hot gram is
    * LAST in the canonical order and enters almost no prefixes, so posting
    * lists shrink with df and with tau (at tau=0.8 only ~20% of each doc is
    * indexed) — the stop-gram blowup disappears with zero recall loss,
    * unlike the lossy `maxDf` cap. A length filter
    * (sz1 >= ceil(tau*sz2)) prunes candidates before verification.
    *
    * Crossover: the scheme pays for its extra passes (df join, per-doc
    * window, array verification) with pruning, so it wins for high tau
    * (~0.7+) or skewed gram frequencies; at low tau on short-document
    * corpora the plain inverted index of [[jaccardPairs]] is cheaper
    * (measured at sf0.1: tau=0.8 1.5x faster here, tau=0.5 2x slower). */
  def jaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String,
      n: Int, tau: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Persisted for the one job computing `res`, as in [[jaccardPairs]].
    val grams = gramsOf(docs, idCol, textCol, n)
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sizes = grams.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val dfreq = grams.groupBy("gram").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("gram"))
    val prefix = grams.join(dfreq, "gram")
      .withColumn("rn", row_number().over(w))
      .join(sizes, "doc_id")
      .filter(col("rn") <= col("sz") - ceil(lit(tau) * col("sz")) + 1)
      .select(col("doc_id"), col("gram"), col("sz"))
    val cand = prefix.as("a")
      .join(prefix.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J >= tau requires tau*max <= min
          col("a.sz") >= ceil(lit(tau) * col("b.sz")) &&
          col("b.sz") >= ceil(lit(tau) * col("a.sz")))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    // Verification: exact intersection over per-doc sorted gram arrays.
    // Only candidate pairs (already near-tau by construction) carry arrays
    // through a join — the wide data never rides the quadratic step.
    val docGrams = grams.groupBy("doc_id")
      .agg(sort_array(collect_list(col("gram"))).as("gs"),
        count(lit(1)).as("sz"))
    val out = cand
      .join(docGrams.select(col("doc_id").as("d1"), col("gs").as("g1"),
        col("sz").as("sz1")), Seq("d1"))
      .join(docGrams.select(col("doc_id").as("d2"), col("gs").as("g2"),
        col("sz").as("sz2")), Seq("d2"))
      .withColumn("n_common", size(array_intersect(col("g1"), col("g2"))).cast("long"))
      .withColumn("jaccard",
        col("n_common").cast("double") / (col("sz1") + col("sz2") - col("n_common")))
      .filter(col("jaccard") >= tau)
      .select(col("d1"), col("d2"), col("jaccard"))
    val res = materialize(out).df
    grams.unpersist()
    res
  }

  /** MinHash + LSH banding: signatures of k = bands*rowsPerBand hashes,
    * banded; docs sharing any band bucket become candidates; candidates are
    * scored by signature agreement (estimated Jaccard) and thresholded.
    *
    * Signature computation: each gram is hashed once to a long, and hash
    * family i is xxhash64(i, gramHash) — rehashing a scalar, so no
    * arithmetic that could overflow under ANSI mode. The signature is then
    * k min-aggregates over the exploded (doc, gram) stream — one shuffle,
    * all-codegen, no nested array recomputation. (A naive per-row
    * transform-of-transform recomputes the gram array k times and falls
    * out of codegen — 30x slower at sf0.01.)
    *
    * Probability a pair with true Jaccard s becomes a candidate:
    * 1 - (1 - s^r)^b — with b=16, r=4: >0.99 for s>=0.8.
    * Output: d1, d2, est_jaccard. */
  /** The (doc_id, sig) MinHash signature frame — ONE shuffle of k
    * codegen'd min-aggregates over the exploded gram stream. This is the
    * frame a production corpus PERSISTS as its near-dup index (k longs
    * per document); [[minhashLshPairs]] builds it on the fly, and
    * [[minhashLshAgainstIndex]] dedups a new batch against a stored one. */
  def minhashSignatures(docs: DataFrame, idCol: String, textCol: String,
      n: Int, k: Int): DataFrame = {
    val hashed = gramsOf(docs, idCol, textCol, n).select(
      col("doc_id"),
      xxhash64(col("gram")).as("h"))
    val minAggs = (0 until k).map(i =>
      min(xxhash64(lit(i), col("h"))).as(s"__m$i"))
    hashed.groupBy("doc_id")
      .agg(minAggs.head, minAggs.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Distinct LSH candidate pairs under one (bands, rowsPerBand) banding
    * of an existing signature frame — the tuning-sweep surface: a corpus
    * persists ONE k-hash signature index and evaluates several bandings
    * against it without re-scanning text (each banding is a slice-and-
    * rehash of the k longs per doc). Pairs are (d1 < d2), pre-
    * verification — exactly what a banding's candidate volume and
    * recall are measured on. */
  def lshCandidatePairs(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val banded = bandedOf(sigs, bands, rowsPerBand)
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
  }

  /** (doc_id, band, bucket) LSH banding of a signature frame; the bucket
    * is the 64-bit hash of the band's signature slice (an 8-byte join
    * key, not an r-long array). */
  private def bandedOf(sigs: DataFrame, bands: Int,
      rowsPerBand: Int): DataFrame = {
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  private def scorePairs(cand: DataFrame, sigs1: DataFrame, sigs2: DataFrame,
      k: Int, tau: Double): DataFrame =
    cand
      .join(sigs1, Seq("d1"))
      .join(sigs2, Seq("d2"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig1"), col("sig2"), (x, y) => x === y),
          b => b)).cast("double") / lit(k))
      .filter(col("est_jaccard") >= tau)
      .select(col("d1"), col("d2"), col("est_jaccard"))

  def minhashLshPairs(docs: DataFrame, idCol: String, textCol: String,
      n: Int, bands: Int, rowsPerBand: Int, tau: Double): DataFrame = {
    val k = bands * rowsPerBand
    // Materialize the signature index once (one row + k longs per doc — the
    // persisted MinHash index at corpus scale): the banding self-join below
    // would otherwise recompute the whole gram->signature aggregation on
    // BOTH join sides. Persisted, not materialized: the one job computing
    // `res` fills it, and it is released right after, like the jaccard path.
    val sigs = minhashSignatures(docs, idCol, textCol, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Buckets carry ONLY ids: candidate pairs dedup on two longs, and the
    // k-long signature arrays are re-attached afterwards for scoring —
    // the same shuffle discipline as the embedding LSH path.
    val banded = bandedOf(sigs, bands, rowsPerBand)
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    val out = scorePairs(cand,
      sigs.select(col("doc_id").as("d1"), col("sig").as("sig1")),
      sigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), k, tau)
    // Eager-materialize the small pair set, then release the sig cache.
    val res = materialize(out).df
    sigs.unpersist()
    res
  }

  /** INCREMENTAL MinHash-LSH: near-dup matches of a NEW batch against a
    * persisted corpus signature index (`corpusSigs`: (doc_id, sig) as
    * produced by [[minhashSignatures]]) — the daily-crawl flow. Only the
    * batch is re-signed; the corpus text is never touched, and the band
    * join is batch-bands × corpus-bands (|batch|·bands rows against the
    * index — linear in the batch, not the corpus). Output: (d1 = batch
    * doc, d2 = corpus doc, est_jaccard >= tau). */
  def minhashLshAgainstIndex(batch: DataFrame, idCol: String, textCol: String,
      corpusSigs: DataFrame, n: Int, bands: Int, rowsPerBand: Int,
      tau: Double): DataFrame = {
    val k = bands * rowsPerBand
    // Persisted for the one job computing `res`, as in [[jaccardPairs]].
    val bSigs = minhashSignatures(batch, idCol, textCol, n, k)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cand = bandedOf(bSigs, bands, rowsPerBand).as("a")
      .join(bandedOf(corpusSigs, bands, rowsPerBand).as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .dropDuplicates("d1", "d2")
    val out = scorePairs(cand,
      bSigs.select(col("doc_id").as("d1"), col("sig").as("sig1")),
      corpusSigs.select(col("doc_id").as("d2"), col("sig").as("sig2")), k, tau)
    val res = materialize(out).df
    bSigs.unpersist()
    res
  }

  /** 64-bit SimHash signatures per document: per bit, the sign of the sum
    * of +-1 votes from each token occurrence's hash bit (term-frequency
    * weighted, the standard formulation).
    *
    * Computed as explode -> one hash per token -> 64 codegen'd sums in a
    * single groupBy — the same one-shuffle shape as the MinHash signatures.
    * (A per-row expression tree with 64 nested aggregates over the token
    * array stays interpreted and is ~10x slower.) */
  def simhashSignatures(docs: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val hashed = docs.select(col(idCol).as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("tok"))
      .select(col("doc_id"), xxhash64(col("tok")).as("h"))
    val bitSums = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(1) === 1, 1L).otherwise(-1L))
        .as(s"__b$i"))
    val agg = hashed.groupBy("doc_id").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until 64).foldLeft(lit(0L))((acc, i) =>
      shiftleft(acc, 1) + when(col(s"__b$i") > 0, 1L).otherwise(0L))
    agg.select(col("doc_id"), sig.as("sig"))
  }

  /** SimHash near-dup pairs with Hamming distance <= maxDist, found via
    * 16-bit chunk blocking. Exact for maxDist <= 3 (pigeonhole: a pair
    * within Hamming 3 of a 64-bit signature shares at least one of its four
    * 16-bit chunks). */
  def simhashPairs(docs: DataFrame, idCol: String, textCol: String,
      maxDist: Int): DataFrame = {
    require(maxDist <= 3, "chunk blocking is exact only for maxDist <= 3")
    // Persisted for the one job computing `res`, as in [[jaccardPairs]].
    val sigs = simhashSignatures(docs, idCol, textCol)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val chunkStructs = (0 until 4).map { j =>
      struct(lit(j).as("chunk_id"),
        shiftright(col("sig"), j * 16).bitwiseAND(0xFFFFL).as("chunk"))
    }
    val chunked = sigs.select(col("doc_id"), col("sig"),
      explode(array(chunkStructs: _*)).as("cc"))
      .select(col("doc_id"), col("sig"),
        col("cc.chunk_id").as("chunk_id"), col("cc.chunk").as("chunk"))
    val out = chunked.as("a")
      .join(chunked.as("b"),
        col("a.chunk_id") === col("b.chunk_id") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        expr("bit_count(a.sig ^ b.sig)").as("hamming"))
      .dropDuplicates("d1", "d2")
      .filter(col("hamming") <= maxDist)
    // Eager-materialize the small pair set, then release the signature cache.
    val res = materialize(out).df
    sigs.unpersist()
    res
  }

  /** Edit-distance-1 string pair join via DELETION-NEIGHBORHOOD blocking
    * (the entity-resolution / fuzzy-key-dedup primitive): two strings are
    * within one edit (substitution, insertion, or deletion) iff they
    * share a key in {full string} ∪ {every 1-deletion variant} — a
    * substitution at position i makes del_i(a) = del_i(b), an
    * insertion/deletion makes one full string a deletion variant of the
    * other. Candidates sharing any key are verified with an exact
    * `levenshtein` filter, so false candidates (shared variant at
    * different positions, e.g. transpositions) cost only the check,
    * never a wrong pair — and no true pair can be missed.
    *
    * Scale shape: |s|+1 keys per string leave the projection map-side;
    * the candidate join shuffles (key, string) pairs — equivalent to the
    * n-gram inverted-index join of [[jaccardPairs]], and quadratic only
    * within a shared-key bucket (near-identical strings), never globally.
    * The naive alternative is the full cross join this operator exists
    * to avoid. */
  def editDistance1Pairs(df: DataFrame, strCol: String): DataFrame = {
    val names = df.select(col(strCol).as("name")).na.drop().distinct()
    val keyed = names.select(col("name"),
      explode(deletionKeys(col("name"))).as("key"))
    keyed.as("a").join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.name") < col("b.name"))
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"))
      .dropDuplicates("name_a", "name_b")
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
  }

  /** {full string} ∪ {1-deletion variants}, per-row deduplicated:
    * deleting any character of a repeated run yields the same variant
    * (e.g. the zero-runs of zero-padded ids), and without the
    * `array_distinct` each duplicated (name, key) row inflates the
    * candidate join output m² — measured 5x candidate volume on
    * sequential-id name spaces. The dedup is a map-side array op, never
    * a shuffle. */
  private def deletionKeys(name: Column): Column = {
    val dels = transform(sequence(lit(1), length(name)),
      i => concat(name.substr(lit(1), i - 1),
        name.substr(i + 1, length(name))))
    array_distinct(concat(array(name), dels))
  }

  /** Edit-distance-≤1 match EDGES at id granularity, block-gated at the
    * candidate join: rows pair only when they share a deletion key AND
    * the blocking column (candidates outside the block are never
    * generated, vs. generating globally and filtering after — on a
    * 25-block key space that is a 25x cut in join output). Returns
    * (src, dst) id pairs with strCol_a < strCol_b, exact-verified with
    * `levenshtein`. The id-pair dedup shuffles two longs per candidate;
    * strings ride along only into the final verification filter. */
  def editDistance1Edges(df: DataFrame, idCol: String, strCol: String,
      blockCol: String): DataFrame = {
    val keyed = df.select(col(idCol).as("id"), col(blockCol).as("blk"),
        col(strCol).as("name")).na.drop()
      .select(col("id"), col("blk"), col("name"),
        explode(deletionKeys(col("name"))).as("key"))
    keyed.as("a").join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.blk") === col("b.blk") &&
          col("a.name") < col("b.name"))
      .select(col("a.id").as("src"), col("b.id").as("dst"),
        col("a.name").as("name_a"), col("b.name").as("name_b"))
      .dropDuplicates("src", "dst")
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select("src", "dst")
  }

  /** SymSpell-style edit-distance-≤2 pair join — [[editDistance1Pairs]]
    * extended one deletion deeper: levenshtein(a,b) ≤ 2 implies a and b
    * share a key in {full} ∪ {1-deletions} ∪ {2-deletions} (delete the
    * edited positions on each side), so the ≤2-deletion neighborhoods
    * are a LOSSLESS blocker and the exact `levenshtein` verify only
    * discards, never misses. Returns (name_a, name_b, dist), a < b.
    *
    * Scale shape: 1 + |s| + C(|s|,2) keys per string (map-side, deduped
    * per row — zero-padded id spaces collapse hard without it); the
    * candidate join is quadratic only within a shared-variant bucket.
    * Hot buckets (a short variant reachable from many strings, e.g. the
    * all-zeros prefix of sequential ids) bound the work, so for open
    * name spaces gate the join with an additional block column as in
    * [[editDistance1Edges]].
    *
    * Scope note (q368): the registered query feeds this a DISCLOSED
    * deterministic 1-in-16 dictionary slice — the testdata's
    * sequential zero-padded names make the TRUE ≤2-edit answer itself
    * quadratic (~4M pairs at sf0.1; any engine pays that output), and
    * the query demonstrates the lossless blocking, not a 4M-row result
    * set. The operator is unsliced and lossless. */
  def symDeletePairs(df: DataFrame, strCol: String): DataFrame = {
    // The dictionary gets a dense 8-byte id (monotonically_increasing_id
    // is nondeterministic across recomputes, so the frame is
    // materialized once), and the quadratic candidate stage generates
    // and dedups two-LONG id pairs — the full-string pairs the old form
    // shuffled were ~5x the bytes at the hot-bucket candidate volumes
    // sequential-id name spaces produce. Strings re-attach (dictionary-
    // sized broadcast joins) only for the exact verify, reoriented so
    // name_a < name_b as before. The key relation is materialized too:
    // the planner estimates an explode at its input's size, ~C(|s|,2)
    // times too small here, and would broadcast the self-join's side on
    // that estimate; exact statistics decide it on the real size.
    val names = materialize(
      df.select(col(strCol).as("name")).na.drop().distinct()
        .withColumn("nid", monotonically_increasing_id())).df
    val keyed = materialize(names.select(col("nid"),
      explode(deletionKeys2(col("name"))).as("key"))).df
    val candIds = keyed.as("a").join(keyed.as("b"),
        col("a.key") === col("b.key") && col("a.nid") < col("b.nid"))
      .select(col("a.nid").as("na"), col("b.nid").as("nb"))
      .dropDuplicates("na", "nb")
    candIds
      .join(names.select(col("nid").as("na"), col("name").as("x")), "na")
      .join(names.select(col("nid").as("nb"), col("name").as("y")), "nb")
      .select(least(col("x"), col("y")).as("name_a"),
        greatest(col("x"), col("y")).as("name_b"))
      .withColumn("dist", levenshtein(col("name_a"), col("name_b")))
      .filter(col("dist") <= 2)
  }

  /** {full} ∪ {1-deletion} ∪ {2-deletion} variants, per-row deduplicated
    * (see [[deletionKeys]]). The 2-deletion set deletes positions i < j;
    * guarded for |s| < 2 because Spark's `sequence(a, b)` DESCENDS when
    * b < a instead of returning empty. */
  private def deletionKeys2(name: Column): Column = {
    val del2 = flatten(transform(sequence(lit(1), length(name) - 1), i =>
      transform(sequence(i + 1, length(name)), j =>
        concat(name.substr(lit(1), i - 1),
          name.substr(i + 1, j - i - 1),
          name.substr(j + 1, length(name))))))
    array_distinct(concat(
      deletionKeys(name),
      when(length(name) >= 2, del2).otherwise(array())))
  }
}
