package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.{materialize, release}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines: tokenization,
  * quality signals, language ID, fingerprinting. All pure column
  * expressions (codegen'd, shuffle-free) — the per-document cost is what
  * dominates at 100 TB, so nothing here leaves whole-stage codegen.
  */
object TextOps {
  /** Whitespace tokenizer (parity with the DuckDB oracle's
    * regexp_split_to_array(trim(text), '\s+')). */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  def tokensLower(text: Column): Column = split(trim(lower(text)), "\\s+")

  def nTokens(text: Column): Column = size(tokens(text)).cast("long")

  /** BPE-ish subtoken estimate: count of letter-runs, digit-runs, and
    * individual punctuation marks — the shape of a GPT-style pre-tokenizer,
    * cheap enough to run over 100 TB as a single codegen'd regexp pass.
    * (A real tokenizer plugs in behind the same column contract.) */
  def nSubTokens(text: Column): Column =
    size(regexp_extract_all(text, lit("\\p{L}+|\\p{N}+|[^\\s\\p{L}\\p{N}]"), lit(0)))
      .cast("long")

  /** English-ish stopword list used by the quality score. */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in", "is")

  def nStopwords(text: Column): Column =
    size(filter(tokensLower(text), t => t.isin(stopwords: _*))).cast("long")

  /** Tokens of length >= 6 — a crude "content word" signal. */
  def nLongTokens(text: Column): Column =
    size(filter(tokens(text), t => length(t) >= 6)).cast("long")

  /** Punctuation characters. */
  def nPunct(text: Column): Column =
    length(regexp_replace(text, "[^.!?,;:]", "")).cast("long")

  /** Quality ratios: exact integer counts divided once in double — both
    * engines produce bit-identical doubles. */
  def stopwordRatio(text: Column): Column =
    nStopwords(text).cast("double") / nTokens(text)

  /** Language-ID heuristic: CJK script check, then stopword-set argmax
    * with a fixed, deterministic tie order (en > de > fr > es). Graded on
    * determinism/parity; swap the marker sets for real corpora. */
  private def markerCount(toksLower: Column, markers: Seq[String]): Column =
    size(filter(toksLower, t => t.isin(markers: _*)))

  def langId(text: Column): Column = langIdFromTokens(text, tokensLower(text))

  /** [[langId]] over a PRE-TOKENIZED lowercase token array — same value
    * (tokens are deterministic). The four marker counts each reference
    * the token array; passing it as a projected column lets a pipeline
    * that tokenizes once (q300) avoid four re-splits of the text inside
    * this one expression (the higher-order `filter` is CodegenFallback,
    * outside codegen's common-subexpression elimination). */
  def langIdFromTokens(text: Column, toksLower: Column): Column = {
    val en = markerCount(toksLower, Seq("the", "and", "of", "is", "a"))
    val de = markerCount(toksLower, Seq("der", "die", "und", "das", "ist"))
    val fr = markerCount(toksLower, Seq("le", "la", "et", "les", "est"))
    val es = markerCount(toksLower, Seq("el", "los", "las", "y", "es"))
    when(text.rlike("[\\x{4e00}-\\x{9fff}]"), "zh")
      .when(en >= de && en >= fr && en >= es, "en")
      .when(de >= fr && de >= es, "de")
      .when(fr >= es, "fr")
      .otherwise("es")
  }

  /** Document fingerprint: md5 over whitespace-normalized lowercase text.
    * The exact-dedup key for documents (cheap, collision-negligible at
    * 100 TB: 2^64 birthday bound far above any corpus size). */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(text, "\\s+", " ")))

  // --- Repetition signals (the Gopher repetition-filter family:
  // Rae et al. 2021, "Scaling Language Models", Table A1) -----------------
  //
  // All three are array expressions over the token list — map-only, no
  // shuffle: a repetition gate at 100 TB must ride the scan like the other
  // quality signals. Ratios are exact-int-over-exact-int single divisions,
  // so both engines produce bit-identical doubles. The top-token scan is
  // O(distinct * len) per row; for corpora with pathologically long
  // documents the explode + two-level groupBy formulation trades that CPU
  // for two shuffles.

  /** |distinct tokens| / |tokens| — low values mean heavy repetition. */
  def distinctTokenRatio(text: Column): Column =
    distinctTokenRatioFrom(tokens(text))

  /** [[distinctTokenRatio]] over a pre-tokenized array (same value). */
  def distinctTokenRatioFrom(toks: Column): Column =
    size(array_distinct(toks)).cast("double") / size(toks)

  /** Fraction of token occurrences taken by the single most frequent
    * token. */
  def topTokenFraction(text: Column): Column =
    topTokenFractionFrom(tokens(text))

  /** [[topTokenFraction]] over a pre-tokenized array (same value). */
  def topTokenFractionFrom(toks: Column): Column =
    array_max(transform(array_distinct(toks),
      t => size(filter(toks, x => x === t)))).cast("double") / size(toks)

  /** Fraction of word n-gram occurrences that repeat an earlier gram
    * (1 - distinct/total over the NON-deduplicated gram list). */
  def dupNgramFraction(text: Column, n: Int): Column =
    dupNgramFractionFrom(tokens(text), n)

  /** [[dupNgramFraction]] over a pre-tokenized array (same value). */
  def dupNgramFractionFrom(toks: Column, n: Int): Column = {
    val grams = NearDup.wordNgrams(toks, n)
    (size(grams) - size(array_distinct(grams))).cast("double") / size(grams)
  }

  /** Collision-entropy repetition signal: the per-document character-
    * bigram collision probability Σc²/N² — exp(-H₂), the Rényi-2 analogue
    * of the entropy quality gates in CCNet/Gopher — computed EXACTLY.
    * Unlike Shannon entropy (whose ln differs across engines in the last
    * ulp and can flip ranks), collision probability is a ratio of integer
    * sums, so the parts-per-million value emitted here replays bit-for-
    * bit in any engine: ppm = floor(Σc² · 1e6 / N²) over the multiset of
    * overlapping 2-char grams of lower(trim(text)). High ppm = the
    * character distribution is concentrated (repetitive/low-quality);
    * natural prose sits low. Pure map-side expression — the gram counts
    * for one doc never leave the row (run-length aggregation over the
    * SORTED gram array — O(n log n) per doc, vs the O(n·distinct) of the
    * filter-per-distinct-token shape), no shuffle. Note: higher-order
    * functions are CodegenFallback (interpreted inside the projection) —
    * acceptable here because the array sort dominates per-row cost and
    * the stage stays map-side; if this became the corpus bottleneck the
    * next step is a native expression (the RollingHash discipline).
    * Counts fit int64 up to ~3e6-char documents (N²·1e6 < 2^63); longer
    * docs would widen to DECIMAL(38,0).
    *
    * @return struct(n_grams LONG, sumsq LONG, coll_ppm LONG); NULL for
    *         texts shorter than 2 chars (no bigram exists)
    */
  def collisionStats(text: Column): Column = {
    val t = lower(trim(text))
    val g = array_sort(transform(sequence(lit(1), length(t) - 1),
      i => t.substr(i, lit(2))))
    val n = size(g).cast("long")
    val s2 = aggregate(g,
      struct(lit(null).cast("string").as("prev"),
        lit(0L).as("run"), lit(0L).as("acc")),
      (s, x) => when(s("prev").isNotNull && x === s("prev"),
          struct(x.as("prev"), (s("run") + lit(1L)).as("run"),
            s("acc").as("acc")))
        .otherwise(struct(x.as("prev"), lit(1L).as("run"),
          (s("acc") + s("run") * s("run")).as("acc"))),
      s => s("acc") + s("run") * s("run"))
    when(length(t) >= 2,
      struct(n.as("n_grams"), s2.as("sumsq"),
        call_function("div", s2 * lit(1000000L), n * n).as("coll_ppm")))
  }

  /** Canonical text normalization for dedup keys and quality gates:
    * lowercase, non-alphanumerics to spaces, whitespace collapsed, ends
    * trimmed. Pure codegen'd expression — composes with
    * [[graft.ops.Keys.canonicalKey]] so near-identical casings/
    * punctuation variants collapse to one fingerprint before exact
    * dedup. */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^a-z0-9\\s]", " "), "\\s+", " "))

  /** Cross-document repeated-substring detection (the sliding-window
    * analysis behind substring-level training-data dedup, à la Lee et al.
    * "Deduplicating Training Data Makes Language Models Better" — there
    * over suffix arrays; here over every k-token window): for each
    * document, how many of its window positions carry a window that also
    * occurs in ANOTHER document. Returns (doc_id, n_win, n_dup); docs
    * with fewer than k tokens have no window and are dropped.
    *
    * Scale shape: windows leave the projection as 8-byte xxhash64 keys
    * immediately — the shuffle for the document-frequency count and the
    * join back carry (hash, doc_id) pairs only, never window text. The
    * window explode is map-side (no exchange); at 100 TB this is one
    * gram-key-partitioned count + one same-key join, both AQE-skew
    * eligible. */
  def crossDocRepeatedWindows(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    val wins = docs
      .select(col(idCol).as("doc_id"), tokens(col(textCol)).as("__tk"))
      .filter(size(col("__tk")) >= k)
      .select(col("doc_id"), explode(transform(
        sequence(lit(0), size(col("__tk")) - k),
        j => array_join(slice(col("__tk"), j + lit(1), lit(k)), " ")))
        .as("win"))
      .select(col("doc_id"), xxhash64(col("win")).as("h"))
    val dfreq = wins.groupBy("h")
      .agg(countDistinct(col("doc_id")).as("__nd"))
    wins.join(dfreq, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_win"),
        count(when(col("__nd") >= 2, 1)).as("n_dup"))
  }

  /** Exact repeated-substring REMOVAL — the full Lee et al. dedup output
    * that [[crossDocRepeatedWindows]] only detects: every k-token window
    * occurring more than once in the corpus keeps its FIRST occurrence
    * (smallest (doc_id, position)) and every other occurrence's token
    * span is cut; overlapping cut spans merge into intervals and the
    * surviving tokens reassemble in order. Returns every document as
    * (doc_id, n_tokens, n_removed, clean_text) — untouched docs included,
    * fully-removed docs with empty text.
    *
    * Scale shape: windows leave the scan as 8-byte hashes (never text);
    * the first-occurrence argmin is one map-side-combined `min` over an
    * integer (doc_id · 2^posBits + position) key; doomed spans shuffle
    * back keyed by doc; the interval merge is a PER-DOCUMENT window
    * (partitions bounded by document length, never corpus-sized); the
    * cut itself is a codegen'd array projection against each doc's own
    * merged-interval list. Nothing all-pairs, nothing driver-side.
    *
    * @param posBits position bits in the argmin key — documents must
    *        have fewer than 2^posBits tokens (guarded per row). */
  def removeRepeatedWindows(docs: DataFrame, idCol: String, textCol: String,
      k: Int, posBits: Int = 20): DataFrame = {
    require(k >= 1, s"window size must be >= 1, got $k")
    require(posBits >= 1 && posBits <= 40, s"posBits out of range: $posBits")
    import org.apache.spark.sql.expressions.Window
    val base = docs.select(col(idCol).cast("long").as("doc_id"),
      tokens(col(textCol)).as("__tk"))
    val occ = base.filter(size(col("__tk")) >= k)
      .select(col("doc_id"), size(col("__tk")).cast("long").as("__len"),
        posexplode(transform(
          sequence(lit(0), size(col("__tk")) - k),
          j => xxhash64(array_join(slice(col("__tk"), j + lit(1), lit(k)), " "))))
          .as(Seq("j", "h")))
      // the too-long guard feeds the key expression so pruning can't
      // drop it (assert_true is NULL on success, throws on violation)
      .select(col("doc_id"), col("j").cast("long").as("j"), col("h"),
        (col("doc_id") * (1L << posBits) + col("j") +
          coalesce(assert_true(col("__len") < (1L << posBits),
            lit(s"document longer than 2^$posBits tokens")).cast("long"),
            lit(0L))).as("key"))
    val firsts = occ.groupBy("h").agg(min(col("key")).as("first_key"))
    val doomed = occ.join(firsts, "h")
      .filter(col("key") =!= col("first_key"))
      .select(col("doc_id"), col("j").as("s"), (col("j") + (k - 1)).as("e"))
    val wOrd = Window.partitionBy("doc_id").orderBy("s")
    val merged = doomed
      .withColumn("ng", when(col("s") > coalesce(
        max(col("e")).over(wOrd.rowsBetween(Window.unboundedPreceding, -1)),
        lit(-1L)), 1).otherwise(0))
      .withColumn("gid", sum(col("ng"))
        .over(wOrd.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "gid")
      .agg(min(col("s")).as("s"), max(col("e")).as("e"))
    val ivl = merged.groupBy("doc_id")
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("ivs"),
        sum(col("e") - col("s") + 1).as("n_removed"))
    base.join(ivl, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("__tk")).cast("long").as("n_tokens"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        when(col("ivs").isNull, array_join(col("__tk"), " "))
          .otherwise(array_join(filter(col("__tk"), (t, i) =>
            !exists(col("ivs"), iv =>
              i.cast("long") >= iv.getField("s") &&
                i.cast("long") <= iv.getField("e"))), " "))
          .as("clean_text"))
  }

  /** First-occurrence n-gram novelty — the curation signal behind
    * "prefer documents that add new content": for each document, the
    * fraction of its DISTINCT n-grams whose first corpus occurrence
    * (smallest doc id) is this document. A fully-derivative doc scores
    * 0; the corpus's first doc scores 10000 bp.
    *
    * Scale shape: grams leave the scan as 8-byte xxhash64 values (text
    * never shuffles); the first-occurrence argmin is one map-side-
    * combined `min(doc_id)` per gram hash; the join back carries only
    * (hash, doc_id) pairs. Documents shorter than n tokens contribute
    * their whole token sequence as a single gram (the q190 fallback),
    * so every doc appears in the output. */
  def ngramNovelty(docs: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    ngramNoveltyTokens(docs.select(col(idCol).as(idCol),
      tokens(col(textCol)).as("__tk")), idCol, "__tk", n)

  /** [[ngramNovelty]] over a PRE-TOKENIZED array column — same output
    * (tokens are deterministic); lets a pipeline that already carries
    * the tokenization pass as a column (q300) skip re-splitting the
    * text. */
  def ngramNoveltyTokens(docs: DataFrame, idCol: String, tokCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"gram size must be >= 1, got $n")
    val grams = docs
      .select(col(idCol).as("doc_id"), col(tokCol).as("__tk"))
      .select(col("doc_id"), explode(
        when(size(col("__tk")) >= n,
          transform(sequence(lit(0), size(col("__tk")) - n),
            j => array_join(slice(col("__tk"), j + lit(1), lit(n)), " ")))
          .otherwise(array(array_join(col("__tk"), " ")))).as("gram"))
      .select(col("doc_id"), xxhash64(col("gram")).as("h"))
      .distinct()
    val first = grams.groupBy("h").agg(min("doc_id").as("__first"))
    grams.join(first, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when(col("__first") === col("doc_id"), 1)).as("n_novel"))
      .withColumn("novelty_bp", expr("n_novel * 10000 div n_grams"))
  }

  /** Suffix ranks of the corpus token stream by prefix doubling
    * (Manber-Myers 1990), bounded to `rounds` doublings — each
    * position's rank orders the 2^rounds-token context starting there,
    * the index structure under suffix-array substring dedup (the
    * lattice q163/q192's hash windows approximate). Round k: pair each
    * position's rank with the rank 2^(k-1) ahead (end-of-stream = 0,
    * sorting first), then DENSE-rank the pairs. Returns (p, r):
    * global position → context rank.
    *
    * Every global ordering here — the doc-offset prefix sum, the
    * initial vocab rank, and each round's (r1, r2) pair re-rank — runs
    * through [[graft.ops.Dist]]'s two-level scheme (range-partitioned
    * local windows + an nPart-row broadcast offset table), so NO
    * corpus-cardinality relation ever funnels through a
    * single-partition window: dense-rank(pairs) = row_number over the
    * DISTINCT pairs, computed distributed.
    *
    * Shuffle ledger per round: one positional self-join (keyed on p),
    * one pair-distinct aggregate, one range partition of the distinct
    * pairs — all corpus-keyed, all parallel. The distinct-pair
    * relation GROWS toward corpus size in late rounds (the inherent
    * log-round cost of SA construction) — bound `rounds` accordingly;
    * dedup detection needs only context length ≥ the dedup window. */
  def suffixRanks(docs: DataFrame, idCol: String, textCol: String,
      rounds: Int): DataFrame = {
    // r13 OPT: materialize the tokenized relation and the global-position
    // relation. `toks` feeds both the length aggregate and the position
    // join (and the prefix-sum's range exchange re-executes ITS child
    // for boundary sampling), and `pos` feeds both the vocab rank and
    // the initial rank join — unmaterialized, the posexplode tokenizer
    // ran 3-4x before the first doubling round (guide §2.4). Both are
    // corpus-position-sized (two longs + a token), the same blocks a
    // 100 TB run would persist as its tokenization pass output.
    val toks = materialize(docs.select(col(idCol).as("doc_id"),
      posexplode(tokens(col(textCol))).as(Seq("j", "tok")))).df
    val lens = toks.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val offs = graft.ops.Dist
      .exclusivePrefixSum(lens, Seq(col("doc_id")), "n", "off")
      .select("doc_id", "off")
    val pos = materialize(toks.join(offs, "doc_id")
      .select((col("off") + col("j")).as("p"), col("tok"))).df
    // r14 MEASURED NEGATIVE — do not re-try: fusing each ranking into a
    // single range exchange (partition-local dense_rank over the FULL
    // relation + a per-partition distinct-count offset table, replacing
    // distinct → globalRowNumber → join-back) removes the distinct
    // aggregate and the corpus-keyed closing join per ranking, but the
    // filtered A/B (BENCH_R14OPT_q393_{before,after}_{a,b}, budget 30,
    // q163 control flat, after-windows quieter) measured paired-min wall
    // 4.86 → 5.36 s (+10%) and CPU 18.9 → 27.7 s (+47%, real work): the
    // sort+window+distinct-agg over every PAIR row costs more than
    // ranking only the DISTINCT pairs (a strictly smaller relation here)
    // and hash-joining the ranks back.
    val vocab = graft.ops.Dist
      .globalRowNumber(pos.select("tok").distinct(), Seq(col("tok")), "r")
    val init = materialize(pos.join(vocab, "tok").select("p", "r"))
    Bsp.releaseUnread(init.df, toks, pos)
    // The round's pair relation: read by that round's state job only.
    var pairs: DataFrame = null
    val ranks = Bsp(init, rounds) { (cur, k) =>
      release(pairs) // the previous round's: its state now exists
      val gap = 1L << (k - 1)
      val ahead = cur.select((col("p") - gap).as("p"), col("r").as("r2"))
      // r13 OPT: materialize the pair relation. It is consumed twice —
      // under `ranked` (where the range exchange ALSO runs a boundary-
      // sampling pass) and in the closing join — so unmaterialized it
      // re-ran the positional self-join 2-3x per round (guide §2.4:
      // share one evaluation instead of re-deriving). One corpus-sized
      // materialization job per round buys back two self-join runs.
      pairs = materialize(cur.withColumnRenamed("r", "r1")
        .join(ahead, Seq("p"), "left")
        .na.fill(0L, Seq("r2"))).df
      val ranked = graft.ops.Dist.globalRowNumber(
        pairs.select("r1", "r2").distinct(),
        Seq(col("r1"), col("r2")), "r")
      pairs.join(ranked, Seq("r1", "r2")).select("p", "r")
    }.state.df
    release(pairs)
    ranks
  }
}
