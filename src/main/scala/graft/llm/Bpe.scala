package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.GraftSqlBridge.materialize
import org.apache.spark.sql.functions._

/** Merges-table-driven BPE encoder — the real subword tokenizer a
  * training-data pipeline budgets token counts with (SURVEY §2 LLM text
  * analysis; upgrades TextOps.nSubTokens from an estimate to an encode).
  *
  * Algorithm (Sennrich et al. 2016, "Neural Machine Translation of Rare
  * Words with Subword Units" — public domain algorithm): each whitespace
  * word is split to characters, then every merge rule is applied in rank
  * order, rewriting adjacent symbol pairs (a, b) into the concatenated
  * symbol ab; the surviving symbols are the subword tokens, mapped to ids
  * through the vocabulary (base alphabet first, then one id per merge, in
  * rank order; unknown symbols -> -1).
  *
  * Representation: a word's symbol sequence is a single-space-delimited
  * string with leading/trailing spaces (" t h e "), and one merge
  * application is the literal string replace " a b " -> " ab ", applied
  * twice per rank (a second pass catches back-to-back matches whose
  * shared separator the first non-overlapping scan consumed). Literal
  * replace has identical left-to-right non-overlapping semantics in every
  * engine, so the DuckDB oracle replays the merge loop EXACTLY — no
  * hashing, no floating point, no locale.
  *
  * Scale shape: the whole encode is ONE shuffle-free codegen'd projection
  * (per-doc cost only — the same posture as TextOps); the merges table is
  * compiled into the expression, the 100 TB analogue of broadcasting a
  * tokenizer model file to executors.
  */
object Bpe {

  /** The merges fixture: rank-ordered (a, b) -> a+b rules over the
    * lowercase corpus alphabet. Hand-written for the testdata vocabulary
    * (English-ish digraphs first, then word-piece compositions) — the
    * shape of a real merges.txt, sized for an inlineable oracle. */
  val merges: Seq[(String, String)] = Seq(
    ("t", "h"), ("th", "e"), ("e", "r"), ("i", "n"), ("o", "r"),
    ("a", "t"), ("s", "t"), ("a", "r"), ("o", "w"), ("l", "e"),
    ("a", "n"), ("a", "l"), ("r", "o"), ("u", "p"), ("g", "g"),
    ("s", "m"), ("b", "at"), ("j", "o"), ("jo", "in"), ("d", "up"))

  /** Base alphabet (ids 0..25), then merge outputs (26 + rank). */
  val vocab: Map[String, Int] = {
    val base = ('a' to 'z').map(_.toString).zipWithIndex.toMap
    base ++ merges.zipWithIndex.map { case ((a, b), r) => (a + b, 26 + r) }
  }
  val inverseVocab: Map[Int, String] = vocab.map(_.swap)

  /** Symbol sequence of one word after the full merge loop, as the
    * spaced-string representation. */
  private def foldedWord(w: Column): Column = {
    val spaced = concat(lit(" "), array_join(split(w, ""), " "), lit(" "))
    merges.foldLeft(spaced) { case (s, (a, b)) =>
      val p = s" $a $b "
      val r = s" ${a + b} "
      // two passes per rank: see class doc
      replace(replace(s, lit(p), lit(r)), lit(p), lit(r))
    }
  }

  /** Subword token strings of one word (array<string>). */
  def wordTokens(w: Column): Column = split(trim(foldedWord(w)), " ")

  /** Subword token strings of a whole document, in order. */
  def docTokens(text: Column): Column =
    flatten(transform(TextOps.tokens(text), w => wordTokens(w)))

  /** Token ids of a whole document (unknown symbol -> -1). */
  def docTokenIds(text: Column): Column =
    transform(docTokens(text), t =>
      coalesce(element_at(typedLit(vocab), t), lit(-1)))

  /** Encode a corpus: (doc_id, n_tokens, token_ids) with token_ids
    * rendered space-joined (a stable cross-engine surface for the id
    * sequence). One projection — no shuffle, no UDF. */
  def encode(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc_id"),
        docTokenIds(col(textCol)).as("__ids"))
      .select(col("doc_id"),
        size(col("__ids")).cast("long").as("n_tokens"),
        array_join(transform(col("__ids"), i => i.cast("string")), " ")
          .as("token_ids"))

  /** Decode token ids back to text (single-space word boundaries are not
    * recoverable from a flat id stream; decode concatenates symbols — the
    * per-word inverse used by the round-trip property). */
  def decodeIds(ids: Column): Column =
    array_join(transform(ids, i =>
      coalesce(element_at(typedLit(inverseVocab), i), lit("�"))), "")

  /** LEARN a merges table from a corpus (BPE training): `nMerges` rounds
    * of count-adjacent-pairs → take the most frequent → merge everywhere.
    * The classic algorithm runs on the word-frequency table, and so does
    * this: the one corpus-sized pass is the word count (map-side-combined
    * groupBy); every training round then operates on the vocabulary
    * relation (distinct words — metadata-sized next to a 100 TB corpus),
    * with only the single argmax pair row reaching the driver per round
    * (the same metadata-only-driver discipline as the CC/PageRank
    * convergence checksums).
    *
    * Determinism: pair counts are exact integers (occurrence-weighted,
    * overlaps counted, as in reference BPE), the argmax tie-breaks on
    * (count desc, a, b) — a total order — and the merge application is
    * the same 2-pass literal replace as [[wordTokens]], so
    * [[duckTrainSql]] can replay the WHOLE training loop round-for-round.
    *
    * Cost note: each round re-counts ALL adjacent pairs over the
    * vocabulary relation. Production trainers (e.g. the original
    * Sennrich et al. implementation) instead incrementally update only
    * the pair counts adjacent to the just-merged pair — an O(affected
    * words) delta per round. That optimization changes driver-side
    * bookkeeping only (the relation math is identical); it is worth
    * adopting if nMerges grows to real-vocabulary sizes (30k+), where
    * re-count rounds dominate. The full re-count is kept here because it
    * is what the DuckDB replay can mirror exactly.
    *
    * @return (rank, a, b, merged) — the learned merges in rank order
    */
  def train(docs: DataFrame, idCol: String, textCol: String,
      nMerges: Int): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // (word, freq, s, np): np counts the adjacent pairs left in s, so the
    // state's in-job Σ np is zero exactly when no round can learn a merge.
    def state(word: Column, freq: Column, s: Column) =
      Seq(word.as("word"), freq.as("freq"), s.as("s"),
        (size(split(trim(s), " ")) - 1).cast("long").as("np"))
    val init = materialize(docs
      .select(explode(TextOps.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .select(state(col("word"), col("freq"),
        concat(lit(" "), array_join(split(col("word"), ""), " "), lit(" "))): _*),
      3)
    val learned = scala.collection.mutable.ArrayBuffer[(Long, String, String)]()
    val run = Bsp(init, if (init.sum.signum == 0) 0 else nMerges, 3,
        Bsp.until(_.sum.signum == 0)) { (cur, r) =>
      val withTk = cur.select(col("freq"), split(trim(col("s")), " ").as("tk"))
      val top = withTk
        .select(col("freq"), col("tk"),
          posexplode(slice(col("tk"), lit(1), size(col("tk")) - 1)).as(Seq("i", "a")))
        .select(col("freq"), col("a"), element_at(col("tk"), col("i") + 2).as("b"))
        .groupBy("a", "b").agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
        .head() // ONE row — the per-round metadata, like a checksum
      val (a, b) = (top.getString(0), top.getString(1))
      learned += ((r.toLong, a, b))
      val p = s" $a $b "
      val m = s" ${a + b} "
      cur.select(state(col("word"), col("freq"),
        replace(replace(col("s"), lit(p), lit(m)), lit(p), lit(m))): _*)
    }
    Bsp.releaseUnread(learned.toSeq.toDF("rank", "a", "b")
      .select(col("rank"), col("a"), col("b"),
        concat(col("a"), col("b")).as("merged")), run.state.df)
  }

  /** The generated DuckDB replay of [[train]]: one unrolled CTE trio
    * (pair counts, argmax, merge application) per round — the PageRank
    * unrolled-oracle discipline applied to tokenizer training. */
  def duckTrainSql(nMerges: Int): String = {
    val rounds = (1 to nMerges).map { r =>
      val prev = s"w${r - 1}"
      s"""p$r AS (SELECT a, b, SUM(freq) AS cnt FROM (
           SELECT freq, tk[i] AS a, tk[i+1] AS b FROM (
             SELECT freq, tk, unnest(range(1, len(tk))) AS i
             FROM (SELECT freq, string_split(trim(s), ' ') AS tk FROM $prev)))
         WHERE b IS NOT NULL GROUP BY 1, 2),
      m$r AS (SELECT a, b FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
      w$r AS (SELECT word, freq,
          replace(replace(s, ' '||a||' '||b||' ', ' '||a||b||' '),
                  ' '||a||' '||b||' ', ' '||a||b||' ') AS s
        FROM $prev, m$r)"""
    }.mkString(",\n      ")
    val out = (1 to nMerges)
      .map(r => s"SELECT CAST($r AS BIGINT) AS rank, a, b, a||b AS merged FROM m$r")
      .mkString("\n      UNION ALL ")
    s"""
      WITH wf AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
        FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
              FROM documents) GROUP BY 1),
      w0 AS (SELECT word, freq,
        ' ' || array_to_string(regexp_split_to_array(word, ''), ' ') || ' ' AS s
        FROM wf),
      $rounds
      SELECT * FROM ($out) ORDER BY rank"""
  }

  /** The DuckDB replay of the merge loop for one word expression:
    * generated from the same fixture so the two engines cannot drift. */
  def duckFoldedSql(wordExpr: String): String = {
    val spaced = s"' ' || array_to_string(regexp_split_to_array($wordExpr, ''), ' ') || ' '"
    merges.foldLeft(spaced) { case (s, (a, b)) =>
      val p = s"' $a $b '"
      val r = s"' ${a + b} '"
      s"replace(replace($s, $p, $r), $p, $r)"
    }
  }

  /** Inline (tok, id) vocabulary relation for the oracle. */
  def duckVocabValues: String =
    vocab.toSeq.sortBy(_._2)
      .map { case (t, i) => s"('$t', $i)" }.mkString(", ")
}
