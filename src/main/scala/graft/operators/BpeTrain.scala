package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed BPE (byte-pair-encoding) vocabulary induction — the
  * tokenizer-training step of a corpus pipeline, run where the corpus
  * lives instead of sampling it down to one machine.
  *
  * Classic word-frequency BPE (Sennrich et al., 2016): train on the
  * DISTINCT-word table weighted by word count, not on the raw corpus —
  * at 100 TB the distinct-word table is orders of magnitude smaller
  * than the text it summarizes, and it is the only thing the iteration
  * touches after one corpus-wide word count. Each round is:
  *
  *   1. adjacent symbol pairs per word (narrow, codegen'd kernel) →
  *      pair frequency aggregate (ONE shuffle of pair partials),
  *   2. argmax pair by (freq, lexicographic tie-break) — a top-1
  *      TakeOrdered, one row to the driver (metadata-sized, like
  *      KMeans' k-row collect),
  *   3. apply the merge to every word's symbol array (narrow map with
  *      the strict leftmost-non-overlapping kernel), persist, and
  *      unpersist the previous round — the q94 lineage-truncation
  *      pattern, so plan depth stays O(1) per round.
  *
  * Determinism: integer frequencies, total tie-break order, no RNG —
  * the learned rules are a pure function of the word-count table.
  */
object BpeTrain {

  /** One learned merge rule: at `step`, (left, right) → merged, with
    * the pair's corpus frequency at the time of the merge. */
  final case class MergeRule(step: Int, left: String, right: String,
                             merged: String, freq: Long)

  /** @param words (word: String, cnt: Long) distinct-word counts
    * @param rounds merge rules to learn
    */
  /** Rounds between cache truncations in [[train]]: merges apply as
    * LAZY stacked narrow projections over the last persisted layer, so
    * round k's top-1 aggregate recomputes at most TruncateEvery-1
    * stacked merge kernels (sub-pass cost, same codegen stage) instead
    * of paying a cache-materialization JOB per round — the r16-opt
    * eventlog showed x47 spending its wall on 17 jobs / 94 stages over
    * a ~10 KiB vocabulary. Every TruncateEvery rounds the chain
    * persists + counts once, so plan depth and recompute stay O(1) in
    * the round count at any vocabulary size. */
  val TruncateEvery = 4

  def train(spark: SparkSession, words: DataFrame, rounds: Int): Seq[MergeRule] = {
    val rules = scala.collection.mutable.ArrayBuffer.empty[MergeRule]
    val base = words
      .select(col("cnt"), call_function("graft_bpe_symbols", col("word")).as("syms"))
      .persist()
    // size the vocabulary cache from its measured row count (the
    // distinct-word table is loop state — see graft.operators.SizedParts);
    // the first persist pins the upstream 32-wide agg layout, so the
    // loop reads a re-cached coalesced copy
    val parts = SizedParts(spark, base.count())
    var persisted = base.coalesce(parts).persist()
    persisted.count()
    base.unpersist()
    var vocab: DataFrame = persisted
    var sincePersist = 0
    try {
      var step = 1
      var exhausted = false
      while (step <= rounds && !exhausted) {
        val top = vocab
          .select(explode(call_function("graft_bpe_pairs", col("syms"))).as("p"),
            col("cnt"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum(col("cnt")).as("freq"))
          .orderBy(col("freq").desc, col("l"), col("r"))
          .limit(1)
          .collect()
        if (top.isEmpty) exhausted = true
        else {
          val Row(l: String, r: String, f: Long) = top(0)
          rules += MergeRule(step, l, r, l + r, f)
          vocab = vocab
            .select(col("cnt"),
              call_function("graft_bpe_merge", col("syms"), lit(l), lit(r))
                .as("syms"))
          sincePersist += 1
          if (sincePersist >= TruncateEvery && step < rounds) {
            val next = vocab.persist()
            next.count() // materialize before dropping the parent layer
            persisted.unpersist()
            persisted = next
            vocab = next
            sincePersist = 0
          }
          step += 1
        }
      }
    } finally persisted.unpersist()
    rules.toSeq
  }

  /** ENCODE with a learned rule list — the inference half of the
    * tokenizer: each word decomposes to code-point symbols and the
    * merges apply IN RULE ORDER (BPE inference replays training order;
    * greedy-by-local-frequency at inference is a different, wrong
    * tokenizer). The whole rule chain folds into ONE nested projection
    * of [[graft.functions.BpeMergeExpr]] kernels, so a document is
    * encoded in a single codegen'd pass over the scan — no per-rule
    * shuffle, no vocabulary broadcast (the rules ARE the vocabulary,
    * R≈8–50k entries folded into the plan as literals; a 50k-rule
    * production vocab would switch to one mapPartitions pass with a
    * compiled merge table, same contract).
    *
    * Output per doc: words, pre-merge symbol count, post-merge token
    * count, and the integer per-mille compression the vocabulary buys
    * — the "does this tokenizer fit this corpus" audit number. */
  def encodeStats(docs: DataFrame, textCol: String,
                  rules: Seq[MergeRule]): DataFrame = {
    val words = docs
      .select(col("doc_id"), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
    val base = call_function("graft_bpe_symbols", col("word"))
    val encoded = rules.sortBy(_.step).foldLeft(base) { (c, m) =>
      call_function("graft_bpe_merge", c, lit(m.left), lit(m.right))
    }
    words
      .select(col("doc_id"), size(base).cast("long").as("n_sym"),
        size(encoded).cast("long").as("n_tok"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_sym")).as("n_symbols"),
        sum(col("n_tok")).as("n_tokens"))
      .select(col("doc_id"), col("n_words"), col("n_symbols"),
        col("n_tokens"),
        expr("(n_symbols - n_tokens) * 1000 div n_symbols")
          .as("saved_permille"))
  }

  /** Train on a text column: corpus → word counts → merge rules, as a
    * DataFrame for the query surface. */
  def trainOnText(spark: SparkSession, docs: DataFrame, textCol: String,
                  rounds: Int): DataFrame = {
    val words = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
    val rules = train(spark, words, rounds)
    import spark.implicits._
    rules.toDF()
      .select(col("step"), col("left"), col("right"), col("merged"),
        col("freq"))
  }
}
