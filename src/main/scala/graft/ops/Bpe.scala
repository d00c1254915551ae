package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge learning (Sennrich et al. 2016) — the
  * tokenizer-training step of a corpus pipeline, distributed: each merge
  * round counts adjacent symbol pairs over the WORD-FREQUENCY table (a
  * vocabulary-scale frame — the corpus is scanned exactly once, up front),
  * picks the globally best pair, and rewrites the symbol sequences.
  *
  * Scale shape:
  *  - the corpus-scale work is ONE tokenize + word-count aggregate; every
  *    merge round after that runs over the distinct-word frame (|vocab| ≪
  *    corpus tokens, Heaps' law), so 50 rounds cost 50 vocab-frame passes,
  *    not 50 corpus scans;
  *  - per round: one partial-combine pair-count aggregate + ONE single-row
  *    driver collect (the argmax merge — bounded driver action, the
  *    Connected.fingerprint contract) + a map-side rewrite of the symbol
  *    arrays; `localCheckpoint` truncates the per-round plan growth (the
  *    Connected/Graph lesson);
  *  - the rewrite fold appends to an array accumulator — O(len²) in WORD
  *    length, which is bounded by the longest word (not the corpus), the
  *    same bounded-group argument as ChatOps.
  *
  * Determinism: ties on pair count break lexicographically on (a, b), so
  * the learned merge list is a pure function of the corpus — reproducible
  * on any partitioning and against the scalar replica in BpeSpec.
  */
object Bpe {

  /** (word, freq) table from a text column — the one corpus-scale pass. */
  def wordFreqs(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(split(lower(coalesce(col(textCol), lit(""))),
        "[^a-z]+")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Adjacent-pair struct stream over a MATERIALIZED symbol-array column
    * (interpreted-HOF rule: never inline the array build into the lambda).
    * zip_with over two slices rather than sequence+element_at: on a
    * single-symbol word `sequence(1, size-1)` = sequence(1, 0) DESCENDS
    * ([1, 0], inferred step -1) and element_at(syms, 2) throws under ANSI;
    * slices of length size-1 = 0 degrade to empty arrays instead.
    */
  private def adjacentPairs(syms: Column): Column =
    zip_with(
      slice(syms, lit(1), greatest(size(syms) - 1, lit(0))),
      slice(syms, lit(2), greatest(size(syms) - 1, lit(0))),
      (a, b) => struct(a.as("a"), b.as("b")))

  /** Replace every adjacent (a, b) in `syms` with the merged symbol a+b,
    * left-to-right non-overlapping (the BPE rewrite rule: "aaa" under
    * merge (a,a) → ["aa", "a"]). Pure fold — appends copy the accumulator,
    * O(len²) in word length (bounded by construction).
    */
  private def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, array().cast("array<string>"), (acc, x) =>
      // CaseWhen branches evaluate lazily (guaranteed, unlike And operand
      // order — the Multimodal ANSI lesson): element_at only runs on
      // non-empty accumulators, so ANSI's out-of-bounds error can't fire
      when(size(acc) === 0, array(x))
        .when(element_at(acc, -1) === a && x === b,
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Learn `nMerges` merges from a (word, freq) frame. Returns the ordered
    * merge list; stops early when no pair occurs ≥ `minCount` times.
    */
  def learnMerges(
      wordFreqs: DataFrame, nMerges: Int, minCount: Long = 2L)
      : Seq[(String, String)] = {
    require(nMerges >= 1 && nMerges <= 10000, "nMerges in [1, 10000]")
    // explicit single-char split: `split(w, "")` emits a trailing empty
    // token in some engines — substring over a sequence cannot
    // LAZY checkpoints throughout (the Connected rule): each round's
    // pair-count collect is the first action over the freshly rewritten
    // vocab, so it materializes the checkpoint inside the same job — one
    // scheduler round-trip per merge instead of two. A superseded round's
    // blocks stay cached until the ContextCleaner collects its RDD:
    // `unpersist` does not release a localCheckpoint.
    var vocab = wordFreqs
      .select(col("freq"),
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))).as("syms"))
      .filter(size(col("syms")) >= 1)
      .localCheckpoint(false)
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    var i = 0
    var done = false
    while (i < nMerges && !done) {
      i += 1
      val best = vocab
        .select(col("freq"), explode(adjacentPairs(col("syms"))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum("freq").as("n"))
        .filter(col("n") >= minCount)
        .orderBy(col("n").desc, col("a").asc, col("b").asc)
        .limit(1) // TakeOrderedAndProject; ONE row reaches the driver
        .collect() // materializes `vocab` (and its checkpoint)
      if (best.isEmpty) done = true
      else {
        val (a, b) = (best(0).getString(0), best(0).getString(1))
        merges += ((a, b))
        vocab = vocab
          .select(col("freq"), applyMerge(col("syms"), a, b).as("syms"))
          .localCheckpoint(false)
      }
    }
    merges.toSeq
  }
}
