package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Sequence packing for pretraining corpus builds: lay documents end-to-end
  * in a deterministic global order and cut the stream into fixed-budget
  * packs (context windows). `pack_id` is the window a document STARTS in —
  * the GPT-style concatenate-then-chunk assignment — and `cum_before` is
  * its exact starting offset in the concatenated stream, so a downstream
  * writer can materialize pack files without re-scanning.
  *
  * Scale shape — the classic two-phase distributed prefix sum:
  *  1. per-segment running sums under a window PARTITIONED by a segment of
  *     the order key (`orderCol div segSize`) — parallel, narrow, no global
  *     sort;
  *  2. segment totals (one small aggregate, ≤ n/segSize rows) get their own
  *     exclusive cumulative sum on a single task and broadcast back.
  * A naive `Window.orderBy(orderCol)` with no partition spec funnels the
  * ENTIRE table through one reducer — the canonical scale-killer this
  * operator exists to avoid (PlanSpec pins the full-table window as
  * partitioned). At 10^12 rows and segSize 2^20 the phase-2 frame is 10^6
  * 16-byte rows — one comfortable task; if segments themselves ever
  * overflow a task, the same trick recurses (segments-of-segments).
  *
  * Determinism contract: `orderCol` must be unique (it is the total order
  * of the stream); weights are summed exactly in longs, so the assignment
  * reproduces on any partitioning, any cluster size, and in the DuckDB
  * oracle (q75), which replays it as a plain single-window cumulative sum.
  *
  * Reference analog: the reference validates one record at a time and has
  * no corpus assembly step; this is part of the training-data pipeline
  * surface (builder brief) a 100 TB corpus build needs after
  * filter/dedup/split.
  */
object Packing {

  /** Assign each row the pack (context window) its document starts in.
    *
    * @param orderCol  unique numeric column defining the global stream order
    * @param weightCol per-row cost (token or char count); null → 0
    * @param budget    pack capacity in weight units
    * @param segSize   order-key span per phase-1 segment
    * @return input columns + `cum_before` (exclusive prefix sum, long) +
    *         `pack_id` (= cum_before div budget, long)
    */
  def packByBudget(
      df: DataFrame,
      orderCol: String,
      weightCol: String,
      budget: Long,
      segSize: Long = 1L << 20): DataFrame = {
    require(budget > 0, "budget > 0")
    require(segSize > 0, "segSize > 0")
    val withSeg = df
      .withColumn("__o", col(orderCol).cast("long"))
      .withColumn("__w", coalesce(col(weightCol).cast("long"), lit(0L)))
      // integral `div` keeps the segment exact for the full long range
      // (a double floor-divide would wobble past 2^53)
      .withColumn("__seg", expr(s"__o div ${segSize}L"))

    // phase 2 frame: one row per segment; the empty-partition window is
    // deliberate and safe — it sees n/segSize rows, not n.
    val segOffsets = withSeg
      .groupBy("__seg")
      .agg(sum("__w").as("__segtot"))
      .withColumn("__segoff",
        coalesce(
          sum("__segtot").over(Window.orderBy("__seg")
            .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select("__seg", "__segoff")

    val within = Window.partitionBy("__seg").orderBy("__o")
      .rowsBetween(Window.unboundedPreceding, -1)

    withSeg
      .join(broadcast(segOffsets), Seq("__seg"))
      .withColumn("cum_before",
        col("__segoff") + coalesce(sum("__w").over(within), lit(0L)))
      .withColumn("pack_id", expr(s"cum_before div ${budget}L"))
      .drop("__o", "__w", "__seg", "__segoff")
  }

  /** Writer-side pack materialization: slice every document into the
    * pack(s) its characters land in under the concatenate-then-chunk
    * layout, ready for a per-pack ordered reassembly. One row per
    * (document × pack it touches): `pack_id`, the original order key,
    * `off_in_pack` (where this piece starts inside the pack) and `piece`
    * (the substring). Long documents straddle packs and emit one row per
    * pack; every pack's pieces concatenated in `off_in_pack` order
    * reproduce characters [pack_id·budget, (pack_id+1)·budget) of the
    * global stream exactly.
    *
    * Scale shape: [[packByBudget]]'s two-phase prefix sum plus one
    * `explode(sequence(firstPack, lastPack))` — a document emits
    * ⌈len/budget⌉+1 rows at most, so the expansion is bounded by corpus
    * size / budget, and the downstream writer shuffle is one hash exchange
    * on pack_id. No row ever carries more than one document's text.
    *
    * The q80 oracle replays slicing AND reassembly (string_agg ordered by
    * offset) in DuckDB — per-pack payloads hash-matched byte-for-byte.
    */
  def packPayloads(
      df: DataFrame,
      orderCol: String,
      textCol: String,
      budget: Long,
      segSize: Long = 1L << 20): DataFrame = {
    require(budget > 0, "budget > 0")
    val withLen = df.withColumn("__len",
      length(coalesce(col(textCol), lit(""))).cast("long"))
    val packed = packByBudget(withLen, orderCol, "__len", budget, segSize)
    packed
      .filter(col("__len") > 0)
      .withColumn("__p", explode(sequence(
        expr(s"cum_before div ${budget}L"),
        expr(s"(cum_before + __len - 1) div ${budget}L"))))
      // global char range of pack __p is [__p*budget, (__p+1)*budget);
      // intersect with this doc's [cum_before, cum_before+__len)
      .withColumn("__from", greatest(col("__p") * budget, col("cum_before")))
      .withColumn("__to",
        least((col("__p") + 1) * budget, col("cum_before") + col("__len")))
      .select(
        col("__p").as("pack_id"),
        col(orderCol),
        (col("__from") - col("__p") * budget).as("off_in_pack"),
        coalesce(col(textCol), lit(""))
          .substr((col("__from") - col("cum_before") + 1).cast("int"),
            (col("__to") - col("__from")).cast("int"))
          .as("piece"))
  }

  /** Per-pack reassembled payload: pieces ordered by offset and joined —
    * the materialized context window itself. Deterministic (offsets are a
    * total order within a pack); one hash shuffle on pack_id.
    */
  /** Power-of-two length-bucket stats — the padding-waste planner for
    * bucketed batching (the alternative to [[packByBudget]] when the
    * serving stack pads instead of packing): per bucket, sequence count,
    * token sum, padded-slot waste, and exact fill ratio in ppm.
    *
    * The bucket is computed by a GENERATED when-chain over powers of two
    * (up to 2^`maxLog2`) instead of `ceil(log2(n))` — `LOG2` is
    * `Math.log(x)/Math.log(2)` in one engine and native `log2` in the
    * other, and a one-ulp disagreement at an exact power of two would
    * flip the bucket. Integer comparisons cannot disagree. Sequences
    * longer than the top bucket clamp into it — there `fill_ppm` can
    * exceed 10⁶ (the overflow signal) and padding clamps at 0.
    */
  def lengthBuckets(
      df: DataFrame, tokens: Column, maxLog2: Int = 21): DataFrame = {
    require(maxLog2 >= 1 && maxLog2 <= 62, "maxLog2 in [1, 62]")
    val n = greatest(tokens.cast("long"), lit(1L))
    val top = 1L << maxLog2
    val bucket = (1 to maxLog2).reverse.foldLeft(lit(top)) {
      case (acc, k) => when(n <= (1L << (k - 1)), lit(1L << (k - 1)))
        .otherwise(acc)
    }
    df.select(bucket.as("bucket"), n.as("__n"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_seqs"), sum(col("__n")).as("sum_tokens"))
      .withColumn("padding_tokens",
        greatest(col("bucket") * col("n_seqs") - col("sum_tokens"), lit(0L)))
      // fill as ORDER-PINNED double ops — (sum·10⁶) then ÷ (bucket·n),
      // each operand cast first: identical IEEE sequences cross-engine, so
      // floor-parity holds, and no 64-bit overflow at any corpus size
      // (sum·10⁶ as a LONG overflows past ~9.2e12 tokens in one bucket —
      // one day of a 100 TB corpus). padding stays exact-integer; its own
      // bound (bucket·n_seqs < 2⁶³) allows ~4.4e12 sequences per bucket.
      .withColumn("fill_ppm",
        floor(col("sum_tokens").cast("double") * lit(1000000.0) /
          (col("bucket").cast("double") * col("n_seqs").cast("double")))
          .cast("long"))
  }

  /** Sliding-window chunking: cut each document's whitespace-token stream
    * into windows of `size` tokens starting every `stride` tokens — the
    * retrieval/context-window prep step (overlap = size − stride keeps
    * boundary context in both neighbors). The last window of a document is
    * short when the stream doesn't divide evenly; zero-token documents
    * emit nothing.
    *
    * Scale shape: map-only — one split + one bounded explode per document
    * (⌈n/stride⌉ rows), zero exchanges; a downstream writer shuffle is the
    * consumer's choice. The chunk text is the window's tokens re-joined on
    * single spaces (whitespace runs normalize — the op tokenizes, so the
    * output is token-stream-faithful, not byte-faithful; byte-faithful
    * slicing is [[packPayloads]]' job).
    *
    * Parity (q98): token filter + slice + join replayed in DuckDB on the
    * same regex; all chunk geometry is integer math (chunk_idx =
    * (start−1) div stride), so nothing can disagree by a ulp.
    */
  def chunkByTokens(
      df: DataFrame, idCol: String, textCol: String,
      size: Int, stride: Int): DataFrame = {
    require(size >= 1, "size >= 1")
    require(stride >= 1 && stride <= size, "stride in [1, size]")
    val toks = filter(
      split(coalesce(col(textCol), lit("")), "\\s+"),
      t => length(t) > 0)
    val n = org.apache.spark.sql.functions.size(col("__toks"))
    df.select(col(idCol), toks.as("__toks"))
      .filter(n >= 1)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(1), n, lit(stride))).as("__start"))
      .select(
        col(idCol),
        floor((col("__start") - 1) / lit(stride)).cast("int").as("chunk_idx"),
        least(lit(size), n - col("__start") + 1).cast("int").as("n_toks"),
        array_join(slice(col("__toks"), col("__start"), lit(size)), " ")
          .as("chunk_text"))
  }

  def packAssemble(payloads: DataFrame): DataFrame =
    payloads
      .groupBy("pack_id")
      .agg(
        count(lit(1)).as("n_pieces"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("off_in_pack"), col("piece")))),
            x => x.getField("piece")),
          "").as("payload"))
}
