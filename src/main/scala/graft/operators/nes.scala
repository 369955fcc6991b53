package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.text

/**
 * NES-mode alignment — the reference's third mapping mode (`nes`,
 * /root/reference/bertmap/map/nes_map.py:36-77, dispatched at
 * run_bertmap.py:293-367): no model at all, the mapping score is the max
 * normalized-edit-similarity (blended with token Jaccard here, exactly
 * like the classifier stand-in's kernel) over the label cross-pairs of a
 * candidate class pair.
 *
 * Spark shape: identical dataflow to the classifier mode, but the scorer
 * is `score.pairScoreCol` — a pure Column expression, so the ENTIRE
 * direction (candidates → pairs → score → pooling → n-best) is one
 * declarative plan inside whole-stage codegen with no mapPartitions
 * barrier. This is the third point on the scorer-pluggability axis:
 * classifier (batched kernel), embeds (vector cosine), nes (codegen'd
 * lexical).
 */
object nes {

  /** One direction: IDF candidates from the token inverted index, label
    * pairs scored by the codegen'd Column kernel, max-pooled per class
    * pair (nes_map.py:73-77 takes the max over label pairs), n-best.
    *
    * The default kernel is the repo's blended lexical score (0.5·Jaccard +
    * 0.5·NES — the same kernel as the classifier stand-in, so the two modes
    * are directly comparable); `jaccardWeight = 0, editWeight = 1`
    * reproduces the reference's PURE normalized-edit-similarity scoring
    * (nes_map.py:73-77 max_norm_edit_sim) exactly. */
  def alignOneSide(fromLabels: DataFrame, toLabels: DataFrame, d: Long,
                   candidateLimit: Int = 25, nbest: Int = 1,
                   tokenizer: Column => Column = text.wordTokensCol,
                   fixedPointIdf: Boolean = false,
                   jaccardWeight: Double = 0.5,
                   editWeight: Double = 0.5,
                   widthHint: Int = -1): DataFrame = {
    val from = fromLabels.select(col("id").cast("string").as("id"), col("label"))
    val to = toLabels.select(col("id").cast("string").as("id"), col("label"))
    // widthHint -1 (default) pins the candidate chain at cluster width:
    // from a single-split scan through broadcast joins there is otherwise
    // NO exchange before the Levenshtein pair-scoring — the whole
    // direction would run on one task (measured: 14 s of 1-task CPU at
    // sf0.1). Fixed-point/double IDF sums are associative, so the extra
    // exchange never changes results. 0 disables.
    val w = if (widthHint == -1)
      fromLabels.sparkSession.sparkContext.defaultParallelism else widthHint
    val qTokens = index.postingsFromText(from, "id", "label", 0, tokenizer)
      .withColumnRenamed("class_id", "query_id")
    val toPost = index.postingsFromText(to, "id", "label", 0, tokenizer)
    // force the postings broadcast while the to-side is catalog-sized
    // (`d` within route.MaxCatalog, the classifier mode's gate too; past it
    // Spark's size statistics decide). Without the hint Catalyst's
    // size estimate of the exploded postings routed this to a sort-merge
    // join: both sides exchanged by token and, decisively, the hot-token
    // fan-out OUTPUT was then token-partitioned, so the (query, class) agg
    // needed a third exchange carrying the full fan-out (measured at
    // sf0.1: 180.8 MB shuffled, ~30 core-s). Broadcast keeps the fan-out
    // in the width-pinned hash(query_id) partitioning where the partial
    // aggregation collapses it COMPLETELY before any exchange — and the
    // agg + top-k window reuse that one exchange (guide §3.1/§2.3).
    val bc = graft.plans.route.broadcastCatalog(d, "nes postings")
    val cands = (if (fixedPointIdf)
        index.idfCandidatesFixedPoint(qTokens, toPost, d, candidateLimit,
          broadcastPostings = bc, widthHint = w)
      else index.idfCandidates(qTokens, toPost, d, candidateLimit,
        broadcastPostings = bc, widthHint = w))
      .select(col("query_id").as("from_id"), col("class_id").as("to_id"))
    val pairs = cands
      .join(from.select(col("id").as("from_id"), col("label").as("l1")), "from_id")
      .join(to.select(col("id").as("to_id"), col("label").as("l2")), "to_id")
    // explicit width for the Levenshtein stage: the pair count is small
    // but each evaluation is O(len²) in the label length — a narrow fused
    // stage scores every pair on one core (measured 14 s at 1 task on
    // document-length labels). hash(from_id, to_id) feeds the agg with no
    // further exchange.
    val wideP = if (w > 0) pairs.repartition(w, col("from_id"), col("to_id"))
                else pairs
    val scored = wideP
      .groupBy("from_id", "to_id")
      .agg(max(score.pairScoreCol(col("l1"), col("l2"),
        jaccardWeight, editWeight)).as("score"))
    align.nBest(scored, nbest)
  }
}
