package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.plans.stage

/**
 * NES-mode alignment — the reference's third mapping mode (`nes`,
 * /root/reference/bertmap/map/nes_map.py:36-77, dispatched at
 * run_bertmap.py:293-367): no model at all, the mapping score is the max
 * normalized-edit-similarity (blended with token Jaccard here, exactly
 * like the classifier stand-in's kernel) over the label cross-pairs of a
 * candidate class pair.
 *
 * Spark shape: the shared `align.direction` with the scorer hop
 * `score.pairScoreCol` — a pure Column expression, so the ENTIRE
 * direction (candidates → pairs → score → pooling → n-best) is one
 * declarative plan inside whole-stage codegen with no mapPartitions
 * barrier. This is the third point on the scorer-pluggability axis:
 * classifier (batched kernel), embeds (vector cosine), nes (codegen'd
 * lexical).
 *
 * The default kernel is the repo's blended lexical score (0.5·Jaccard +
 * 0.5·NES — the same kernel as the classifier stand-in, so the two modes
 * are directly comparable); `jaccardWeight = 0, editWeight = 1`
 * reproduces the reference's PURE normalized-edit-similarity scoring
 * (nes_map.py:73-77 max_norm_edit_sim) exactly.
 */
object nes {

  /** The nes scorer hop: label pairs scored by the codegen'd Column
    * kernel, max-pooled per class pair (nes_map.py:73-77 takes the max
    * over label pairs). The pairs are repartitioned at cluster width on
    * (from_id, to_id) first: the pair count is small but each evaluation
    * is O(len²) in the label length, and a narrow fused stage scores every
    * pair on one core (measured 14 s at 1 task on document-length labels);
    * the hash(from_id, to_id) exchange feeds the agg with no further one. */
  def hop(fromLabels: DataFrame, toLabels: DataFrame,
          jaccardWeight: Double = 0.5, editWeight: Double = 0.5)
         (cands: DataFrame): DataFrame =
    stage.pinned(align.labelPairs(cands, fromLabels, toLabels),
        col("from_id"), col("to_id"))
      .groupBy("from_id", "to_id")
      .agg(max(score.pairScoreCol(col("l1"), col("l2"),
        jaccardWeight, editWeight)).as("score"))

  /** One direction over (id, label) long-form sides: word-token postings
    * of each side, then `align.direction` with the nes hop. `d` is the
    * to-side class count. */
  def alignOneSide(fromLabels: DataFrame, toLabels: DataFrame, d: Long,
                   candidateLimit: Int = 25, nbest: Int = 1,
                   fixedPointIdf: Boolean = false,
                   jaccardWeight: Double = 0.5,
                   editWeight: Double = 0.5): DataFrame =
    align.direction(index.postingsFromText(fromLabels, "id", "label"),
        index.postingsFromText(toLabels, "id", "label"), d,
        candidateLimit, nbest, fixedPointIdf = fixedPointIdf)(
      hop(fromLabels, toLabels, jaccardWeight, editWeight))
}
