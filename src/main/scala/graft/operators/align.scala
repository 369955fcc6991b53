package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/**
 * One-side-fixed alignment assembly
 * (/root/reference/bertmap/map/onto_map.py:118-147 + run_bertmap.py:228-235):
 * per from-class keep the n-best scored candidates, run both directions,
 * union, dedup, drop nulls.
 */
object align {

  /** One alignment direction, the one loop every mapping mode runs
    * (onto_map.py:55-66; the modes swap only the scorer, run_bertmap.py:
    * 243-367): the from-side postings query the to-side postings for the
    * top-`limit` IDF candidates, `hop` scores the candidate class pairs
    * (from_id, to_id) into (from_id, to_id, score), n-best per from-class.
    *
    * `d` is the to-side class count: the IDF `D` and the gate of the
    * forced postings broadcast (`route.broadcastCatalog`). Without the
    * hint Catalyst's size estimate of the exploded postings picks a
    * sort-merge join: the hot-token fan-out OUTPUT is then token-partitioned
    * and the (query, class) agg shuffles all of it (measured at sf0.1:
    * 180.8 MB, ~30 core-s). The candidate chain is pinned at cluster width:
    * from a single-split scan through broadcast joins AQE would otherwise
    * coalesce the whole CPU-dense direction (IDF agg, top-k window, scorer)
    * onto one task (measured: 14 s of 1-task CPU at sf0.1). The IDF sums
    * are associative, so the pin never changes results. */
  def direction(fromPost: DataFrame, toPost: DataFrame, d: Long, limit: Int,
                nbest: Int, fixedPointIdf: Boolean = false)
               (hop: DataFrame => DataFrame): DataFrame = {
    val cands = index.idfCandidates(fromPost.withColumnRenamed("class_id", "query_id"),
        toPost, d, limit,
        broadcastPostings = graft.plans.route.broadcastCatalog(d, "candidate postings"),
        widthHint = graft.plans.stage.width(fromPost.sparkSession),
        fixedPointIdf = fixedPointIdf)
      .select(col("query_id").as("from_id"), col("class_id").as("to_id"))
    nBest(hop(cands), nbest)
  }

  /** Candidate class pairs joined to their label cross-pairs:
    * (from_id, to_id, l1, l2) from (id, label) long-form sides. */
  def labelPairs(cands: DataFrame, fromLabels: DataFrame, toLabels: DataFrame): DataFrame =
    cands
      .join(fromLabels.select(col("id").as("from_id"), col("label").as("l1")), "from_id")
      .join(toLabels.select(col("id").as("to_id"), col("label").as("l2")), "to_id")
      .select("from_id", "to_id", "l1", "l2")

  /** n-best per from-class (nbest default 1, config.json:49; top-`keep`
    * slice at log re-parse, onto_map.py:131-143). Deterministic tie-break:
    * score desc, then to_id asc (the reference inherits Python sort
    * stability; we pin total order for reproducibility across partitions). */
  def nBest(scored: DataFrame, n: Int): DataFrame = {
    val w = Window.partitionBy(col("from_id"))
      .orderBy(col("score").desc, col("to_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= n)
      .drop("rank")
  }

  /** Combined mapping set = src-fixed ∪ tgt-fixed, dedup on the entity pair,
    * drop nulls (onto_map.py:146). Both inputs must already carry columns
    * (entity1, entity2, value) oriented src→tgt. */
  def combine(src2tgt: DataFrame, tgt2src: DataFrame): DataFrame =
    src2tgt.unionByName(tgt2src)
      .na.drop()
      .groupBy("entity1", "entity2")
      .agg(max(col("value")).as("value")) // dedup keeps the better score, deterministically

  /** Orient a (from_id, to_id, score) frame into the (entity1, entity2,
    * value) mapping contract, swapping when the fixed side was the target. */
  def orient(scored: DataFrame, fromIsSrc: Boolean): DataFrame =
    if (fromIsSrc)
      scored.select(col("from_id").as("entity1"), col("to_id").as("entity2"),
        col("score").as("value"))
    else
      scored.select(col("to_id").as("entity1"), col("from_id").as("entity2"),
        col("score").as("value"))

  /** Distinct class counts of both catalog sides in ONE action:
    * (dSrc, dTgt). Each is the IDF `D` of the direction searching that
    * side and the gate of its forced postings broadcast
    * (`route.broadcastCatalog`). */
  def sideSizes(srcLabels: DataFrame, tgtLabels: DataFrame): (Long, Long) = {
    val sizes = srcLabels.select(lit("src").as("s"), col("id"))
      .unionByName(tgtLabels.select(lit("tgt").as("s"), col("id")))
      .groupBy("s").agg(countDistinct("id").as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    (sizes.getOrElse("src", 0L), sizes.getOrElse("tgt", 0L))
  }

  /** Threshold filter (onto_eval.py:104-106, onto_extend.py:125-129). */
  def atThreshold(mappings: DataFrame, t: Double): DataFrame =
    mappings.filter(col("value") >= lit(t))
}
