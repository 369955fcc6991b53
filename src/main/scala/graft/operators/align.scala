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

  /** n-best per from-class (nbest default 1, config.json:49; top-`keep`
    * slice at log re-parse, onto_map.py:131-143). Deterministic tie-break:
    * score desc, then to_id asc (the reference inherits Python sort
    * stability; we pin total order for reproducibility across partitions). */
  def nBest(scored: DataFrame, n: Int,
            fromCol: String = "from_id", toCol: String = "to_id",
            scoreCol: String = "score"): DataFrame = {
    val w = Window.partitionBy(col(fromCol))
      .orderBy(col(scoreCol).desc, col(toCol).asc)
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
