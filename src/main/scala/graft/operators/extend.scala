package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.stage.implicits._

/**
 * Greedy iterative mapping extension
 * (/root/reference/bertmap/extend/onto_extend.py:36-97 + scorer short-circuit
 * bert_classifier_extend.py:36-72): starting from high-confidence seed
 * mappings (score >= kappa, default 0.9, extend_bertmap.py:108), walk the
 * class hierarchies 1 hop per iteration — parent×parent and child×child
 * products of each frontier pair — score the unseen pairs, keep those >=
 * kappa, and iterate with the newly kept pairs as the next frontier
 * (max 50 iterations, extend_bertmap.py:84).
 *
 * Spark shape: a driver while-loop over DataFrames; each iteration is two
 * hierarchy joins per side + a left-anti "seen" join + the scorer hop. The
 * accumulated set is stage.materialize'd every iteration to cut lineage
 * (50 self-join generations would otherwise blow up the plan), and the loop
 * exits early on an empty frontier (onto_extend.py:39).
 */
object extend {

  /**
   * @param seeds      (entity1, entity2, value) mappings; frontier0 = value>=kappa
   * @param srcEdges   (child_iri, parent_iri) for the entity1 side
   * @param tgtEdges   (child_iri, parent_iri) for the entity2 side
   * @param srcLabels  (id, label) normalized labels of side 1
   * @param tgtLabels  (id, label) normalized labels of side 2
   * @param kappa      extension threshold (default 0.9)
   * @param maxIter    iteration cap (default 50)
   * @return the expansion set (newly added mappings only), scored
   */
  def extendMappings(spark: SparkSession, seeds: DataFrame,
                     srcEdges: DataFrame, tgtEdges: DataFrame,
                     srcLabels: DataFrame, tgtLabels: DataFrame,
                     kappa: Double = 0.9, maxIter: Int = 50,
                     params: score.ScorerParams = score.ScorerParams()): DataFrame = {
    import org.apache.spark.storage.StorageLevel

    val pairCols = Seq("entity1", "entity2")
    var seen = seeds.select(pairCols.map(col): _*).distinct()
      .materialize
    var frontier = seeds.filter(col("value") >= kappa)
      .select(pairCols.map(col): _*).distinct()
      .materialize
    // accumulate checkpointed per-iteration outputs; union lazily (one
    // materialization per iteration — `kept` — instead of four)
    val expansionParts = scala.collection.mutable.ArrayBuffer[DataFrame]()
    var iter = 0

    val srcUp = srcEdges.select(col("child_iri").as("entity1"), col("parent_iri").as("n1"))
    val srcDown = srcEdges.select(col("parent_iri").as("entity1"), col("child_iri").as("n1"))
    val tgtUp = tgtEdges.select(col("child_iri").as("entity2"), col("parent_iri").as("n2"))
    val tgtDown = tgtEdges.select(col("parent_iri").as("entity2"), col("child_iri").as("n2"))

    while (iter < maxIter && !frontier.isEmpty) {
      // one_hob_extend (onto_extend.py:55-76): parents×parents ∪ children×children
      val up = frontier.join(srcUp, "entity1").join(tgtUp, "entity2")
      val down = frontier.join(srcDown, "entity1").join(tgtDown, "entity2")
      val candidates = up.unionByName(down)
        .select(col("n1").as("entity1"), col("n2").as("entity2"))
        .distinct()
        .join(seen, pairCols, "left_anti") // seen-set dedup (bert_classifier_extend.py:48-50)

      // score: string-match 1.0 short-circuit then lexical scorer
      val withLabels = align.labelPairs(
        candidates.select(col("entity1").as("from_id"), col("entity2").as("to_id")),
        srcLabels, tgtLabels)
      // string-match short-circuit (bert_classifier_extend.py:53-56): ANY
      // identical label pair fixes the whole mapping at 1.0; otherwise the
      // pooled mean of the scorer output.
      val scored = score.scoreLabelPairsTyped(spark, withLabels, params)
        .groupBy("from_id", "to_id")
        .agg(greatest(avg(col("pair_score")),
          max(when(col("l1") === col("l2"), 1.0).otherwise(0.0))).as("value"))
        .select(col("from_id").as("entity1"), col("to_id").as("entity2"), col("value"))
      val kept = scored.filter(col("value") >= kappa)
        .materialize // the ONE materialization per iteration

      expansionParts += kept
      // lazy unions over checkpointed parts: lineage depth = #iterations,
      // bounded by maxIter (reference caps at 50; plans of that depth over
      // materialized leaves are cheap to analyze)
      seen = seen.unionByName(kept.select(pairCols.map(col): _*))
      frontier = kept.select(pairCols.map(col): _*)
      iter += 1
    }

    if (expansionParts.isEmpty)
      seeds.filter(lit(false)).select(col("entity1"), col("entity2"), col("value"))
    else expansionParts.reduce(_.unionByName(_))
  }
}
