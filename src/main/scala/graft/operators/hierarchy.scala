package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import graft.plans.route
import graft.plans.stage.implicits._

/**
 * Hierarchy depth — the reference's recursive DAG depth
 * (/root/reference/bertmap/onto/onto_box.py:145-187: depth_max/depth_min
 * by naive recursion per class; needed when the hard-negative sampler's
 * depth_threshold is set, config.json:23-24).
 *
 * Spark shape: an iterative frontier join from the roots downward —
 * depth(child) relaxes from depth(parent)+1 each round; max-depth keeps
 * the greatest seen, min-depth the least. Rounds are bounded by the DAG
 * height (not the node count), each round one shuffle on the edge list.
 */
object hierarchy {

  /** Round bound of the distributed frontier loop: deeper DAGs stop here. */
  private val MaxRounds = 64

  /** (id, depth) with depth = length of the LONGEST path to a root when
    * `longest`, else the shortest. Roots (no parent) have depth 0.
    *
    * Hierarchy edge lists are catalog-dimension by contract (ontology is-a
    * edges: even million-class ontologies are a few MB), and the frontier
    * loop costs ~3 actions per DAG level in scheduler latency. Edge lists
    * the route admits (at most `maxLocalEdges`, integral or string ids, no
    * nulls) are solved exactly by a driver-local Kahn pass, ≡ the converged
    * frontier relaxation (HierarchySpec pins local ≡ distributed). Cyclic
    * inputs and everything else keep the distributed loop (a cycle never
    * drains the Kahn queue: detected, not wrong). */
  def depth(spark: SparkSession, edges: DataFrame, longest: Boolean,
            maxLocalEdges: Long = 5000000L): DataFrame = {
    val e = edges.select(col("child_iri"), col("parent_iri")).distinct()
      .materialize
    val localOut = route.local(e, maxLocalEdges, "hierarchy.depth", Seq("child_iri", "parent_iri"))
      .flatMap(depthLocal(spark, _, e.schema("child_iri").dataType, longest))
    if (localOut.isDefined) return localOut.get
    val nodes = e.select(col("child_iri").as("id"))
      .unionByName(e.select(col("parent_iri").as("id"))).distinct()
    val roots = nodes.join(e.select(col("child_iri").as("id")), Seq("id"), "left_anti")

    var depths = roots.withColumn("depth", lit(0L)).materialize
    var frontier = depths
    var round = 0
    val pick: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column =
      if (longest) (a, b) => greatest(a, b) else (a, b) => least(a, b)

    while (round < MaxRounds && !frontier.isEmpty) {
      val proposals = frontier
        .join(e.select(col("parent_iri").as("id"), col("child_iri")), "id")
        .select(col("child_iri").as("id"), (col("depth") + 1).as("depth"))
        .groupBy("id")
        .agg((if (longest) max(col("depth")) else min(col("depth"))).as("depth"))
      // keep a proposal only if it improves the node's current depth.
      // (re-alias via toDF at each step: the loop re-joins frames that
      // share attribute lineage, which otherwise trips ambiguous-attribute
      // resolution in some plans)
      val improved = proposals.toDF("id", "p_depth")
        .join(depths.toDF("id", "old_depth"), Seq("id"), "left")
        .filter(col("old_depth").isNull ||
          (if (longest) col("p_depth") > col("old_depth") else col("p_depth") < col("old_depth")))
        .select(col("id"), col("p_depth").as("depth"))
        .materialize
      depths = depths.join(improved.select(col("id")), Seq("id"), "left_anti")
        .unionByName(improved)
        .toDF("id", "depth")
        .materialize
      frontier = improved
      round += 1
    }
    depths
  }

  /** Driver-local exact depth over a collected DISTINCT edge list: None
    * when a cycle is detected (the Kahn queue does not drain) and the
    * distributed loop decides. Depth arithmetic is identical: longest or
    * shortest path from the root set, roots = nodes with no parent, every
    * node finalized only after all its parents (Kahn), so the result
    * equals the converged frontier relaxation. */
  private def depthLocal(spark: SparkSession, rows: Array[Row], idType: DataType,
                         longest: Boolean): Option[DataFrame] = {
    import scala.collection.mutable
    val children = new mutable.HashMap[Any, mutable.ArrayBuffer[Any]]()
    val nParents = new mutable.HashMap[Any, Int]()
    val nodes = new mutable.LinkedHashSet[Any]()
    rows.foreach { r =>
      val c = r.get(0)
      val p = r.get(1)
      nodes += c
      nodes += p
      children.getOrElseUpdate(p, mutable.ArrayBuffer[Any]()) += c
      nParents.updateWith(c)(o => Some(o.getOrElse(0) + 1))
    }
    val depth = new mutable.HashMap[Any, Long]()
    val queue = mutable.Queue[Any]()
    nodes.foreach { n => if (!nParents.contains(n)) { depth(n) = 0L; queue += n } }
    val pending = nParents.clone()
    var visited = 0
    while (queue.nonEmpty) {
      val n = queue.dequeue()
      visited += 1
      val d = depth(n)
      children.getOrElse(n, mutable.ArrayBuffer.empty).foreach { c =>
        val cand = d + 1
        depth.updateWith(c) {
          case Some(old) => Some(if (longest) math.max(old, cand) else math.min(old, cand))
          case None => Some(cand)
        }
        val left = pending(c) - 1
        pending(c) = left
        if (left == 0) queue += c
      }
    }
    if (visited != nodes.size) return None // cycle: distributed loop decides
    val schema = StructType(Seq(StructField("id", idType),
      StructField("depth", LongType)))
    val out = new java.util.ArrayList[Row](depth.size)
    nodes.foreach { n => out.add(Row(n, depth(n))) }
    Some(spark.createDataFrame(out, schema))
  }

  def depthMax(spark: SparkSession, edges: DataFrame): DataFrame =
    depth(spark, edges, longest = true)

  def depthMin(spark: SparkSession, edges: DataFrame): DataFrame =
    depth(spark, edges, longest = false)
}
