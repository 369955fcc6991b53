package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StringType
import graft.plans.route

/**
 * Logical repair — conservative, in-engine replacement for the reference's
 * external LogMap DEBUGGER jar subprocess
 * (/root/reference/repair_bertmap.py:80-90; jar internals out of scope).
 * We rebuild the *observable contract* — a repair operator that drops
 * mappings violating consistency constraints, never adds any:
 *
 *  (a) per-entity mutual exclusion: when one entity maps to several
 *      counterparts, keep only the best-scored mapping per entity per side
 *      (window top-1, deterministic tie-break on the partner id);
 *  (b) crosswise-hierarchy conflict: drop a mapping (a→b) if some mapping
 *      (pa→cb) exists with pa a parent of a and cb a child of b AND that
 *      mapping outscores it — a 1-hop disjointness check via hierarchy
 *      self-joins (an inverted pair of mappings is logically incoherent for
 *      subsumption-preserving alignment).
 *
 * Both steps only remove rows → precision-improving by construction, which
 * is the property the reference relies on (repair is applied at
 * threshold 0.999 to maximize precision, repair_bertmap.py:188-189).
 */
object repair {

  /** Step (a): 1-to-1 enforcement. */
  def oneToOne(mappings: DataFrame): DataFrame = {
    val w1 = Window.partitionBy("entity1").orderBy(col("value").desc, col("entity2").asc)
    val w2 = Window.partitionBy("entity2").orderBy(col("value").desc, col("entity1").asc)
    mappings
      .withColumn("r1", row_number().over(w1)).filter(col("r1") === 1).drop("r1")
      .withColumn("r2", row_number().over(w2)).filter(col("r2") === 1).drop("r2")
  }

  /** Step (b): drop crosswise-inverted mappings dominated by a conflicting
    * one. `srcEdges`/`tgtEdges`: (child_iri, parent_iri). */
  def dropCrosswise(mappings: DataFrame, srcEdges: DataFrame,
                    tgtEdges: DataFrame): DataFrame = {
    val conflicts = mappings.as("m")
      // parent of entity1 ...
      .join(srcEdges.select(col("child_iri").as("entity1"), col("parent_iri").as("p1")), "entity1")
      // ... mapped to a child of entity2 with a higher score
      .join(tgtEdges.select(col("parent_iri").as("entity2"), col("child_iri").as("c2")), "entity2")
      .join(mappings.select(col("entity1").as("p1"), col("entity2").as("c2"),
        col("value").as("other_value")), Seq("p1", "c2"))
      .filter(col("other_value") > col("value"))
      .select("entity1", "entity2").distinct()
    mappings.join(conflicts, Seq("entity1", "entity2"), "left_anti")
  }

  /** Full repair = (a) then (b). */
  def repairMappings(mappings: DataFrame, srcEdges: DataFrame,
                     tgtEdges: DataFrame): DataFrame =
    dropCrosswise(oneToOne(mappings), srcEdges, tgtEdges)

  /** Driver twin of `repairMappings` over collected, non-null (entity1,
    * entity2, value) rows and (child, parent) edges: the same rows, in
    * input order (ExtendRepairSpec). */
  def local(mappings: Seq[(String, String, Double)], srcEdges: Seq[(String, String)],
            tgtEdges: Seq[(String, String)]): Seq[(String, String, Double)] = {
    type M = (String, String, Double)
    val lt = route.lt(StringType)
    // (a): each side's window top-1, value desc, then the partner id asc
    def top(ms: Seq[M], key: M => String, partner: M => String): Seq[M] = {
      val best = ms.groupMapReduce(key)(identity) { (a, b) =>
        val c = route.cmp(a._3, b._3)
        if (c > 0 || (c == 0 && !lt(partner(b), partner(a)))) a else b
      }
      ms.filter(m => best(key(m)) eq m)
    }
    val one = top(top(mappings, _._1, _._2), _._2, _._1)
    // (b): a parent of entity1 mapped to a child of entity2 at a higher value
    val parents = srcEdges.groupMap(_._1)(_._2)
    val children = tgtEdges.groupMap(_._2)(_._1)
    val values = one.groupMap(m => (m._1, m._2))(_._3)
    one.filterNot { case (e1, e2, v) =>
      parents.getOrElse(e1, Nil).exists(p1 => children.getOrElse(e2, Nil).exists(c2 =>
        values.getOrElse((p1, c2), Nil).exists(route.cmp(_, v) > 0)))
    }
  }
}
