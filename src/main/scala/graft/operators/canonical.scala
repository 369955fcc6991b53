package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import graft.plans.route
import graft.plans.stage.implicits._

/**
 * Entity canonicalization + triple materialization — the graft's output
 * stage (BASELINE.json north_star: "canonicalize entities and emit
 * (subj, pred, obj) triples materialized as partitioned graph tables").
 *
 * The reference stops at the mapping TSV (onto_map.py:144-146); the graft
 * closes the loop: sameAs mappings induce an equivalence relation whose
 * connected components pick a canonical representative (lexicographic min —
 * deterministic), and the final graph table carries three predicates:
 *   sameAs   — repaired alignment edges,
 *   mentions — turn → entity evidence from the mention-detect stage,
 *   broader  — child → parent hierarchy edges.
 */
object canonical {

  /**
   * Connected components by min-label propagation with POINTER JUMPING and
   * EDGE CONTRACTION — O(log(diameter)) rounds, not O(diameter): each round
   * (1) pulls the min neighbor label, (2) compresses canonical chains one
   * level (canonical := canonical(canonical)), (3) rewrites the edge list
   * onto current representatives and drops self-loops, so the residual
   * graph shrinks geometrically. Plain min-propagation needs diameter
   * rounds — a chain-shaped component of length 10^6 in a 100 TB entity
   * graph would never finish; this variant finishes in ~20.
   * `edges` must carry (entity1, entity2). Returns (id, canonical).
   */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          maxIter: Int = 20): DataFrame = {
    val e = undirected(edges)
    // Dup-graph-sized edge lists are solved driver-local by union-by-min,
    // the loop's converged answer (CanonicalSpec pins local ≡ distributed).
    // The loop's scheduler latency (~3 actions a round) dominates small
    // graphs; graphs past MaxLocalEdges (~hundreds of MB of driver heap at
    // 5M string rows) take the distributed pointer-jumping loop below.
    route.local(e, MaxLocalEdges, "connectedComponents", Seq("a", "b")) match {
      case Some(rows) => componentsLocal(spark, rows, e.schema("a").dataType)
      case None => connectedComponentsLoop(spark, e, maxIter)
    }
  }

  /** Edge lists past this many (a, b) rows take the distributed loop. */
  private val MaxLocalEdges = 5000000L

  /** The materialized, double-sided, distinct (a, b) edge list of
    * (entity1, entity2) `edges`: the input of both routes. */
  private[graft] def undirected(edges: DataFrame): DataFrame =
    edges.select(col("entity1").as("a"), col("entity2").as("b"))
      .unionByName(edges.select(col("entity2").as("a"), col("entity1").as("b")))
      .distinct()
      .materialize

  /** Union-find with the min id (Spark's order) as every set's root. */
  private def componentsLocal(spark: SparkSession, rows: Array[Row],
                              idType: DataType): DataFrame = {
    val lt = route.lt(idType)
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x
      while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    rows.foreach { row =>
      val a = row.get(0)
      val b = row.get(1)
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (lt(ra, rb)) parent.put(rb, ra) else parent.put(ra, rb) }
    }
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(parent.keySet().asScala.toSeq.map(id => Row(id, find(id))).asJava,
      StructType(Seq(StructField("id", idType), StructField("canonical", idType))))
  }

  /** The distributed pointer-jumping loop over an `undirected` edge
    * list — the 100 TB path (and the null-id / unsupported-id-type
    * fallback of the local route above). */
  private[graft] def connectedComponentsLoop(spark: SparkSession, e0: DataFrame,
                                      maxIter: Int): DataFrame = {
    var e = e0
    var labels = e.select(col("a").as("id")).distinct()
      .withColumn("canonical", col("id"))
      .materialize
    var iter = 0
    while (iter < maxIter && !e.isEmpty) {
      // (1) min over self and current representatives' neighbor labels
      val minNb = e.join(labels.select(col("id").as("b"), col("canonical").as("lb")), "b")
        .groupBy("a").agg(min(col("lb")).as("nb"))
        .withColumnRenamed("a", "id")
      val updated = labels.join(minNb, Seq("id"), "left")
        .select(col("id"),
          least(col("canonical"), coalesce(col("nb"), col("canonical"))).as("canonical"))
      // (2) pointer jump: follow one level of indirection
      val jumped = updated.as("x")
        .join(updated.select(col("id").as("cid"), col("canonical").as("cc")).as("y"),
          col("x.canonical") === col("y.cid"))
        .select(col("x.id").as("id"), col("y.cc").as("canonical"))
        .materialize
      // (3) contract: edges between current representatives only
      e = e.join(jumped.select(col("id").as("a"), col("canonical").as("ca")), "a")
        .join(jumped.select(col("id").as("b"), col("canonical").as("cb")), "b")
        .select(col("ca").as("a"), col("cb").as("b"))
        .filter(col("a") =!= col("b")).distinct()
        .materialize
      labels = jumped
      iter += 1
    }
    // final path compression: resolve any residual canonical chains.
    // Convergence is guaranteed (each pass strictly compresses), but a
    // hard cap bounds the job if an upstream invariant ever breaks —
    // 64 doublings cover any chain shorter than 2^64.
    var changed = 1L
    var compressIter = 0
    while (changed > 0) {
      require(compressIter < 64,
        "connectedComponents: path compression did not converge in 64 " +
          "passes — canonical pointers contain a cycle (corrupt labels?)")
      compressIter += 1
      val next = labels.as("x")
        .join(labels.select(col("id").as("cid"), col("canonical").as("cc")).as("y"),
          col("x.canonical") === col("y.cid"))
        .select(col("x.id").as("id"), col("y.cc").as("canonical"))
        .materialize
      changed = next.as("n")
        .join(labels.select(col("id"), col("canonical").as("old")), "id")
        .filter(col("canonical") =!= col("old")).count()
      labels = next
    }
    labels
  }

  /** Components of a 1-to-1 mapping set (a perfect matching — what
    * repair.oneToOne guarantees): every component is a single edge, so the
    * canonical representative is just the lexicographic min of the pair.
    * No iteration, one projection — use this instead of
    * connectedComponents when the matching invariant holds. */
  def matchingComponents(matching: DataFrame): DataFrame = {
    val c = least(col("entity1"), col("entity2")).as("canonical")
    matching.select(col("entity1").as("id"), c)
      .unionByName(matching.select(col("entity2").as("id"), c))
      .distinct()
  }

  /** Rewrite each named reference column of `df` onto its component's
    * canonical id: a broadcast left join on `components`' (id, canonical)
    * per column, so an id outside every component keeps its value. The
    * other columns, and the column order, stay as they are. */
  def rewrite(df: DataFrame, components: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df) { (d, c) =>
      d.join(broadcast(components.select(col("id").as(c), col("canonical"))), Seq(c), "left")
        .select(d.columns.toSeq.map(n =>
          if (n == c) coalesce(col("canonical"), col(c)).as(c) else col(n)): _*)
    }

  /** Assemble the graph table. All inputs optional-empty-safe. */
  def triples(sameAs: DataFrame, mentions: DataFrame,
              broader: DataFrame): DataFrame = {
    val a = sameAs.select(col("entity1").as("subj"), lit("sameAs").as("pred"),
      col("entity2").as("obj"), col("value").as("score"))
    val m = mentions.select(
      concat(col("conv_id"), lit("#"), col("turn_idx")).as("subj"),
      lit("mentions").as("pred"), col("class_iri").as("obj"), lit(1.0).as("score"))
    val b = broader.select(col("child_iri").as("subj"), lit("broader").as("pred"),
      col("parent_iri").as("obj"), lit(1.0).as("score"))
    a.unionByName(m).unionByName(b)
  }

  /** One-row, partition-invariant digest of a triple table: counts per
    * predicate plus the sum of per-row md5 prefixes folded to 31 bits over
    * (subj, pred, obj, round(score, 6)). Order-free, and sensitive to every
    * value and to multiplicity. The q40t/q61 oracles pin it as constants. */
  def tripleDigest(triples: DataFrame): DataFrame = {
    val rowKey = concat_ws("\u0001", col("subj"), col("pred"), col("obj"),
      round(col("score"), 6).cast("string"))
    val h = pmod(conv(substring(md5(rowKey), 1, 15), 16, 10).cast("long"),
      lit(2147483648L))
    def n(pred: String) = sum(when(col("pred") === pred, 1L).otherwise(0L))
    triples.agg(
      count(lit(1)).as("n_triples"),
      n("sameAs").as("n_sameas"),
      n("mentions").as("n_mentions"),
      n("broader").as("n_broader"),
      sum(h).as("hash_sum"))
  }
}
