package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.stage.implicits._
import org.apache.spark.sql.expressions.Window
import graft.functions.rnd

/**
 * Self-supervised corpus construction — the reference's "ETL"
 * (/root/reference/bertmap/corpora): synonym and nonsynonym text pairs
 * generated from the catalogs themselves, fully relational and seeded.
 *
 * All sampling is reproducible AND partition-invariant: every draw is a
 * pure function of row content + the job seed (graft.functions.rnd), never
 * Spark's `rand(seed)` (which is seeded per partition and drawn in row
 * order, so repartitioning changes the sample) and never driver-side RNG.
 * The same job at any partition count yields the same rows — the
 * BASELINE.json determinism-under-parallelism invariant, pinned by
 * DeterminismSpec at 2 vs 8 shuffle partitions.
 */
object corpus {

  /** Intra-catalog synonyms: all ordered pairs of distinct labels of one
    * class, both directions (intra_onto.py:61-76). `classes` must carry
    * (class_iri, labels: array<string>) with labels normalized. */
  def intraSynonyms(classes: DataFrame): DataFrame =
    classes
      .select(col("class_iri"), explode(col("labels")).as("sent1"), col("labels"))
      .select(col("sent1"), explode(col("labels")).as("sent2"))
      .filter(col("sent1") =!= col("sent2"))
      .withColumn("label", lit(1))
      .withColumn("kind", lit("syn"))

  /** Enforced bound on the dimension tables whose global index window
    * funnels through one task (classes in softNonsynonyms, mappings in
    * crossSoftNonsynonyms). The catalogs the reference aligns are 10^3-10^4
    * classes; the largest real ontologies are ~10^7 — beyond that the
    * single-task sort is no longer "a few MB" and the job must fail loudly
    * instead of silently serializing (mirrors Pipeline.maxDictEntities). */
  val maxDim: Long = 10000000L

  private def requireDim(n: Long, what: String): Unit =
    require(n <= maxDim,
      s"$what has $n rows > maxDim=$maxDim: the global index window would " +
        "funnel the whole dimension through one task; shard the catalog or " +
        "precompute a distributed zipWithIndex before sampling")

  /** Raw soft-negative draws BEFORE negative_sample_check — the input to
    * both the kept set and the violation counter. */
  private def softNonsynonymDraws(classes: DataFrame, rate: Int, seed: Long,
                                  d: Long): DataFrame = {
    // global window: classes is a catalog DIMENSION (bounded — enforced by
    // requireDim). Transcript-proportional data never flows through here.
    val w = Window.orderBy("class_iri")
    val indexed = classes
      .withColumn("idx", row_number().over(w).cast("long") - 1)
    val byIdx = indexed.select(col("idx").as("o_idx"), col("labels").as("o_labels"))

    // rate draws per (class, label): explode a draw dimension, derive the
    // partner index without self via modular shift. Draws are keyed on
    // (class idx, label, draw ordinal) content — partition-invariant.
    indexed
      .select(col("idx"), explode(col("labels")).as("sent1"))
      .withColumn("draw", explode(sequence(lit(0), lit(rate - 1))))
      .withColumn("r",
        pmod(rnd.keyed(seed, col("idx"), col("sent1"), col("draw")), lit(d - 1)))
      .withColumn("o_idx", (col("idx") + lit(1L) + col("r")) % lit(d))
      .join(byIdx, "o_idx")
      .withColumn("pick",
        (pmod(rnd.keyed(seed + 1, col("idx"), col("sent1"), col("draw")),
          size(col("o_labels")).cast("long")) + 1).cast("int"))
      .withColumn("sent2", element_at(col("o_labels"), col("pick")))
      .select(col("sent1"), col("sent2"))
  }

  /** Soft nonsynonyms: per label, `rate` random other-class labels, seeded;
    * rejected if the pair is already a synonym (intra_onto.py:78-107,
    * exclude_randrange general_utils.py:26-30 — the (idx+1+k)%D draw
    * guarantees a class ≠ self without re-drawing). */
  def softNonsynonyms(classes: DataFrame, rate: Int, seed: Long): DataFrame = {
    val d = classes.count()
    if (d < 2) return classes.sparkSession.emptyDataFrame
      .withColumn("sent1", lit("")).limit(0)
      .select(col("sent1"), col("sent1").as("sent2"), lit(0).as("label"), lit("soft_neg").as("kind"))
    requireDim(d, "softNonsynonyms classes")
    val draws = softNonsynonymDraws(classes, rate, seed, d)
      .filter(col("sent1") =!= col("sent2"))
    // negative_sample_check (basic_corpus.py:141-153): not a synonym in
    // either direction
    draws.join(synonymPairsBothOf(classes), Seq("sent1", "sent2"), "left_anti")
      .withColumn("label", lit(0))
      .withColumn("kind", lit("soft_neg"))
  }

  /** Rejected soft-negative draws — the reference's `violations` list
    * (intra_onto.py:99-103: a draw failing negative_sample_check — identical
    * labels or an existing synonym pair — is recorded, and
    * corpus_info["nonsynonyms"]["removed_violations"] reports the count at
    * intra_onto.py:58). Same draws as `softNonsynonyms`, complement side. */
  def softNonsynonymViolations(classes: DataFrame, rate: Int, seed: Long): DataFrame = {
    val d = classes.count()
    if (d < 2) return classes.sparkSession.emptyDataFrame
      .withColumn("sent1", lit("")).limit(0)
      .select(col("sent1"), col("sent1").as("sent2"), lit("soft_neg_violation").as("kind"))
    requireDim(d, "softNonsynonyms classes")
    violationsOf(softNonsynonymDraws(classes, rate, seed, d),
      synonymPairsBothOf(classes), "soft_neg_violation")
  }

  /** Synonym pairs of a catalog in both directions (the alias sets
    * negative_sample_check consults). */
  private def synonymPairsBothOf(classes: DataFrame): DataFrame = {
    val syn = intraSynonyms(classes).select("sent1", "sent2")
    syn.unionByName(syn.select(col("sent2").as("sent1"), col("sent1").as("sent2")))
  }

  /** Hard nonsynonyms: label pairs across sibling classes of a common
    * parent (intra_onto.py:109-151). `edges`: (child_iri, parent_iri).
    *
    * @param parentDepths optional (id, depth) table (hierarchy.depthMax or
    *        depthMin per the reference's depth_strategy, config.json:23-24);
    *        with `depthThreshold` it skips parents deeper than the
    *        threshold — intra_onto.py:115-119 ("skip if the depth of the
    *        class exceeds the threshold"). */
  def hardNonsynonyms(classes: DataFrame, edges: DataFrame,
                      depthThreshold: Int = Int.MaxValue,
                      parentDepths: Option[DataFrame] = None): DataFrame = {
    val keptEdges = parentDepths match {
      case Some(d) if depthThreshold != Int.MaxValue =>
        edges.join(
          broadcast(d.filter(col("depth") <= depthThreshold)
            .select(col("id").as("parent_iri"))),
          Seq("parent_iri"), "left_semi")
      case _ => edges
    }
    val sib = keptEdges.as("a")
      .join(keptEdges.as("b"), col("a.parent_iri") === col("b.parent_iri"))
      .filter(col("a.child_iri") < col("b.child_iri"))
      .select(col("a.child_iri").as("c1"), col("b.child_iri").as("c2"))
      .distinct()
    val lab = classes.select(col("class_iri"), explode(col("labels")).as("l"))
    sib
      .join(lab.select(col("class_iri").as("c1"), col("l").as("sent1")), "c1")
      .join(lab.select(col("class_iri").as("c2"), col("l").as("sent2")), "c2")
      .select("sent1", "sent2")
      .filter(col("sent1") =!= col("sent2"))
      .join(synonymPairsBothOf(classes), Seq("sent1", "sent2"), "left_anti")
      .withColumn("label", lit(0))
      .withColumn("kind", lit("hard_neg"))
  }

  /** Draws failing negative_sample_check (identical labels or an existing
    * synonym pair either direction), tagged `kind` — multiplicity preserved
    * so counts match the reference's per-occurrence violations list. */
  private def violationsOf(raw: DataFrame, synBoth: DataFrame,
                           kind: String): DataFrame =
    raw.filter(col("sent1") === col("sent2"))
      .unionByName(raw.filter(col("sent1") =!= col("sent2"))
        .join(synBoth, Seq("sent1", "sent2"), "left_semi"))
      .withColumn("kind", lit(kind))

  /** Cross-catalog synonyms from seed mappings: all src-label × tgt-label
    * pairs, both directions (cross_onto.py:82-100). */
  def crossSynonyms(maps: DataFrame, srcClasses: DataFrame,
                    tgtClasses: DataFrame): DataFrame = {
    val s = srcClasses.select(col("class_iri").as("entity1"), explode(col("labels")).as("sent1"))
    val t = tgtClasses.select(col("class_iri").as("entity2"), explode(col("labels")).as("sent2"))
    val fwd = maps.join(s, "entity1").join(t, "entity2").select("sent1", "sent2")
    fwd.unionByName(fwd.select(col("sent2").as("sent1"), col("sent1").as("sent2")))
      .withColumn("label", lit(1))
      .withColumn("kind", lit("co_syn"))
  }

  /** Train/val/test split with ratio boundaries over an explicit 31-bit
    * draw column (any deterministic function of row content — e.g.
    * rnd.lcg over a numeric key, or rnd.keyed over strings). */
  def splitByDraw(maps: DataFrame, trainRatio: Double, valRatio: Double,
                  draw: Column): DataFrame = {
    require(trainRatio + valRatio <= 1.0, "split ratios exceed 1 (cross_onto.py:50)")
    val u = rnd.uniform01(draw)
    maps.withColumn("split",
      when(u < trainRatio, "train")
        .when(u < trainRatio + valRatio, "val")
        .otherwise("test"))
  }

  /** Train/val/test split, content-keyed and seeded
    * (cross_onto.py:36-66; ratios 0.2/0.1/0.7 per config.json:17-19). */
  def split(maps: DataFrame, trainRatio: Double, valRatio: Double,
            seed: Long, keyCols: Seq[String] = Seq("entity1", "entity2")): DataFrame =
    splitByDraw(maps, trainRatio, valRatio, rnd.keyed(seed, keyCols.map(col): _*))

  /**
   * Negative-rate downsampling: keep exactly `negRate × nSyn` rows of a
   * negative set, seeded (cross_onto.py:153-174, merged_onto.py:96-147) —
   * the first `target` rows in the global (draw, key) order, plus their
   * global rank as `rn`.
   *
   * Scale design: a naive `Window.orderBy(u)` funnels the ENTIRE negative
   * set through one task. Instead the draw space [0, 2^31) is range-bucketed
   * into 256 buckets, ranks are computed per bucket (parallel), the tiny
   * per-bucket histogram (≤ 256 rows) is collected, and global rank =
   * bucket offset + local rank — exact top-`target` selection with no
   * single-task sort and one extra count-only job.
   */
  def downsampleNegatives(negatives: DataFrame, nSyn: Long, negRate: Double,
                          seed: Long, keyCols: Seq[String] = Seq("sent1", "sent2"),
                          uCol: Option[Column] = None): DataFrame = {
    val buckets = 256
    val target = (negRate * nSyn).toLong
    if (target <= 0) return negatives.limit(0).withColumn("rn", lit(0L))
    val u = uCol.getOrElse(rnd.keyed(seed, keyCols.map(col): _*))
    val width = math.max(1L, rnd.M / buckets)
    val tagged = negatives
      .withColumn("_u", u.cast("long"))
      .withColumn("_b", least(floor(col("_u") / lit(width)).cast("int"), lit(buckets - 1)))
    val counts = tagged.groupBy("_b").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val offsets: Map[Int, Long] = {
      var acc = 0L
      (0 until buckets).map { b => val o = b -> acc; acc += counts.getOrElse(b, 0L); o }.toMap
    }
    val wB = Window.partitionBy("_b")
      .orderBy((col("_u").asc +: keyCols.map(c => col(c).asc)): _*)
    tagged.withColumn("_r", row_number().over(wB))
      .withColumn("rn", element_at(typedLit(offsets), col("_b")) + col("_r"))
      .filter(col("rn") <= target)
      .drop("_u", "_b", "_r")
  }

  /** Corpus counters (basic_corpus.py:95-109) as a tidy aggregate. */
  def counters(corpusLong: DataFrame): DataFrame =
    corpusLong.groupBy("kind").agg(count(lit(1)).as("n"))

  /** Synonym pairs of a long-form corpus in both directions — the
    * relational form of the per-label alias sets that
    * negative_sample_check consults (basic_corpus.py:141-153: reject when
    * (l1,l2) OR (l2,l1) is a synonym). */
  def synonymPairsBoth(corpusLong: DataFrame): DataFrame = {
    val syn = corpusLong.filter(col("label") === 1)
      .select("sent1", "sent2").distinct()
    syn.unionByName(syn.select(col("sent2").as("sent1"), col("sent1").as("sent2")))
      .distinct()
  }

  /**
   * Merge two long-form corpora (merged_onto.py:39-94): synonyms are
   * unioned and deduped (update_synonyms :66-75); the ADD corpus's
   * negatives are re-validated against the MERGED synonym set — a pair
   * that became a synonym after merging is a violation and is dropped
   * (update_nonsynonyms :77-94 guards each added negative with
   * negative_sample_check). Base negatives pass through unchecked,
   * exactly as the reference only re-checks added ones.
   */
  def mergeCorpora(base: DataFrame, add: DataFrame): DataFrame = {
    val pairCols = Seq("sent1", "sent2", "label", "kind").map(col)
    val synMerged = base.filter(col("label") === 1).select(pairCols: _*)
      .unionByName(add.filter(col("label") === 1).select(pairCols: _*))
      .distinct()
    val synBoth = synonymPairsBoth(synMerged)
    val baseNeg = base.filter(col("label") === 0).select(pairCols: _*)
    val addNegKept = add.filter(col("label") === 0).select(pairCols: _*)
      .filter(col("sent1") =!= col("sent2"))
      .join(synBoth, Seq("sent1", "sent2"), "left_anti")
    synMerged.unionByName(baseNeg.unionByName(addNegKept).distinct())
  }

  /**
   * Cross-catalog soft nonsynonyms (cross_onto.py:102-151): for mapping i
   * and each label of one side, `rate` draws of OTHER mappings j != i via
   * the exclude_randrange shift (idx+1+r) % M; the negative partner is a
   * drawn label of mapping j's OPPOSITE-side class (src labels sample from
   * tgt classes and vice versa — cross_onto_nonsynonyms :102-111). Pairs
   * that are cross synonyms are rejected (negative_sample_check) and the
   * backward pair is emitted too (:139-145). Draws are content-keyed
   * (partition-invariant) with the md5+LCG twin the oracle replicates.
   */
  def crossSoftNonsynonyms(maps: DataFrame, srcClasses: DataFrame,
                           tgtClasses: DataFrame, rate: Int, seed: Long): DataFrame = {
    val m = maps.select("entity1", "entity2").distinct().count()
    val empty = maps.sparkSession.emptyDataFrame
      .withColumn("sent1", lit("")).limit(0)
      .select(col("sent1"), col("sent1").as("sent2"),
        lit(0).as("label"), lit("co_soft_neg").as("kind"))
    if (m < 2) return empty
    requireDim(m, "crossSoftNonsynonyms mappings")
    // mapping set is seed/alignment-sized (bounded — requireDim'd above).
    // Intermediates are stage.materialize'd, NOT cache()'d: cached plans
    // pin storage memory in the shared CacheManager for the session's
    // lifetime, while checkpoint blocks are released when the DataFrame is
    // garbage-collected — repeated corpus builds in a long-lived session
    // stay flat (see plans/stage.scala for the fault-tolerance knob).
    val w = Window.orderBy("entity1", "entity2")
    val idx = maps.select("entity1", "entity2").distinct()
      .withColumn("midx", row_number().over(w).cast("long") - 1)
    val srcLab = srcClasses.select(col("class_iri").as("entity1"), col("labels").as("src_labels"))
    val tgtLab = tgtClasses.select(col("class_iri").as("entity2"), col("labels").as("tgt_labels"))
    val withLabels = idx.join(srcLab, "entity1").join(tgtLab, "entity2")
      .select("midx", "src_labels", "tgt_labels").materialize

    def side(labCol: String, oppCol: String, tag: String): DataFrame = {
      val partner = withLabels.select(col("midx").as("o_idx"), col(oppCol).as("o_labels"))
      withLabels
        .select(col("midx"), explode(col(labCol)).as("sent1"))
        .withColumn("draw", explode(sequence(lit(0), lit(rate - 1))))
        .withColumn("r",
          pmod(rnd.keyed(seed, col("midx"), col("sent1"), col("draw"), lit(tag)), lit(m - 1)))
        .withColumn("o_idx", (col("midx") + lit(1L) + col("r")) % lit(m))
        .join(partner, "o_idx")
        .withColumn("pick",
          (pmod(rnd.keyed(seed + 1, col("midx"), col("sent1"), col("draw"), lit(tag)),
            size(col("o_labels")).cast("long")) + 1).cast("int"))
        .withColumn("sent2", element_at(col("o_labels"), col("pick")))
        .select("sent1", "sent2")
    }
    val drawn = side("src_labels", "tgt_labels", "s2t")
      .unionByName(side("tgt_labels", "src_labels", "t2s"))
      .filter(col("sent1") =!= col("sent2"))
    val synBoth = crossSynonyms(idx, srcClasses, tgtClasses).select("sent1", "sent2")
    val kept = drawn.join(synBoth, Seq("sent1", "sent2"), "left_anti").distinct()
    kept.unionByName(kept.select(col("sent2").as("sent1"), col("sent1").as("sent2")))
      .distinct()
      .withColumn("label", lit(0))
      .withColumn("kind", lit("co_soft_neg"))
  }

  /**
   * Final fine-tuning data assembly (merged_onto.py:96-147 train_val_split;
   * oa_corpora.py:193-224 unsupervised_data): non-identity synonyms plus
   * softNegRate*|syn| soft and hardNegRate*|syn| hard negatives (exact
   * content-keyed downsample), deduped, split train/val at `valRatio`; the
   * identity-synonym variant is assembled the same way against |id_syn|.
   * Returns split ∈ {train, val, train_ids, val_ids}; the reference's
   * "train+" = uniqify(train ∪ train_ids) and "val+" likewise — materialize
   * them by filtering on both names.
   */
  def assembleSplits(corpusLong: DataFrame, softNegRate: Double,
                     hardNegRate: Double, valRatio: Double, seed: Long): DataFrame = {
    val pairCols = Seq("sent1", "sent2", "label", "kind").map(col)
    // stage.materialize, not cache: see crossSoftNonsynonyms — checkpoint blocks
    // are GC-released, cached plans pin storage memory for the session life
    val syn = corpusLong.filter(col("label") === 1 && col("kind") =!= "id_syn")
      .select(pairCols: _*).distinct().materialize
    val idSyn = corpusLong.filter(col("kind") === "id_syn")
      .select(pairCols: _*).distinct().materialize
    val soft = corpusLong.filter(col("kind").isin("soft_neg", "co_soft_neg"))
      .select(pairCols: _*).distinct()
    val hard = corpusLong.filter(col("kind") === "hard_neg")
      .select(pairCols: _*).distinct()
    val nSyn = syn.count()
    val nId = idSyn.count()

    def assemble(pos: DataFrame, n: Long, s: Long,
                 trainName: String, valName: String): DataFrame = {
      val data = pos
        .unionByName(downsampleNegatives(soft, n, softNegRate, s).drop("rn"))
        .unionByName(downsampleNegatives(hard, n, hardNegRate, s + 1).drop("rn"))
        .distinct()
      splitByDraw(data, 1.0 - valRatio, valRatio,
          rnd.keyed(s + 2, col("sent1"), col("sent2")))
        .withColumn("split",
          when(col("split") === "train", trainName).otherwise(valName))
    }
    assemble(syn, nSyn, seed, "train", "val")
      .unionByName(assemble(idSyn, nId, seed + 10, "train_ids", "val_ids"))
  }
}
