package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.stage.implicits._
import graft.functions.{text, vecagg}

/**
 * Embeds-mode alignment — the reference's `bertembeds` baseline shipped as
 * a first-class mapping mode (/root/reference/bertmap/map/
 * bert_embeds_map.py:49-136, selected at run_bertmap.py:293-367):
 * class embedding = mean of per-label sentence embeddings
 * (bert_static.py:99-109), candidate selection via the token inverted
 * index, mapping score = cosine of the pooled class vectors, n-best per
 * from-class, both directions combined. The dataflow is the classifier
 * mode's wholesale — only the scorer hop differs (a broadcast-free vector
 * cosine instead of the pair cross-encoder), so at scale it inherits the
 * same plan shape: broadcast token join, partial aggregation, window top-k.
 */
object embeds {

  /** Per-class embedding: embed each (id, label) row with the batched
    * sentence embedder, then mean-pool per id (the custom VectorMean
    * Aggregator — the reference's class-embedding mean). */
  def classEmbeddings(spark: SparkSession, labels: DataFrame,
                      dim: Int = 64): DataFrame = {
    import spark.implicits._
    score.embedSentences(spark, labels, "id", "label", dim)
      .as[(String, Array[Float])]
      .map { case (id, v) => (id, v.map(_.toDouble)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(vecagg.VectorMean.toColumn.name("emb"))
      .toDF("id", "emb")
  }

  /**
   * One direction: IDF candidates from the token inverted index, cosine of
   * the pooled class vectors, n-best per from-class.
   *
   * @param fromVecs/toVecs  (id: string, emb: array<double>) class vectors
   * @param fixedPointIdf    rank candidates by the integer IDF surrogate
   *                         (bit-reproducible across engines) instead of
   *                         double log10 — semantics identical, used by the
   *                         oracle-checked query
   */
  def alignOneSide(fromLabels: DataFrame, toLabels: DataFrame,
                   fromVecs: DataFrame, toVecs: DataFrame, d: Long,
                   candidateLimit: Int = 25, nbest: Int = 1,
                   tokenizer: Column => Column = text.wordTokensCol,
                   fixedPointIdf: Boolean = false,
                   widthHint: Int = -1): DataFrame = {
    // widthHint -1 = cluster width (see nes.alignOneSide: without it the
    // candidate chain from a single-split scan runs on one task); sums are
    // associative, results partition-invariant. 0 disables.
    val w = if (widthHint == -1)
      fromLabels.sparkSession.sparkContext.defaultParallelism else widthHint
    val qTokens = index.postingsFromText(fromLabels, "id", "label", 0, tokenizer)
      .withColumnRenamed("class_id", "query_id")
    val toPost = index.postingsFromText(toLabels, "id", "label", 0, tokenizer)
    // force the postings broadcast while the to-side is catalog-sized, same
    // rationale as nes.alignOneSide (without it the token fan-out was
    // shuffled at full volume into the (query, class) agg; measured
    // 180.8 MB at sf0.1 — see nes.scala for the full plan argument)
    val bc = graft.plans.route.broadcastCatalog(d, "embeds postings")
    val cands = (if (fixedPointIdf)
        index.idfCandidatesFixedPoint(qTokens, toPost, d, candidateLimit,
          broadcastPostings = bc, widthHint = w)
      else index.idfCandidates(qTokens, toPost, d, candidateLimit,
        broadcastPostings = bc, widthHint = w))
      .select(col("query_id").as("from_id"), col("class_id").as("to_id"))
    val scored = cands
      .join(fromVecs.select(col("id").as("from_id"), col("emb").as("fv")), "from_id")
      .join(toVecs.select(col("id").as("to_id"), col("emb").as("tv")), "to_id")
      .withColumn("score", similarity.cosineCol(col("fv"), col("tv")))
      .select("from_id", "to_id", "score")
    align.nBest(scored, nbest)
  }

  /** Both directions + union + threshold — the full embeds mapping mode
    * behind the same contract as the classifier mode. `srcLabels`/
    * `tgtLabels` are (id, label) long form with string ids. */
  def alignEmbeds(spark: SparkSession, srcLabels0: DataFrame, tgtLabels0: DataFrame,
                  threshold: Double, candidateLimit: Int = 25, nbest: Int = 1,
                  dim: Int = 64,
                  tokenizer: Column => Column = text.wordTokensCol): DataFrame = {
    val srcLabels = srcLabels0.select(col("id").cast("string").as("id"), col("label"))
    val tgtLabels = tgtLabels0.select(col("id").cast("string").as("id"), col("label"))
    // stage.materialize, not cache: the class-vector tables are consumed
    // by both directions then never again — cache() would pin them in the
    // session CacheManager forever, checkpoint blocks release on GC
    val srcVecs = classEmbeddings(spark, srcLabels, dim).materialize
    val tgtVecs = classEmbeddings(spark, tgtLabels, dim).materialize
    val (dSrc, dTgt) = align.sideSizes(srcLabels, tgtLabels)
    val s2t = align.orient(
      alignOneSide(srcLabels, tgtLabels, srcVecs, tgtVecs,
        dTgt, candidateLimit, nbest, tokenizer),
      fromIsSrc = true)
    val t2s = align.orient(
      alignOneSide(tgtLabels, srcLabels, tgtVecs, srcVecs,
        dSrc, candidateLimit, nbest, tokenizer),
      fromIsSrc = false)
    align.atThreshold(align.combine(s2t, t2s), threshold)
  }
}
