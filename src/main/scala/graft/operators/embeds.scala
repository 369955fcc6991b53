package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.vecagg

/**
 * Embeds-mode alignment — the reference's `bertembeds` baseline shipped as
 * a first-class mapping mode (/root/reference/bertmap/map/
 * bert_embeds_map.py:49-136, selected at run_bertmap.py:293-367):
 * class embedding = mean of per-label sentence embeddings
 * (bert_static.py:99-109), candidate selection via the token inverted
 * index, mapping score = cosine of the pooled class vectors, n-best per
 * from-class, both directions combined (`Pipeline.rawMappings`). The
 * dataflow is the shared `align.direction` — only the scorer hop differs
 * (a broadcast-free vector cosine instead of the pair cross-encoder), so at
 * scale it has the same plan shape: broadcast token join, partial
 * aggregation, window top-k.
 */
object embeds {

  /** Per-class embedding: embed each (id, label) row with the sentence
    * embedder (64 dimensions), then mean-pool per id (the custom VectorMean
    * Aggregator — the reference's class-embedding mean). */
  def classEmbeddings(spark: SparkSession, labels: DataFrame): DataFrame = {
    import spark.implicits._
    score.embedSentences(spark, labels, "id", "label", 64)
      .as[(String, Array[Float])]
      .map { case (id, v) => (id, v.map(_.toDouble)) }
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(vecagg.VectorMean.toColumn.name("emb"))
      .toDF("id", "emb")
  }

  /** The embeds scorer hop: cosine of the pooled class vectors
    * (`fromVecs`/`toVecs`: (id: string, emb: array<double>)). */
  def hop(fromVecs: DataFrame, toVecs: DataFrame)(cands: DataFrame): DataFrame =
    cands
      .join(fromVecs.select(col("id").as("from_id"), col("emb").as("fv")), "from_id")
      .join(toVecs.select(col("id").as("to_id"), col("emb").as("tv")), "to_id")
      .select(col("from_id"), col("to_id"),
        similarity.cosineCol(col("fv"), col("tv")).as("score"))

  /** One direction over (id, label) long-form sides: word-token postings
    * of each side, then `align.direction` with the embeds hop. `d` is the
    * to-side class count; `fixedPointIdf` ranks candidates by the integer
    * IDF surrogate (`index.idfCandidates`), as the oracle-checked query
    * does. */
  def alignOneSide(fromLabels: DataFrame, toLabels: DataFrame,
                   fromVecs: DataFrame, toVecs: DataFrame, d: Long,
                   candidateLimit: Int = 25, nbest: Int = 1,
                   fixedPointIdf: Boolean = false): DataFrame =
    align.direction(index.postingsFromText(fromLabels, "id", "label"),
        index.postingsFromText(toLabels, "id", "label"), d,
        candidateLimit, nbest, fixedPointIdf = fixedPointIdf)(hop(fromVecs, toVecs))
}
