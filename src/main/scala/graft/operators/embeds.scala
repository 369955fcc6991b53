package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.vecagg

/**
 * Embeds-mode scorer hop — the reference's `bertembeds` baseline
 * (/root/reference/bertmap/map/bert_embeds_map.py:49-136, one of the modes
 * run_bertmap.py:293-367 dispatches on): class embedding = mean of
 * per-label sentence embeddings (bert_static.py:99-109), candidate
 * selection via the token inverted index, mapping score = cosine of the
 * pooled class vectors, n-best per from-class. The dataflow is the shared
 * `align.direction` — only the scorer hop differs (a broadcast-free vector
 * cosine instead of the pair cross-encoder), so at scale it has the same
 * plan shape: broadcast token join, partial aggregation, window top-k. The
 * flagship (`Pipeline.rawMappings`) runs the classifier hop only; q49
 * feeds this hop stored class vectors, and the specs feed it
 * `classEmbeddings`.
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
}
