package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.text

/**
 * Pair scoring — the model-adjacent surface of the pipeline
 * (/root/reference/bertmap/map/bert_classifier_map.py:48-52,116-159).
 *
 * The reference scores label cross-pairs with a fine-tuned BERT
 * cross-encoder; its own `nes`/`bertembeds` modes (run_bertmap.py:293-367)
 * prove the scorer slot is pluggable without touching the dataflow. Here the
 * scorer is a deterministic lexical blend (token Jaccard + normalized edit
 * similarity) executed row by row inside mapPartitions over a typed
 * projection, with its parameters shipped via SparkContext.broadcast — the
 * slot a real broadcast-weights inference hop would fill, batching rows
 * inside the same mapPartitions (north_star: "batched inference, broadcast
 * model weights"). Swapping in an ONNX/embedding scorer changes only
 * `ScorerParams`/`kernel`, never the plan around it.
 */
object score {

  /** Broadcastable scorer parameters (the "model weights"). */
  final case class ScorerParams(
      jaccardWeight: Double = 0.5,
      editWeight: Double = 0.5)

  /** The per-string half of the pair kernel: (normalized label, its word
    * token set). Pure, so callers may memoize it per label. */
  def prep(s: String): (String, Set[String]) = {
    val n = text.normalize(s)
    (n, text.wordTokens(n).toSet)
  }

  /** The one lexical pair kernel over two prepared halves, in [0,1]:
    * exact normalized match ⇒ 1.0, else jaccardWeight·Jaccard +
    * editWeight·NES. */
  def kernel(p: ScorerParams, a: (String, Set[String]), b: (String, Set[String])): Double =
    if (a._1 == b._1) 1.0
    else p.jaccardWeight * text.jaccard(a._2, b._2) +
      p.editWeight * text.editSimilarity(a._1, b._1)

  /** Deterministic pair score in [0,1]: the kernel over unmemoized halves. */
  def scorePair(p: ScorerParams, a: String, b: String): Double =
    kernel(p, prep(a), prep(b))

  /**
   * Scorer over (from_id, to_id, l1, l2) pairs, appending
   * `pair_score`: a MapPartitions *logical* node over a typed projection,
   * so Catalyst/AQE still own the plan around it. (An earlier `df.rdd`
   * variant compiled its upstream non-adaptively and inserted an
   * optimization barrier — never do that mid-pipeline; it was deleted once
   * every caller moved here.)
   */
  def scoreLabelPairsTyped(spark: SparkSession, pairs: DataFrame,
                           params: ScorerParams = ScorerParams()): DataFrame = {
    import spark.implicits._
    val bc: Broadcast[ScorerParams] = spark.sparkContext.broadcast(params)
    pairs.select(col("from_id").cast("string"), col("to_id").cast("string"),
        col("l1"), col("l2"))
      .as[(String, String, String, String)]
      .mapPartitions { it =>
        val p = bc.value
        // r7 per-task memo (guide §4.5 "initialise heavyweight state once
        // per task"): candidate generation emits each label in MANY pairs
        // (every from-label × its candidate list), and normalize +
        // word-tokenize are regex passes — memoizing the pure per-STRING
        // half of the kernel leaves only the per-PAIR Levenshtein/Jaccard
        // arithmetic on the pair loop. Pure-function cache → results
        // unchanged; bounded so a high-cardinality partition cannot
        // balloon task memory.
        val memo = new java.util.HashMap[String, (String, Set[String])]()
        def memoPrep(s: String): (String, Set[String]) = {
          var v = memo.get(s)
          if (v == null) {
            if (memo.size >= 65536) memo.clear()
            v = prep(s)
            memo.put(s, v)
          }
          v
        }
        it.map(r => (r._1, r._2, r._3, r._4, kernel(p, memoPrep(r._3), memoPrep(r._4))))
      }
      .toDF("from_id", "to_id", "l1", "l2", "pair_score")
  }

  /**
   * Deterministic sentence embedder — the stand-in for the reference's
   * `bertembeds` mode (bert_static.py:34-75: masked mean of hidden states).
   * Hashed bag-of-words features over word tokens: a pure function of the
   * text, run in mapPartitions like the scorer (swap in a real encoder
   * by replacing `embedKernel` only). L2-normalized so dot = cosine.
   */
  def embedKernel(s: String, dim: Int): Array[Float] = {
    val v = new Array[Float](dim)
    text.wordTokens(s).foreach { t =>
      val h = t.hashCode
      v(math.floorMod(h, dim)) += (if (((h >>> 16) & 1) == 0) 1f else -1f)
    }
    val n = math.sqrt(v.map(x => x.toDouble * x).sum)
    if (n > 0) { var i = 0; while (i < dim) { v(i) = (v(i) / n).toFloat; i += 1 } }
    v
  }

  /** (id, text) -> (id, embedding: array<float>), one mapPartitions pass. */
  def embedSentences(spark: SparkSession, df: DataFrame, idCol: String,
                     textCol: String, dim: Int): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("string").as("id"), col(textCol).as("txt"))
      .as[(String, String)]
      .mapPartitions(_.map { case (id, s) => (id, embedKernel(s, dim)) })
      .toDF("id", "embedding")
  }

  /**
   * String-match short-circuit with candidate abandonment
   * (bert_classifier_map.py:119-123 — an exact label match returns
   * [(to, 1.0)] immediately, dropping the from-class's *other* candidates).
   *
   * @param candPairs   (from_id, to_id) candidate class pairs
   * @param fromLabels  (from_id, label) normalized
   * @param toLabels    (to_id, label) normalized
   * @return (matchedPairs with score 1.0, remainingCandPairs to model-score)
   */
  def stringMatchSplit(candPairs: DataFrame, fromLabels: DataFrame,
                       toLabels: DataFrame): (DataFrame, DataFrame) = {
    val matched = candPairs
      .join(fromLabels, "from_id")
      .join(toLabels.withColumnRenamed("label", "to_label"), "to_id")
      .filter(col("label") === col("to_label"))
      .select("from_id", "to_id").distinct()
      .withColumn("score", lit(1.0))
    val matchedFrom = matched.select("from_id").distinct()
    val remaining = candPairs.join(matchedFrom, Seq("from_id"), "left_anti")
    (matched, remaining)
  }

  /**
   * Single-pass fusion of string-match + scoring + pooling: per class pair
   * compute the pooled scorer output AND an exact-label flag, then a
   * window over the from-class implements the candidate-abandonment rule
   * (a from-class with ANY exact match keeps ONLY its exact pairs at 1.0
   * — bert_classifier_map.py:119-123) without the anti-join/union plan of
   * `stringMatchSplit`. Semantically identical; roughly halves the
   * alignment DAG (planning latency is serial driver cost). Trade-off:
   * the scorer also runs on the abandoned pairs — free for the lexical
   * scorer; with an expensive neural scorer prefer `stringMatchSplit`,
   * which skips them entirely.
   */
  def scorePooledWithStringMatch(spark: SparkSession, pairs: DataFrame,
                                 pooling: String,
                                 params: ScorerParams = ScorerParams()): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = poolingAgg(pooling)
    // one explicit from_id exchange right after the scorer barrier: the
    // (from,to) pooling group (from ⊆ keys ⇒ clustering satisfied), the
    // abandonment window and the caller's n-best window all reuse it —
    // 3 exchanges collapse to 1. The scorer's typed mapPartitions erases
    // partitioning info anyway, so this exchange is not avoidable; making
    // it from_id-keyed makes it the only one. Pair volume here is already
    // candidate-limit-bounded, so the lost pre-exchange partial agg is
    // noise at any scale. The width is PINNED to the cluster parallelism:
    // AQE sizes partitions by bytes and would coalesce this CPU-dense
    // stage (per-pair edit-distance kernels on KB-sized rows) to a single
    // task, serializing the scorer.
    val perPair = graft.plans.stage.pinned(scoreLabelPairsTyped(spark, pairs, params),
        col("from_id"))
      .groupBy("from_id", "to_id")
      .agg(agg.as("pooled"),
        max(when(col("l1") === col("l2"), 1).otherwise(0)).as("is_exact"))
    val w = Window.partitionBy("from_id")
    perPair
      .withColumn("any_exact", max(col("is_exact")).over(w))
      .filter(col("any_exact") === 0 || col("is_exact") === 1)
      .select(col("from_id"), col("to_id"),
        when(col("is_exact") === 1, 1.0).otherwise(col("pooled")).as("score"))
  }

  /**
   * Column form of the lexical pair score — the codegen'd scorer variant:
   * built entirely from whole-stage-codegen functions (levenshtein, array
   * ops), so unlike the mapPartitions kernel it never breaks the codegen
   * span or the optimizer's view of the plan. Exactly `kernel`'s
   * arithmetic: normalize both sides, exact match ⇒ 1.0, else
   * jaccardWeight·tokenJaccard + editWeight·NES, where NES =
   * 1 − levenshtein/max(len) is the reference's own `nes` mapping mode
   * (nes_map.py:73-77). Use this for lexical/NES alignment; keep the
   * mapPartitions kernel for model inference.
   */
  def pairScoreCol(l1: org.apache.spark.sql.Column, l2: org.apache.spark.sql.Column,
                   p: ScorerParams): org.apache.spark.sql.Column = {
    val a = text.normalizeCol(l1)
    val b = text.normalizeCol(l2)
    val ta = array_distinct(text.wordTokensCol(a))
    val tb = array_distinct(text.wordTokensCol(b))
    val inter = size(array_intersect(ta, tb)).cast("double")
    val jac = when(size(ta) === 0 && size(tb) === 0, lit(1.0))
      .otherwise(inter / (size(ta) + size(tb) - inter))
    val nes = lit(1.0) - levenshtein(a, b) / greatest(length(a), length(b))
    when(a === b, lit(1.0))
      .otherwise(lit(p.jaccardWeight) * jac + lit(p.editWeight) * nes)
  }

  /** The pooling aggregate over `pair_score`: mean or max (batch_pooling,
    * bert_classifier_map.py:38,155-159); any other name throws
    * IllegalArgumentException. */
  def poolingAgg(strategy: String): org.apache.spark.sql.Column = strategy match {
    case "mean" => avg(col("pair_score"))
    case "max" => max(col("pair_score"))
    case other => throw new IllegalArgumentException(
      s"pooling must be mean|max (bert_classifier_map.py:38), got $other")
  }

  /** Per-class-pair pooling of label-pair scores: mean (default) or max. */
  def pool(scored: DataFrame, strategy: String = "mean"): DataFrame =
    scored.groupBy("from_id", "to_id").agg(poolingAgg(strategy).as("score"))

  /** Score clamp: scores <= 0.01 -> 0.0 (bert_classifier_map.py:83-84). */
  def clamp(mappings: DataFrame): DataFrame =
    mappings.withColumn("score",
      when(col("score") <= 0.01, 0.0).otherwise(col("score")))
}
