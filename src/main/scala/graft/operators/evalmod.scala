package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/**
 * Set-based P/R/F1 evaluation with an "ignored" set — exact arithmetic of
 * /root/reference/bertmap/onto/onto_eval.py:56-93 (identity-mapping removal
 * at :87-93, ignore bookkeeping at :62-63,76-77, -1.0 sentinel at :47-54),
 * plus the 37-point threshold sweep of eval_bertmap.py:180-236 collapsed
 * into one Spark job.
 */
object evalmod {

  final case class PRF(nMappings: Long, nIgnored: Long, p: Double, r: Double, f1: Double)

  /** Drop identity mappings e1==e2, counting them (onto_eval.py:87-93). */
  def dropIdentity(m: DataFrame): DataFrame =
    m.filter(col("entity1") =!= col("entity2"))

  /**
   * Precision/recall/F1 of `pre` against `ref` with `ignored` excluded from
   * both sides:
   *   P = |pre∖ign ∩ ref| / |pre∖ign|,  R = |ref∖ign ∩ pre| / |ref∖ign|
   * matching onto_eval.py:56-85 (the reference counts TP on the
   * ignored-filtered sides). P, R and F1 are the -1.0 sentinel when a
   * denominator is empty (onto_eval.py:47-54). One declarative row
   * (n_mappings, n_ignored, n_ref, tp, p, r, f1), no driver-side
   * collection — usable as a query/operator; `prf` collects it.
   */
  def prfReport(pre0: DataFrame, ref: DataFrame, ignored: DataFrame): DataFrame = {
    val keyCols = Seq("entity1", "entity2")
    val pre = dropIdentity(pre0).select(keyCols.map(col): _*).distinct()
    val refK = ref.select(keyCols.map(col): _*).distinct()
    val ignK = ignored.select(keyCols.map(col): _*).distinct()
    val preKept = pre.join(ignK, keyCols, "left_anti")
    val refKept = refK.join(ignK, keyCols, "left_anti")
    // one pass: full-outer membership flags, then a single agg
    val core = preKept.withColumn("in_pre", lit(1))
      .join(refKept.withColumn("in_ref", lit(1)), keyCols, "full_outer")
      .agg(
        count(col("in_pre")).as("n_mappings"),
        count(col("in_ref")).as("n_ref"),
        count(when(col("in_pre").isNotNull && col("in_ref").isNotNull, 1)).as("tp"))
    val ignCount = pre.join(ignK, keyCols, "left_semi")
      .agg(count(lit(1)).as("n_ignored"))
    core.crossJoin(ignCount)
      .withColumn("p", when(col("n_mappings") === 0 || col("n_ref") === 0, -1.0)
        .otherwise(col("tp") / col("n_mappings")))
      .withColumn("r", when(col("n_mappings") === 0 || col("n_ref") === 0, -1.0)
        .otherwise(col("tp") / col("n_ref")))
      .withColumn("f1", when(col("p") < 0.0, -1.0)
        .when(col("p") + col("r") === 0.0, 0.0)
        .otherwise(lit(2) * col("p") * col("r") / (col("p") + col("r"))))
      .select("n_mappings", "n_ignored", "n_ref", "tp", "p", "r", "f1")
  }

  /** `prfReport`'s row on the driver. */
  def prf(pre: DataFrame, ref: DataFrame, ignored: DataFrame): PRF = {
    val r = prfReport(pre, ref, ignored).head()
    PRF(r.getAs[Long]("n_mappings"), r.getAs[Long]("n_ignored"),
      r.getAs[Double]("p"), r.getAs[Double]("r"), r.getAs[Double]("f1"))
  }

  /** The reference's validation threshold grid: evenly_divide(0,0.8,8) +
    * (0.9,0.97,7) + (0.98,1.0,20) — 38 points, each evenly_divide being
    * endpoint-inclusive (eval_bertmap.py:182-184, general_utils.py:16-18). */
  def thresholdGrid: Seq[Double] = {
    def evenlyDivide(b: Double, e: Double, n: Int): Seq[Double] = {
      val step = (e - b) / n
      (0 to n).map(i => b + i * step)
    }
    evenlyDivide(0, 0.8, 8) ++ evenlyDivide(0.9, 0.97, 7) ++ evenlyDivide(0.98, 1.0, 20)
  }

  /**
   * Threshold sweep as ONE job (the reference forks Pool(10),
   * eval_bertmap.py:180): cross the scored prediction set with the
   * threshold dimension, then per-threshold membership counts. `pre` must
   * carry (entity1, entity2, value); identity pairs are dropped first.
   * Returns (threshold, n_mappings, n_ignored, p, r, f1).
   */
  def thresholdSweep(spark: SparkSession, pre0: DataFrame, ref: DataFrame,
                     ignored: DataFrame,
                     thresholds: Seq[Double] = thresholdGrid): DataFrame = {
    import spark.implicits._
    val keyCols = Seq("entity1", "entity2")
    val pre = dropIdentity(pre0)
      .groupBy(keyCols.map(col): _*).agg(max(col("value")).as("value"))
    val ignK = ignored.select(keyCols.map(col): _*).distinct()
      .withColumn("is_ign", lit(1))
    val refK = ref.select(keyCols.map(col): _*).distinct()
      .join(ignK, keyCols, "left_anti")
    val nRef = refK.count().toDouble

    val flagged = pre
      .join(ignK, keyCols, "left")
      .join(refK.withColumn("in_ref", lit(1)), keyCols, "left")
    val thDf = thresholds.toDF("threshold")

    flagged.join(broadcast(thDf), col("value") >= col("threshold"))
      .groupBy("threshold")
      .agg(
        sum(when(col("is_ign").isNull, 1).otherwise(0)).as("n_mappings"),
        sum(when(col("is_ign").isNotNull, 1).otherwise(0)).as("n_ignored"),
        sum(when(col("is_ign").isNull && col("in_ref") === 1, 1).otherwise(0)).as("tp"))
      .withColumn("p", when(col("n_mappings") === 0, -1.0)
        .otherwise(col("tp") / col("n_mappings")))
      .withColumn("r", when(lit(nRef) === 0.0, -1.0).otherwise(col("tp") / lit(nRef)))
      .withColumn("f1", when(col("p") <= 0.0 || col("r") <= 0.0, 0.0)
        .otherwise(lit(2) * col("p") * col("r") / (col("p") + col("r"))))
      // repo determinism rule: round(_, 6) on any float that crosses an
      // engine boundary (f1 computed from the raw p/r first, then all three
      // rounded for emission)
      .select(col("threshold"), col("n_mappings"), col("n_ignored"),
        round(col("p"), 6).as("p"), round(col("r"), 6).as("r"),
        round(col("f1"), 6).as("f1"))
  }

  /** Best hyper-parameter row: max F1, deterministic tie-break on lower
    * threshold (eval_bertmap.py:246-248 idxmax semantics). */
  def bestByF1(report: DataFrame): DataFrame =
    report.orderBy(col("f1").desc, col("threshold").asc).limit(1)

  /**
   * Test-protocol assembly (eval_bertmap.py:94-151 test_maps): the ignored
   * set for the final test evaluation is the predefined ignored mappings
   * PLUS the val split (10%) — and, in the semi-supervised setting, the
   * train split (20%) as well ("train + val (30%) should be ignored for
   * semi-supervised setting; only val (10%) should be ignored for
   * unsupervised setting"). One call assembles the union and evaluates
   * `pre` against `ref` with it.
   *
   * @param refIgnored the predefined maps.ignored set (may be empty — the
   *        reference inits an empty frame when no file is configured)
   */
  def testProtocol(pre: DataFrame, ref: DataFrame, refIgnored: DataFrame,
                   trainMaps: DataFrame, valMaps: DataFrame,
                   semiSupervised: Boolean): DataFrame = {
    val keyCols = Seq("entity1", "entity2")
    val k = (d: DataFrame) => d.select(keyCols.map(col): _*)
    val ignored = (if (semiSupervised) k(refIgnored).unionByName(k(valMaps)).unionByName(k(trainMaps))
                   else k(refIgnored).unionByName(k(valMaps))).distinct()
    prfReport(pre, ref, ignored)
      .withColumn("setting", lit(if (semiSupervised) "ss" else "us"))
  }

  /** Best row per source — the reference's print_eval reports the best
    * string-match-baseline row and the best system row side by side
    * (onto_map.py:149-175: last 3 report rows are the string-match
    * baselines, idxmax of F1 taken separately over each slice). The report
    * here carries an explicit `source` column ("system" / "string_match")
    * instead of positional last-3 rows. */
  def bestByF1PerSource(report: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source"))
      .orderBy(col("f1").desc, col("threshold").asc)
    report.withColumn("rk", row_number().over(w)).filter(col("rk") === 1).drop("rk")
  }
}
