package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._
import graft.model._
import graft.operators._
import graft.sources.{fixtures, tables}

/** Physical-plan shapes the performance work relies on: scan pushdown,
  * broadcast choices, width pins (explicit REPARTITION_BY_NUM exchanges)
  * and codegen spans. Each of these would pass every correctness test if
  * a refactor dropped it, so the plan string itself is the gate.
  *
  * Runs on its own `newSession()` with the planning confs of
  * `Bench.session` (AQE coalescing sized by bytes, not parallelism), over
  * small sf-shaped tables generated into a temp dir. */
class PlanShapeSpec extends SparkSuite {

  /** A session planning like `Bench.session`; its confs stay local to it. */
  private def planSession(extra: (String, String)*): SparkSession = {
    val s = spark.newSession()
    (Seq(
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.files.maxPartitionBytes" -> "16m",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "32m") ++ extra)
      .foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private lazy val s = planSession()

  private val Words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a", "scan",
    "batch")

  /** Deterministic pick in [0, n) keyed on the row id and a salt. */
  private def pick(salt: Int, n: Int) = pmod(hash(col("id"), lit(salt)), lit(n))
  private def choose(options: Seq[String], salt: Int) =
    element_at(array(options.map(lit): _*), (pick(salt, options.size) + 1).cast("int"))

  /** sf-shaped tables (`<dir>/<table>.parquet`, one file each like the
    * testdata), plus the tiny fixture's transcripts under `<dir>/turns`. */
  private lazy val sfDir: String = {
    val dir = Files.createTempDirectory("graft-planshape").toString
    def write(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    write("lineitem", s.range(6000).select(
      pick(1, 1500).cast("long").as("l_orderkey"), pick(2, 200).cast("long").as("l_partkey"),
      pick(3, 100).cast("long").as("l_suppkey"), (pick(4, 7) + 1).as("l_linenumber"),
      (pick(5, 50) + 1).cast("double").as("l_quantity"),
      (pick(6, 100000) / 1.0 + 900.0).as("l_extendedprice"),
      (pick(7, 11) / 100.0).as("l_discount"),
      concat(lit("comment "), col("id")).as("l_comment")))
    write("orders", s.range(1500).select(col("id").as("o_orderkey"),
      pick(1, 150).cast("long").as("o_custkey"), (pick(2, 500000) / 10.0).as("o_totalprice")))
    write("customer", s.range(150).select(col("id").as("c_custkey"),
      choose(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), 1)
        .as("c_mktsegment")))
    write("part", s.range(200).select(col("id").as("p_partkey"),
      concat_ws(" ", choose(Seq("small", "red", "blue", "large", "green", "steel"), 1),
        choose(Seq("ring", "widget", "bolt", "gear", "valve", "spring"), 2)).as("p_name"),
      concat(lit("Brand#"), pick(3, 25)).as("p_brand")))
    val docText = slice(array((0 until 100).map(j => choose(Words, 100 + j)): _*),
      lit(1), (pick(1, 91) + 10).cast("int"))
    write("documents", s.range(500)
      .select(col("id").as("doc_id"), array_join(docText, " ").as("text"),
        concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")))
    // 64-dim vectors around ten label centroids; every 20th row is a
    // near-duplicate of its predecessor, so the dedup joins find pairs
    val base = when(pmod(col("id"), lit(20)) === 19, col("id") - 1).otherwise(col("id"))
    val label = pmod(base, lit(10))
    write("embeddings", s.range(500).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(63)), d => (
        sin(label * 1.7 + d * 0.9) * 0.6 + sin(base * 12.9898 + d * 78.233) * 0.4 +
          sin(col("id") + d) * 0.01).cast("float")).as("embedding"),
      label.cast("int").as("label")))
    tables.writeTranscripts(fixtures.transcripts(s, fixtures.tiny).toDF(), s"$dir/turns")
    dir
  }

  private def read(table: String): DataFrame = s.read.parquet(s"$sfDir/$table.parquet")
  private def srcDict = fixtures.classes(s, fixtures.tiny).filter(_.onto == "src")

  /** `wanted` must all appear in, and `unwanted` be absent from, the
    * physical plan. `execute` runs THIS plan (not a derived count() query)
    * first, so AQE finalizes and the string shows the real codegen spans
    * and runtime join choices. */
  private def assertPlan(df: DataFrame, wanted: Seq[String], unwanted: Seq[String] = Nil,
                         execute: Boolean = false): Unit = {
    if (execute) df.queryExecution.executedPlan.execute().count()
    val plan = df.queryExecution.executedPlan.toString
    val missing = wanted.filterNot(plan.contains)
    val present = unwanted.filter(plan.contains)
    assert(missing.isEmpty && present.isEmpty,
      s"missing=$missing unwanted=$present\n" +
        df.queryExecution.explainString(ExplainMode.fromString("formatted")))
  }

  test("pushdown: lineitem filter + column pruning reach the parquet scan") {
    import s.implicits._
    assertPlan(read("lineitem").filter($"l_quantity" > 45).select("l_orderkey", "l_partkey"),
      wanted = Seq("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)"),
      unwanted = Seq("l_comment"))
  }

  test("broadcast: orders x customer is a broadcast hash join") {
    assertPlan(SparkEntry.queries("q38_join_groupby")(s, sfDir),
      wanted = Seq("BroadcastHashJoin"))
  }

  test("candidates: broadcast token join + partial aggregation") {
    assertPlan(SparkEntry.queries("q04_idf_candidates")(s, sfDir),
      wanted = Seq("BroadcastHashJoin", "HashAggregate"))
  }

  // whole-stage codegen covers the scorer-adjacent relational work
  // (codegen stages print as "*(n)" in the finalized plan's simple
  // string), and the typed scorer leaves AQE owning the plan around it
  test("codegen spans in scorer pairs") {
    assertPlan(SparkEntry.queries("q31_scorer_pairs")(s, sfDir),
      wanted = Seq("*(1)", "BroadcastHashJoin", "MapPartitions"), execute = true)
  }

  // window top-k stays a single shuffle + window (no extra sort jobs)
  test("topk window: one hash exchange + window") {
    assertPlan(SparkEntry.queries("q05_topk_window")(s, sfDir),
      wanted = Seq("Window", "Exchange hashpartitioning"))
  }

  // the transcript path reads only the columns mention detect needs
  test("detect scan prunes columns") {
    import s.implicits._
    assertPlan(mentions.detect(s, s.read.parquet(s"$sfDir/turns").as[Turn],
        srcDict.collect().toSeq).toDF(),
      wanted = Seq("ReadSchema"), unwanted = Seq("role"))
  }

  // graft.plans.Main's observe() turns metric (CollectMetrics) must not
  // block the same pruning: the transcript scan under spark-submit reads
  // only (conv_id, turn_idx, text) even with the metric attached
  test("Main-path observed scan still prunes") {
    import s.implicits._
    val turns = s.read.parquet(s"$sfDir/turns").as[Turn]
      .observe(Observation("planshape_turns"), count(lit(1)).as("turns"))
    assertPlan(mentions.detect(s, turns, srcDict.collect().toSeq).toDF(),
      wanted = Seq("ReadSchema", "CollectMetrics"), unwanted = Seq("role", "tool"))
  }

  // The candidate fan-out join (per token, |q-docs| × df output rows) must
  // run as a BROADCAST of the catalog-bounded postings (without the forced
  // hint the SMJ shuffled the full 180 MB fan-out into the (query, class)
  // agg), with the explicit REPARTITION_BY_NUM exchanges on the probe
  // chain: the query side (which the agg + top-k window reuse) and the
  // pair-scoring stage. AQE's byte-based coalescing otherwise runs the
  // 35M-row fan-out + partial agg on ONE task (BENCH/BASELINE.md "1-task
  // disease"). Size statistics are off, so only the forced hint can
  // produce the broadcast at this test's small scale.
  test("candidates: broadcast fan-out + width pins on the probe chain") {
    val docs = planSession("spark.sql.autoBroadcastJoinThreshold" -> "-1")
      .read.parquet(s"$sfDir/documents.parquet")
    def labels(side: org.apache.spark.sql.Column) = docs.filter(side)
      .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
    val plan = nes.alignOneSide(labels(col("doc_id") < 100), labels(col("doc_id") >= 100),
      400, 5, 1)
    val pins = "REPARTITION_BY_NUM".r
      .findAllIn(plan.queryExecution.explainString(ExplainMode.fromString("formatted"))).size
    require(pins >= 2,
      s"expected >= 2 explicit width pins (query side, pair scoring), found $pins")
    assertPlan(plan, wanted = Seq("REPARTITION_BY_NUM", "BroadcastHashJoin"))
  }

  // detectJoin (the no-collect linker) keeps its shape: the first-token
  // prefilter and the key join stay broadcast joins for a catalog-sized
  // dict (no transcript-side shuffle before the greedy kernel), and the
  // per-turn greedy resolution is a FlatMapGroups over ONE exchange keyed
  // by the turn. Reintroducing the entity fan-out before the exchange
  // would pass correctness and widen the dominant shuffle (measured 690 MB
  // -> 843 MB on the 12M-turn fixture).
  test("detectJoin: broadcast prefilter + narrow greedy exchange") {
    assertPlan(mentions.detectJoin(s, fixtures.transcripts(s, fixtures.tiny), srcDict).toDF(),
      wanted = Seq("BroadcastHashJoin", "MapGroups"))
  }

  // with the posting side too big to broadcast (stats off = the 100x
  // regime), saltBuckets > 1 must key the JOIN itself on (token, salt),
  // spreading a hot token's fan-out across salt buckets, not just
  // pre-aggregate after it
  test("salted candidates: join keyed on (token, salt) in shuffle regime") {
    val noBroadcast = planSession("spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val posting = index.postingsFromText(
      noBroadcast.read.parquet(s"$sfDir/documents.parquet"), "doc_id", "text")
    val q = posting.limit(50).select(col("class_id").as("query_id"), col("token"))
    val df = index.idfCandidates(q, posting, 500, 5, saltBuckets = 8)
    val joinKeys = df.queryExecution.optimizedPlan.collect {
      case j: Join => j.condition.map(_.references.map(_.name).toSeq.sorted).getOrElse(Nil)
    }
    require(joinKeys.exists(_.contains("salt")),
      s"no join keyed on salt in $joinKeys — the salt no longer spreads the join")
    assertPlan(df, wanted = Seq("salt"), unwanted = Seq("BroadcastHashJoin"))
  }

  // decontaminate: the benchmark shingle-key set is the broadcast side —
  // the training side must not shuffle into ANY sort-merge join before its
  // per-doc overlap agg (executed, so a SortMergeJoin surviving the
  // finalized plan means a train-side shuffle regressed in)
  test("decontaminate: all joins broadcast, train side never sort-merged") {
    val docs = read("documents")
    assertPlan(quality.decontaminate(
        docs.filter(pmod(col("doc_id"), lit(20)) =!= 0),
        docs.filter(pmod(col("doc_id"), lit(20)) === 0), "doc_id", "text", 3, 2L),
      wanted = Seq("BroadcastHashJoin", "HashAggregate"),
      unwanted = Seq("SortMergeJoin"), execute = true)
  }

  // quotaSample ranks within (grp, md5-prefix bucket): the rank window's
  // exchange must key on the bucket too (a plain per-group window runs
  // each domain on ONE task). The side tables carry no forced hint, so
  // AQE must pick the broadcast on runtime stats (executed). The offsets
  // branch derives from the ranked frame, so the (grp, _b) exchange must
  // be REUSED (one corpus scan, not two).
  test("quotaSample: bucketed rank window + stats-driven broadcast sides") {
    val docs = read("documents")
    val quotas = docs.select(col("source").as("grp")).distinct()
      .withColumn("quota", when(length(col("grp")) === 4, 8).otherwise(4))
    assertPlan(quality.quotaSample(docs, "doc_id", "source", quotas),
      wanted = Seq("_b", "BroadcastHashJoin", "Window", "ReusedExchange"), execute = true)
  }

  // PQ ADC: the candidate code table (the 10^10-row side at scale) is
  // never the build side of any join — every lookup (LUT, qnorm) reaches
  // it as a broadcast; a SortMergeJoin anywhere in the finalized plan
  // means the code table started shuffling for a lookup
  test("pqTopK: code table joins stay broadcast end to end") {
    val e = read("embeddings")
    val cb = similarity.pqFitCodebooks(e.filter(col("vec_id") < 200), "vec_id", "embedding",
      2, 32, 4, 2)
    val codes = similarity.pqEncode(e, cb, "vec_id", "embedding", 2, 32)
    assertPlan(similarity.pqTopK(e.filter(col("vec_id") < 10), codes, cb,
        "vec_id", "embedding", 5, 2, 32),
      wanted = Seq("BroadcastHashJoin"), unwanted = Seq("SortMergeJoin"), execute = true)
  }

  // the (band, sig) bucket self-join must carry the explicit width pin:
  // bucket joins explode quadratically per bucket while AQE sizes the
  // exchange by input bytes (the 1-task disease). The join-free
  // hyperplane projection is enforced by construction (typedLit), not
  // asserted here: the plan's legitimate joins make a substring-level
  // "no join below the exchange" assertion impossible. Every other
  // operator that pins through `stage.pinned` keeps its exact number of
  // explicit width pins (counted in the formatted plan before execution).
  test("embeddingLshPairs: width-pinned bucket join") {
    assertPlan(dedup.embeddingLshPairs(read("embeddings"), "vec_id", "embedding",
        planes = 32, bands = 4, threshold = 0.3),
      wanted = Seq("REPARTITION_BY_NUM"), execute = true)
    val docs = read("documents")
    val e = read("embeddings")
    def labels(side: org.apache.spark.sql.Column) = docs.filter(side)
      .select(col("doc_id").cast("string").as("id"), col("text").as("label"))
    val pinned = Seq(
      ("ngramJaccardPairs", dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.2, 500), 3),
      ("lshCandidates", dedup.lshCandidates(docs, "doc_id", "text", 2, 8, 2), 2),
      ("simhashPairs", dedup.simhashPairs(docs, "doc_id", "text", 3), 2),
      ("embeddingNearDups",
        dedup.embeddingNearDups(e, "vec_id", "embedding", "label", 0.3), 2),
      ("semanticDedup", similarity.semanticDedup(e, e.filter(col("vec_id") < 200),
        "vec_id", "embedding", 4, 2, 0.4), 2),
      ("nes.alignOneSide", nes.alignOneSide(labels(col("doc_id") < 100),
        labels(col("doc_id") >= 100), 400, 5, 1), 2))
    pinned.foreach { case (name, df, want) =>
      val pins = "REPARTITION_BY_NUM".r
        .findAllIn(df.queryExecution.explainString(ExplainMode.fromString("formatted"))).size
      assert(pins == want, s"$name: $pins explicit width pins, expected $want")
    }
  }

  // the within-cell pair self-join must carry the explicit width pin on
  // BOTH sides, for the same reason as the LSH bucket join
  test("semanticDedup: width-pinned cell pair join") {
    val e = read("embeddings")
    assertPlan(similarity.semanticDedup(e, e.filter(col("vec_id") < 200),
        "vec_id", "embedding", 4, 2, 0.4),
      wanted = Seq("REPARTITION_BY_NUM"), execute = true)
  }

  // the global top-n must compile to TakeOrderedAndProject (per-partition
  // heads + driver merge of n-row results): a Sort + Limit pair over the
  // full input is the global-sort bottleneck the operator exists to avoid
  test("gumbelTopK: top-n is TakeOrdered, never a global sort") {
    val d = read("documents").select(col("doc_id"), (col("n_chars") * 1000L).as("lw"))
    assertPlan(quality.gumbelTopK(d, "doc_id", "lw", 20, seed = 7L),
      wanted = Seq("TakeOrderedAndProject"), execute = true)
  }
}
